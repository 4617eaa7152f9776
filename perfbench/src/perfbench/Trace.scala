package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` is shared by every span of one operation;
  * `parent` is the index of the enclosing span (-1 for the root). */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Int) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder: workload → pass → op → layer call. Spans are
  * written out once the run ends ([[toJson]]). */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var op = -1

  /** Opens a span; `opId` tags it and every span opened inside it. */
  def open(name: String, opId: Int = op): Int = {
    op = opId
    all += Span(name, System.nanoTime(), -1L, stack.head, opId)
    stack = (all.size - 1) :: stack
    all.size - 1
  }
  def close(i: Int): Unit = {
    all(i) = all(i).copy(endNs = System.nanoTime())
    stack = stack.tail
  }
  def apply[T](name: String)(f: => T): T = {
    val i = open(name)
    try f finally close(i)
  }

  /** Self seconds per span name: duration minus the union its children
    * cover (children of one span never overlap: calls are sequential). */
  def selfSecs(keep: Span => Boolean): Map[String, Double] = {
    val childCover = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent >= 0 && s.endNs > 0) childCover(s.parent) += s.endNs - s.startNs)
    all.zipWithIndex.filter { case (s, _) => s.endNs > 0 && keep(s) }
      .groupMapReduce(_._1.name) { case (s, i) =>
        (s.endNs - s.startNs - childCover(i)) / 1e9 }(_ + _)
  }

  def toJson: String = all.map { s =>
    s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""parent":${s.parent},"op":${s.op}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Job, stage and task counters collected by the benchmark's own
  * [[SparkListener]], plus plan-shape counts from its
  * [[QueryExecutionListener]]. Registered only in the traced run. */
final class Counters extends SparkListener with QueryExecutionListener {
  final case class Job(startMs: Long, var endMs: Long, layer: String)
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var shuffleRecords = 0L
  var spill = 0L; var peakExecMem = 0L
  var exchanges = 0L; var smj = 0L; var bhj = 0L; var singleWindows = 0L

  def reset(): Unit = synchronized {
    jobs.clear(); execLayer.clear(); stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleWrite = 0; shuffleRead = 0; shuffleRecords = 0; spill = 0; peakExecMem = 0
    exchanges = 0; smj = 0; bhj = 0; singleWindows = 0
  }

  /** Layer of each SQL execution, from the call site of the action that
    * started it: adaptive stages and broadcasts run their jobs on Spark's
    * own threads, whose stacks hold no user frame. */
  private val execLayer = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execLayer(s.executionId) = Counters.layerOf(s.details)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("callSite.long")))
      .orElse(e.stageInfos.headOption.map(_.details)).getOrElse("")
    val execution = Seq("spark.sql.execution.root.id", "spark.sql.execution.id")
      .flatMap(k => props.flatMap(p => Option(p.getProperty(k))))
      .flatMap(id => execLayer.get(id.toLong)).headOption
    val layer = Counters.layerOf(site) match {
      case "other" => execution.getOrElse("other")
      case l => l
    }
    jobs(e.jobId) = Job(e.time, -1L, layer)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    countPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    countPlan(qe)

  private def countPlan(qe: QueryExecution): Unit = {
    val nodes = Counters.nodes(qe.executedPlan).toSeq
    synchronized {
      nodes.foreach {
        case _: ShuffleExchangeExec => exchanges += 1
        case _: SortMergeJoinExec => smj += 1
        case _: BroadcastHashJoinExec => bhj += 1
        case w: WindowExec if w.partitionSpec.isEmpty => singleWindows += 1
        case _ => ()
      }
    }
  }

  /** Milliseconds of [fromMs, toMs] during which at least one job ran. */
  def coveredMs(fromMs: Long, toMs: Long): Long = synchronized {
    val iv = jobs.values.filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered + (curB - curA)
  }
}

object Counters {
  val Layers: Seq[String] = Seq("core", "io", "graph", "operators", "sink", "other")

  /** Layer of a job from its call site: the package of the innermost
    * `graft` frame; a job started from the benchmark's own frames with no
    * `graft` frame under them is the final sink. */
  def layerOf(callSite: String): String = {
    val frames = callSite.split("\n").map(_.trim.stripPrefix("at ").trim)
    frames.collectFirst {
      case f if f.startsWith("graft.") => graftLayer(f)
      case f if f.startsWith("perfbench.") => "sink"
    }.getOrElse("other")
  }

  def graftLayer(frame: String): String = frame.split('.').toList match {
    case _ :: "core" :: _ => "core"
    case _ :: "io" :: _ => "io"
    case _ :: "graph" :: _ => "graph"
    case _ :: ("operators" | "functions" | "dedup" | "multimodal" | "streaming") :: _ =>
      "operators"
    // graft.Gmr: the format sniff in `load` reads the file, the rest drives
    // the graph algorithms
    case _ :: cls :: method :: _ if cls.startsWith("Gmr") =>
      if (method.startsWith("load")) "io" else "graph"
    case _ => "operators"
  }

  /** Every physical node of an executed plan, through adaptive stages. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Iterator(r) // counted where it was built
    case other =>
      Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
        other.subqueries.iterator.flatMap(nodes)
  }
}
