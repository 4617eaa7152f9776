package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Result of checking one op output: `checked` outputs, `wrong` of them. */
final case class Verdict(checked: Int, wrong: Int, note: String = "")

/** One operation of a workload's mix. `body` runs the timed work, opening
  * one span per layer call, and returns the (untimed) output check. */
final case class Op(name: String, body: Spans => () => Verdict)

/** What one timed op left behind. */
final case class OpRun(id: Int, name: String, pass: Int, traced: Boolean, secs: Double,
                       ok: Boolean, startMs: Long, endMs: Long,
                       leaked: Int, drift: Int, iterations: Int)

trait Workload {
  def setup(spark: SparkSession, spans: Spans): Unit
  /** The mix in canonical order, grouped into units whose ops must run in
    * sequence; the seed shuffles units within each pass. */
  def units: Seq[Seq[Op]]
  /** Untimed pass run once before timing (warms the JIT and the
    * derive-once caches); returns the checks it made. */
  def warmup(spark: SparkSession, spans: Spans): Seq[() => Verdict]
  /** Supersteps reported by the last run of `op` (0 if not iterative). */
  def iterations(op: String): Int = 0
  /** Extra per-layer numbers gathered during the run (per pass). */
  def extraLayerMetrics: Map[String, Double] = Map.empty
  /** Timed passes a run makes at least, however short `--seconds` is. */
  def minPasses: Int = 1
  /** Percentile reported as `op_s_tail`: the highest one that leaves at
    * least ten samples above it at the guaranteed minimum op count. */
  def tailPercentile: Int = Stats.tailPercentile(units.map(_.size).sum * minPasses)
}

object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, cores: Int)

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("selftest") => SelfTest.main(args.tail)
    case _ =>
      val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
      val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
        kv.get("trace").contains("1"), kv("data"), kv("work"), kv("out"), kv("cores").toInt)
      val json = new Runner(c).run()
      Files.writeString(Paths.get(c.out), json)
  }
}

final class Runner(c: Main.Conf, custom: Option[Workload] = None) {
  private val spans = new Spans
  private val counters = new Counters

  private def procCpuSecs: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Explicit persists still alive (checkpointed RDDs are the loops'
    * lineage cuts, reclaimed by the context cleaner, not leaks). */
  private def livePersists(spark: SparkSession) =
    spark.sparkContext.getPersistentRDDs.values.filterNot(_.isCheckpointed)

  /** Largest heap still in use after the between-op GC: the live set. */
  private var peakHeapMb = 0.0

  private def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    livePersists(spark).foreach(_.unpersist(blocking = true))
    System.gc()
    peakHeapMb = math.max(peakHeapMb,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  def run(): String = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    new File(c.work).mkdirs()
    val root = spans.open("workload")
    val spark = spans("core.session")(graft.core.GraftSession.get(c.cores.toString))
    val sessionSecs = spans.all.last.secs
    val wl: Workload = custom.getOrElse(c.workload match {
      case "gmr_cli" => new GmrCli(c.work, c.seed)
      case "surface_mix" => new QueryMix(c.data, c.work, QueryMix.Surface)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    })
    spans("setup")(wl.setup(spark, spans))
    val warmChecks = spans("warmup")(wl.warmup(spark, spans))
    clearState(spark)
    val derivedSecs = graft.core.Derived.buildTimes.values.sum

    val rnd = new scala.util.Random(c.seed)
    val runs = mutable.ArrayBuffer.empty[OpRun]
    val checks = mutable.ArrayBuffer.empty[() => Verdict] ++= warmChecks
    val passSecs = mutable.ArrayBuffer.empty[(Boolean, Double, Double)] // traced, wall, cpu
    val counterSnaps = mutable.ArrayBuffer.empty[Map[String, Double]]
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var pass = 0
    // a traced run brackets its traced pass with untraced ones (U, T, U),
    // so trace_overhead does not pick up the drift from pass to pass
    val minPasses = if (c.trace) math.max(3, wl.minPasses) else wl.minPasses
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      val traced = c.trace && pass % 2 == 1
      if (traced) {
        counters.reset()
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
      }
      val passSpan = spans.open(s"pass:$pass", -1)
      val order = rnd.shuffle(wl.units).flatten
      var wall = 0.0; var cpu = 0.0
      order.foreach { op =>
        val conf0 = spark.conf.getAll
        val startMs = System.currentTimeMillis()
        val cpu0 = procCpuSecs
        val s0 = System.nanoTime()
        val opSpan = spans.open(s"op:${op.name}", runs.size)
        val check = try Some(op.body(spans)) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] op ${op.name} failed: " +
              s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
            None
        }
        spans.close(opSpan)
        val secs = (System.nanoTime() - s0) / 1e9
        cpu += procCpuSecs - cpu0
        val endMs = System.currentTimeMillis()
        // hygiene, outside the timed region
        val leaked = livePersists(spark).size
        val conf1 = spark.conf.getAll
        val drift = (conf0.keySet ++ conf1.keySet).count(k => conf0.get(k) != conf1.get(k))
        check.foreach(checks += _)
        runs += OpRun(runs.size, op.name, pass, traced, secs, check.isDefined,
          startMs, endMs, leaked, drift, if (check.isDefined) wl.iterations(op.name) else 0)
        wall += secs
        clearState(spark)
      }
      spans.close(passSpan)
      passSecs += ((traced, wall, cpu))
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(counters)
        spark.listenerManager.unregister(counters)
        counterSnaps += passCounters(runs.filter(_.pass == pass).toSeq)
      }
      pass += 1
    }
    spans.close(root)

    // untimed output checks
    val verdicts = checks.map(f => try f() catch {
      case e: Throwable => Verdict(1, 1, s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    })
    verdicts.filter(_.wrong > 0).foreach(v => System.err.println(s"[perfbench] WRONG: ${v.note}"))
    val rssMb = vmHwmMb
    spark.stop()

    val lat = runs.map(_.secs).toSeq
    val untracedPasses = passSecs.filterNot(_._1)
    val p = wl.tailPercentile
    val e2e = Map(
      "setup_s" -> ((firstOpMs - jvmStartMs) / 1000.0, "s"),
      "pass_s" -> (Stats.median(untracedPasses.map(_._2).toSeq), "s"),
      "op_s_p50" -> (Stats.hdPercentile(lat, 50), "s"),
      "op_s_tail" -> (Stats.hdPercentile(lat, p), "s"),
      "cpu_s" -> (Stats.median(untracedPasses.map(_._3).toSeq), "s"),
      "peak_rss_mb" -> (rssMb, "MB"),
      "op_ok_ratio" -> (runs.count(_.ok).toDouble / runs.size, "ratio"))

    val layer = if (!c.trace) Map.empty[String, Double] else {
      val tracedRuns = runs.filter(_.traced).toSeq
      val nT = passSecs.count(_._1).toDouble
      val tracedIds = tracedRuns.map(_.id).toSet
      val inTraced = (s: Span) => tracedIds.contains(s.op) && s.endNs > 0
      def spanSum(name: String) = spans.all.filter(s => s.name == name && inTraced(s))
        .map(_.secs).sum / nT
      val self = spans.selfSecs(inTraced)
      def selfOf(f: String => Boolean) = self.filter(kv => f(kv._1)).values.sum / nT
      val snapAvg = counterSnaps.flatMap(_.keys).distinct.map { k =>
        k -> counterSnaps.map(_.getOrElse(k, 0.0)).sum / counterSnaps.size }.toMap
      Map(
        "core.session_s" -> sessionSecs,
        "core.derived_build_s" -> derivedSecs,
        "ops.plan_s" -> spanSum("ops.plan"),
        "ops.sink_s" -> (if (wl.isInstanceOf[QueryMix]) spanSum("sink") else 0.0),
        "self_s.io" -> selfOf(_.startsWith("io.")),
        "self_s.graph" -> selfOf(_.startsWith("graph.")),
        "self_s.operators" -> selfOf(_ == "ops.plan"),
        "self_s.sink" -> selfOf(_ == "sink"),
        "self_s.bench" -> selfOf(_.startsWith("op:")),
        "hygiene.leaked_persists" -> runs.map(_.leaked).sum.toDouble / passSecs.size,
        "hygiene.conf_drift" -> runs.map(_.drift).sum.toDouble / passSecs.size,
        "mem.live_heap_mb" -> peakHeapMb,
        "trace_overhead" -> (Stats.median(passSecs.filter(_._1).map(_._2).toSeq) /
          Stats.median(untracedPasses.map(_._2).toSeq) - 1.0)
      ) ++ GmrCli.layerMetrics(tracedRuns, nT) ++ QueryMix.layerMetrics(tracedRuns, nT) ++
        snapAvg ++ wl.extraLayerMetrics
    }

    Files.writeString(Paths.get(c.work, "spans.json"), spans.toJson)
    val checked = verdicts.map(_.checked).sum
    val wrong = verdicts.map(_.wrong).sum
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val e2eJson = e2e.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val layerJson = layer.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString("{", ",", "}")
    val failedOps = runs.filterNot(_.ok).map(_.name).groupBy(identity).map {
      case (k, v) => s""""$k":${v.size}""" }.mkString("{", ",", "}")
    s"""{"workload":"${c.workload}","attempted":${runs.size},"failed":${runs.count(!_.ok)},""" +
      s""""failed_ops":$failedOps,"checked":$checked,"wrong":$wrong,""" +
      s""""passes":${passSecs.size},""" +
      s""""tail_percentile":$p,"samples":${lat.size},""" +
      s""""mix":${wl.units.flatten.map(o => QueryMix.quote(o.name)).distinct.mkString("[", ",", "]")},""" +
      s""""e2e":$e2eJson,"layer":$layerJson}"""
  }

  /** Counters of one traced pass, normalised per pass by the caller. */
  private def passCounters(passRuns: Seq[OpRun]): Map[String, Double] = {
    val jobs = counters.jobs.values.toSeq
    val wallMs = passRuns.map(r => (r.endMs - r.startMs).toDouble).sum
    val gapMs = passRuns.map(r => (r.endMs - r.startMs) - counters.coveredMs(r.startMs, r.endMs)).sum
    val jobSecs = jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) / 1000.0)
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> counters.stages.toDouble,
      "spark.tasks" -> counters.tasks.toDouble,
      "spark.job_s_p50" -> Stats.median(jobSecs),
      "spark.driver_gap_s" -> gapMs / 1000.0,
      "spark.core_busy_ratio" -> counters.runMs / math.max(1.0, wallMs * c.cores),
      "spark.shuffle_write_mb" -> counters.shuffleWrite / 1048576.0,
      "spark.shuffle_read_mb" -> counters.shuffleRead / 1048576.0,
      "spark.shuffle_records" -> counters.shuffleRecords.toDouble,
      "spark.spill_mb" -> counters.spill / 1048576.0,
      "spark.executor_cpu_s" -> counters.cpuNs / 1e9,
      "spark.gc_s" -> counters.gcMs / 1000.0,
      "spark.peak_exec_mem_mb" -> counters.peakExecMem / 1048576.0,
      "plan.exchanges" -> counters.exchanges.toDouble,
      "plan.smj" -> counters.smj.toDouble,
      "plan.bhj" -> counters.bhj.toDouble,
      "plan.single_partition_windows" -> counters.singleWindows.toDouble
    ) ++ Counters.Layers.flatMap { l =>
      val js = jobs.filter(_.layer == l)
      Seq(s"spark.jobs.$l" -> js.size.toDouble,
        s"spark.job_s.$l" -> js.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) / 1000.0).sum)
    } ++ GmrCli.jobsPerSuperstep(passRuns, jobs)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Harrell-Davis percentile: a Beta-weighted mean of every order
    * statistic, far steadier than one order statistic on the small,
    * many-valued op samples of a run. */
  def hdPercentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) Double.NaN
    else if (p <= 0) xs.min
    else if (p >= 100) xs.max
    else {
      val s = xs.sorted; val n = s.size
      val (a, b) = ((n + 1) * p / 100.0, (n + 1) * (1 - p / 100.0))
      def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
    }

  /** Linear-interpolated percentile (the `numpy` default). */
  def percentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Highest whole percentile with at least ten of `n` samples above it. */
  def tailPercentile(n: Int): Int =
    if (n <= 10) 0 else math.floor(100.0 * (n - 10) / n + 1e-9).toInt
}
