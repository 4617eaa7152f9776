package perfbench

import java.io.File
import java.nio.file.Paths
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}

/** `gmr_cli`: the reference's use case through the `graft.Gmr` entry
  * points — load a generated R-MAT graph, run each algorithm, partition it
  * into subgraph files, read the partition statistics and every part back.
  * Every output is checked against [[Oracles]]. */
final class GmrCli(work: String, seed: Long) extends Workload {
  import GmrCli._
  private var spark: SparkSession = _
  private var g: UGraph = _
  private val files = Map("el" -> s"$work/rmat.el", "metis" -> s"$work/rmat.metis")
  private val outBase = s"$work/parts/rmat"
  private val lastIters = mutable.HashMap.empty[String, Int]
  private var writtenBytes = 0L

  // the METIS reader drops weights: the same edges at weight 1
  private lazy val digraphs = {
    val (s, d, w) = g.directed
    Map("el" -> Oracles.Digraph(g.n, s, d, w),
      "metis" -> Oracles.Digraph(g.n, s, d, w.map(_ => 1.0)))
  }
  private val answers = mutable.HashMap.empty[(String, String), Any]
  private def answer[T](alg: String, fmt: String)(f: Oracles.Digraph => T): T =
    answers.getOrElseUpdate((alg, fmt), f(digraphs(fmt))).asInstanceOf[T]

  def setup(spark: SparkSession, spans: Spans): Unit = {
    this.spark = spark
    spans("gen") {
      g = Rmat.generate(Scale, EdgeFactor, seed)
      Rmat.writeEdgeList(g, Paths.get(files("el")))
      Rmat.writeMetis(g, Paths.get(files("metis")))
    }
    new File(outBase).getParentFile.mkdirs()
  }

  override def iterations(op: String): Int = lastIters.getOrElse(op, 0)

  override def extraLayerMetrics: Map[String, Double] =
    Map("io.write_mb" -> writtenBytes / 1048576.0)

  def units: Seq[Seq[Op]] =
    Seq(Seq(load("el")), Seq(load("metis"))) ++
      Algorithms.map { case (alg, fmt) => Seq(algorithm(alg, fmt)) } :+
      (Seq(partition, stats) ++ (0 until Parts).map(readback))

  /** One untimed pass over the same graph; its outputs are checked too. */
  def warmup(spark: SparkSession, spans: Spans): Seq[() => Verdict] =
    units.flatten.flatMap(op => try Some(op.body(spans)) catch { case _: Throwable => None })

  private def verdict(what: String, ok: Boolean) = Verdict(1, if (ok) 0 else 1, what)

  private def load(fmt: String) = Op(s"load.$fmt", spans => {
    val pg = spans("io.load")(graft.Gmr.load(spark, files(fmt)))
    val (nv, ne) = spans("sink")((pg.vertices.count(), pg.edges.count()))
    () => verdict(s"load.$fmt: $nv vertices / $ne edges, want ${g.n} / ${2 * g.pairs}",
      nv == g.n && ne == 2L * g.pairs)
  })

  private def algorithm(alg: String, fmt: String) = Op(alg, spans => {
    val (df, iters) = spans(s"graph.$alg")(graft.Gmr.run(spark, alg, files(fmt)))
    lastIters(alg) = iters
    val rows = spans("sink")(df.collect())
    () => verdict(s"$alg on $fmt", check(alg, fmt, rows))
  })

  private def check(alg: String, fmt: String, rows: Array[Row]): Boolean = {
    def perVertex(want: Array[Double], got: Row => Double, tol: Double) =
      rows.length == g.n && rows.forall { r =>
        val id = r.getLong(0).toInt
        val (a, b) = (got(r), want(id))
        (a.isNaN && b.isNaN) || math.abs(a - b) <= tol
      }
    def dbl(r: Row) = if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
    alg match {
      case "pagerank" =>
        // the CLI rounds to 8 decimals
        perVertex(answer(alg, fmt)(Oracles.pagerank(_)._1), dbl, 1e-7)
      case "sssp" => perVertex(answer(alg, fmt)(Oracles.sssp(_)), dbl, 0.0)
      case "cc" => perVertex(answer(alg, fmt)(Oracles.components(_).map(_.toDouble)),
        _.getLong(1).toDouble, 0.0)
      case "lpa" => perVertex(answer(alg, fmt)(Oracles.lpa(_, LpaIters).map(_.toDouble)),
        _.getLong(1).toDouble, 0.0)
      case "scc" =>
        // component labels are arbitrary: compare by each group's smallest id
        val byLabel = rows.groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)))
        val canon = byLabel.flatMap(ids => ids.map(_ -> ids.min)).toMap
        canon == answer(alg, fmt)(Oracles.scc)
      case "mst" =>
        val (count, total) = answer(alg, fmt)(Oracles.msf)
        rows.length == count && rows.map(_.getDouble(2)).sum == total
      case "trianglecount" =>
        rows.length == 1 && rows.head.getLong(0) == answer(alg, fmt)(Oracles.triangles)
    }
  }

  private def partition = Op("partition", spans => {
    spans("io.write")(graft.Gmr.partitionFiles(spark, files("el"), Parts, outBase, "random"))
    val parts = (0 until Parts).map(p => new File(s"$outBase.subgraph.$p"))
    writtenBytes = parts.map(_.length).sum
    () => verdict("partition files", parts.forall(_.isFile))
  })

  private def stats = Op("stats", spans => {
    val df = spans("io.stats")(graft.io.GraphLoaders.partitionStats(spark, outBase, Parts))
    val rows = spans("sink")(df.collect())
    () => verdict("partitionStats sums",
      rows.map(_.getAs[Long]("nvtxs")).sum == g.n &&
        rows.map(_.getAs[Long]("nedges")).sum == 2L * g.pairs)
  })

  private def readback(p: Int) = Op(s"readback.$p", spans => {
    val pg = spans("io.readback")(graft.Gmr.load(spark, s"$outBase.subgraph.$p"))
    val (ids, edges) = spans("sink")((pg.vertices.select("id").collect().map(_.getLong(0)),
      pg.edges.select("src", "dst", "weight").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))))
    () => {
      // random mode owns vertex v in part v mod parts, with its out-edges
      val el = digraphs("el")
      val wantEdges = el.src.indices.filter(i => el.src(i) % Parts == p)
        .map(i => (el.src(i).toLong, el.dst(i).toLong, el.w(i))).toSet
      val wantIds = (1L to g.n).filter(_ % Parts == p).toSet
      verdict(s"readback.$p", ids.toSet == wantIds && ids.length == wantIds.size &&
        edges.toSet == wantEdges && edges.length == wantEdges.size)
    }
  })
}

object GmrCli {
  val Scale = 10
  val EdgeFactor = 4
  val Parts = 4
  val LpaIters = 5 // graft.Gmr runs label propagation for 5 rounds
  /** Each algorithm with the file format it reads; both readers run. */
  val Algorithms: Seq[(String, String)] = Seq(
    "pagerank" -> "metis", "sssp" -> "el", "cc" -> "metis", "lpa" -> "el",
    "scc" -> "metis", "mst" -> "el", "trianglecount" -> "metis")
  /** Algorithms `graft.Gmr` runs through `GmrRunner.run` (supersteps). */
  val Iterative = Set("pagerank", "sssp", "cc")

  def layerMetrics(traced: Seq[OpRun], nT: Double): Map[String, Double] = {
    def sum(f: String => Boolean) = traced.filter(r => f(r.name)).map(_.secs).sum / nT
    val iterRuns = traced.filter(r => Iterative(r.name) && r.iterations > 0)
    Map(
      "io.load_s" -> sum(_.startsWith("load.")),
      "io.write_s" -> sum(_ == "partition"),
      "io.stats_s" -> sum(_ == "stats"),
      "io.readback_s" -> sum(_.startsWith("readback.")),
      "graph.supersteps" -> iterRuns.map(_.iterations).sum / nT,
      "graph.superstep_s_p50" -> Stats.median(iterRuns.map(r => r.secs / r.iterations))
    ) ++ Algorithms.map { case (alg, _) =>
      val name = if (alg == "trianglecount") "triangles" else alg
      s"graph.${name}_s" -> sum(_ == alg)
    }
  }

  /** Jobs started inside the iterative algorithm ops, per superstep. */
  def jobsPerSuperstep(passRuns: Seq[OpRun], jobs: Seq[Counters#Job]): Map[String, Double] = {
    val iterRuns = passRuns.filter(r => Iterative(r.name) && r.iterations > 0)
    val steps = iterRuns.map(_.iterations).sum
    if (steps == 0) Map.empty
    else Map("graph.jobs_per_superstep" -> iterRuns.map(r =>
      jobs.count(j => j.startMs >= r.startMs && j.startMs <= r.endMs)).sum.toDouble / steps)
  }
}
