package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests driving the reference's own CLI surface ([[Gmr]]) against
  * the reference's own fixture graphs (read-only inputs,
  * `/root/reference/graph/`). Expected values computed independently
  * (SURVEY.md §5: the reference ships no tests; these are the known-answer
  * micro-fixtures it eyeballs).
  */
class GmrMainSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val ref = "/root/reference/graph"

  test("trianglecount on small.graph (METIS adjacency, auto-detected) = 1") {
    val (df, _) = Gmr.run(spark, "trianglecount", s"$ref/small.graph")
    assert(df.first().getLong(0) === 1L)
  }

  test("trianglecount on rdsmall.graph (edge list with header, default file) = 2") {
    val (df, _) = Gmr.run(spark, "trianglecount", s"$ref/rdsmall.graph")
    assert(df.first().getLong(0) === 2L)
  }

  test("sssp on 3line.graph: directed distances 0,1,2 from source 1") {
    val (df, iters) = Gmr.run(spark, "sssp", s"$ref/3line.graph")
    val dist = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dist === Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0))
    assert(iters <= 4)
  }

  test("pagerank (reference d=0.5) on small.graph converges; ranks sum to ~1") {
    val (df, iters) = Gmr.run(spark, "pagerank", s"$ref/small.graph")
    val ranks = df.collect().map(_.getDouble(1))
    assert(ranks.length === 10)
    assert(math.abs(ranks.sum - 1.0) < 1e-3)
    assert(iters < 100)
  }

  test("trianglecount on 4elt.graph (15,606v / 45,878e) = 30269") {
    // the reference's mid-size workload (graph/README.md:16-18);
    // golden value computed independently (oriented adjacency intersection)
    val (df, _) = Gmr.run(spark, "trianglecount", s"$ref/4elt.graph")
    assert(df.first().getLong(0) === 30269L)
  }

  test("zoltan partition argument accepted, result unchanged") {
    val (a, _) = Gmr.run(spark, "trianglecount", s"$ref/small.graph", "zoltan")
    assert(a.first().getLong(0) === 1L)
  }

  test("mst on small.graph: forest has n - #components edges") {
    val (cc, _) = Gmr.run(spark, "cc", s"$ref/small.graph")
    val nComp = cc.select("component").distinct().count()
    val n = cc.count()
    val (mst, _) = Gmr.run(spark, "mst", s"$ref/small.graph")
    assert(mst.count() === n - nComp)
  }

  test("scc on 3line.graph: the 2<->3 cycle is one SCC, vertex 1 a singleton") {
    // 3line.graph is 1->2, 2->3, 3->2: {2,3} form a directed cycle.
    val (df, _) = Gmr.run(spark, "scc", s"$ref/3line.graph")
    val sccs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sccs === Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("trace: runTraced residual sequence contracts on small.graph (d=0.5 compat)") {
    val pr = graft.graph.PageRank.compat(Gmr.load(spark, s"$ref/small.graph"))
    val res = graft.graph.GmrRunner.runTraced(pr.graph, pr.program, 5)
    assert(res.residuals.length === 5)
    res.residuals.zip(res.residuals.tail).foreach { case (a, b) =>
      assert(b <= a + 1e-12, "the deviation report must contract per superstep")
    }
    // traced fixed-length run ends at the same state as runFixed
    val fixedVals = graft.graph.GmrRunner
      .runFixed(pr.graph, pr.program, 5)
      .select("id", "value").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val tracedVals = res.vertices
      .select("id", "value").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(tracedVals === fixedVals)
  }

  test("partition verb: written parts reload and rerun identically") {
    val base = java.nio.file.Files.createTempDirectory("gmr-part").toString + "/small"
    Gmr.partitionFiles(spark, s"$ref/small.graph", 3, base)
    // triangle count over the re-united partition files == over the original
    val (orig, _) = Gmr.run(spark, "trianglecount", s"$ref/small.graph")
    val (part0, _) = Gmr.run(spark, "trianglecount", s"$base.subgraph.0")
    assert(part0.columns.toSeq === orig.columns.toSeq) // shape parity
    val reunited = (0 until 3)
      .map(p => graft.io.GraphLoaders.metisGraph(spark, s"$base.subgraph.$p").edges)
      .reduce(_ union _)
    val n = graft.graph.GraphOps.triangleCountViaIntersect(
      reunited.select(
        org.apache.spark.sql.functions.least(
          org.apache.spark.sql.functions.col("src"),
          org.apache.spark.sql.functions.col("dst")).as("src"),
        org.apache.spark.sql.functions.greatest(
          org.apache.spark.sql.functions.col("src"),
          org.apache.spark.sql.functions.col("dst")).as("dst"))
        .where(org.apache.spark.sql.functions.col("src") =!=
          org.apache.spark.sql.functions.col("dst")).distinct())
      .first().getLong(0)
    assert(n === orig.first().getLong(0))
  }

  test("partition verb: locality mode writes readable parts that re-unite losslessly") {
    import org.apache.spark.sql.functions.{col, least, greatest}
    val base = java.nio.file.Files.createTempDirectory("gmr-loc").toString + "/4elt"
    // 4elt: 15,606 vertices — big enough that LPA finds real communities
    Gmr.partitionFiles(spark, s"$ref/4elt.graph", 3, base, mode = "locality")
    val src = Gmr.load(spark, s"$ref/4elt.graph")
    val reunited = (0 until 3)
      .map(p => graft.io.GraphLoaders.metisGraph(spark, s"$base.subgraph.$p").edges)
      .reduce(_ union _)
    val canon = (df: org.apache.spark.sql.DataFrame) => df
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst")).distinct()
    assert(canon(reunited).count() === canon(src.edges).count())
    // locality placement beats id-mod-parts on the mesh's edge cut
    val (_, _, locCut) = graft.io.GraphLoaders.partitionImbalance(
      graft.io.GraphLoaders.partitionStats(spark, base, 3))
    val hashBase = java.nio.file.Files.createTempDirectory("gmr-hash").toString + "/4elt"
    Gmr.partitionFiles(spark, s"$ref/4elt.graph", 3, hashBase)
    val (_, _, hashCut) = graft.io.GraphLoaders.partitionImbalance(
      graft.io.GraphLoaders.partitionStats(spark, hashBase, 3))
    assert(locCut < hashCut, s"locality $locCut vs hash $hashCut on 4elt")
  }

  test("corpus verb: writes one verdict row per document, matching d8 directly") {
    val out = java.nio.file.Files.createTempDirectory("gmr-corpus").toString + "/sel"
    val n = Gmr.curateCorpus(spark, "/root/testdata/sf0.001", out)
    val direct = graft.operators.DedupQueries
      .d8CorpusSelect(spark, "/root/testdata/sf0.001")
    assert(n === direct.count())
    val back = spark.read.parquet(out)
    assert(back.columns.sorted.toSeq === direct.columns.sorted.toSeq)
  }

  test("ppr on small.graph: mass conserved, seed vertex 1 holds teleport mass") {
    val (df, iters) = Gmr.run(spark, "ppr", s"$ref/small.graph")
    val pr = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(iters >= 1)
    assert(math.abs(pr.values.sum - 1.0) < 1e-4) // ranks rounded to 8 decimals
    assert(pr(1L) === pr.values.max, "seed must hold the maximal rank")
    assert(pr.values.forall(_ >= 0.0))
  }

  test("labelprop on small.graph: labels drawn from vertex ids, one per vertex") {
    val (df, _) = Gmr.run(spark, "labelprop", s"$ref/small.graph")
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length === 10)
    val ids = rows.map(_._1).toSet
    assert(rows.map(_._2).forall(ids.contains))
  }
}
