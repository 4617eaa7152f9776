package graft.graph

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The durability mode must be semantics-free: every iterative path
  * (BSP runner, Borůvka, SCC, Brandes) produces bit-identical results
  * whether state is truncated with localCheckpoint (default) or with
  * reliable `df.checkpoint()` against a checkpoint dir
  * ([[Materialize]], `spark.graft.checkpoint.reliable`). */
class ReliableCheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def withReliable[A](f: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Materialize.ReliableKey, "true")
    spark.conf.set(Materialize.DirKey, dir)
    try f
    finally {
      spark.conf.set(Materialize.ReliableKey, "false")
      // next reliable run may use a fresh dir; the SparkContext-level
      // checkpoint dir is sticky but harmless once the mode is off
    }
  }

  test("Materialize routes to reliable checkpoint files when enabled") {
    import spark.implicits._
    withReliable {
      val out = Materialize(Seq(1L, 2L, 3L).toDF("x"))
      assert(out.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.isDefined, "reliable mode must set a checkpoint dir")
      assert(out.rdd.isCheckpointed || out.queryExecution.toString.nonEmpty)
    }
  }

  test("g2 SSSP (BSP runner) and g7 MST under Reliable == Local") {
    val local2 = graft.SparkEntry.queries("g2_sssp")(spark, sf).collect().toSeq
    val local7 = graft.SparkEntry.queries("g7_mst")(spark, sf).collect().toSeq
    val (rel2, rel7) = withReliable {
      (graft.SparkEntry.queries("g2_sssp")(spark, sf).collect().toSeq,
        graft.SparkEntry.queries("g7_mst")(spark, sf).collect().toSeq)
    }
    assert(rel2 === local2)
    assert(rel7 === local7)
  }

  test("g9 SCC under Reliable == Local") {
    val local = graft.SparkEntry.queries("g9_scc")(spark, sf).collect().toSeq
    val rel = withReliable {
      graft.SparkEntry.queries("g9_scc")(spark, sf).collect().toSeq
    }
    assert(rel === local)
  }

  test("GmrRunner residuals and iterations, observed by the checkpoint job, under Reliable == Local") {
    // Each superstep's residual and changed-vertex count come from the
    // job that checkpoints the new state, so both checkpoint kinds must
    // deliver them. A zero state budget forces the shuffle-join superstep,
    // which runs with AQE on; the default budget runs it with AQE off.
    val path = getClass.getResource("/graphs/small10.graph").getPath
    def runs() = {
      val pr = PageRank.compat(graft.Gmr.load(spark, path))
      val traced = GmrRunner.runTraced(pr.graph, pr.program, 6)
      val conv = pr.converged()
      val cc = GmrRunner.runFixed(pr.graph, ConnectedComponentsProgram, 8)
      (traced.residuals, traced.iterations, conv.iterations, conv.lastDelta,
        traced.vertices.orderBy("id").collect().toSeq,
        cc.orderBy("id").collect().toSeq)
    }
    for (budget <- Seq(None, Some("0"))) {
      budget.foreach(spark.conf.set(GraphOps.StateBroadcastBytesKey, _))
      try {
        val local = runs()
        assert(local._1.length === 6 && local._2 === 6)
        assert(local._1.head > local._1.last)
        assert(local._4 < 1e-4)
        assert(withReliable(runs()) === local)
      } finally spark.conf.unset(GraphOps.StateBroadcastBytesKey)
    }
  }
}
