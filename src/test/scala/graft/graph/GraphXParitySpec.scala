package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.graphx.lib.ShortestPaths
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Cross-engine validation against Spark's own GraphX (the library the
  * reference's README benchmarks GMR against, `/root/reference/README.md:147-154`
  * — its comparison table is empty; here the comparison is at least run
  * for *correctness*): on seeded random graphs, our DataFrame-BSP
  * results must equal GraphX's Pregel results exactly. */
class GraphXParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(for {
      a <- Gen.choose(1L, 40L); b <- Gen.choose(1L, 40L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)

  private def samples: Seq[List[(Long, Long)]] =
    (1 to 3).flatMap(i =>
      genEdges.apply(Gen.Parameters.default.withSize(60), Seed(i.toLong)))

  private def ourGraph(canon: List[(Long, Long)]): PropertyGraph = {
    import spark.implicits._
    PropertyGraph.fromEdges(PropertyGraph.symmetrize(canon.toDF("src", "dst")))
  }

  /** Both directions: GraphX's Pregel algorithms follow edge direction
    * (ShortestPaths propagates along out-edges), so the undirected view
    * needs the symmetrized edge list — same as [[PropertyGraph.symmetrize]].
    * triangleCount() re-canonicalizes internally, so the doubling is
    * harmless there. */
  private def graphxGraph(canon: List[(Long, Long)]): Graph[Int, Int] =
    Graph.fromEdges(
      spark.sparkContext.parallelize(
        canon.flatMap { case (a, b) => Seq(Edge(a, b, 1), Edge(b, a, 1)) }),
      0)

  test("connected components equal GraphX connectedComponents") {
    samples.foreach { canon =>
      val ours = GmrRunner.run(ourGraph(canon), ConnectedComponentsProgram)
        .vertices.collect().map(r => r.getLong(0) -> r.getDouble(1).toLong).toMap
      val gx = graphxGraph(canon).connectedComponents()
        .vertices.collect().toMap
      assert(ours === gx)
    }
  }

  test("BFS hop counts equal GraphX ShortestPaths") {
    samples.foreach { canon =>
      val source = canon.head._1
      val ours = GmrRunner.run(ourGraph(canon), new Bfs(source))
        .vertices.collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1).toLong))).toMap
      val gx = ShortestPaths.run(graphxGraph(canon), Seq(source))
        .vertices.collect()
        .map { case (id, m) => id -> m.get(source).map(_.toLong) }.toMap
      assert(ours === gx)
    }
  }

  /** Directed, non-canonicalized edges for SCC (direction matters). */
  private val genDirected: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(for {
      a <- Gen.choose(1L, 30L); b <- Gen.choose(1L, 30L) if a != b
    } yield (a, b)).map(_.distinct)

  test("SCC equals GraphX stronglyConnectedComponents") {
    import spark.implicits._
    (1 to 3).flatMap(i =>
      genDirected.apply(Gen.Parameters.default.withSize(50), Seed(100L + i))
    ).foreach { es =>
      // default config = the driver-Tarjan endgame; a broadcast budget
      // of 0 forces the pure-distributed forward-backward rounds — both
      // must agree with GraphX (and therefore with each other).
      val local = Scc.strongComponents(es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.set(GraphOps.StateBroadcastBytesKey, "0")
      val dist = try Scc.strongComponents(es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally spark.conf.unset(GraphOps.StateBroadcastBytesKey)
      val gx = Graph.fromEdges(
          spark.sparkContext.parallelize(es.map { case (a, b) => Edge(a, b, 1) }), 0)
        .stronglyConnectedComponents(numIter = 20)
        .vertices.collect().toMap
      assert(local === gx, s"local finish, on ${es.size} directed edges")
      assert(dist === gx, s"distributed, on ${es.size} directed edges")
    }
  }

  test("triangle count equals GraphX triangleCount") {
    samples.foreach { canon =>
      val ours = GraphOps.triangleCountViaIntersect {
        import spark.implicits._
        canon.toDF("src", "dst")
      }.first().getLong(0)
      val gx = graphxGraph(canon).triangleCount()
        .vertices.map(_._2.toLong).sum().toLong / 3
      assert(ours === gx, s"ours=$ours graphx=$gx on ${canon.size} edges")
    }
  }
}
