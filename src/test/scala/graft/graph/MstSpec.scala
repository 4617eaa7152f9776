package graft.graph

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Borůvka MSF vs an independent in-test Kruskal (union-find over the
  * same (weight, src, dst) tie-break) — golden cases + seeded random
  * graphs. */
class MstSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def edgeDf(rows: (Long, Long, Double)*) = {
    import spark.implicits._
    rows.toDF("src", "dst", "weight")
  }

  /** Reference Kruskal for small graphs. */
  private def kruskal(edges: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.sortBy(e => (e._3, e._1, e._2)).flatMap { case e @ (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) None else { parent(ra) = rb; Some(e) }
    }
  }

  test("golden: triangle keeps the two light edges") {
    val msf = Mst.minimumSpanningForest(
        edgeDf((1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 10.0)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(msf === Set((1L, 2L, 1.0), (2L, 3L, 2.0)))
  }

  test("golden: two components → spanning forest, not tree") {
    val msf = Mst.minimumSpanningForest(
        edgeDf((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0), (10L, 11L, 5.0)))
      .collect()
    assert(msf.length === 3) // 3 vertices - 1 + 2 vertices - 1
  }

  test("random graphs: Borůvka total weight and edge count match Kruskal") {
    val gen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(1L, 10L); b <- Gen.choose(1L, 10L) if a != b
      w <- Gen.choose(1, 9)
    } yield (math.min(a, b), math.max(a, b), w.toDouble)).map(_.distinctBy(e => (e._1, e._2)))
    (1 to 4).foreach { i =>
      gen.apply(Gen.Parameters.default.withSize(14), Seed(i.toLong)).foreach { edges =>
        val expect = kruskal(edges)
        // a broadcast budget of 0 forces the distributed Borůvka rounds;
        // the default path (local finish) must agree with them and with
        // Kruskal
        for (budget <- Seq("0", GraphOps.StateBroadcastBytesDefault.toString)) {
          spark.conf.set(GraphOps.StateBroadcastBytesKey, budget)
          val got = try Mst.minimumSpanningForest(edgeDf(edges: _*))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
            finally spark.conf.unset(GraphOps.StateBroadcastBytesKey)
          assert(got.length === expect.length, s"edge count, seed $i budget $budget")
          assert(got.map(_._3).sum === expect.map(_._3).sum, s"weight, seed $i budget $budget")
        }
      }
    }
  }
}
