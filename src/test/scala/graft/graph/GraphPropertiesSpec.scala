package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, lit, pmod}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.4): structural laws that must
  * hold on arbitrary graphs, not just golden fixtures. ScalaCheck
  * generators are sampled with fixed seeds (the scalatest-scalacheck
  * bridge isn't in the offline dep set, and seeded cases are
  * reproducible); sizes stay small — each case runs real Spark jobs. */
class GraphPropertiesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  /** Five deterministic samples of a generator. */
  private def forAll[A](gen: Gen[A])(body: A => Unit): Unit =
    (1 to 5).foreach { i =>
      gen.apply(Gen.Parameters.default.withSize(12), Seed(i.toLong))
        .foreach(body)
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb)) { case (a, b) => body(a, b) }

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(for {
      a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L) if a != b
    } yield (a, b)).map(_.distinct)

  private def graphOf(pairs: List[(Long, Long)]): PropertyGraph = {
    import spark.implicits._
    // canonical distinct pairs → symmetrized undirected view
    val canon = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    PropertyGraph.fromEdges(PropertyGraph.symmetrize(canon.toDF("src", "dst")))
  }

  test("degree sum equals 2|E| on the undirected view") {
    forAll(genEdges) { pairs =>
      val canon = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val g = graphOf(pairs)
      val degSum = g.degrees.agg(org.apache.spark.sql.functions.sum("deg"))
        .first().getLong(0)
      assert(degSum === 2L * canon.size)
    }
  }

  test("PageRank ranks sum to ~1 at any iteration count") {
    forAll(genEdges, Gen.choose(1, 6)) { (pairs, iters) =>
      val ranks = PageRank(graphOf(pairs)).fixed(iters)
        .collect().map(_.getDouble(1))
      assert(math.abs(ranks.sum - 1.0) < 1e-9)
    }
  }

  test("converged SSSP satisfies the triangle inequality on every edge") {
    forAll(genEdges) { pairs =>
      val g = graphOf(pairs)
      val dist = GmrRunner.run(g, new Sssp(pairs.head._1)).vertices
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) Double.PositiveInfinity else r.getDouble(1))).toMap
      g.edges.select("src", "dst").collect().foreach { e =>
        val (s, d) = (e.getLong(0), e.getLong(1))
        assert(dist(d) <= dist(s) + 1.0 + 1e-9, s"edge $s->$d violates relaxation")
      }
    }
  }

  /** A vertex count n and weighted directed edges over 1..n: self-loops,
    * duplicate edges, fractional weights, and isolated vertices (ids no
    * edge touches, including a tail beyond the largest endpoint). */
  private val genWeighted: Gen[(Long, List[(Long, Long, Double)])] = for {
    n <- Gen.choose(1L, 12L)
    es <- Gen.nonEmptyListOf(for {
      a <- Gen.choose(1L, n); b <- Gen.choose(1L, n)
      w <- Gen.oneOf(Gen.const(1.0), Gen.choose(1, 40).map(_ / 4.0))
    } yield (a, b, w))
    dup <- Gen.someOf(es)
    tail <- Gen.choose(0L, 3L)
  } yield (n + tail, es ++ dup)

  test("subgraph writer → reader roundtrip preserves vertex set and edge multiset") {
    forAll(genWeighted) { case (n, es) =>
      import spark.implicits._
      import graft.io.GraphLoaders
      // the most parts ≤ 3 whose every id-mod-parts class owns a vertex
      // and an edge (the writer's non-empty-part contract)
      val parts = (1 to 3).filter(p => (0 until p).forall(c =>
        es.exists(_._1 % p == c))).max
      val g = PropertyGraph(spark.range(1, n + 1).select(col("id")),
        es.toDF("src", "dst", "weight"))
      val base = java.nio.file.Files.createTempDirectory("graft-prop").toString + "/g"
      GraphLoaders.writeMetisSubgraphs(g, parts, base)
      val recs = GraphLoaders.metisRecords(spark, GraphLoaders.subgraphFiles(base, parts))
      assert(recs.select("id").collect().map(_.getLong(0)).sorted.toSeq === (1L to n))
      val back = recs.select(col("id"), explode(col("ns")).as("e"))
        .select(col("id"), col("e.dst"), col("e.weight")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(back.sorted === es.sorted, s"n=$n parts=$parts")
      val stats = GraphLoaders.partitionStats(spark, base, parts).collect()
      assert(stats.map(_.getAs[Long]("nvtxs")).sum === n)
      assert(stats.map(_.getAs[Long]("nedges")).sum === es.size.toLong)
    }
  }

  test("SampleSort (orderBy) equals in-memory sort on arbitrary longs") {
    forAll(Gen.nonEmptyListOf(Gen.choose(Long.MinValue / 2, Long.MaxValue / 2))) { xs =>
      import spark.implicits._
      val sorted = graft.io.SampleSort.sort(xs.toDF("n"), "n")
        .collect().map(_.getLong(0)).toList
      assert(sorted === xs.sorted)
    }
  }

  test("triangle count is invariant across all three formulations") {
    forAll(genEdges) { pairs =>
      import spark.implicits._
      val canon = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct.toDF("src", "dst")
      val naive = GraphOps.triangleCount(canon)
      assert(GraphOps.triangleCountViaIntersect(canon).first().getLong(0) === naive)
      assert(GraphOps.orientedTriangleCountDF(canon).first().getLong(0) === naive)
    }
  }

  test("kCore matches local reference peeling for k in 1..4") {
    forAll(genEdges, Gen.choose(1, 4)) { (pairs, k) =>
      import spark.implicits._
      val canon = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val adj = canon.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // local reference: peel round-by-round to fixpoint
      var alive = adj.keySet
      var peeled = Map.empty[Long, Long]
      var round = 1L
      var changed = true
      while (changed) {
        val drop = alive.filter(v => adj(v).count(alive) < k)
        changed = drop.nonEmpty
        peeled ++= drop.map(_ -> round)
        alive --= drop
        round += 1
      }
      val rounds = 8 // ≥ any fixpoint depth on 12-vertex samples
      val got = GraphOps.kCore(
          PropertyGraph.symmetrize(canon.toDF("src", "dst")), k, rounds)
        .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
      val want = adj.keySet.map(v =>
        v -> ((!peeled.contains(v), peeled.getOrElse(v, 0L)))).toMap
      assert(got === want, s"k=$k pairs=$canon")
    }
  }

  test("lubyMis matches a local replay of the tournament, isolated vertices included") {
    def charHash(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % graft.functions.Portable.P)
    forAll(genEdges) { pairs =>
      import spark.implicits._
      val vs = (1L to 12L).toSet // includes isolated vertices (instant winners)
      val canon = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val adj = canon.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        .withDefaultValue(Set.empty[Long])
      val rounds = 3
      // local reference: identical salted-hash tournament
      var st = vs.map(_ -> 'a').toMap
      var rj = Map.empty[Long, Long]
      for (r <- 1 to rounds) {
        val active = st.filter(_._2 == 'a').keySet
        val key = active.map(v =>
          v -> (charHash(s"${v}mis$r") * GraphOps.MisShift + v)).toMap
        val winners = active.filter(v =>
          adj(v).intersect(active).forall(u => key(v) > key(u)))
        st = st ++ winners.map(_ -> 'm')
        rj = rj ++ winners.map(_ -> r.toLong)
        val knocked = winners.flatMap(adj).filter(u => st(u) == 'a')
        st = st ++ knocked.map(_ -> 'o')
      }
      val want = vs.map(v =>
        v -> ((st(v) == 'm', st(v) != 'a', rj.getOrElse(v, -1L)))).toMap
      val got = GraphOps.lubyMis(
          vs.toSeq.toDF("id"),
          PropertyGraph.symmetrize(canon.toDF("src", "dst")), rounds)
        .collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getLong(3))))
        .toMap
      assert(got === want, s"pairs=$canon")
    }
  }

  /** A vertex count, a hub, and weighted directed edges over 1..n:
    * self-loops, duplicate edges, one hub wired to at least half the
    * vertices, and isolated ids beyond n. */
  private val genMixed: Gen[(Long, Long, List[(Long, Long, Double)])] = for {
    n <- Gen.choose(4L, 14L)
    es <- Gen.listOf(for {
      a <- Gen.choose(1L, n); b <- Gen.choose(1L, n)
      w <- Gen.choose(1, 8).map(_ / 2.0)
    } yield (a, b, w))
    dup <- Gen.someOf(es)
    hub <- Gen.choose(1L, n)
    spokes <- Gen.pick((n / 2).toInt, 1L to n)
    tail <- Gen.choose(1L, 3L)
  } yield (n + tail, hub, es ++ dup ++ spokes.map(s => (hub, s, 1.0)))

  /** `f` at the default broadcast budget and at budget 0, which forces
    * the shuffle side of every gate. */
  private def atBothBudgets[A](f: => A): (A, A) = {
    val atDefault = f
    spark.conf.set(GraphOps.StateBroadcastBytesKey, "0")
    try (atDefault, f) finally spark.conf.unset(GraphOps.StateBroadcastBytesKey)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("broadcast and shuffle paths agree: default budget vs stateBroadcastBytes=0") {
    forAll(genMixed) { case (n, hub, es) =>
      import spark.implicits._
      import graft.io.GraphLoaders
      val ctx = s"n=$n hub=$hub es=$es"
      val vertices = spark.range(1, n + 1).select(col("id"))
      val directed = es.toDF("src", "dst", "weight")
      val sym = PropertyGraph.symmetrize(directed)
      val g = PropertyGraph(vertices, directed)
      val ug = PropertyGraph(vertices, sym)
      val canon = es.collect { case (a, b, _) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct.toDF("src", "dst")
      def same(what: String)(df: => DataFrame): Unit = {
        val (bc, sh) = atBothBudgets(rowsOf(df))
        assert(bc === sh, s"$what: $ctx")
      }
      // Every program with a twin, in convergence, fixed and traced mode:
      // the same superstep count, and residuals and values within `tol`
      // (exact for the min-propagation programs). The default budget runs
      // these graphs resident, budget 0 distributed.
      def sameRun(what: String, tol: Double)(run: => GmrRunner.RunResult): Unit = {
        val (bc, sh) = atBothBudgets {
          val r = run
          (r.iterations, r.residuals, r.vertices.select("id", "value").collect()
            .map(x => x.getLong(0) -> Option.when(!x.isNullAt(1))(x.getDouble(1))).toMap)
        }
        def close(a: Double, b: Double) = a == b || math.abs(a - b) <= tol
        assert(bc._1 === sh._1, s"$what iterations: $ctx")
        assert(bc._2.size === sh._2.size, s"$what residuals: $ctx")
        bc._2.zip(sh._2).foreach { case (a, b) => assert(close(a, b), s"$what residual: $ctx") }
        assert(bc._3.keySet === sh._3.keySet, s"$what vertices: $ctx")
        bc._3.foreach { case (v, x) =>
          assert(x.isDefined === sh._3(v).isDefined && x.forall(close(_, sh._3(v).get)),
            s"$what vertex $v: $ctx")
        }
      }
      val pr = PageRank(g)
      val ppr = PropertyGraph(g.degrees, g.edges)
      val programs = Seq[(String, PropertyGraph, VertexProgram, Double)](
        ("sssp", g, new Sssp(hub), 0.0),
        ("bfs", g, new Bfs(hub), 0.0),
        ("cc", ug, ConnectedComponentsProgram, 0.0),
        ("pagerank", pr.graph, pr.program, 1e-9),
        ("ppr", ppr, new PersonalizedPageRank(1, col("id") === hub), 1e-9))
      programs.foreach { case (what, graph, program, tol) =>
        sameRun(what, tol)(GmrRunner.run(graph, program))
        sameRun(s"$what fixed", tol)(
          GmrRunner.loop(graph, program, 5, convergenceCheck = false))
      }
      sameRun("pagerank traced", 1e-9)(GmrRunner.runTraced(pr.graph, pr.program, 5))
      same("lpa")(GraphOps.labelPropagation(ug, 5))
      same("lubyMis")(GraphOps.lubyMis(vertices, sym, 3))
      same("kCore")(GraphOps.kCore(sym, 2, 6))
      same("kTruss")(GraphOps.kTruss(canon, 3, 4))
      // Budget 0 also forces the distributed rounds past the driver-side
      // endgames, so the local finish is checked against them.
      same("scc")(Scc.strongComponents(directed))
      val minW = es.collect { case (a, b, w) if a != b => ((math.min(a, b), math.max(a, b)), w) }
        .groupBy(_._1).map { case ((a, b), ws) => (a, b, ws.map(_._2).min) }.toSeq
      same("mst")(Mst.minimumSpanningForest(minW.toDF("src", "dst", "weight")))
      same("triangleCountByGroup")(GraphOps.triangleCountByGroup(canon, x => pmod(x, lit(3L))))
      // Locality write → read: an LPA-community assignment at the most
      // parts ≤ 3 whose every part owns a vertex and an edge (the
      // writer's non-empty-part contract).
      val labels = GraphOps.labelPropagation(ug, 3)
      val (parts, assign) = (3 to 1 by -1).iterator.map { p =>
        p -> GraphLoaders.localityAssignment(labels, p).collect()
          .map(r => r.getLong(0) -> r.getAs[Number]("part").longValue).toMap
      }.find { case (p, a) =>
        (0L until p).forall(c => a.values.exists(_ == c) && es.exists(e => a(e._1) == c))
      }.get
      val assignDf = assign.toSeq.toDF("id", "part")
      val (written, writtenShuffled) = atBothBudgets {
        val base = java.nio.file.Files.createTempDirectory("graft-prop").toString + "/g"
        GraphLoaders.writeMetisSubgraphs(g, parts, base, Some(assignDf))
        val recs = GraphLoaders.metisRecords(spark, GraphLoaders.subgraphFiles(base, parts))
        val ids = recs.select("id").collect().map(_.getLong(0)).sorted.toSeq
        val back = recs.select(col("id"), explode(col("ns")).as("e"))
          .select(col("id"), col("e.dst"), col("e.weight")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
        (rowsOf(recs), ids, back)
      }
      assert(written === writtenShuffled, s"locality write, parts=$parts: $ctx")
      assert(written._2 === (1L to n), s"locality roundtrip vertices: $ctx")
      assert(written._3 === es.sorted, s"locality roundtrip edges, parts=$parts: $ctx")
    }
  }
}
