package graft.graph

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests from FIXTURES.md §A5: hand-computed expectations on tiny
  * graphs (the reference ships no tests, SURVEY.md §5 — these fixtures
  * mirror its known-answer micro-graphs `3line.graph`/`small.graph`). */
class GraphAlgoSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import scala.jdk.CollectionConverters._
  private def edgeDf(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  /** 3line.graph analog: path 1 → 2 → 3 (undirected). */
  private def lineGraph = PropertyGraph.fromEdges(
    PropertyGraph.symmetrize(edgeDf(1L -> 2L, 2L -> 3L)))

  test("SSSP on a 3-vertex line: dist = 0,1,2 (FIXTURES.md §A5)") {
    val r = GmrRunner.run(lineGraph, new Sssp(1L))
    val dist = r.vertices.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(dist === Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0))
    assert(r.iterations <= 4)
  }

  test("BFS hops equal SSSP on unit weights") {
    val r = GmrRunner.run(lineGraph, new Bfs(1L))
    val hops = r.vertices.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(hops === Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0))
  }

  test("SSSP respects weights (shorter heavy path loses)") {
    import spark.implicits._
    // 1→2 (w=10), 1→3 (w=1), 3→2 (w=1): best dist(2) = 2 via 3.
    val e = Seq((1L, 2L, 10.0), (1L, 3L, 1.0), (3L, 2L, 1.0)).toDF("src", "dst", "weight")
    val r = GmrRunner.run(PropertyGraph.fromEdges(e), new Sssp(1L))
    val dist = r.vertices.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(dist(2L) === 2.0)
  }

  test("fixed mode early-exits on an emptied frontier, result identical (r21)") {
    // Line 1-2-3: CC converges in 2 hops; frontier empties at superstep 3.
    // Fixed mode (convergenceCheck=false) — with the r21 early exit it
    // must stop well short of the requested 10 supersteps and still
    // produce the exact fixpoint labels.
    val r = GmrRunner.loop(lineGraph, ConnectedComponentsProgram, 10,
      convergenceCheck = false)
    assert(r.iterations < 10, s"expected early exit, ran ${r.iterations}")
    val labels = r.vertices.collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(labels === Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0))
    // Non-frontier programs must NOT early-exit in fixed mode (PageRank
    // needs every contribution every round).
    val pr = PageRank(lineGraph)
    val r2 = GmrRunner.loop(pr.graph, pr.program, 4, convergenceCheck = false)
    assert(r2.iterations === 4)
  }

  test("the superstep kernel scopes AQE off to fitting loops and restores it") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val init = spark.range(1, 4).toDF("id")
    def run(fail: Boolean): Superstep.Folded =
      Superstep.fold(init, 2) { _ => (s, r) =>
        seen += spark.conf.get(key)
        if (fail && r == 2) throw new IllegalStateException("step failed")
        s
      }
    assert(run(fail = false).rounds.size === 2)
    assert(seen === Seq("false", "false"))
    assert(spark.conf.get(key) === before)
    intercept[IllegalStateException](run(fail = true))
    assert(spark.conf.get(key) === before)
    // at budget 0 nothing fits, and the kernel never touches the setting
    spark.conf.set(GraphOps.StateBroadcastBytesKey, "0")
    try {
      for (v <- Seq("true", "false")) {
        spark.conf.set(key, v)
        seen.clear()
        run(fail = false)
        assert(seen === Seq(v, v))
        assert(spark.conf.get(key) === v)
      }
    } finally {
      spark.conf.unset(GraphOps.StateBroadcastBytesKey)
      spark.conf.set(key, before)
    }
  }

  test("unreached vertices stay null") {
    val g = PropertyGraph.fromEdges(edgeDf(1L -> 2L, 3L -> 4L))
    val r = GmrRunner.run(g, new Sssp(1L))
    val rows = r.vertices.collect().map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    assert(rows(2L) === Some(1.0))
    assert(rows(3L) === None)
    assert(rows(4L) === None)
  }

  test("connected components: two components get min labels") {
    val g = PropertyGraph.fromEdges(PropertyGraph.symmetrize(
      edgeDf(1L -> 2L, 2L -> 3L, 10L -> 11L)))
    val r = GmrRunner.run(g, ConnectedComponentsProgram)
    val comp = r.vertices.collect().map(x => x.getLong(0) -> x.getDouble(1).toLong).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("triangle count: one triangle + a tail") {
    // canonical pairs: triangle (1,2,3) + edge 3-4
    val tris = GraphOps.triangleCount(edgeDf(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L))
    assert(tris === 1L)
  }

  test("oriented and intersect triangle counts equal the naive 3-way join count") {
    // two triangles sharing edge 2-3, plus a tail
    val e = edgeDf(1L -> 2L, 1L -> 3L, 2L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L)
    assert(GraphOps.orientedTriangleCountDF(e).first().getLong(0) ===
      GraphOps.triangleCount(e))
    assert(GraphOps.triangleCountViaIntersect(e).first().getLong(0) ===
      GraphOps.triangleCount(e))
    assert(GraphOps.triangleCount(e) === 2L)
    // triangle-free graph → 0 (coalesce guard on the empty sum)
    val tf = edgeDf(1L -> 2L, 2L -> 3L)
    assert(GraphOps.triangleCountViaIntersect(tf).first().getLong(0) === 0L)
  }

  test("triangle kernel selector: both forced regimes agree, kernels actually differ") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val e = edgeDf(1L -> 2L, 1L -> 3L, 2L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L,
      3L -> 5L, 1L -> 5L)
    val key = GraphOps.StateBroadcastBytesKey
    def grouped(): Map[Long, Long] =
      GraphOps.triangleCountByGroup(e, x => pmod(x, lit(2L))).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      // regime 1: adjacency fits → broadcast-adjacency intersect kernel
      spark.conf.set(key, "10485760")
      assert(GraphOps.adjacencyFitsBroadcast(e))
      val broadcastTotal = GraphOps.triangleCountAuto(e).first().getLong(0)
      val broadcastGroups = grouped()
      assert(GraphOps.triangleCountAuto(e).queryExecution.executedPlan.toString
        .contains("graft_sorted_intersect_count"))
      // regime 2: adjacency exceeds the budget → shuffle wedge join
      spark.conf.set(key, "1")
      assert(!GraphOps.adjacencyFitsBroadcast(e))
      val wedgeTotal = GraphOps.triangleCountAuto(e).first().getLong(0)
      val wedgeGroups = grouped()
      assert(!GraphOps.triangleCountAuto(e).queryExecution.executedPlan.toString
        .contains("graft_sorted_intersect_count"))
      assert(broadcastTotal === wedgeTotal)
      assert(broadcastTotal === GraphOps.triangleCount(e))
      assert(broadcastGroups === wedgeGroups)
      assert(broadcastGroups.values.sum === broadcastTotal)
      // Contract regression: a group with edges but ZERO triangles must
      // appear (n_triangles = 0) in BOTH kernels — the wedge fallback
      // originally dropped such rows, so the selector changed the
      // output row set whenever the data crossed the broadcast budget.
      val e0 = edgeDf(1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 5L)
      def g0(): Map[Long, Long] =
        GraphOps.triangleCountByGroup(e0, x => pmod(x, lit(2L))).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.set(key, "10485760")
      val bG = g0()
      spark.conf.set(key, "1")
      val wG = g0()
      assert(bG === Map(0L -> 0L, 1L -> 1L))
      assert(wG === bG)
    } finally spark.conf.unset(key)
  }

  test("grouped-triangle wedge fallback spreads a hot middle vertex (skew salt)") {
    import org.apache.spark.sql.functions.{lit, pmod}
    import spark.implicits._
    // Star with the hub at a MIDDLE id: 300 low leaves point in
    // (leaf → hub) and 300 high leaves point out (hub → leaf) under the
    // canonical src<dst orientation, so the id-oriented wedge join
    // funnels in·out = 90,000 wedge pairs through the single
    // middle-vertex key — the documented straggler class the broadcast
    // budget's fallback is exposed to. Three closing edges make three
    // real triangles through the hub.
    val hub = 1000L
    val low = (0L until 300L).map(l => (l, hub))
    val high = (0L until 300L).map(h => (hub, 1001L + h))
    val closing = Seq((0L, 1001L), (1L, 1002L), (2L, 1003L))
    val e = (low ++ high ++ closing).toDF("src", "dst")
    val budgetKey = GraphOps.StateBroadcastBytesKey
    // Restore whatever AQE setting the suite session runs with, not a
    // hardcoded "true" (ADVICE r9: the hardcode leaked config if the
    // session ever ran with AQE off by default).
    val aqePrior = spark.conf.getOption("spark.sql.adaptive.enabled")
    try {
      val thr = 1000L // 90,000 ≥ 1000 → the hub is hot
      // forced fallback == intersect kernel on the star fixture
      spark.conf.set(budgetKey, "1")
      assert(!GraphOps.adjacencyFitsBroadcast(e))
      val fb = GraphOps.triangleCountByGroup(e, x => pmod(x, lit(3L)), thr).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.set(budgetKey, "10485760")
      val bc = GraphOps.triangleCountByGroup(e, x => pmod(x, lit(3L)), thr).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fb === bc, "salted fallback must equal the intersect kernel")
      assert(fb.values.sum === 3L)
      // the hub's wedge set actually spreads: no shuffle partition of
      // the salted wedge frame holds more than 4× the mean non-empty
      // load (unsalted, ONE partition holds all 90k wedge pairs). AQE's
      // small-partition coalescing is disabled for the measurement —
      // at real scale the hot partitions are nowhere near the advisory
      // size, so coalescing would never merge them.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val sizes = GraphOps.saltedWedges(e, thr).rdd
        .mapPartitions(it => Iterator(it.size.toLong)).collect().filter(_ > 0)
      val total = sizes.sum
      assert(total >= 90000L, s"expected the hub's wedge set, saw $total")
      assert(sizes.length > 1, "wedges must land in more than one partition")
      val mean = total / sizes.length
      assert(sizes.max <= 4 * mean,
        s"straggler partition: max ${sizes.max} vs mean $mean (sizes: ${sizes.toSeq})")
    } finally {
      spark.conf.unset(budgetKey)
      aqePrior match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
        case None => spark.conf.unset("spark.sql.adaptive.enabled")
      }
    }
  }

  test("salted wedge enumeration stays exact when EVERY middle is hot") {
    import org.apache.spark.sql.functions.{lit, pmod}
    import spark.implicits._
    // Threshold 1 salts every wedge middle, so the exactly-once-meeting
    // property (each wedge's a-side carries one salt, the b-side
    // replicates across all salts, they meet at exactly one key) is
    // exercised on every vertex of a seeded random graph — not just a
    // single engineered hub.
    val rnd = new scala.util.Random(20260814)
    val n = 60
    val edges = (for {
      a <- 0L until n; b <- (a + 1) until n
      if rnd.nextDouble() < 0.15
    } yield (a, b)).toDF("src", "dst")
    val budgetKey = GraphOps.StateBroadcastBytesKey
    try {
      spark.conf.set(budgetKey, "1")
      val fb = GraphOps.triangleCountByGroup(edges, x => pmod(x, lit(4L)), 1L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.set(budgetKey, "10485760")
      val bc = GraphOps.triangleCountByGroup(edges, x => pmod(x, lit(4L)), 1L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fb === bc, "fully-salted fallback must equal the intersect kernel")
      assert(fb.values.sum === GraphOps.triangleCount(edges))
      assert(fb.values.sum > 0, "fixture must contain triangles")
    } finally spark.conf.unset(budgetKey)
  }

  test("per-vertex triangle counts credit all corners") {
    val per = GraphOps.triangleCounts(edgeDf(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(per === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("PageRank: ranks sum to ~1 and hub outranks leaves (star graph)") {
    // star: center 1 connected to 2,3,4,5 (undirected)
    val g = PropertyGraph.fromEdges(PropertyGraph.symmetrize(
      edgeDf(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L)))
    val pr = PageRank(g).fixed(20).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(pr(1L) > pr(2L) * 2)
    // leaves symmetric
    assert(math.abs(pr(2L) - pr(5L)) < 1e-12)
  }

  test("PageRank.compat uses the reference's d=0.5 damping (algorithms.h:30)") {
    val g = PropertyGraph.fromEdges(PropertyGraph.symmetrize(
      edgeDf(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L)))
    val std = PageRank(g).fixed(10).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val compat = PageRank.compat(g).fixed(10).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // lower damping → flatter distribution: hub rank shrinks toward 1/n
    assert(compat(1L) < std(1L))
    assert(math.abs(compat.values.sum - 1.0) < 1e-6)
  }

  test("personalized PageRank: mass conserved, concentrated toward the seed") {
    // star with seeded center 100 (id % 100 == 0), leaves 1,2,3 plus a
    // distance-2 tail 3-4: relevance decays with distance from the seed
    val g = PropertyGraph.fromEdges(PropertyGraph.symmetrize(
      edgeDf(100L -> 1L, 100L -> 2L, 100L -> 3L, 3L -> 4L)))
    val pr = GmrRunner.runFixed(PropertyGraph(g.degrees, g.edges),
        new PersonalizedPageRank(nSeeds = 1, isSeed = col("id") % 100 === 0), 20)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // dangling-free graph: teleport + propagation conserve total mass 1
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(pr(100L) > pr(1L), "seed must outrank a leaf")
    assert(math.abs(pr(1L) - pr(2L)) < 1e-12, "symmetric leaves rank equal")
    assert(pr(3L) > pr(4L), "tail end ranks below its attachment")
    assert(pr.values.forall(_ >= 0.0))
  }

  test("PageRank convergence mode stops under the iteration cap") {
    val g = PropertyGraph.fromEdges(PropertyGraph.symmetrize(
      edgeDf(1L -> 2L, 2L -> 3L, 3L -> 1L)))
    val run = PageRank(g).converged()
    // 3-cycle is regular: uniform ranks from iteration 1, converges fast
    assert(run.iterations < 10)
    val pr = run.vertices.select("id", "value").collect().map(x => x.getDouble(1))
    pr.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-4))
  }

  /** Plain-Scala synchronous LPA over directed `edges`: each round a
    * vertex takes the most frequent label among its in-neighbors (ties →
    * the smaller label); a vertex with no in-edges keeps its own. */
  private def lpaReplay(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val ids = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val inNbrs = edges.groupBy(_._2).map { case (v, es) => v -> es.map(_._1) }
    (1 to rounds).foldLeft(ids.map(v => v -> v).toMap) { (lab, _) =>
      lab.map { case (v, l) =>
        v -> inNbrs.get(v).fold(l) { ns =>
          -ns.groupBy(lab).iterator.map { case (x, vs) => (vs.size, -x) }.max._2
        }
      }
    }
  }

  private def symmetric(pairs: Seq[(Long, Long)]) = pairs ++ pairs.map(_.swap)

  private def lpaLabels(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    GraphOps.labelPropagation(
        PropertyGraph.fromEdges(PropertyGraph.symmetrize(edgeDf(pairs: _*))), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Jobs `body` starts, as a SparkListener sees them: `body` runs in a
    * job group of its own, and a marker job in another group runs after
    * it; one listener queue delivers events in order, so once the
    * marker's start arrives, every start of `body` has been counted. */
  private def jobsStarted(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => n.incrementAndGet()
          case `marker` => seen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      n.get
    } finally sc.removeSparkListener(listener)
  }

  test("LPA equals a local replay at every round count") {
    // Seeded graph: two dense communities, a bridge, and a pendant chain,
    // so labels keep changing for several rounds at the boundaries.
    val rnd = new scala.util.Random(42)
    val e1 = for { a <- 0L until 12L; b <- 0L until 12L
                   if a < b && rnd.nextDouble() < 0.5 } yield (a, b)
    val e2 = for { a <- 20L until 32L; b <- 20L until 32L
                   if a < b && rnd.nextDouble() < 0.5 } yield (a, b)
    val pairs = e1 ++ e2 ++ Seq((11L, 20L), (40L, 41L), (41L, 42L), (42L, 43L))
    // Equal labels at EVERY round count k pin every intermediate round
    // (round k is some run's last).
    for (k <- 1 to 6)
      assert(lpaLabels(pairs, k) === lpaReplay(symmetric(pairs), k),
        s"LPA diverged from the replay at round $k")
  }

  test("LPA early-exits at the fixpoint with the exact fixed-iter result") {
    // A triangle + a 7-8 pair: the pair swaps labels forever (sync LPA
    // does not converge on every graph), so this run takes all 20 rounds.
    val pairs = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 7L -> 8L)
    val full = lpaLabels(pairs, 20)
    assert(full === lpaReplay(symmetric(pairs), 20))
    assert(full.view.filterKeys(Set(1L, 2L, 3L)).values.toSet.size === 1,
      "triangle must agree on one label at the fixpoint")
    // The triangle alone is at its fixpoint after round 2, so round 3
    // changes nothing and the loop stops: a 20-round request costs no
    // more jobs than a 4-round one, and gives the same labels.
    val tri = pairs.take(3)
    val triLabels = lpaLabels(tri, 20)
    assert(triLabels === lpaReplay(symmetric(tri), 20))
    assert(triLabels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val long = jobsStarted(lpaLabels(tri, 20))
    val short = jobsStarted(lpaLabels(tri, 4))
    assert(long <= short, s"20 rounds started $long jobs, 4 rounds $short")
  }

  test("resident loops start no more jobs for more rounds; budget 0 runs distributed") {
    // 40 vertices on a ring with chords: both the state and the edges fit
    // the driver, so every round runs there.
    val ring = (0L until 40L).flatMap(v => Seq(v -> (v + 1) % 40, v -> (v + 7) % 40))
    val pr = PageRank(PropertyGraph.fromEdges(PropertyGraph.symmetrize(edgeDf(ring: _*))))
    def prJobs(steps: Int): Int = jobsStarted {
      val r = GmrRunner.loop(pr.graph, pr.program, steps, convergenceCheck = false)
      assert(r.iterations === steps)
      r.vertices.collect()
    }
    prJobs(3)
    val (short, long) = (prJobs(3), prJobs(30))
    assert(long <= short, s"30 supersteps started $long jobs, 3 supersteps $short")
    // 7 and 8 swap labels every round, so LPA never exits early
    val pair = Seq(7L -> 8L)
    val (lpa2, lpa20) = (jobsStarted(lpaLabels(pair, 2)), jobsStarted(lpaLabels(pair, 20)))
    assert(lpa20 <= lpa2, s"LPA: 20 rounds started $lpa20 jobs, 2 rounds $lpa2")
    // budget 0 forces the distributed rounds: one checkpoint job each at least
    spark.conf.set(GraphOps.StateBroadcastBytesKey, "0")
    try {
      val (short0, long0) = (prJobs(3), prJobs(30))
      assert(long0 > short0 + 26, s"budget 0: 30 supersteps $long0 jobs, 3 supersteps $short0")
    } finally spark.conf.unset(GraphOps.StateBroadcastBytesKey)
  }

  test("resident and distributed rounds drop edges leaving the vertex frame alike") {
    import spark.implicits._
    // vertices 1..5; edges from 6 and to 7 and 9 reach no vertex, and a
    // null weight sends SSSP a null message
    val vertices = spark.range(1, 6).toDF("id")
    val edges = Seq[(Long, Long, java.lang.Double)]((1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0),
        (6, 4, 1.0), (2, 7, 1.0), (9, 5, 1.0), (4, 5, null), (1, 4, 3.0), (1, 2, 1.0))
      .toDF("src", "dst", "weight")
    val g = PropertyGraph(vertices, edges)
    def both[A](f: => A): (A, A) = {
      val resident = f
      spark.conf.set(GraphOps.StateBroadcastBytesKey, "0")
      try (resident, f) finally spark.conf.unset(GraphOps.StateBroadcastBytesKey)
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val (sssp, sssp0) = both(rows(GmrRunner.run(g, new Sssp(1L)).vertices))
    assert(sssp === sssp0)
    val (lpa, lpa0) = both(rows(GraphOps.labelPropagation(g, 4)))
    assert(lpa === lpa0)
    val pr = PageRank(g)
    val (ranks, ranks0) = both(GmrRunner.run(pr.graph, pr.program))
    assert(ranks.iterations === ranks0.iterations)
    val (a, b) = (ranks.vertices.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap,
      ranks0.vertices.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    assert(a.keySet === b.keySet)
    a.foreach { case (v, x) => assert(math.abs(x - b(v)) < 1e-12, s"vertex $v") }
  }

  test("LPA keeps its vertices' rangepartitioning(id) through the rounds") {
    // spark.range reports rangepartitioning(id). Seeded with a plain alias
    // of id, the initial checkpoint records the partitioning on `label`,
    // and round 1's new label leaves it unknown.
    val chain = (0L until 19L).map(v => v -> (v + 1))
    val g = PropertyGraph(spark.range(20).toDF(),
      PropertyGraph.symmetrize(edgeDf(chain: _*)))
    val out = GraphOps.labelPropagation(g, 3)
    val part = out.queryExecution.executedPlan.outputPartitioning.toString
    assert(part.startsWith("rangepartitioning(id"), part)
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      lpaReplay(symmetric(chain), 3))
  }

  test("partition invariance: same SSSP result with 1 and 4 shuffle partitions") {
    // the property GMR's partitioning machinery was meant to preserve (SURVEY §5)
    val g = PropertyGraph.fromEdges(PropertyGraph.symmetrize(
      edgeDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L)))
    def distsWith(parts: String) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try GmrRunner.run(g, new Sssp(1L)).vertices.collect()
        .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(distsWith("1") === distsWith("4"))
  }
}
