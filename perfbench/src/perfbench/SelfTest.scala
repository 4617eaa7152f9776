package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** Tests of the harness itself: `selftest <work dir> <cores>`. Prints one
  * line per case and exits non-zero if any fails. */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  /** Undirected (a, b, weight) triples as a both-directions digraph. */
  private def undirected(n: Int, es: (Int, Int, Double)*): Oracles.Digraph = {
    val both = es.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    Oracles.Digraph(n, both.map(_._1).toArray, both.map(_._2).toArray, both.map(_._3).toArray)
  }

  def main(args: Array[String]): Unit = {
    val work = Path.of(args(0)); Files.createDirectories(work)
    val cores = if (args.length > 1) args(1) else "2"

    // -- the op_s_tail rule: highest percentile with >= 10 samples above it
    expect("tail percentile of 100 samples is p90")(Stats.tailPercentile(100) == 90)
    expect("tail percentile of 20 samples is p50")(Stats.tailPercentile(20) == 50)
    expect("tail percentile of 40 samples is p75")(Stats.tailPercentile(40) == 75)
    expect("10 samples leave no tail above p0")(Stats.tailPercentile(10) == 0)
    expect("harrell-davis median is central and exact on constants") {
      val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
      math.abs(Stats.hdPercentile(xs, 50) - 3.0) < 1e-9 &&
        math.abs(Stats.hdPercentile(Seq.fill(7)(2.5), 33) - 2.5) < 1e-9 &&
        Stats.hdPercentile(xs, 90) > Stats.hdPercentile(xs, 50)
    }
    expect("percentile interpolates like numpy") {
      val xs = (1 to 5).map(_.toDouble)
      Stats.percentile(xs, 50) == 3.0 && Stats.percentile(xs, 90) == 4.6 &&
        Stats.median(Seq(4.0, 1.0)) == 2.5
    }

    // -- generator: byte-identical per seed, isolated vertices kept
    def gen(seed: Long, tag: String): (Array[Byte], Array[Byte], UGraph) = {
      val g = Rmat.generate(10, 4, seed)
      val (el, mt) = (work.resolve(s"g$tag.el"), work.resolve(s"g$tag.metis"))
      Rmat.writeEdgeList(g, el); Rmat.writeMetis(g, mt)
      (Files.readAllBytes(el), Files.readAllBytes(mt), g)
    }
    val (a1, m1, g1) = gen(7, "a"); val (a2, m2, _) = gen(7, "b"); val (a3, _, _) = gen(8, "c")
    expect("generator is byte-identical for one seed")(
      java.util.Arrays.equals(a1, a2) && java.util.Arrays.equals(m1, m2))
    expect("generator differs across seeds")(!java.util.Arrays.equals(a1, a3))
    expect("generated graph keeps isolated vertices") {
      val hit = (g1.src ++ g1.dst).toSet
      (1 to g1.n).exists(v => !hit(v))
    }
    expect("edge list has both directions of every pair")(
      new String(a1).linesIterator.size == 2 * g1.pairs)

    // -- oracles on 3line.graph (1 2 / 2 3 / 3 2, unit weights)
    val line3 = Oracles.Digraph(3, Array(1, 2, 3), Array(2, 3, 2), Array(1.0, 1.0, 1.0))
    expect("3line: sssp from 1 is 0,1,2")(Oracles.sssp(line3).drop(1).toSeq == Seq(0.0, 1.0, 2.0))
    expect("3line: one weak component")(Oracles.components(line3).drop(1).toSeq == Seq(1L, 1L, 1L))
    expect("3line: scc {1} {2,3}")(Oracles.scc(line3) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
    expect("3line: no triangle")(Oracles.triangles(line3) == 0L)
    expect("3line: spanning forest of 2 unit edges")(Oracles.msf(line3) == ((2L, 2.0)))
    expect("3line: pagerank near the fixed point 1/6, 4/9, 7/18") {
      val (pr, it) = Oracles.pagerank(line3)
      it > 1 && Seq(1.0 / 6, 4.0 / 9, 7.0 / 18).zip(pr.drop(1)).forall { case (w, g) =>
        math.abs(w - g) < 1e-3 }
    }
    expect("3line: lpa ties go to the smaller label")(
      Oracles.lpa(line3, 1).drop(1).toSeq == Seq(1L, 1L, 2L) &&
        Oracles.lpa(line3, 5).drop(1).toSeq == Seq(1L, 1L, 1L))

    // -- oracles on a weighted graph with isolated vertex 4
    val iso = undirected(5, (1, 2, 3.0), (2, 3, 1.0), (1, 3, 5.0), (3, 5, 2.0))
    expect("isolated: dijkstra distances, vertex 4 unreached") {
      val d = Oracles.sssp(iso)
      d(1) == 0 && d(2) == 3 && d(3) == 4 && d(5) == 6 && d(4).isNaN
    }
    expect("isolated: components keep vertex 4 apart")(
      Oracles.components(iso).drop(1).toSeq == Seq(1L, 1L, 1L, 4L, 1L))
    expect("isolated: scc covers only edge endpoints")(
      Oracles.scc(iso) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L))
    expect("isolated: one triangle")(Oracles.triangles(iso) == 1L)
    expect("isolated: kruskal forest weight 6")(Oracles.msf(iso) == ((3L, 6.0)))
    expect("isolated: pagerank of vertex 4 is (1-d)/n")(
      math.abs(Oracles.pagerank(iso)._1(4) - 0.1) < 1e-12)
    expect("isolated: lpa rounds 1 and 3")(
      Oracles.lpa(iso, 1).drop(1).toSeq == Seq(2L, 1L, 1L, 4L, 3L) &&
        Oracles.lpa(iso, 3).drop(1).toSeq == Seq(1L, 1L, 1L, 4L, 1L))

    // -- job attribution by call site
    expect("call site maps to the innermost graft package") {
      Counters.layerOf("graft.graph.GmrRunner$.loop(GmrRunner.scala:1)\nperfbench.X.y(X.scala:2)") ==
        "graph" &&
        Counters.layerOf("perfbench.QueryMix.$anonfun(QueryMix.scala:3)") == "sink" &&
        Counters.layerOf("graft.operators.GraphQueries$.g1(GraphQueries.scala:9)") == "operators" &&
        Counters.layerOf("graft.Gmr$.load(Gmr.scala:40)") == "io" &&
        Counters.layerOf("java.lang.Thread.run(Thread.java:1)") == "other"
    }

    // -- failure and correctness counting through the real runner
    expect("runner counts failed ops and wrong outputs") {
      val stub = new Workload {
        def setup(spark: SparkSession, spans: Spans): Unit = ()
        def units: Seq[Seq[Op]] = Seq(
          Seq(Op("fine", _ => () => Verdict(1, 0))),
          Seq(Op("crash", _ => throw new IllegalStateException("planted"))),
          Seq(Op("wrong", _ => () => Verdict(1, 1, "planted"))))
        def warmup(spark: SparkSession, spans: Spans): Seq[() => Verdict] = Nil
        override def minPasses: Int = 2
      }
      val conf = Main.Conf("stub", 1L, 0.0, trace = false, "", work.resolve("stub").toString,
        "", cores.toInt)
      val out = new Runner(conf, Some(stub)).run()
      // two passes of three ops: two crashes, two wrong outputs
      out.contains("\"attempted\":6,\"failed\":2,") && out.contains("\"failed_ops\":{\"crash\":2}") &&
        out.contains("\"checked\":4,\"wrong\":2,")
    }

    println(s"${if (failures == 0) "OK" else s"$failures FAILED"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
