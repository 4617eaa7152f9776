package graft.graph

import graft.graph.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions.{broadcast, col, lit, udf}
import org.apache.spark.sql.types.LongType

/** The superstep kernel: the one owner of the engine's loop policy.
  * [[GmrRunner]], label propagation, Luby MIS, k-core, k-truss and the
  * multi-source BFS run their rounds through [[fold]]; Borůvka MST, SCC,
  * HITS and the Brandes δ chain run theirs inside a [[gated]] scope.
  *
  * '''Broadcast gate.''' A loop's per-round frames that scale with its
  * state (vertex values, labels, survivors, frontiers) are bounded by a
  * row count the loop already has, decided ONCE per loop at 64 B per row
  * against the engine's one budget ([[GraphOps.broadcastFits]]). When the
  * state fits, every per-round join hints the state side ([[Gate.hint]]):
  * the O(E) edge frame streams map-side, so a superstep has exactly one
  * exchange (the message aggregate) and no sorts, measured ×3-7 faster
  * per superstep at sf0.1 (A-B-A-B against the shuffle shape). Without
  * the hints the update join plans as a sort-merge join that exchanges and
  * sorts the state and sorts the aggregate every superstep. Beyond the
  * budget (cluster-scale V) every loop takes the shuffle shape; both
  * shapes give identical results (GraphPropertiesSpec).
  *
  * '''AQE scope.''' When the state fits, the loop runs with
  * `spark.sql.adaptive.enabled` off, and the previous value comes back
  * on exit and on failure. Every per-round join is then hint-pinned and
  * the round's only exchange is a map-combinable aggregate with a
  * dimension-sized reduce input, so AQE has nothing to re-decide, yet
  * each materialized round would still pay its stage-by-stage
  * re-optimization. Measured on `gmr_cli` (perfbench, traced, 4
  * alternating pairs): AQE kept on inside loops makes pagerank
  * 1.31 → 1.47 s, lpa 2.45 → 2.71 s and `graph.jobs_per_superstep`
  * 4.29 → 5.74. Beyond the budget loops keep AQE (skew splitting,
  * coalescing), as does everything outside loop bodies. The switch is
  * session-global while the loop runs. A nested loop gates on a bound no
  * larger than its outer loop's (SCC → [[GmrRunner]] on the same active
  * set, Borůvka → connected components on at most |comp| links), so an
  * inner shuffle-shape loop never runs under an outer broadcast scope.
  *
  * '''Resident rounds.''' A distributed round costs about four Spark jobs
  * (planning, one shuffle, one checkpoint write) whatever the graph's
  * size; on a graph of 10³ vertices that is all overhead, and one thread
  * does the round's work in microseconds. So a [[fold]] given a
  * [[Resident]] form runs every round on the driver when the loop fits
  * there: the initial state (the frame the fold materializes and counts
  * anyway) and the edges each pass [[GraphOps.driverFits]] at
  * [[GraphOps.DriverRows]] rows. The kernel collects both once, builds the
  * in-edge CSR (the reference's `graph_t`, `/root/reference/gmr.h`) and
  * runs the rounds bulk-synchronously with the distributed rounds' exit
  * test, probes and round count. The answer is broadcast and looked up by
  * id in one projection over the materialized initial state, so the
  * result keeps that frame's partitioning, plans no exchange, and carries
  * no per-call value in generated code. The loop then costs three jobs
  * (materialize and count the state, count the edges, collect both)
  * instead of about four per round. Budget `0` fails every driver gate,
  * so it forces the distributed rounds; GraphPropertiesSpec checks that
  * both give the same answer.
  */
object Superstep {

  /** A conservative size of one state row: id + value + delta + a static
    * column or two, plus row overhead (4M rows at the default budget). */
  private val StateBytesPerRow = 64L

  private def stateBroadcastFits(spark: SparkSession, rows: Long): Boolean =
    GraphOps.broadcastFits(spark, rows * StateBytesPerRow)

  private def withLoopAqe[T](spark: SparkSession, disable: Boolean)(f: => T): T =
    if (!disable) f
    else {
      val key = "spark.sql.adaptive.enabled"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "false")
      try f finally spark.conf.set(key, prev)
    }

  /** One loop's gate decision. */
  final class Gate private[Superstep] (val fits: Boolean) {
    /** `df`, a frame bounded by the loop's state, marked for broadcast
      * when the state fits the budget. */
    def hint(df: DataFrame): DataFrame = if (fits) broadcast(df) else df
  }

  /** Runs `body` under the gate of a loop whose state frames are bounded
    * by `rows` rows: AQE off while it runs when they fit. */
  def gated[T](spark: SparkSession, rows: Long)(body: Gate => T): T = {
    val gate = new Gate(stateBroadcastFits(spark, rows))
    withLoopAqe(spark, gate.fits)(body(gate))
  }

  /** A finished [[fold]]: the materialized initial state, the final
    * state, the probes observed in each round run (one map per round),
    * and the row bound the loop was gated on. */
  final case class Folded(initial: DataFrame, state: DataFrame,
                          rounds: Seq[Map[String, Any]], bound: Long)

  /** The in-edges of a loop's collected graph. Vertex `v` is the `v`-th
    * smallest id, `ids(v)`; it receives along edges `start(v)` until
    * `start(v + 1)`, from vertex `src(k)` with `weight(k)`, in source-id
    * order. An edge with an endpoint outside the vertex set is dropped, as
    * the distributed rounds' joins drop it. */
  final class Csr private[Superstep] (val ids: Array[Long], val start: Array[Int],
                                      val src: Array[Int], val weight: Array[Double]) {
    def size: Int = ids.length
  }

  /** A loop's resident form (see '''Resident rounds''' above): its
    * edges (`src` and `dst` ids, and a non-null `weight` when the rounds
    * read one; 1.0 when the column is absent), and its rounds, started
    * from the initial state's rows sorted by id (row `v` is vertex `v` of
    * the CSR). */
  final case class Resident(edges: DataFrame)(val start: (Array[Row], Csr) => Rounds)

  /** Resident rounds in progress. */
  trait Rounds {
    /** Runs round `round` and returns its probes, keyed as the
      * distributed rounds' [[fold]] probes. */
    def step(round: Int): Map[String, Any]

    /** The state columns the rounds rewrite, by name, one value per
      * vertex; every other column keeps its initial value. */
    def result: Map[String, Array[Any]]
  }

  /** The round fold: `state = step(state, round)` for rounds 1 to
    * `maxRounds`, each round's state materialized with `probes` observed
    * by the same job ([[Materialize.observed]]), stopping early after a
    * round whose probes satisfy `exit`. The initial state is materialized
    * and counted in one job, and the loop is gated as in [[gated]] on
    * `bound` of that count. `step` is built once from the gate, before the
    * AQE scope opens, so a static frame it persists is planned like any
    * frame outside a loop. Given a `resident` form, a loop that fits the
    * driver runs its rounds there instead and never builds `step`. */
  def fold(init: DataFrame, maxRounds: Int, probes: Seq[Column] = Nil,
           exit: Map[String, Any] => Boolean = _ => false,
           bound: Long => Long = identity,
           resident: Option[Resident] = None)(
      step: Gate => (DataFrame, Int) => DataFrame): Folded = {
    val (state0, rows) = init.materializeCounted()
    val rowBound = bound(rows)
    resident.flatMap(onDriver(state0, rows, _)) match {
      case Some((ids, rounds)) =>
        val ran = run(maxRounds, exit)(rounds.step)
        Folded(state0, lookedUp(state0, ids, rounds.result), ran, rowBound)
      case None =>
        val gate = new Gate(stateBroadcastFits(init.sparkSession, rowBound))
        val next = step(gate)
        withLoopAqe(init.sparkSession, gate.fits) {
          var state = state0
          val ran = run(maxRounds, exit) { round =>
            val stepped = next(state, round)
            val (s, m) =
              if (probes.isEmpty) (stepped.materialize(), Map.empty[String, Any])
              else Materialize.observed(stepped, probes.head, probes.tail: _*)
            state = s
            m
          }
          Folded(state0, state, ran, rowBound)
        }
    }
  }

  /** Rounds 1 to `maxRounds` of `round`, stopping after a round whose
    * probes satisfy `exit`; the probes of every round run. */
  private def run(maxRounds: Int, exit: Map[String, Any] => Boolean)(
      round: Int => Map[String, Any]): Seq[Map[String, Any]] = {
    val out = Seq.newBuilder[Map[String, Any]]
    var last = Map.empty[String, Any]
    var r = 0
    while (r < maxRounds && !(r > 0 && exit(last))) {
      r += 1
      last = round(r)
      out += last
    }
    out.result()
  }

  /** The vertex ids and the started rounds of `resident` when the loop
    * fits the driver: `rows` state rows and the edge count within
    * [[GraphOps.driverFits]], and long, distinct, non-null ids (the joins'
    * per-row semantics are then a per-id map). None keeps the loop
    * distributed. */
  private def onDriver(state0: DataFrame, rows: Long,
                       resident: Resident): Option[(Array[Long], Rounds)] = {
    val spark = state0.sparkSession
    val id = state0.schema.fieldIndex("id")
    if (state0.schema(id).dataType != LongType || !GraphOps.driverFits(spark, rows)) None
    else {
      val e = resident.edges
      val edges = e.select(col("src").cast("long"), col("dst").cast("long"),
        if (e.columns.contains("weight")) col("weight").cast("double") else lit(1.0))
      // one job counts the edges, one collects the state and the edges
      if (!GraphOps.driverFits(spark, edges.queryExecution.toRdd.count())) None
      else {
        val (vs, es) = state0.rdd.map(r => (true, r)).union(edges.rdd.map(r => (false, r)))
          .collect().partition(_._1)
        val state = vs.map(_._2)
        if (state.exists(_.isNullAt(id))) None
        else {
          val sorted = state.sortBy(_.getLong(id))
          val ids = sorted.map(_.getLong(id))
          if (ids.indices.exists(i => i > 0 && ids(i) == ids(i - 1))) None
          else Some(ids -> resident.start(sorted, csr(ids, es.map(_._2))))
        }
      }
    }
  }

  /** The in-edge CSR over sorted `ids` of `(src, dst, weight)` rows. */
  private def csr(ids: Array[Long], edges: Array[Row]): Csr = {
    def at(r: Row, i: Int) =
      if (r.isNullAt(i)) -1 else java.util.Arrays.binarySearch(ids, r.getLong(i))
    // (dst, src) vertex indices ordered by dst, then source id; the sort
    // is stable, so duplicate edges keep their collected order
    val kept = edges.iterator.map(r => (at(r, 1), at(r, 0), r.getDouble(2)))
      .filter { case (d, s, _) => d >= 0 && s >= 0 }
      .toArray.sortBy { case (d, s, _) => (d, s) }
    val start = new Array[Int](ids.length + 1)
    kept.foreach { case (d, _, _) => start(d + 1) += 1 }
    for (v <- ids.indices) start(v + 1) += start(v)
    new Csr(ids, start, kept.map(_._2), kept.map(_._3))
  }

  /** `state0` with each column in `result` looked up by id in the
    * broadcast answer: one projection, so the frame keeps its
    * partitioning and plans no exchange, and the answer reaches the tasks
    * as broadcast data, never as a literal in generated code. */
  private def lookedUp(state0: DataFrame, ids: Array[Long],
                       result: Map[String, Array[Any]]): DataFrame = {
    val answer = state0.sparkSession.sparkContext.broadcast((ids, result))
    state0.select(state0.columns.toSeq.map { c =>
      if (!result.contains(c)) col(c)
      else udf(new UDF1[Long, Any] {
        def call(id: Long): Any = {
          val (ids, cols) = answer.value
          cols(c)(java.util.Arrays.binarySearch(ids, id))
        }
      }, state0.schema(c).dataType)(col("id")).as(c)
    }: _*)
  }
}
