package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** A vertex-centric program: the Spark-native form of the reference's
  * extension API (subclass `GMR` with `initGraph`/`map`/`sort`/`reduce`/
  * `keyComp`, `/root/reference/gmr.h:77-108`).
  *
  * The mapping (SURVEY.md §2.1 O13–O16):
  *  - `map`    → [[messages]]: a declarative join/project emitting
  *    `(id, msg)` rows — one per message, keyed by the *destination* vertex.
  *  - `sort` + `reduce` → [[combiner]]: `groupBy(id).agg(combiner)`. The
  *    reference sorts then group-reduces consecutive keys (`gmr.h:344-361`);
  *    Catalyst plans the same semantics as a hash (or sort) aggregate with
  *    map-side partial aggregation the reference lacks.
  *  - `updateGraph` → [[updated]]: the reference's two-pointer sort-merge
  *    join of reduce results against the vertex array (`gmr.h:155-194`)
  *    is a `left_outer` join; `accu`/`cover` mode (`gmr.h:10`) is the
  *    expression returned here.
  */
trait VertexProgram {

  /** Initial vertex state: must return `(id, value, ...static)` — extra
    * columns (e.g. degree) are carried through unchanged each superstep.
    * ← `initGraph` (`/root/reference/gmr.h:81`). */
  def initial(vertices: DataFrame): DataFrame

  /** Message generation: `(id, msg)` rows keyed by destination vertex.
    * ← `map` (`/root/reference/gmr.h:82`). */
  def messages(vertices: DataFrame, edges: DataFrame): DataFrame

  /** Aggregate over the `msg` column of one destination's messages.
    * ← `reduce` (`/root/reference/gmr.h:84`). */
  def combiner: Column

  /** New value from (old value, aggregated message — null when the vertex
    * received no messages). ← `updateGraph` accu/cover
    * (`/root/reference/gmr.h:182-185`). */
  def updated(old: Column, agg: Column): Column

  /** Per-vertex change magnitude for convergence; null values (SSSP's
    * "infinity") are treated as no change when both sides are null. */
  def delta(old: Column, next: Column): Column = {
    val sentinel = lit(Double.MaxValue)
    abs(coalesce(next, sentinel) - coalesce(old, sentinel))
  }

  def maxIterations: Int = 10000 // ← MAX_ITERATION, /root/reference/gmr.h:28
  def tolerance: Double = 1e-4   // ← threshold,     /root/reference/gmr.h:25

  /** Frontier pruning (SURVEY.md §4 P5 "done correctly"): when true, only
    * vertices whose value changed last superstep send messages. Sound for
    * monotone fixpoint programs (min/max propagation with an absorbing
    * `updated`, e.g. SSSP/BFS/CC): an unchanged sender's messages were
    * already sent and absorbed in an earlier superstep, so re-sending
    * them cannot change any state. NOT sound for recomputation-style
    * programs (PageRank needs every contribution every round) — the
    * reference's disabled skip-converged path broke exactly there
    * (`/root/reference/graph.h:761-762` "可能导致不收敛"). Results are
    * identical either way; only no-op message volume changes. */
  def frontierOnly: Boolean = false

  /** The same superstep in plain Scala, for rounds run on the driver: a
    * program that declares one runs resident whenever its graph fits
    * there ([[GmrRunner]] '''Resident loops'''). A program without one
    * always runs distributed. */
  def twin: Option[VertexProgram.Twin] = None
}

object VertexProgram {

  /** A program's superstep in plain Scala over one vertex at a time. A
    * value, message or aggregate is a SQL double: null is `null`. A
    * vertex whose value is null sends nothing; every twin's program
    * sends a null message there, which its combiner skips as SQL
    * aggregates do, so the two agree. */
  trait Twin {
    /** Does [[message]] read the edge weight? An edge whose weight is
      * null then sends a null message, which the combiner skips, so such
      * edges are dropped before the rounds. */
    def weighted: Boolean = false

    /** [[VertexProgram.messages]]: what a vertex with initial-state row
      * `v` and (non-null) value `value` sends along an edge of `weight`. */
    def message(v: Row, value: Double, weight: Double): java.lang.Double

    /** [[VertexProgram.combiner]] of two messages. */
    def combine(a: Double, b: Double): Double

    /** [[VertexProgram.updated]]: the new value of the vertex with
      * initial-state row `v`; `agg` is null when no message arrived. */
    def updated(v: Row, old: java.lang.Double, agg: java.lang.Double): java.lang.Double

    /** [[VertexProgram.delta]]. */
    def delta(old: java.lang.Double, next: java.lang.Double): Double = {
      def or(x: java.lang.Double) = if (x == null) Double.MaxValue else x.doubleValue
      math.abs(or(next) - or(old))
    }
  }

  /** The twin of min-propagation (SSSP, BFS, connected components): a
    * vertex sends `hop(value, weight)`, the combiner is `min` and the
    * update `least(old, agg)`, null-skipping like SQL's. */
  final class MinTwin(hop: (Double, Double) => Double,
                      override val weighted: Boolean = false) extends Twin {
    def message(v: Row, value: Double, weight: Double): java.lang.Double = hop(value, weight)
    def combine(a: Double, b: Double): Double = if (b < a) b else a
    def updated(v: Row, old: java.lang.Double, agg: java.lang.Double): java.lang.Double =
      if (old == null) agg else if (agg == null) old else combine(old, agg)
  }
}

/** Bulk-synchronous superstep driver — the Spark-native form of the
  * reference's iteration loop (`/root/reference/gmr.cpp:202-317`).
  *
  * Per superstep: one shuffle to group messages by destination and one
  * join back to vertex state. The ghost-exchange machinery (O10–O12,
  * `graph.h:755-921`, `MPI_Alltoallv` at `gmr.cpp:267`) has no analog —
  * the message `groupBy` IS the exchange, sized and routed by Spark's
  * shuffle service. Termination consensus (`gmr.cpp:222-232` piggybacks
  * convergence on an `MPI_Allgather`) rides the superstep's checkpoint
  * job the same way: `max(_delta)` and the count of changed vertices are
  * observed ([[Materialize.observed]]) while the new state is written,
  * so the consensus costs no job of its own.
  *
  * The loop policy (broadcast gate, join hints, AQE scope, materialize
  * cadence) is the superstep kernel's: [[loop]] is one
  * [[Superstep.fold]], so every superstep is one checkpoint action
  * ([[Materialize]], which truncates lineage and makes the state as
  * durable as the session's checkpoint mode asks).
  *
  * '''Resident loops.''' A program that declares a
  * [[VertexProgram.twin]] runs every superstep on the driver when its
  * vertex state and edges each fit there ([[GraphOps.driverFits]] at
  * [[GraphOps.DriverRows]] rows): the kernel collects both once and the
  * twin folds over an in-edge CSR, the reference's own local map → sort →
  * reduce → update (`/root/reference/gmr.h`). Same exit tests, residuals
  * and superstep count; the loop costs three jobs instead of about four
  * per superstep, which is all overhead on a graph of 10³ vertices.
  * PageRank sums each vertex's messages in source-id order, so its
  * resident sums are deterministic and agree with the distributed ones
  * to rounding. `stateBroadcastBytes=0` forces the distributed rounds.
  */
object GmrRunner {

  /** The final vertex state, the supersteps run, the last observed
    * max-abs delta, and (convergence and traced modes) every
    * superstep's residual in order. */
  final case class RunResult(vertices: DataFrame, iterations: Int, lastDelta: Double,
                             residuals: Seq[Double] = Nil)

  /** Run to convergence (max-abs-delta < tolerance, `gmr.h:125`) or the
    * iteration cap. */
  def run(graph: PropertyGraph, program: VertexProgram): RunResult =
    loop(graph, program, program.maxIterations, convergenceCheck = true)

  /** Run exactly `iterations` supersteps — deterministic mode for
    * oracle-checked queries (SURVEY.md §7.3 "fixed iteration counts").
    *
    * Every superstep is materialized: each one references the previous
    * vertex state twice (message join + update join), so a lazy
    * k-superstep plan is a ~2^k recompute tree — materializing the small
    * vertex state every superstep is far cheaper than ever evaluating
    * that tree (measured 239s → seconds on the sf0.1 SSSP query; every
    * second superstep measured 15–20% slower on d18/g9 in r22). */
  def runFixed(graph: PropertyGraph, program: VertexProgram, iterations: Int): DataFrame =
    loop(graph, program, iterations, convergenceCheck = false).vertices

  /** [[runFixed]] with per-superstep residual recording — the
    * reference's per-iteration deviation report (`gmr.h:127-128`)
    * surfaced as data: exactly `iterations` supersteps (no early stop,
    * so the trace length is deterministic and oracle-unrollable), each
    * residual observed by the superstep's checkpoint job as in
    * convergence mode. */
  def runTraced(graph: PropertyGraph, program: VertexProgram,
                iterations: Int): RunResult =
    loop(graph, program, iterations, convergenceCheck = true, earlyStop = false)

  /** The superstep loop behind every mode, a [[Superstep.fold]] over
    * the vertex state: at most `maxIter` supersteps, stopping early on
    * convergence (`convergenceCheck`) or, in fixed mode, on an emptied
    * frontier, unless `earlyStop` is off. */
  private[graph] def loop(graph: PropertyGraph, program: VertexProgram, maxIter: Int,
                          convergenceCheck: Boolean,
                          earlyStop: Boolean = true): RunResult = {
    val spark = graph.edges.sparkSession
    val nShuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val init = program.initial(graph.vertices)
      .withColumn("_delta", lit(Double.MaxValue)) // everything is frontier at iter 0
    val staticCols = init.columns.toSeq
      .filterNot(c => c == "id" || c == "value" || c == "_delta")
    def maxDelta(m: Map[String, Any]) = m("max_delta").asInstanceOf[Double]
    // In fixed mode a frontier-pruned monotone program whose frontier has
    // emptied can never change again: no senders means no messages, and
    // updated(old, null) is absorbing (the invariant frontierOnly already
    // requires), so every remaining superstep is an exact no-op that
    // still pays the per-superstep floor. The oracle's extra unrolled
    // rounds are no-ops on its side too; the dup-cluster quotient CCs
    // converge in 2-3 hops of their 8 contract rounds.
    def exit(m: Map[String, Any]): Boolean = earlyStop &&
      (if (convergenceCheck) maxDelta(m) < program.tolerance
       else program.frontierOnly && m("changed") == 0L)
    val resident = program.twin.map { twin =>
      val (value, delta) = (init.columns.indexOf("value"), init.columns.indexOf("_delta"))
      Superstep.Resident(
        if (twin.weighted) graph.edges.where(col("weight").isNotNull)
        else graph.edges.select("src", "dst")) {
        (state, g) => new TwinRounds(twin, program.frontierOnly, state, value, delta, g)
      }
    }
    val run = Materialize.scoped { cache =>
      Superstep.fold(init, maxIter,
        Seq(coalesce(max(col("_delta")), lit(0.0)).as("max_delta"),
          count_if(col("_delta") > 0.0).as("changed")), exit,
        resident = resident) { gate =>
      // Static side of every superstep join. Broadcast mode streams the
      // cached frame map-side (partitioning is irrelevant to a broadcast
      // join probe side, so the upfront O(E) repartition is skipped);
      // shuffle mode partitions once by src so the per-superstep
      // sort-merge join co-locates without re-shuffling the static side.
      val edges = cache(if (gate.fits) graph.edges
                        else graph.edges.repartition(nShuffle, col("src")))
      (state, _) => {
        val senders = if (program.frontierOnly) state.where(col("_delta") > 0.0) else state
        val agg = program.messages(gate.hint(senders), edges)
          .groupBy("id").agg(program.combiner.as("_agg"))
        state.join(gate.hint(agg), Seq("id"), "left_outer")
          .select(
            col("id") +:
            program.updated(col("value"), col("_agg")).as("value") +:
            program.delta(col("value"), program.updated(col("value"), col("_agg"))).as("_delta") +:
            staticCols.map(col): _*)
      }
      }
    }
    val residuals = if (convergenceCheck) run.rounds.map(maxDelta) else Nil
    RunResult(run.state.drop("_delta"), run.rounds.size,
      residuals.lastOption.getOrElse(Double.MaxValue), residuals)
  }

  /** [[loop]]'s supersteps on the driver, the distributed superstep
    * vertex by vertex: a sender is a vertex with a non-null value (and,
    * for a frontier-pruned program, a positive delta); each vertex
    * combines its senders' messages in source-id order, then takes
    * `updated(old, agg)` and its delta; the probes are the distributed
    * ones. `state` holds the initial rows, their value and delta at
    * columns `valueAt` and `deltaAt`. */
  private final class TwinRounds(twin: VertexProgram.Twin, frontierOnly: Boolean,
                                 state: Array[Row], valueAt: Int, deltaAt: Int,
                                 g: Superstep.Csr) extends Superstep.Rounds {
    private var value: Array[java.lang.Double] = state.map(r =>
      if (r.isNullAt(valueAt)) null else java.lang.Double.valueOf(r.getDouble(valueAt)))
    private var delta: Array[Double] = state.map(_.getDouble(deltaAt))

    def step(round: Int): Map[String, Any] = {
      val next = new Array[java.lang.Double](g.size)
      val nextDelta = new Array[Double](g.size)
      var maxDelta = 0.0
      var changed = 0L
      for (v <- 0 until g.size) {
        var agg: java.lang.Double = null
        for (k <- g.start(v) until g.start(v + 1)) {
          val s = g.src(k)
          if (value(s) != null && (!frontierOnly || delta(s) > 0.0)) {
            val m = twin.message(state(s), value(s), g.weight(k))
            if (m != null) agg = if (agg == null) m else twin.combine(agg, m)
          }
        }
        next(v) = twin.updated(state(v), value(v), agg)
        nextDelta(v) = twin.delta(value(v), next(v))
        maxDelta = math.max(maxDelta, nextDelta(v))
        if (nextDelta(v) > 0.0) changed += 1
      }
      value = next
      delta = nextDelta
      Map("max_delta" -> maxDelta, "changed" -> changed)
    }

    def result: Map[String, Array[Any]] =
      Map("value" -> value.map(x => x: Any), "_delta" -> delta.map(x => x: Any))
  }
}
