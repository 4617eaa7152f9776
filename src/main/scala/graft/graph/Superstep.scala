package graft.graph

import graft.graph.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

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

  /** The round fold: `state = step(state, round)` for rounds 1 to
    * `maxRounds`, each round's state materialized with `probes` observed
    * by the same job ([[Materialize.observed]]), stopping early after a
    * round whose probes satisfy `exit`. The initial state is materialized
    * and counted in one job, and the loop is gated as in [[gated]] on
    * `bound` of that count. `step` is built once from the gate, before the
    * AQE scope opens, so a static frame it persists is planned like any
    * frame outside a loop. */
  def fold(init: DataFrame, maxRounds: Int, probes: Seq[Column] = Nil,
           exit: Map[String, Any] => Boolean = _ => false,
           bound: Long => Long = identity)(
      step: Gate => (DataFrame, Int) => DataFrame): Folded = {
    val (state0, rows) = init.materializeCounted()
    val rowBound = bound(rows)
    val gate = new Gate(stateBroadcastFits(init.sparkSession, rowBound))
    val next = step(gate)
    withLoopAqe(init.sparkSession, gate.fits) {
      var state = state0
      val rounds = Seq.newBuilder[Map[String, Any]]
      var last = Map.empty[String, Any]
      var round = 0
      while (round < maxRounds && !(round > 0 && exit(last))) {
        round += 1
        val stepped = next(state, round)
        val (s, m) =
          if (probes.isEmpty) (stepped.materialize(), Map.empty[String, Any])
          else Materialize.observed(stepped, probes.head, probes.tail: _*)
        state = s; last = m
        rounds += m
      }
      Folded(state0, state, rounds.result(), rowBound)
    }
  }
}
