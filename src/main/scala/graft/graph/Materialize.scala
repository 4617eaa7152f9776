package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** Superstep/state materialization with a pluggable durability mode.
  *
  * Every iterative path in the engine (BSP loops, Borůvka contraction,
  * SCC rounds, k-core peeling, Brandes levels, Lloyd's iterations) must
  * truncate lineage each round — a lazy k-step plan that references the
  * previous state twice is a ~2^k recompute tree (measured 239 s →
  * seconds, SURVEY §6). HOW the truncation is made durable is a
  * deployment decision:
  *
  *  - '''Local''' (default): `localCheckpoint(eager)` — blocks live in
  *    executor storage. Fastest, and exactly right for `local[*]` where
  *    executor == driver. On a real cluster a lost executor loses its
  *    blocks AND the lineage that could recompute them: a 40-round SCC
  *    job dies with no recovery path.
  *  - '''Reliable''': `df.checkpoint(eager)` against the Spark
  *    checkpoint dir — state survives executor loss, the standard
  *    durability mode for long iterative jobs at cluster scale (the
  *    reference's equivalent "durability" is rerunning the MPI binary,
  *    `/root/reference/gmr.cpp:202-317` assumes restartability).
  *
  * When a loop materializes and what it observes on the way is the
  * superstep kernel's decision ([[Superstep]]); this object only says
  * how a frame is made durable.
  *
  * Mode is per-session Spark conf (runtime-settable, no code change):
  * {{{
  * spark.conf.set("spark.graft.checkpoint.reliable", "true")
  * spark.conf.set("spark.graft.checkpoint.dir", "hdfs://.../ckpt")
  * }}}
  * Both modes are eager and semantically identical — ReliableCheckpointSpec
  * runs the same queries under both and asserts equal results.
  *
  * '''Cache lifetime.''' This object is also the one owner of every cache
  * made inside a query. A query returns a lazy plan, so a frame it
  * persisted could only be released by its caller, and no caller does.
  * Every intermediate frame therefore takes exactly one of four forms:
  *
  *  1. A scan of a derived parquet entry, or a filter or projection of
  *     one, is already materialized: it is never cached.
  *  1. A frame read once is never cached.
  *  1. A frame the returned plan reads more than once is
  *     [[MaterializeOps.materialize materialized]]. Its checkpoint blocks
  *     belong to an RDD that the `ContextCleaner` reclaims once the result
  *     referencing it is gone.
  *  1. A frame consumed entirely before the query returns is cached
  *     through [[scoped]], which releases it in a `finally` when the
  *     scope exits.
  *
  * `HygieneSpec` runs every query and asserts that none leaves a cache
  * entry, a non-checkpoint persisted RDD or a changed conf behind; its
  * source scan keeps `persist` and `StorageLevel` in this file.
  */
object Materialize {

  val ReliableKey = "spark.graft.checkpoint.reliable"
  val DirKey = "spark.graft.checkpoint.dir"

  def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ReliableKey).contains("true")

  /** Eagerly materialize `df` and truncate its lineage, honoring the
    * session's durability mode. */
  def apply(df: DataFrame): DataFrame = {
    if (reliable(df)) {
      val sc = df.sparkSession.sparkContext
      val want = df.sparkSession.conf.getOption(DirKey).getOrElse(
        sys.props("java.io.tmpdir") + "/graft-checkpoints")
      // setCheckpointDir creates a session-unique subdir under the
      // requested base, so compare against the base: re-set whenever the
      // configured dir changes mid-session instead of silently ignoring
      // the new value. Checkpoint FILES are only reclaimed when
      // spark.cleaner.referenceTracking.cleanCheckpoints=true (a
      // startup-time conf — GraftSession sets it); long iterative jobs
      // otherwise accumulate unbounded checkpoint data.
      if (!sc.getCheckpointDir.exists(_.startsWith(want)))
        sc.setCheckpointDir(want)
      df.checkpoint() // eager, written to the checkpoint dir
    } else df.localCheckpoint(true)
  }

  /** [[apply]] that also returns aggregates over the rows it writes,
    * keyed by their names (`max(x).as("m")`). `Dataset.observe` computes
    * them inside the checkpoint job, so a loop's convergence or size
    * probe costs no action of its own. */
  def observed(df: DataFrame, metric: Column, more: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val out = apply(df.observe(obs, metric, more: _*))
    (out, obs.get)
  }

  /** Form 4 of the lifetime rule: runs `body` with a `cache` function
    * that persists a frame (memory, spilling to disk) for the scope's
    * duration, and unpersists every frame it cached when `body` returns
    * or throws. Nothing `body` returns may read a cached frame lazily. */
  def scoped[T](body: (DataFrame => DataFrame) => T): T = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => held += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    finally held.foreach(_.unpersist(blocking = false))
  }

  /** `df.materialize()` — chainable form of [[Materialize.apply]]. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialize(): DataFrame = Materialize(df)

    /** [[materialize]] and the row count, counted by the same job. */
    def materializeCounted(): (DataFrame, Long) = {
      val (out, m) = observed(df, count(lit(1)).as("rows"))
      (out, m("rows").asInstanceOf[Long])
    }
  }
}
