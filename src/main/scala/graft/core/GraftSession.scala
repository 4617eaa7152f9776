package graft.core

import org.apache.spark.sql.SparkSession

/** Standard engine session configuration. One place so Verify, Bench and
  * tests all run with the same semantics:
  *  - shuffle partitions sized to local cores (not the 200 default);
  *  - AQE on (runtime coalescing, skew-join splitting, broadcast demotion);
  *  - UTC session timezone for oracle parity;
  *  - nanosecond parquet timestamps read as long (events.ts is
  *    TIMESTAMP(NANOS), which Spark 4 otherwise refuses) — normalized back
  *    to a timestamp column by [[Tables.events]];
  *  - a generated-code cache sized to the engine's working set
  *    ([[CodegenCacheEntries]]).
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`. Spark keeps every compiled
    * whole-stage and expression class in one JVM-global LRU cache, keyed
    * by the generated source and sized once, at the first codegen, from
    * this static conf. Spark's default of 100 is smaller than one pass of
    * the engine's own work, so each class was evicted before its next use
    * and every repeated op recompiled all it had compiled the time before
    * (pagerank: 54 compiles per repeat run at 100, none at this size).
    * Distinct classes per pass, counted with Spark's `CodegenMetrics` on
    * a 4-vCPU host: 272 for the `Gmr` CLI mix (two loads, the seven
    * algorithms, partition, stats, read-back of four parts) and 345 for
    * 19 relational queries; 1000 holds both in one session with room to
    * spare. A cached class is a few KB. */
  val CodegenCacheEntries = 1000

  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions())
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reclaim reliable-checkpoint files once their RDDs are GC'd —
      // required for long iterative jobs under
      // spark.graft.checkpoint.reliable=true (Materialize); startup-time
      // conf, so it must be set here, not at checkpoint time
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def get(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
