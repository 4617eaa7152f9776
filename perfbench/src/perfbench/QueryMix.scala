package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** `surface_mix`: a fixed list of `graft.SparkEntry` queries over the
  * bundled testdata. Timed ops end in a `noop` write;
  * the untimed warm-up pass writes each result as parquet for the DuckDB
  * oracle check that `run.py` makes after the run. */
final class QueryMix(data: String, work: String, names: Seq[String]) extends Workload {
  private var spark: SparkSession = _
  private lazy val fns = graft.SparkEntry.queries

  def setup(spark: SparkSession, spans: Spans): Unit = {
    this.spark = spark
    // every run builds the derive-once caches cold, billed to set-up
    spans("derived.wipe")(graft.core.Derived.wipeFor(Seq(data)))
    val oracle = graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(Paths.get(work, "oracle_sql.json"), oracle.map { case (k, v) =>
      s"${QueryMix.quote(k)}:${QueryMix.quote(v)}" }.mkString("{", ",\n", "}"))
  }

  def units: Seq[Seq[Op]] = names.map(n => Seq(Op(n, spans => {
    val df = spans("ops.plan")(fns(n)(spark, data))
    spans("sink")(df.write.format("noop").mode("overwrite").save())
    () => Verdict(0, 0) // outputs are checked from the warm-up pass
  })))

  def warmup(spark: SparkSession, spans: Spans): Seq[() => Verdict] = {
    names.foreach { n =>
      try spans(s"verify:$n")(fns(n)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/verify/$n"))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] verification pass: $n failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    Nil
  }
}

object QueryMix {
  /** Catalyst, relational and native-function work with no graph loop:
    * the q39–q45 and q61–q68 clusters (q65 among them) and one query from
    * each other family. */
  val Surface: Seq[String] = Seq(
    "q39_watch_rates", "q40_click_after_view", "q41_funnel", "q42_state_sessions",
    "q43_window_distinct", "q44_upsert", "q45_topk_group",
    "q61_hll_merge", "q62_waiting_suppliers", "q63_assoc_rules", "q64_cumulative_users",
    "q65_pareto_suppliers", "q66_event_transitions", "q67_mom_growth", "q68_hopping_stats",
    "t5_tfidf", "d1_exact_dedup", "s1_ann_bruteforce", "m1_media_features")

  private def isQuery(n: String) = n.matches("[a-z]\\d+[a-z]?_.*")
  private def short(n: String) = n.takeWhile(_ != '_')
  private def num(n: String) = short(n).drop(1).toInt

  /** Per-query, per-cluster and per-family seconds per traced pass. */
  def layerMetrics(traced: Seq[OpRun], nT: Double): Map[String, Double] = {
    val queries = traced.filter(r => isQuery(r.name))
    def sum(f: String => Boolean) = queries.filter(r => f(r.name)).map(_.secs).sum / nT
    def cluster(from: Int, to: Int) = sum(n => n.startsWith("q") && (from to to).contains(num(n)))
    val names = queries.map(_.name).distinct
    names.map(n => s"ops.${short(n)}_s" -> sum(_ == n)).toMap ++
      names.map(_.take(1)).distinct.map(f => s"ops.family_${f}_s" -> sum(_.startsWith(f))) ++
      Map("ops.q39_45_s" -> cluster(39, 45), "ops.q61_68_s" -> cluster(61, 68))
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
