package graft.operators

import graft.graph.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Relational operator surface of the engine, exercised over the driver
  * testdata. Covers every relational category from SURVEY.md §2.2: scans,
  * projection, filter, joins (broadcast/semi/anti), aggregation (partial +
  * final via Catalyst), distinct, rollup, window functions, sort/top-k,
  * set operations, scalar/date/array/JSON functions, and global sort (the
  * reference's sample-sort path, /root/reference/samplesort.cpp:21-191 —
  * Spark's orderBy IS a sample sort via RangePartitioner).
  *
  * Every query has a DuckDB oracle in [[oracle]] with identical column
  * names/aliases; aggregate doubles are rounded so FP summation order
  * can't flip the hash compare; every output is deterministically ordered.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1-style scan → filter → grouped aggregation. The filter and
    * the 7-column projection are pushed into the parquet scan; Catalyst
    * plans partial+final HashAggregate (map-side combine the reference
    * lacks, SURVEY.md §2.2 "Aggregations"). */
  def q1ShippingSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= to_timestamp(lit("2000-06-01")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("sum_disc_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax")), 2).as("sum_charge"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_extendedprice"), 4).as("avg_price"),
        round(avg($"l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** TPC-H Q5-style 6-table join. Dimension tables (region, nation,
    * supplier) are explicitly broadcast — only the two fact tables shuffle,
    * and only on the join keys they already need. */
  def q2RevenueByNation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
      .filter($"o_orderdate" >= to_timestamp(lit("1996-01-01")) &&
              $"o_orderdate" <  to_timestamp(lit("1999-01-01")))
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(s, d)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"n_name")
  }

  /** Top-k by aggregate: Spark plans TakeOrderedAndProject (no global
    * materialized sort). Rounded sort key + key tiebreak keeps the order
    * engine-independent. */
  def q3TopOrders(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  /** Window functions: row_number, running sum, lag — one shuffle on the
    * partition key serves all three frames. */
  def q4WindowRunning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("running_spend",
        round(sum($"o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .withColumn("delta_prev",
        round($"o_totalprice" - lag($"o_totalprice", 1, 0.0).over(w), 2))
      .select($"o_custkey", $"o_orderkey", $"rn", $"running_spend", $"delta_prev")
      .orderBy($"o_custkey", $"rn")
  }

  /** Distinct aggregation (count distinct expands to two-phase agg). */
  def q5DistinctParts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_suppkey")
      .agg(countDistinct($"l_partkey").as("n_parts"),
           countDistinct($"l_orderkey").as("n_orders"),
           count(lit(1)).as("n_items"))
      .orderBy($"l_suppkey")
  }

  /** Set operations: INTERSECT / EXCEPT / UNION ALL over nation keys. */
  def q6SetOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d).select($"c_nationkey".as("nationkey")).distinct()
    val p = Tables.supplier(s, d).select($"s_nationkey".as("nationkey")).distinct()
    c.intersect(p).withColumn("tag", lit("both"))
      .unionAll(c.except(p).withColumn("tag", lit("cust_only")))
      .unionAll(p.except(c).withColumn("tag", lit("supp_only")))
      .select($"nationkey", $"tag")
      .orderBy($"tag", $"nationkey")
  }

  /** ROLLUP grouping sets (region → nation → grand total). */
  def q7RollupSales(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(round(sum($"o_totalprice"), 2).as("sales"), count(lit(1)).as("n_orders"))
      .select(coalesce($"r_name", lit("ALL")).as("region_name"),
              coalesce($"n_name", lit("ALL")).as("nation_name"),
              $"sales", $"n_orders")
      .orderBy($"region_name", $"nation_name")
  }

  /** CUBE grouping sets over two independent dimensions. */
  def q19CubeSales(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(round(sum($"o_totalprice"), 2).as("sales"), count(lit(1)).as("n_orders"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
              coalesce($"o_orderpriority", lit("ALL")).as("priority"),
              $"sales", $"n_orders")
      .orderBy($"status", $"priority")
  }

  /** Left-semi join (EXISTS): customers with an open order. */
  def q8SemiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val open = Tables.orders(s, d).filter($"o_orderstatus" === "O")
    Tables.customer(s, d)
      .join(open, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_nationkey")
      .orderBy($"c_custkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no in-progress order. */
  def q9AntiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inProgress = Tables.orders(s, d).filter($"o_orderstatus" === "P")
    Tables.customer(s, d)
      .join(inProgress, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_nationkey")
      .orderBy($"c_custkey")
  }

  /** Scalar string/math function projection (all codegen'd built-ins). */
  def q10ScalarFns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d)
      .filter($"p_partkey" % 10 === 0)
      .select(
        $"p_partkey",
        upper($"p_brand").as("brand_u"),
        substring($"p_name", 1, 8).as("name8"),
        length($"p_name").as("name_len"),
        concat($"p_brand", lit(":"), $"p_type").as("brand_type"),
        round(sqrt($"p_retailprice"), 4).as("price_sqrt"),
        abs($"p_size" - lit(25)).as("size_dev"),
        ($"p_size" % 7).as("size_mod"))
      .orderBy($"p_partkey")
  }

  /** Date/time function projection. */
  def q11DateFns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .filter($"o_orderkey" % 50 === 0)
      .select(
        $"o_orderkey",
        year($"o_orderdate").as("oy"),
        month($"o_orderdate").as("om"),
        dayofmonth($"o_orderdate").as("od"),
        $"o_orderdate".cast("date").as("odate"),
        datediff(to_date(lit("2002-01-01")), $"o_orderdate".cast("date")).as("days_to_2002"))
      .orderBy($"o_orderkey")
  }

  /** Array functions over tokenized document text. */
  def q12ArrayFns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"doc_id" % 5 === 0)
      .withColumn("words", split($"text", " "))
      .select(
        $"doc_id",
        size($"words").as("n_words"),
        size(array_distinct($"words")).as("n_distinct"),
        array_contains($"words", "spark").as("has_spark"),
        array_join(slice(sort_array($"words"), 1, 3), ",").as("first3_sorted"))
      .orderBy($"doc_id")
  }

  /** JSON extraction from the events.props string column. */
  def q13Json(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter($"event_id" % 20 === 0)
      .select(
        $"event_id",
        $"event_type",
        get_json_object($"props", "$.k").cast("int").as("k_val"))
      .orderBy($"event_id")
  }

  /** Global sort — the Spark equivalent of the reference's sample sort
    * (samplesort.cpp): orderBy = sample → range-partition → local sort. */
  def q14GlobalSort(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id", $"user_id", $"value")
      .orderBy($"value".desc, $"event_id")
  }

  /** Time-bucketed aggregation over the event stream table (batch form of
    * the streaming windowed agg in graft.streaming). */
  def q15TimeWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
               $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
      .orderBy($"hour_ts", $"event_type")
  }

  /** Statistical aggregates (min/max/avg/stddev). */
  def q16Stats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        round(min($"l_quantity"), 2).as("min_qty"),
        round(max($"l_quantity"), 2).as("max_qty"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(stddev_samp($"l_quantity"), 4).as("std_qty"))
      .orderBy($"l_returnflag")
  }

  /** Generator / lateral view: tokenize documents with positions
    * (posexplode ≡ UNNEST WITH ORDINALITY; 0-based → +1 to match SQL). */
  def q20Explode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"doc_id" % 100 === 0)
      .select($"doc_id", posexplode(split($"text", " ")))
      .select($"doc_id", ($"pos" + 1).cast("long").as("pos"), $"col".as("word"))
      .orderBy($"doc_id", $"pos")
  }

  /** Exact interpolated percentiles (median / p90). */
  def q21Percentiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(round(percentile($"l_quantity", lit(0.5)), 4).as("med_qty"),
           round(percentile($"l_quantity", lit(0.9)), 4).as("p90_qty"),
           round(percentile($"l_extendedprice", lit(0.25)), 4).as("p25_price"))
      .orderBy($"l_returnflag")
  }

  /** q55: robust per-group outlier detection — median + MAD (median
    * absolute deviation), flagging rows with |x − med| > 3·MAD. The
    * robust-statistics anomaly face: unlike mean/stddev (q16), one wild
    * value cannot drag the threshold. Exactness trick: prices quantize
    * to integer cents ×2, so every interpolated median lands on an
    * integer (midpoint of two integers doubled), every deviation and
    * threshold is an exact small double, and both engines agree
    * bit-for-bit with no rounding anywhere. Runs on events.value per
    * event_type — the one heavy-tailed column in the testdata (uniform
    * prices have no 3·MAD tail by construction). Three aggregate passes
    * over a handful-row group dim (broadcast joins back); the scale path
    * for the exact percentile inside is the q36 histogram sketch, same
    * as q21. */
  /** q60: join-key skew diagnostics — the decide-before-you-salt ops
    * report for any planned big join: the heaviest keys with their
    * exact counts and integer-ppm share, plus the global skew ratio
    * `max·n_keys / total` (1000‰ = perfectly uniform; q31's salting —
    * and AQE's skew-join split — are warranted when it blows up). One
    * map-combinable count per key, one 5-long scalar aggregate, and a
    * TakeOrderedAndProject top-k — the diagnostic never shuffles more
    * than the distinct-key frame, so it is safe to run casually on the
    * 100 TB fact table before committing to a join strategy. */
  def q60KeySkew(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.lineitem(s, d)
      .groupBy($"l_suppkey").agg(count(lit(1)).as("cnt"))
    val stats = broadcast(counts.agg(
      count(lit(1)).as("n_keys"), sum($"cnt").as("total"),
      max($"cnt").as("max_cnt")))
    counts.orderBy($"cnt".desc, $"l_suppkey").limit(10)
      .crossJoin(stats)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"cnt".desc, $"l_suppkey")).cast("long"))
      .select($"rank", $"l_suppkey", $"cnt",
        expr("(1000000 * cnt) DIV total").as("share_ppm"),
        col("n_keys"), expr("(1000 * max_cnt * n_keys) DIV total")
          .as("skew_ratio_milli"))
      .orderBy("rank")
  }

  /** q62: the TPC-H Q21 shape — correlated EXISTS + NOT EXISTS against
    * the SAME fact table, the hardest classic decorrelation face — on
    * the columns this schema carries: suppliers solely responsible for
    * a returned line in multi-supplier orders (some line of theirs has
    * `l_returnflag = 'R'`, ANOTHER supplier participates in the order,
    * and NO other supplier has a returned line in it). Declaratively:
    * the EXISTS is a left-semi self-join on the distinct
    * (order, supplier) frame, the NOT EXISTS a left-anti on the
    * returned-pairs frame — both equi on the order key with the
    * supplier inequality as residual, so each is one hash-shuffle of
    * the DISTINCT pair frames (never raw lines; dedup happens before
    * the self-joins fan anything out). Ranking is total (numwait desc,
    * then unique name), so the top-20 cut is deterministic. The oracle
    * keeps the textbook correlated-subquery form — gating that the
    * join rewrite IS that semantics. */
  def q62WaitingSuppliers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val allPairs = li.select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
    val retPairs = li.where($"l_returnflag" === "R")
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
      .materialize()
    val multi = retPairs.as("a").join(allPairs.as("b"),
      col("a.ok") === col("b.ok") && col("a.sk") =!= col("b.sk"), "left_semi")
    val sole = multi.as("a").join(retPairs.as("c"),
      col("a.ok") === col("c.ok") && col("a.sk") =!= col("c.sk"), "left_anti")
    sole.groupBy($"sk".as("s_suppkey")).agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(s, d).select($"s_suppkey", $"s_name"), "s_suppkey")
      .orderBy($"numwait".desc, $"s_name")
      .limit(20)
      .select($"s_suppkey", $"s_name", $"numwait")
  }

  private val AssocMinSupport = 2L

  /** q63: association-rule mining over order baskets — the market-basket
    * "customers who bought A also bought B" face: for every co-purchased
    * part pair above [[AssocMinSupport]], both directed rules A→B with
    * exact integer support (pair orders / all orders, ppm), confidence
    * (pair orders / antecedent orders, ppm) and lift (confidence over
    * the consequent's base rate, milli — >1000 means genuinely
    * associated, not just popular), top-50 by lift with a total
    * (antecedent, consequent) tiebreak.
    *
    * Scale shape: the pair frame is the SHARED g-family co-occurrence
    * materialization ([[GraphQueries.partPairsMaterialized]] — derive
    * once, fan out), per-item order counts are the part dimension
    * (broadcast), the order total is a broadcast scalar, and the top-50
    * cut is TakeOrderedAndProject — nothing wider than the support-
    * filtered pair list ever shuffles. The oracle recomputes the pairs
    * from scratch, so the materialization's correctness is re-gated
    * here too. */
  def q63AssocRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = GraphQueries.partPairsMaterialized(s, d)
      .select($"src", $"dst", $"weight".cast("long").as("cnt"))
      .where($"cnt" >= AssocMinSupport)
    val items = Tables.lineitem(s, d)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("p")).distinct()
    val icnt = items.groupBy($"p").agg(count(lit(1)).as("icnt"))
    val tot = broadcast(items.agg(countDistinct($"ok").as("n_orders")))
    val rules = pairs
      .select($"src".as("antecedent"), $"dst".as("consequent"), $"cnt")
      .unionAll(pairs
        .select($"dst".as("antecedent"), $"src".as("consequent"), $"cnt"))
    rules
      .join(broadcast(icnt.select($"p".as("antecedent"), $"icnt".as("cnt_a"))),
        "antecedent")
      .join(broadcast(icnt.select($"p".as("consequent"), $"icnt".as("cnt_c"))),
        "consequent")
      .crossJoin(tot)
      // lift from the already-floored confidence (conf·N / 10³·cnt_c),
      // not 10³·cnt·N/(cnt_a·cnt_c): the direct product overflows BIGINT
      // once cnt and N both grow with the corpus (as q65's did on a 10×
      // replica); conf ≤ 10⁶ bounds this form to N ≤ 9.2e12 orders.
      .withColumn("support_ppm", expr("(1000000 * cnt) DIV n_orders"))
      .withColumn("confidence_ppm", expr("(1000000 * cnt) DIV cnt_a"))
      .withColumn("lift_milli",
        expr("(confidence_ppm * n_orders) DIV (1000 * cnt_c)"))
      .select($"antecedent", $"consequent", $"cnt", $"support_ppm",
        $"confidence_ppm", $"lift_milli")
      .orderBy($"lift_milli".desc, $"antecedent", $"consequent")
      .limit(50)
  }

  /** q65: Pareto / ABC revenue concentration — "how many suppliers carry
    * 80% of revenue": suppliers ranked by exact integer-cents revenue,
    * running revenue share in ppm, and the classic A/B/C class cut at
    * 70%/90% cumulative share. The inventory-analysis face every sales
    * rollup ends with, and the ordered-cumulative-share pattern (q52 is
    * the unordered share face).
    *
    * Scale shape: aggregate FIRST (one map-combinable cents sum over the
    * fact table), THEN rank — the window runs over the supplier
    * DIMENSION, never the raw lineitem; total is a broadcast scalar.
    * The share divides by the PRE-SCALED total (total DIV 10⁶, floored
    * at 1) instead of multiplying the numerator by 10⁶ — at a 10×
    * replica's revenue volume `10⁶ · cum_cents` already overflows BIGINT
    * (an ANSI-mode error), and cum ≤ total ≤ 2⁶³ can never;
    * the ≤1-ppm floor error is identical in both engines. */
  def q65ParetoSuppliers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, d)
      .select($"l_suppkey",
        floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100 + 0.5)
          .cast("long").as("cents"))
      .groupBy($"l_suppkey").agg(sum($"cents").as("revenue_cents"))
    // r22 (guide §2.5/§5, VERDICT r21 item 5): two-phase rank. The old
    // `Window.orderBy` with no partition moved EVERY supplier row to one
    // partition — fine over sf0.1's 100 suppliers, a genuine single-task
    // sort hazard at 100 TB supplier cardinality. Phase 1
    // range-partitions by the rank order (each bucket's keys all precede
    // the next bucket's, keys unique, so global rank = bucket offset +
    // within-bucket rank — exact, independent of where the sampled range
    // boundaries fall); phase 2 folds per-bucket (count, sum) prefix
    // offsets on the driver (the bucket dimension is ≤ the configured
    // parallelism — cluster-sized, never data-sized; the bounded-collect
    // pattern localityAssignment's LPT placement established) and
    // finishes with a per-bucket window. Identical output to the
    // single-window form; the grand total now falls out of the same
    // bucket stats, so the separate total-aggregate subtree (a second
    // fact-table scan) is gone too.
    val nb = s.sparkContext.defaultParallelism
    // Materialized: the bucket-stats collect and the ranked output both
    // re-read the checkpointed O(suppliers) frame instead of re-scanning
    // the fact table (the range exchange and the supplier aggregate run
    // exactly once), and the ContextCleaner reclaims its blocks once the
    // result is gone, where a persist would stay pinned for the session.
    val bucketed = rev
      .repartitionByRange(nb, $"revenue_cents".desc, $"l_suppkey")
      .withColumn("b", spark_partition_id())
      .materialize()
    val bstats = bucketed.groupBy($"b")
      .agg(count(lit(1)).as("cnt"), sum($"revenue_cents").as("bsum"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val rankOff = new Array[Long](nb + 1)
    val cumOff = new Array[Long](nb + 1)
    bstats.foreach { case (b, cnt, bsum) =>
      // prefix sums over buckets strictly before b (b is 0-based)
      for (i <- (b + 1) to nb) { rankOff(i) += cnt; cumOff(i) += bsum }
    }
    // Same pre-scaled-denominator arithmetic as before (positive longs,
    // so Scala / truncates exactly like SQL DIV), computed from the
    // bucket sums instead of a second fact-scan aggregate.
    val totalCents = bstats.map(_._3).sum
    val shareDenom = math.max(totalCents / 1000000L, 1L)
    val w = Window.partitionBy($"b").orderBy($"revenue_cents".desc, $"l_suppkey")
    bucketed
      .withColumn("rank",
        (row_number().over(w) + element_at(lit(rankOff), $"b" + 1)).cast("long"))
      .withColumn("cum_cents", sum($"revenue_cents").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) +
        element_at(lit(cumOff), $"b" + 1))
      .select($"rank", $"l_suppkey", $"revenue_cents", $"cum_cents",
        expr(s"cum_cents DIV ${shareDenom}L").as("cum_share_ppm"))
      .withColumn("abc_class",
        when($"cum_share_ppm" <= 700000, "A")
          .when($"cum_share_ppm" <= 900000, "B").otherwise("C"))
      .orderBy("rank")
  }

  /** q67: month-over-month revenue — the period-over-period face (lag
    * over the aggregated TIME dimension): per order month, exact cents
    * revenue, order count, the previous month's revenue and the signed
    * delta. The growth ratio itself stays client-side — signed integer
    * division truncates toward zero in Spark but floors in DuckDB (the
    * g22 negative-division rule), and delta/prev is one client op over
    * exact BIGINTs.
    *
    * Scale shape: aggregate first (map-combinable cents sum to the
    * month dimension), then one lag window over the months frame —
    * bounded at any fact volume. */
  def q67MomGrowth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = Tables.orders(s, d)
      .select((year($"o_orderdate") * 100 + month($"o_orderdate"))
          .cast("long").as("ym"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"ym")
      .agg(sum($"cents").as("revenue_cents"), count(lit(1)).as("n_orders"))
    val w = Window.orderBy($"ym")
    m.withColumn("prev_cents",
        coalesce(lag($"revenue_cents", 1).over(w), lit(0L)))
      .select($"ym", $"n_orders", $"revenue_cents", $"prev_cents",
        ($"revenue_cents" - $"prev_cents").as("delta_cents"))
      .orderBy("ym")
  }

  /** q69: column-correlation profile — the data-profiling face (what a
    * profiler emits before anyone writes a query): Pearson r between the
    * lineitem measures, one row per column pair, from ONE
    * map-combinable moment aggregate (n, Σx, Σy, Σxy, Σx², Σy² — no
    * per-pair rescan). Moments are DOUBLE by necessity — exact BIGINT
    * Σx² overflows once x ~ 10⁵ and N ~ 10⁹ (the q65 overflow class
    * with no pre-scaling escape) — so r is computed by the SAME
    * explicit formula in both engines from their own float sums
    * (never a builtin corr(), whose accumulation algorithm is
    * implementation-specific) and rounded to 4 dp, far coarser than
    * the ~1e-10 cross-engine sum divergence (the q16 stddev
    * precedent). */
  def q69ColumnCorr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = Tables.lineitem(s, d).select(
      $"l_extendedprice".as("p"), $"l_discount".as("dc"),
      $"l_quantity".cast("double").as("q"))
    val mom = m.agg(
      count(lit(1)).cast("double").as("n"),
      sum($"p").as("sp"), sum($"dc").as("sd"), sum($"q").as("sq"),
      sum($"p" * $"p").as("spp"), sum($"dc" * $"dc").as("sdd"),
      sum($"q" * $"q").as("sqq"),
      sum($"p" * $"dc").as("spd"), sum($"p" * $"q").as("spq"),
      sum($"dc" * $"q").as("sdq"))
    def pair(name: String, sx: String, sy: String, sxx: String, syy: String,
             sxy: String) =
      mom.select(lit(name).as("pair"), col("n").cast("long").as("n"),
        round((col("n") * col(sxy) - col(sx) * col(sy)) /
          sqrt((col("n") * col(sxx) - col(sx) * col(sx)) *
            (col("n") * col(syy) - col(sy) * col(sy))), 4).as("r"))
    pair("price_discount", "sp", "sd", "spp", "sdd", "spd")
      .unionAll(pair("price_quantity", "sp", "sq", "spp", "sqq", "spq"))
      .unionAll(pair("discount_quantity", "sd", "sq", "sdd", "sqq", "sdq"))
      .orderBy("pair")
  }

  /** q70: data-quality audit — the deequ/dbt-test constraint suite as a
    * gated query: one row per declared check with its violation count
    * and pass verdict. Checks: NULL keys, non-positive quantity, price
    * outside its believable band, discount outside [0, 0.1+], returned
    * flag domain, and referential orphans (lineitems whose order key has
    * no orders row — the FK check). The audit every ingestion runs
    * BEFORE the analytics queries above trust the data.
    *
    * Scale shape: one conditional-aggregate pass over the fact table
    * for the row-local checks + one left-anti join against the orders
    * key set for the FK check — never more than two jobs regardless of
    * how many row-local checks are declared. */
  def q70QualityAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    def chk(name: String, bad: org.apache.spark.sql.Column) =
      sum(when(bad, 1L).otherwise(0L)).as(name)
    val rowChecks = li.agg(
      chk("null_order_key", $"l_orderkey".isNull),
      chk("null_part_key", $"l_partkey".isNull),
      chk("nonpositive_quantity", $"l_quantity" <= 0),
      chk("price_out_of_band",
        $"l_extendedprice" < 1.0 || $"l_extendedprice" > 1000000.0),
      chk("discount_out_of_range", $"l_discount" < 0.0 || $"l_discount" > 0.5),
      chk("bad_returnflag", !$"l_returnflag".isin("A", "N", "R")))
    val orphans = li.select($"l_orderkey")
      .join(Tables.orders(s, d).select($"o_orderkey".as("l_orderkey")),
        Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_lineitems"))
    val wide = rowChecks.crossJoin(broadcast(orphans))
    val checks = Seq("null_order_key", "null_part_key", "nonpositive_quantity",
      "price_out_of_band", "discount_out_of_range", "bad_returnflag",
      "orphan_lineitems")
    wide.select(explode(array(checks.map(c =>
        struct(lit(c).as("check"), col(c).as("violations"))): _*)).as("t"))
      .select(col("t.check").as("check"), col("t.violations").as("violations"),
        (col("t.violations") === 0).as("passed"))
      .orderBy("check")
  }

  private val IncrCutoff = "1998-01-01"

  /** q71: incremental rollup maintenance — the materialized-view refresh
    * pattern at 100 TB: a monthly revenue rollup is maintained by
    * merging the EXISTING rollup with the rollup of only the NEW batch
    * (orders on/after [[IncrCutoff]]), never rescanning the base. Sums/
    * counts merge by re-aggregation (q61 proves the same for sketch
    * registers); the gate's oracle computes the rollup from the FULL
    * table directly, so this query passes only if merge ≡ recompute —
    * the mergeability proof for plain aggregates.
    *
    * Scale shape: two partial rollups (each map-combinable, the delta
    * side reading only the new partition in a date-partitioned layout)
    * + one re-aggregation over the months dimension. */
  def q71IncrementalRollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def rollup(df: DataFrame): DataFrame =
      df.select((year($"o_orderdate") * 100 + month($"o_orderdate"))
          .cast("long").as("ym"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
        .groupBy($"ym")
        .agg(sum($"cents").as("revenue_cents"), count(lit(1)).as("n_orders"))
    val cut = to_timestamp(lit(IncrCutoff))
    val base = rollup(Tables.orders(s, d).where($"o_orderdate" < cut))
    val delta = rollup(Tables.orders(s, d).where($"o_orderdate" >= cut))
    base.unionAll(delta)
      .groupBy($"ym")
      .agg(sum($"revenue_cents").as("revenue_cents"),
        sum($"n_orders").as("n_orders"))
      .orderBy("ym")
  }

  /** q72: hierarchical share report — percent-of-parent at two levels of
    * the geography dimension (nation revenue as a share of its region,
    * region revenue as a share of the total): the drill-down report
    * every BI rollup renders, exercising the full dimension chain
    * region ⋈ nation ⋈ customer ⋈ orders. Exact integer cents; shares
    * in ppm over the q65 pre-scaled-denominator discipline (overflow-
    * safe at any revenue volume).
    *
    * Scale shape: the fact table aggregates FIRST to the nation grain
    * (broadcast customer→nation dim), then all share arithmetic runs
    * over the 25-row nation and 5-row region frames — two tiny window
    * passes, nothing fact-sized past the first aggregate. */
  def q72HierarchyShares(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = broadcast(Tables.customer(s, d)
      .select($"c_custkey".as("o_custkey"), $"c_nationkey".as("nk")))
    val natRev = Tables.orders(s, d)
      .select($"o_custkey", floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      .join(cust, "o_custkey")
      .groupBy($"nk").agg(sum($"cents").as("nation_cents"))
    val dims = broadcast(Tables.nation(s, d)
      .select($"n_nationkey".as("nk"), $"n_name", $"n_regionkey".as("rk"))
      .join(Tables.region(s, d).select($"r_regionkey".as("rk"), $"r_name"), "rk"))
    val wRegion = Window.partitionBy($"rk")
    val wAll = Window.partitionBy()
    natRev.join(dims, "nk")
      .withColumn("region_cents", sum($"nation_cents").over(wRegion))
      .withColumn("total_cents", sum($"nation_cents").over(wAll))
      .select($"r_name".as("region"), $"n_name".as("nation"),
        $"nation_cents", $"region_cents",
        expr("nation_cents DIV greatest(region_cents DIV 1000000, 1)")
          .as("share_of_region_ppm"),
        expr("region_cents DIV greatest(total_cents DIV 1000000, 1)")
          .as("region_share_ppm"))
      .orderBy("region", "nation")
  }

  /** q73: biggest-movers report — the suppliers whose revenue changed
    * most between the two halves of the order history (the q67 period
    * split applied per entity, ranked by absolute delta): the
    * what-changed-since-last-period screen every revenue dashboard
    * leads with. Exact integer cents; signed delta + absolute rank; a
    * supplier absent from one period shows the full swing.
    *
    * Scale shape: one conditional-aggregate pass over the fact table
    * (both periods in one scan — no self-join, no second pass), top-20
    * by |delta| via TakeOrderedAndProject. */
  def q73RevenueMovers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cut = to_timestamp(lit(IncrCutoff))
    val li = Tables.lineitem(s, d)
      .select($"l_suppkey", $"l_orderkey".as("ok"),
        floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100 + 0.5)
          .cast("long").as("cents"))
      .join(Tables.orders(s, d)
        .select($"o_orderkey".as("ok"), ($"o_orderdate" < cut).as("old")), "ok")
    li.groupBy($"l_suppkey")
      .agg(sum(when($"old", $"cents").otherwise(0L)).as("before_cents"),
        sum(when(!$"old", $"cents").otherwise(0L)).as("after_cents"))
      .select($"l_suppkey", $"before_cents", $"after_cents",
        ($"after_cents" - $"before_cents").as("delta_cents"))
      .withColumn("abs_delta", abs($"delta_cents"))
      .orderBy($"abs_delta".desc, $"l_suppkey")
      .limit(20)
      .select($"l_suppkey", $"before_cents", $"after_cents", $"delta_cents")
  }

  /** q74: deletion-impact cascade — the right-to-be-forgotten report: a
    * deterministic deletion list (customers with key ≡ 0 mod 97) traced
    * through the schema's reference chain — their orders, those orders'
    * lineitems, their events — with per-table affected counts and ppm.
    * The impact analysis a data-subject-request pipeline runs BEFORE
    * deleting anything (and the same joins then drive the delete);
    * q70 audits constraints, m8 audits alignment, this audits reach.
    *
    * Scale shape: each table pays ONE semi-join pass keyed along the
    * cascade (deletion list broadcast; the order-key hop is a shuffle
    * semi-join since affected orders grow with the fact table); four
    * 1-row count frames assembled by broadcast cross join. */
  def q74DeletionCascade(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val del = broadcast(Tables.customer(s, d)
      .where(pmod($"c_custkey", lit(97)) === 0).select($"c_custkey"))
    val orders = Tables.orders(s, d)
    val affOrders = orders
      .join(del.select($"c_custkey".as("o_custkey")), Seq("o_custkey"), "left_semi")
    def row(name: String, total: DataFrame, affected: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("n_total"))
        .crossJoin(broadcast(affected.agg(count(lit(1)).as("n_affected"))))
        .select(lit(name).as("table"), $"n_total", $"n_affected",
          expr("(1000000 * n_affected) DIV n_total").as("affected_ppm"))
    row("customer", Tables.customer(s, d), del)
      .unionAll(row("orders", orders, affOrders))
      .unionAll(row("lineitem", Tables.lineitem(s, d),
        Tables.lineitem(s, d).join(
          affOrders.select($"o_orderkey".as("l_orderkey")),
          Seq("l_orderkey"), "left_semi")))
      .unionAll(row("events", Tables.events(s, d),
        Tables.events(s, d).join(del.select($"c_custkey".as("user_id")),
          Seq("user_id"), "left_semi")))
      .orderBy("table")
  }

  def q55MadOutliers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type",
      (floor($"value" * 100 + 0.5).cast("long") * 2).as("d2"))
    val med = ev.groupBy($"event_type")
      .agg(percentile($"d2", lit(0.5)).as("med2"))
    val dev = ev.join(broadcast(med), "event_type")
      .select($"event_type", abs($"d2" - $"med2").as("dev"))
    val mad = dev.groupBy($"event_type")
      .agg(percentile($"dev", lit(0.5)).as("mad2"), count(lit(1)).as("n"))
    val out = dev.join(broadcast(mad.select($"event_type", $"mad2")), "event_type")
      .where($"dev" > lit(3) * $"mad2")
      .groupBy($"event_type").agg(count(lit(1)).as("n_outliers"))
    med.join(mad, "event_type").join(out, Seq("event_type"), "left_outer")
      .select($"event_type", ($"med2" / 2).as("med_cents"),
        ($"mad2" / 2).as("mad_cents"), $"n",
        coalesce($"n_outliers", lit(0L)).as("n_outliers"))
      .orderBy($"event_type")
  }

  /** Correlated scalar subquery (decorrelated by Catalyst into a join):
    * customers above their nation's average balance. */
  def q22AboveAvgCustomers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d)
    val nationAvg = c.groupBy($"c_nationkey".as("nk"))
      .agg(avg($"c_acctbal").as("nation_avg"))
    c.join(broadcast(nationAvg), $"c_nationkey" === $"nk")
      .filter($"c_acctbal" > $"nation_avg")
      .select($"c_custkey", $"c_nationkey", round($"c_acctbal", 2).as("acctbal"))
      .orderBy($"c_custkey")
  }

  /** Pivot (wide aggregation): quantity sums by returnflag × linestatus.
    * Pivot column values are fixed so the output schema is static and the
    * oracle is a plain CASE aggregation. */
  def q23Pivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum($"l_quantity"), 2))
      .select($"l_returnflag",
        coalesce($"F", lit(0.0)).as("qty_f"),
        coalesce($"O", lit(0.0)).as("qty_o"))
      .orderBy($"l_returnflag")
  }

  /** Deterministic stratified sampling: a ~10% hash sample of lineitem
    * with per-stratum (returnflag) sample/population accounting. The
    * sampling predicate is the reference's own Knuth multiplicative hash
    * (`simple_hash`, `/root/reference/partition.h:831-858`) over the row
    * key — reproducible across engines and scales (unlike TABLESAMPLE,
    * whose row choice is engine- and split-dependent), push-down-able
    * into the scan, and stable under repartitioning. sum(l_quantity) is
    * exact: quantities are integer-valued doubles. */
  def q26StratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val h = ($"l_orderkey" * lit(2654435761L) + $"l_linenumber") % 100
    val sample = li.where(h < 10)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_sample"), round(sum($"l_quantity"), 2).as("qty_sample"))
    val total = li.groupBy($"l_returnflag").agg(count(lit(1)).as("n_total"))
    sample.join(total, "l_returnflag")
      .select($"l_returnflag", $"n_sample", $"n_total",
        round(lit(100.0) * $"n_sample" / $"n_total", 4).as("pct"),
        $"qty_sample")
      .orderBy($"l_returnflag")
  }

  /** Custom typed UDAF ([[graft.functions.Aggregators.WeightedMeanCents]],
    * `Aggregator[IN,BUF,OUT]` via `functions.udaf`): quantity-weighted
    * mean discount per returnflag. Discounts enter the aggregate as exact
    * integer cents (`round(l_discount*100)`) so the distributed
    * accumulation is order-independent — the buffer is a pair of BIGINT
    * sums and only the finish divides in double. */
  def q27WeightedAvg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wavg = udaf(graft.functions.Aggregators.WeightedMeanCents)
    Tables.lineitem(s, d)
      .select($"l_returnflag", $"l_quantity".cast("long").as("qty"),
        round($"l_discount" * 100).cast("long").as("cents"))
      .groupBy($"l_returnflag")
      .agg(round(wavg($"qty", $"cents") / 100.0, 6).as("wavg_discount"),
        sum($"qty").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  /** q30: GROUPING SETS — the general form of rollup/cube (q7/q19):
    * two independent single-dimension groupings plus the grand total in
    * one pass over orders. Spark plans one `Expand` (3 replicas) + one
    * aggregate — at scale that's one shuffle instead of three unioned
    * scans. Exercised through the SQL surface (the DataFrame API has
    * rollup/cube but not arbitrary sets). */
  def q30GroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_q30")
    s.sql("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS sales
      FROM orders_q30
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, priority""")
  }

  /** q31: skew-resilient salted join. At 100 TB a hot key floods one
    * reducer; the manual cure (AQE's skew-join does it adaptively) is to
    * split each probe row across `SaltN` sub-keys and replicate each
    * build row to all of them, so the hot key's rows spread over SaltN
    * reducers. Semantics are identical to the plain join — which is
    * exactly what the oracle runs, so the gate proves the rewrite is
    * lossless. The salt (l_linenumber % SaltN) is implementation-internal
    * and never escapes the join. */
  def q31SaltedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val SaltN = 8
    val li = Tables.lineitem(s, d)
      .select($"l_suppkey", $"l_extendedprice", $"l_discount",
        ($"l_linenumber" % SaltN).cast("int").as("salt"))
    val supp = Tables.supplier(s, d)
      .select($"s_suppkey", $"s_name",
        explode(lit((0 until SaltN).toArray)).as("salt"))
      // The salted path exists for build sides too big to broadcast —
      // pin the shuffle join so the plan demonstrates it (a broadcast
      // would make the salt a no-op).
      .hint("shuffle_hash")
    // Revenue accumulates in integer cents (the q32 pattern): the salt
    // splits each group's partial sums differently from the plain join the
    // oracle runs, and float addition is order-dependent — BIGINT is not.
    // Per-row floor(x*100+0.5) is bit-identical across engines (same IEEE
    // doubles, same ops), so the rewrite stays provably lossless.
    li.join(supp, $"l_suppkey" === $"s_suppkey" && li("salt") === supp("salt"))
      .groupBy($"s_suppkey", $"s_name")
      .agg(sum(floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100 + 0.5)
          .cast("long")).as("cents"),
        count(lit(1)).as("n_items"))
      .select($"s_suppkey", $"s_name",
        round($"cents" / 100.0, 2).as("revenue"), $"n_items")
      .orderBy($"s_suppkey")
  }

  /** q32: RANGE-frame window — trailing 30-day per-customer order count
    * and spend. Unlike q4's ROWS frames, a RANGE frame bounds by *value*
    * (here: day number), so all same-day peers enter the frame together —
    * order-insensitive and deterministic even with ties. Spend accumulates
    * in integer cents: a float sum's accumulation order inside a window
    * frame is engine-dependent, integer addition is not. */
  def q32RangeFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d).select($"o_custkey", $"o_orderkey",
      datediff($"o_orderdate", lit("1970-01-01")).cast("long").as("day"),
      round($"o_totalprice" * 100).cast("long").as("cents"))
    val w = Window.partitionBy($"o_custkey").orderBy($"day").rangeBetween(-30, 0)
    o.select($"o_custkey", $"o_orderkey", $"day",
      count(lit(1)).over(w).as("n_trailing"),
      sum($"cents").over(w).as("cents_trailing"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** q33: deterministic argmax (top-1-per-group) as a hash aggregate —
    * each customer's biggest order. `max(struct(measure, tiebreak))`
    * compares lexicographically, so ties on the measure resolve by the
    * higher orderkey deterministically, and the whole thing is a
    * map-side-combinable aggregate: no per-group sort, no window, one
    * shuffle of one struct per group per map task. The oracle expresses
    * the same semantics as a row_number window — proving the cheap
    * aggregate form equals the textbook form. */
  def q33Argmax(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(max(struct($"o_totalprice", $"o_orderkey")).as("m"),
        count(lit(1)).as("n_orders"))
      .select($"o_custkey", $"m.o_orderkey".as("top_orderkey"),
        round($"m.o_totalprice", 2).as("top_price"), $"n_orders")
      .orderBy($"o_custkey")
  }

  /** q44: CDC merge / upsert — apply a keyed changeset to a snapshot in
    * one pass (the MERGE INTO shape every incremental pipeline compacts
    * with). Base snapshot: customers whose key misses the `% 7` residue
    * (so some changeset keys are genuine inserts). Changeset: per-customer
    * order totals from the most recent slice (orders since 2001 — a CDC
    * batch is incremental by nature), with `% 13` keys marked deletes.
    * The merge is ONE full
    * outer join on the key — both sides shuffle exactly once on the key
    * they are already keyed by, and at 100 TB the snapshot side would be
    * bucketed on the key so only the (much smaller) changeset moves.
    * Delete rows vanish, matched rows take the changeset value, unmatched
    * changeset rows insert, untouched base rows carry over — each row
    * labeled with its action so the gate pins all four MERGE branches.
    * Money stays in integer cents end-to-end (order-independent sums). */
  def q44Upsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.customer(s, d)
      .where($"c_custkey" % 7 =!= 0)
      .select($"c_custkey".as("custkey"),
        round($"c_acctbal" * 100).cast("long").as("base_cents"))
    val delta = Tables.orders(s, d)
      .filter($"o_orderdate" >= to_timestamp(lit("2001-01-01")))
      .groupBy($"o_custkey".as("custkey"))
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("delta_cents"))
      .withColumn("op", when($"custkey" % 13 === 0, lit("D")).otherwise(lit("U")))
    base.join(delta, Seq("custkey"), "full_outer")
      .where($"op".isNull || $"op" =!= "D")
      .select($"custkey",
        coalesce($"delta_cents", $"base_cents").as("bal_cents"),
        when($"delta_cents".isNull, lit("keep"))
          .when($"base_cents".isNull, lit("insert"))
          .otherwise(lit("update")).as("action"))
      .orderBy($"custkey")
  }

  /** q45: bounded top-k per group — q33's argmax generalized to k=3 via
    * the [[graft.functions.Aggregators.BottomK]] heap aggregate (built
    * for the ANN family, gated here as a first-class relational op). Per
    * supplier, the 3 parts with the highest shipped quantity: a partial
    * aggregate (supplier, part) → quantity, then an O(k)-state mergeable
    * top-k — each map task ships at most k candidates per group, where
    * the textbook `row_number() OVER (... ORDER BY qty)` form SORTS every
    * part of every supplier. The oracle IS that textbook form, proving
    * the bounded aggregate equals it row-for-row. Quantities accumulate
    * in integer centi-units; the heap measure is the negated quantity so
    * "largest qty, then smallest partkey" is one ascending lexicographic
    * order. */
  def q45TopkGroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val topk = udaf(new graft.functions.Aggregators.BottomK(3),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    Tables.lineitem(s, d)
      .groupBy($"l_suppkey", $"l_partkey")
      .agg(sum(round($"l_quantity" * 100).cast("long")).as("qtyc"))
      .groupBy($"l_suppkey")
      .agg(topk(-$"qtyc", $"l_partkey").as("tk"))
      .select($"l_suppkey", posexplode($"tk").as(Seq("pos", "p")))
      .select($"l_suppkey", ($"pos" + 1).cast("long").as("rank"),
        $"p.id".as("l_partkey"),
        (-$"p.m" / lit(100).cast("double")).as("qty"))
      .orderBy($"l_suppkey", $"rank")
  }

  /** q46 Z-order parameters: 20-bit coordinates; query box
    * partkey ∈ [50, 149] × price-tenths ∈ [9050, 9149] (non-empty at
    * every testdata SF). */
  private val ZBits = 20
  private val (boxX0, boxX1, boxY0, boxY1) = (50L, 149L, 9050L, 9149L)

  /** q46: Z-order (Morton) box prefilter — the read-side arithmetic of
    * the [[graft.io.Layout]] z-clustered layout, gated cross-engine. The
    * key interleaves partkey and price-tenths bits (`graft_zorder`, a
    * codegen'd native kernel); because the key is monotone in each
    * coordinate, the 2-D query box collapses to ONE key range
    * [z(x0,y0), z(x1,y1)] — which is what a reader pushes down against
    * file/row-group min-max stats on a z-laid-out table, where it prunes
    * all but a ~sqrt fraction of files on either dimension
    * (ZOrderLayoutSpec measures the actual file skipping). The gated
    * output keeps every prefilter survivor with its exact `in_box`
    * verdict, pinning both the superset property (no box row is ever
    * skipped) and the false-positive tail the curve's discontinuities
    * admit. Bounds are JVM-evaluated literals; the oracle recomputes the
    * per-row key bit-by-bit in SQL. */
  def q46Zorder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val yc = round($"p_retailprice" * 10).cast("long")
    val zlo = graft.functions.HashUtil.interleaveBits(boxX0, boxY0, ZBits)
    val zhi = graft.functions.HashUtil.interleaveBits(boxX1, boxY1, ZBits)
    Tables.part(s, d)
      .select($"p_partkey",
        graft.functions.Portable.zorder($"p_partkey", yc, ZBits).as("zval"),
        ($"p_partkey".between(boxX0, boxX1) && yc.between(boxY0, boxY1)).as("in_box"))
      .where($"zval".between(zlo, zhi))
      .orderBy($"p_partkey")
  }

  /** q47: the remaining analytic-window faces in one gated query —
    * ntile (larger-groups-first fill, identical rule both engines),
    * percent_rank / cume_dist (exact small-rational doubles: one
    * division per row, bit-equal cross-engine; single-row partitions
    * yield 0.0 / 1.0 in both), lag/lead with NULL edges, first_value,
    * and last_value over the explicit unbounded ROWS frame (the default
    * frame stops at CURRENT ROW — a classic silent-wrong-answer). One
    * window sort per partition on a unique (date, key) tiebreak; all
    * functions share the single WindowExec pass, money in cents. */
  def q47WindowFns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        round($"o_totalprice" * 100).cast("long").as("cents"))
      .select($"o_custkey", $"o_orderkey",
        row_number().over(w).cast("long").as("rn"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        lag($"cents", 1).over(w).as("prev_cents"),
        lead($"cents", 1).over(w).as("next_cents"),
        first_value($"o_orderkey").over(w).as("first_key"),
        last_value($"o_orderkey").over(wFull).as("last_key"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** q50: unpivot / melt — q23's pivot inverted: the three lineitem
    * measures become (measure, value) rows (`Dataset.unpivot`, Spark's
    * native melt — a row-local generator, no shuffle), then a per-measure
    * re-aggregation proves the long form round-trips. The wide→long
    * reshape is how a 100-TB metrics table feeds generic per-metric
    * pipelines without one job per column; integer-cents totals make the
    * re-aggregation order-free. */
  def q50Unpivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val long = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber",
        round($"l_quantity" * 100).cast("long").as("quantity"),
        round($"l_extendedprice" * 100).cast("long").as("extendedprice"),
        round($"l_discount" * 100).cast("long").as("discount"))
      .unpivot(
        Array($"l_orderkey", $"l_linenumber"),
        Array($"quantity", $"extendedprice", $"discount"),
        "measure", "cents")
    long.groupBy($"measure")
      .agg(count(lit(1)).as("n"), sum($"cents").as("total_cents"))
      .orderBy($"measure")
  }

  /** q51: mode (most frequent value) per group — the ordered-set
    * aggregate face, composed scale-first: count per (group, value) then
    * the q33 `max(struct)` argmax over the counts (two map-combinable
    * hash aggregates, no sort; ties resolve to the lexicographically
    * LARGEST value — the struct order — and the oracle ranks by the
    * identical (cnt DESC, value DESC) total order). Mode of the
    * order priority per order status. */
  def q51Mode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"o_orderstatus")
      .agg(max(struct($"cnt", $"o_orderpriority")).as("m"), sum($"cnt").as("n_rows"))
      .select($"o_orderstatus", $"m.o_orderpriority".as("mode_priority"),
        $"m.cnt".as("mode_count"), $"n_rows")
      .orderBy($"o_orderstatus")
  }

  /** q52: ratio-to-report — each priority's share of its status's order
    * volume. The scale-correct shape: aggregate FIRST (map-combinable
    * cents sum to one row per (status, priority)), then the share window
    * runs over the tiny grouped frame — never a window over the raw
    * fact table. Integer cents; the share is one exact int/int double
    * division. */
  def q52ShareOfTotal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"o_orderstatus")
    Tables.orders(s, d)
      .groupBy($"o_orderstatus", $"o_orderpriority")
      .agg(sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      .withColumn("status_cents", sum($"cents").over(w))
      .select($"o_orderstatus", $"o_orderpriority", $"cents", $"status_cents",
        ($"cents".cast("double") / $"status_cents".cast("double")).as("share"))
      .orderBy($"o_orderstatus", $"o_orderpriority")
  }

  /** q53: grouped array collection (array_agg) — each customer's order
    * ids gathered into one sorted list (the denormalize-for-serving
    * export shape: one row per entity, details nested). collect_list is
    * a mergeable buffer aggregate (no window, no sort shuffle beyond the
    * group key); sort_array makes the intra-group order deterministic,
    * and the gate-safe output is the joined string (the q12 convention —
    * cross-engine array-column hashing is representation-fragile).
    * Unbounded-group caution at scale: collect_list state is O(group
    * size) — the export shape is right only when groups are known
    * bounded (orders per customer); the q45 heap is the tool when only
    * a top-k slice is wanted. */
  def q53ArrayAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(collect_list($"o_orderkey").as("ids"), count(lit(1)).as("n_orders"))
      .select($"o_custkey", $"n_orders",
        array_join(transform(sort_array($"ids"), _.cast("string")), ",")
          .as("order_ids"))
      .orderBy($"o_custkey")
  }

  val queries: Map[String, Q] = Map(
    "q53_array_agg" -> q53ArrayAgg,
    "q52_share_of_total" -> q52ShareOfTotal,
    "q51_mode" -> q51Mode,
    "q50_unpivot" -> q50Unpivot,
    "q47_window_fns" -> q47WindowFns,
    "q46_zorder" -> q46Zorder,
    "q30_grouping_sets" -> q30GroupingSets,
    "q31_salted_join" -> q31SaltedJoin,
    "q32_range_frame" -> q32RangeFrame,
    "q33_argmax" -> q33Argmax,
    "q1_shipping_summary" -> q1ShippingSummary,
    "q2_revenue_by_nation" -> q2RevenueByNation,
    "q3_top_orders" -> q3TopOrders,
    "q4_window_running" -> q4WindowRunning,
    "q5_distinct_parts" -> q5DistinctParts,
    "q6_setops" -> q6SetOps,
    "q7_rollup_sales" -> q7RollupSales,
    "q8_semi_join" -> q8SemiJoin,
    "q9_anti_join" -> q9AntiJoin,
    "q10_scalar_fns" -> q10ScalarFns,
    "q11_date_fns" -> q11DateFns,
    "q12_array_fns" -> q12ArrayFns,
    "q13_json" -> q13Json,
    "q14_global_sort" -> q14GlobalSort,
    "q15_time_window" -> q15TimeWindow,
    "q16_stats" -> q16Stats,
    "q19_cube_sales" -> q19CubeSales,
    "q20_explode" -> q20Explode,
    "q21_percentiles" -> q21Percentiles,
    "q22_above_avg_customers" -> q22AboveAvgCustomers,
    "q23_pivot" -> q23Pivot,
    "q26_stratified_sample" -> q26StratifiedSample,
    "q27_weighted_avg" -> q27WeightedAvg,
    "q44_upsert" -> q44Upsert,
    "q45_topk_group" -> q45TopkGroup,
    "q55_mad_outliers" -> q55MadOutliers,
    "q60_key_skew" -> q60KeySkew,
    "q62_waiting_suppliers" -> q62WaitingSuppliers,
    "q63_assoc_rules" -> q63AssocRules,
    "q65_pareto_suppliers" -> q65ParetoSuppliers,
    "q67_mom_growth" -> q67MomGrowth,
    "q69_column_corr" -> q69ColumnCorr,
    "q70_quality_audit" -> q70QualityAudit,
    "q71_incremental_rollup" -> q71IncrementalRollup,
    "q72_hierarchy_shares" -> q72HierarchyShares,
    "q73_revenue_movers" -> q73RevenueMovers,
    "q74_deletion_cascade" -> q74DeletionCascade)

  val oracle: Map[String, String] = Map(
    // the oracle computes the rollup from the FULL table — the gate
    // passes only if the engine's base+delta merge ≡ direct recompute
    "q71_incremental_rollup" ->
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |    AS ym,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS revenue_cents,
        |  count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY ym""".stripMargin,
    "q74_deletion_cascade" ->
      """WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |ao AS (SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM del))
        |SELECT 'customer' AS "table",
        |  (SELECT count(*) FROM customer) AS n_total,
        |  (SELECT count(*) FROM del) AS n_affected,
        |  (1000000 * (SELECT count(*) FROM del))
        |    // (SELECT count(*) FROM customer) AS affected_ppm
        |UNION ALL
        |SELECT 'orders', (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM ao),
        |  (1000000 * (SELECT count(*) FROM ao))
        |    // (SELECT count(*) FROM orders)
        |UNION ALL
        |SELECT 'lineitem', (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey IN (SELECT o_orderkey FROM ao)),
        |  (1000000 * (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey IN (SELECT o_orderkey FROM ao)))
        |    // (SELECT count(*) FROM lineitem)
        |UNION ALL
        |SELECT 'events', (SELECT count(*) FROM events),
        |  (SELECT count(*) FROM events
        |     WHERE user_id IN (SELECT c_custkey FROM del)),
        |  (1000000 * (SELECT count(*) FROM events
        |     WHERE user_id IN (SELECT c_custkey FROM del)))
        |    // (SELECT count(*) FROM events)
        |ORDER BY "table"""".stripMargin,
    "q73_revenue_movers" ->
      """WITH j AS (SELECT l_suppkey,
        |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |      AS BIGINT) AS cents,
        |    o_orderdate < TIMESTAMP '1998-01-01' AS old
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |a AS (SELECT l_suppkey,
        |    CAST(sum(CASE WHEN old THEN cents ELSE 0 END) AS BIGINT)
        |      AS before_cents,
        |    CAST(sum(CASE WHEN NOT old THEN cents ELSE 0 END) AS BIGINT)
        |      AS after_cents
        |  FROM j GROUP BY l_suppkey)
        |SELECT l_suppkey, before_cents, after_cents,
        |  after_cents - before_cents AS delta_cents
        |FROM a
        |ORDER BY abs(after_cents - before_cents) DESC, l_suppkey
        |LIMIT 20""".stripMargin,
    "q72_hierarchy_shares" ->
      """WITH nr AS (SELECT c_nationkey AS nk,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS nation_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey),
        |j AS (SELECT r_name AS region, n_name AS nation, nation_cents,
        |    CAST(sum(nation_cents) OVER (PARTITION BY n_regionkey)
        |      AS BIGINT) AS region_cents,
        |    CAST(sum(nation_cents) OVER () AS BIGINT) AS total_cents
        |  FROM nr JOIN nation ON nk = n_nationkey
        |          JOIN region ON n_regionkey = r_regionkey)
        |SELECT region, nation, nation_cents, region_cents,
        |  nation_cents // greatest(region_cents // 1000000, 1)
        |    AS share_of_region_ppm,
        |  region_cents // greatest(total_cents // 1000000, 1)
        |    AS region_share_ppm
        |FROM j ORDER BY region, nation""".stripMargin,
    "q69_column_corr" ->
      """WITH mom AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(l_extendedprice) AS sp, sum(l_discount) AS sd,
        |    sum(CAST(l_quantity AS DOUBLE)) AS sq,
        |    sum(l_extendedprice * l_extendedprice) AS spp,
        |    sum(l_discount * l_discount) AS sdd,
        |    sum(CAST(l_quantity AS DOUBLE) * l_quantity) AS sqq,
        |    sum(l_extendedprice * l_discount) AS spd,
        |    sum(l_extendedprice * l_quantity) AS spq,
        |    sum(l_discount * l_quantity) AS sdq
        |  FROM lineitem)
        |SELECT pair, CAST(n AS BIGINT) AS n,
        |  round((n * sxy - sx * sy)
        |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r
        |FROM (
        |  SELECT 'price_discount' AS pair, n, sp AS sx, sd AS sy,
        |    spp AS sxx, sdd AS syy, spd AS sxy FROM mom
        |  UNION ALL
        |  SELECT 'price_quantity', n, sp, sq, spp, sqq, spq FROM mom
        |  UNION ALL
        |  SELECT 'discount_quantity', n, sd, sq, sdd, sqq, sdq FROM mom)
        |ORDER BY pair""".stripMargin,
    "q70_quality_audit" ->
      """WITH rowchk AS (SELECT
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS null_order_key,
        |    CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS null_part_key,
        |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nonpositive_quantity,
        |    CAST(sum(CASE WHEN l_extendedprice < 1.0
        |      OR l_extendedprice > 1000000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS price_out_of_band,
        |    CAST(sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.5
        |      THEN 1 ELSE 0 END) AS BIGINT) AS discount_out_of_range,
        |    CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_returnflag
        |  FROM lineitem),
        |orph AS (SELECT CAST(count(*) AS BIGINT) AS orphan_lineitems
        |  FROM lineitem l WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |cells AS (
        |  SELECT 'null_order_key' AS check, null_order_key AS violations
        |    FROM rowchk
        |  UNION ALL SELECT 'null_part_key', null_part_key FROM rowchk
        |  UNION ALL SELECT 'nonpositive_quantity', nonpositive_quantity
        |    FROM rowchk
        |  UNION ALL SELECT 'price_out_of_band', price_out_of_band FROM rowchk
        |  UNION ALL SELECT 'discount_out_of_range', discount_out_of_range
        |    FROM rowchk
        |  UNION ALL SELECT 'bad_returnflag', bad_returnflag FROM rowchk
        |  UNION ALL SELECT 'orphan_lineitems', orphan_lineitems FROM orph)
        |SELECT "check", violations, violations = 0 AS passed
        |FROM cells ORDER BY "check"""".stripMargin,
    "q67_mom_growth" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |      AS BIGINT) AS ym,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS revenue_cents,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT ym, CAST(n_orders AS BIGINT) AS n_orders, revenue_cents,
        |  CAST(coalesce(lag(revenue_cents, 1) OVER (ORDER BY ym), 0)
        |    AS BIGINT) AS prev_cents,
        |  revenue_cents - CAST(coalesce(lag(revenue_cents, 1)
        |    OVER (ORDER BY ym), 0) AS BIGINT) AS delta_cents
        |FROM m ORDER BY ym""".stripMargin,
    "q65_pareto_suppliers" ->
      """WITH r AS (SELECT l_suppkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |      + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS total_cents
        |  FROM r),
        |k AS (SELECT l_suppkey, revenue_cents,
        |    row_number() OVER (ORDER BY revenue_cents DESC, l_suppkey)
        |      AS rank,
        |    CAST(sum(revenue_cents) OVER (ORDER BY revenue_cents DESC,
        |      l_suppkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cents
        |  FROM r)
        |SELECT CAST(rank AS BIGINT) AS rank, l_suppkey, revenue_cents,
        |  cum_cents,
        |  cum_cents // greatest(total_cents // 1000000, 1) AS cum_share_ppm,
        |  CASE WHEN cum_cents // greatest(total_cents // 1000000, 1)
        |         <= 700000 THEN 'A'
        |       WHEN cum_cents // greatest(total_cents // 1000000, 1)
        |         <= 900000 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM k, t ORDER BY rank""".stripMargin,
    "q63_assoc_rules" ->
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
         |    FROM lineitem),
         |cp AS (SELECT a.p AS src, b.p AS dst, CAST(count(*) AS BIGINT) AS cnt
         |  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= $AssocMinSupport),
         |ic AS (SELECT p, CAST(count(*) AS BIGINT) AS icnt FROM op GROUP BY p),
         |nn AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM op),
         |dr AS (SELECT src AS antecedent, dst AS consequent, cnt FROM cp
         |  UNION ALL SELECT dst, src, cnt FROM cp)
         |SELECT antecedent, consequent, cnt,
         |  (1000000 * cnt) // n_orders AS support_ppm,
         |  (1000000 * cnt) // a.icnt AS confidence_ppm,
         |  (((1000000 * cnt) // a.icnt) * n_orders) // (1000 * c.icnt)
         |    AS lift_milli
         |FROM dr JOIN ic a ON dr.antecedent = a.p
         |        JOIN ic c ON dr.consequent = c.p, nn
         |ORDER BY lift_milli DESC, antecedent, consequent
         |LIMIT 50""".stripMargin,
    "q62_waiting_suppliers" ->
      """WITH rp AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
        |    FROM lineitem WHERE l_returnflag = 'R'),
        |ap AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
        |w AS (SELECT a.sk, a.ok FROM rp a
        |  WHERE EXISTS (SELECT 1 FROM ap b WHERE b.ok = a.ok AND b.sk != a.sk)
        |    AND NOT EXISTS (SELECT 1 FROM rp c WHERE c.ok = a.ok AND c.sk != a.sk)),
        |cnt AS (SELECT sk AS s_suppkey, count(*) AS numwait FROM w GROUP BY sk)
        |SELECT s.s_suppkey, s_name, numwait
        |FROM cnt JOIN supplier s USING (s_suppkey)
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q60_key_skew" ->
      """WITH c AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem
        |  GROUP BY l_suppkey),
        |st AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total,
        |    max(cnt) AS max_cnt FROM c),
        |r AS (SELECT l_suppkey, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS rank FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, l_suppkey,
        |  CAST(cnt AS BIGINT) AS cnt,
        |  (1000000 * CAST(cnt AS BIGINT)) // total AS share_ppm,
        |  CAST(n_keys AS BIGINT) AS n_keys,
        |  (1000 * CAST(max_cnt AS BIGINT) * n_keys) // total
        |    AS skew_ratio_milli
        |FROM r, st WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "q30_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sales
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    "q31_salted_join" ->
      """WITH j AS (
        |  SELECT s_suppkey, s_name,
        |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey)
        |SELECT s_suppkey, s_name,
        |  round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS revenue,
        |  count(*) AS n_items
        |FROM j GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin,
    "q32_range_frame" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_custkey, o_orderkey, day,
        |  count(*) OVER w AS n_trailing,
        |  CAST(sum(cents) OVER w AS BIGINT) AS cents_trailing
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
        |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q53_array_agg" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  array_to_string(list_sort(list(o_orderkey)), ',') AS order_ids
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q52_share_of_total" ->
      """WITH a AS (SELECT o_orderstatus, o_orderpriority,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
        |b AS (SELECT *, CAST(sum(cents) OVER (PARTITION BY o_orderstatus)
        |    AS BIGINT) AS status_cents FROM a)
        |SELECT o_orderstatus, o_orderpriority, cents, status_cents,
        |  CAST(cents AS DOUBLE) / CAST(status_cents AS DOUBLE) AS share
        |FROM b ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q51_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY cnt DESC, o_orderpriority DESC) AS rn,
        |  CAST(sum(cnt) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS n_rows
        |  FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |  cnt AS mode_count, n_rows
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,
    "q50_unpivot" ->
      """WITH w AS (SELECT l_orderkey, l_linenumber,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS quantity,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS extendedprice,
        |    CAST(round(l_discount * 100) AS BIGINT) AS discount
        |  FROM lineitem),
        |long AS (
        |  SELECT 'quantity' AS measure, quantity AS cents FROM w
        |  UNION ALL SELECT 'extendedprice', extendedprice FROM w
        |  UNION ALL SELECT 'discount', discount FROM w)
        |SELECT measure, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM long GROUP BY measure ORDER BY measure""".stripMargin,
    "q47_window_fns" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  lag(cents, 1) OVER w AS prev_cents,
        |  lead(cents, 1) OVER w AS next_cents,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q46_zorder" -> {
      val zlo = graft.functions.HashUtil.interleaveBits(boxX0, boxY0, ZBits)
      val zhi = graft.functions.HashUtil.interleaveBits(boxX1, boxY1, ZBits)
      val mask = (1L << ZBits) - 1
      s"""WITH c AS (SELECT p_partkey,
         |    CAST(round(p_retailprice * 10) AS BIGINT) AS yc
         |  FROM part),
         |k AS (SELECT p_partkey, yc,
         |    CAST(list_sum(list_transform(range($ZBits), i ->
         |      ((((p_partkey & $mask) >> i) & 1) << (2*i)) +
         |      ((((yc & $mask) >> i) & 1) << (2*i + 1)))) AS BIGINT) AS zval
         |  FROM c)
         |SELECT p_partkey, zval,
         |  (p_partkey BETWEEN $boxX0 AND $boxX1
         |    AND yc BETWEEN $boxY0 AND $boxY1) AS in_box
         |FROM k WHERE zval BETWEEN $zlo AND $zhi
         |ORDER BY p_partkey""".stripMargin
    },
    "q44_upsert" ->
      """WITH base AS (SELECT c_custkey AS custkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS base_cents
        |  FROM customer WHERE c_custkey % 7 <> 0),
        |delta AS (SELECT o_custkey AS custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS delta_cents,
        |    CASE WHEN o_custkey % 13 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
        |  GROUP BY o_custkey)
        |SELECT custkey,
        |  coalesce(delta_cents, base_cents) AS bal_cents,
        |  CASE WHEN delta_cents IS NULL THEN 'keep'
        |       WHEN base_cents IS NULL THEN 'insert'
        |       ELSE 'update' END AS action
        |FROM base FULL JOIN delta USING (custkey)
        |WHERE op IS NULL OR op <> 'D'
        |ORDER BY custkey""".stripMargin,
    "q45_topk_group" ->
      """WITH a AS (SELECT l_suppkey, l_partkey,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qtyc
        |  FROM lineitem GROUP BY l_suppkey, l_partkey),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey
        |    ORDER BY qtyc DESC, l_partkey) AS rank FROM a)
        |SELECT l_suppkey, CAST(rank AS BIGINT) AS rank, l_partkey,
        |  qtyc / CAST(100 AS DOUBLE) AS qty
        |FROM r WHERE rank <= 3 ORDER BY l_suppkey, rank""".stripMargin,
    "q33_argmax" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    count(*) OVER (PARTITION BY o_custkey) AS n_orders,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey AS top_orderkey,
        |  round(o_totalprice, 2) AS top_price, n_orders
        |FROM r WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q26_stratified_sample" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n_sample,
        |    round(sum(l_quantity), 2) AS qty_sample
        |  FROM lineitem
        |  WHERE (l_orderkey * 2654435761 + l_linenumber) % 100 < 10
        |  GROUP BY l_returnflag),
        |t AS (SELECT l_returnflag, count(*) AS n_total FROM lineitem
        |  GROUP BY l_returnflag)
        |SELECT s.l_returnflag, n_sample, n_total,
        |  round(CAST(100 AS DOUBLE) * n_sample / n_total, 4) AS pct, qty_sample
        |FROM s JOIN t USING (l_returnflag) ORDER BY l_returnflag""".stripMargin,
    "q27_weighted_avg" ->
      """WITH c AS (SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_discount * 100) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  round((CAST(CAST(sum(qty * cents) AS BIGINT) AS DOUBLE)
        |         / CAST(CAST(sum(qty) AS BIGINT) AS DOUBLE)) / 100.0, 6)
        |    AS wavg_discount,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q1_shipping_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_extendedprice), 4) AS avg_price,
         round(avg(l_discount), 6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-06-01'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q2_revenue_by_nation" ->
      """SELECT r_name, n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1999-01-01'
         GROUP BY r_name, n_name
         ORDER BY r_name, n_name""",
    "q3_top_orders" ->
      """SELECT l_orderkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem GROUP BY l_orderkey
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q4_window_running" ->
      """SELECT o_custkey, o_orderkey,
         row_number() OVER w AS rn,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS running_spend,
         round(o_totalprice - lag(o_totalprice, 1, 0.0) OVER w, 2) AS delta_prev
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, rn""",
    "q5_distinct_parts" ->
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_orderkey) AS n_orders, count(*) AS n_items
         FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""",
    "q6_setops" ->
      """SELECT nationkey, 'both' AS tag FROM
           (SELECT c_nationkey AS nationkey FROM customer
            INTERSECT SELECT s_nationkey FROM supplier) t1
         UNION ALL
         SELECT nationkey, 'cust_only' AS tag FROM
           (SELECT c_nationkey AS nationkey FROM customer
            EXCEPT SELECT s_nationkey FROM supplier) t2
         UNION ALL
         SELECT nationkey, 'supp_only' AS tag FROM
           (SELECT s_nationkey AS nationkey FROM supplier
            EXCEPT SELECT c_nationkey FROM customer) t3
         ORDER BY tag, nationkey""",
    "q7_rollup_sales" ->
      """SELECT coalesce(r_name, 'ALL') AS region_name,
         coalesce(n_name, 'ALL') AS nation_name,
         round(sum(o_totalprice), 2) AS sales, count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY region_name, nation_name""",
    "q8_semi_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
         ORDER BY c_custkey""",
    "q9_anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",
    "q10_scalar_fns" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
         substring(p_name, 1, 8) AS name8, length(p_name) AS name_len,
         concat(p_brand, ':', p_type) AS brand_type,
         round(sqrt(p_retailprice), 4) AS price_sqrt,
         abs(p_size - 25) AS size_dev, p_size % 7 AS size_mod
         FROM part WHERE p_partkey % 10 = 0 ORDER BY p_partkey""",
    "q11_date_fns" ->
      """SELECT o_orderkey, year(o_orderdate) AS oy, month(o_orderdate) AS om,
         day(o_orderdate) AS od, CAST(o_orderdate AS DATE) AS odate,
         datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
         FROM orders WHERE o_orderkey % 50 = 0 ORDER BY o_orderkey""",
    "q12_array_fns" ->
      """SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         list_contains(string_split(text, ' '), 'spark') AS has_spark,
         array_to_string(list_sort(string_split(text, ' '))[1:3], ',') AS first3_sorted
         FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id""",
    "q13_json" ->
      """SELECT event_id, event_type,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
         FROM events WHERE event_id % 20 = 0 ORDER BY event_id""",
    "q14_global_sort" ->
      """SELECT event_id, user_id, value FROM events
         ORDER BY value DESC, event_id""",
    "q15_time_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts, event_type,
         count(*) AS n, round(sum(value), 2) AS total
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "q16_stats" ->
      """SELECT l_returnflag,
         round(min(l_quantity), 2) AS min_qty,
         round(max(l_quantity), 2) AS max_qty,
         round(avg(l_quantity), 4) AS avg_qty,
         round(stddev_samp(l_quantity), 4) AS std_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q19_cube_sales" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
         coalesce(o_orderpriority, 'ALL') AS priority,
         round(sum(o_totalprice), 2) AS sales, count(*) AS n_orders
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "q20_explode" ->
      """SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.word
         FROM (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents WHERE doc_id % 100 = 0) t,
         LATERAL (SELECT unnest(words) AS word,
                         generate_subscripts(words, 1) AS pos) u
         ORDER BY doc_id, pos""",
    "q55_mad_outliers" ->
      """WITH b AS (SELECT event_type,
           CAST(floor(value*100 + 0.5) AS BIGINT)*2 AS d2 FROM events),
         m AS (SELECT event_type, quantile_cont(d2, 0.5) AS med2 FROM b GROUP BY 1),
         v AS (SELECT b.event_type, abs(d2 - med2) AS dev
               FROM b JOIN m USING (event_type)),
         md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad2,
                count(*) AS n FROM v GROUP BY 1),
         o AS (SELECT v.event_type, count(*) AS n_outliers
               FROM v JOIN md USING (event_type)
               WHERE dev > 3*mad2 GROUP BY 1)
         SELECT m.event_type, med2/2 AS med_cents, mad2/2 AS mad_cents,
           n, coalesce(n_outliers, 0) AS n_outliers
         FROM m JOIN md USING (event_type)
         LEFT JOIN o USING (event_type) ORDER BY event_type""",
    "q21_percentiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
         round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
         round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q22_above_avg_customers" ->
      """SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
         FROM customer c
         WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                            WHERE c2.c_nationkey = c.c_nationkey)
         ORDER BY c_custkey""",
    "q23_pivot" ->
      """SELECT l_returnflag,
         coalesce(round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2), 0.0) AS qty_f,
         coalesce(round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2), 0.0) AS qty_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
}
