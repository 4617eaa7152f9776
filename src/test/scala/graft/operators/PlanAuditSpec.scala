package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Automated form of the per-round manual plan sweep: every gated query's
  * physical plan must be free of the two scale-killer join shapes. A
  * CartesianProduct anywhere is a bug outright; BroadcastNestedLoopJoin
  * is legal only for the documented broadcast-SCALAR cross joins (a
  * literal handful of rows replicated to every partition — d4's band ids,
  * s1's 5 probe vectors, s3's anchor cells, t5's n_docs scalar, and their
  * reuses). Any new query that sneaks in an undeclared nested-loop join
  * fails here before it ever reaches the bench. */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  /** Queries whose plan legitimately contains BroadcastNestedLoopJoin:
    * broadcast-scalar cross joins only (see Scaladoc at each site). */
  private val allowedBnlj = Set(
    "d4_simhash",        // fingerprint × 3 band ids (dedup/SimHash.bandedPairs)
    "s1_ann_bruteforce", // corpus × 5 broadcast probe vectors (deliberate baseline)
    "s3_ann_ivf",        // vectors × broadcast anchor cells
    "s7_ann_ivfpq",      // same broadcast anchor cross join (IVF leg, index build)
    "t5_tfidf",          // tf × broadcast n_docs scalar
    "g16_modularity",    // per-community frame × broadcast edge-count m scalar
    "s11_binary_rerank", // 2-long signatures × 5 broadcast query sigs (Hamming scan)
    "s12_index_recall",  // re-invokes s1 verbatim — inherits its declared cross join
    "s13_quant_recall",  // quantized corpus × 5 broadcast probes + the s1 baseline
    "t17_zipf",          // k-row top frame × broadcast total_tokens scalar
    "d22_tfidf_cosine",  // weight table × broadcast n_docs scalar (the t5 idf shape)
    "q60_key_skew",      // 10-row top frame × broadcast count-stats scalar
    "m6_phash_dedup",    // 8-byte hashes × 4 broadcast band ids (the d4 banding kernel)
    "q63_assoc_rules",   // rule frame × broadcast n_orders scalar (the q60 stats shape)
    "g25_component_sizes", // size histogram × broadcast vertex-total scalar
    "q65_pareto_suppliers", // supplier dim × broadcast revenue-total scalar
    "s18_cell_separation", // ≤12 top-cell medoids × their broadcast twin (P² bounded)
    "d27_cluster_sizes",   // size histogram × broadcast doc-total scalar (the g25 shape)
    "s19_ann_cost",        // 5-query frame × broadcast vector-total scalar
    "q70_quality_audit",   // 1-row check frame × broadcast orphan-count scalar
    "q74_deletion_cascade", // four 1-row count frames × broadcast count scalars
    "g29_locality_roundtrip", // 3-part stats frame × broadcast cut-total scalars
    "g29b_locality_invariants") // 1-row load stats × broadcast 1-row cut scalars

  test("no CartesianProduct in any gated plan; BNLJ only where documented") {
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val cart = if (plan.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
        val bnlj = if (plan.contains("BroadcastNestedLoopJoin") && !allowedBnlj(name))
          Seq(s"$name: undeclared BroadcastNestedLoopJoin") else Nil
        cart ++ bnlj
    }
    assert(offenders.isEmpty, s"scale-killer join shapes:\n${offenders.mkString("\n")}")
  }

  test("s6_ann_pq plan is Window-free (bounded top-k, not a per-query sort)") {
    val plan = graft.SparkEntry.queries("s6_ann_pq")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "s6 must rank with the bounded BottomK aggregate; a Window node " +
        "means a full per-query sort of every candidate crept back in")
  }

  /** Depth-first flatten that descends through AdaptiveSparkPlanExec
    * (a leaf node hiding its input plan from collect()). */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flatten(a.executedPlan)
    case other => other.children.flatMap(flatten)
  })

  test("g24_rich_club never windows over per-vertex rows") {
    // The returned frame derives its cutoffs from precomputed literals —
    // it must carry no Window at all.
    val finalPlan = graft.SparkEntry.queries("g24_rich_club")(spark, sf)
      .queryExecution.executedPlan
    assert(!flatten(finalPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "g24's output plan must not rank anything")
    // The cutoff-derivation frame may window, but only over the degree
    // HISTOGRAM (an aggregate of the vertex table): a Window whose
    // subtree has no aggregate below it is the single-task all-V sort
    // the r7 verdict flagged.
    val cutPlan = graft.operators.GraphQueries.g24CutoffFrame(spark, sf)
      .queryExecution.executedPlan
    val wins = flatten(cutPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty,
      "cutoffs should come from a cumulative-count Window over the histogram")
    wins.foreach { w =>
      val aggBelow = flatten(w.child).collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggBelow.nonEmpty,
        "every Window in the g24 cutoff frame must consume an aggregated " +
          "(distinct-degree histogram) input, never the raw per-vertex table")
    }
  }

  test("every unpartitioned Window in a gated plan consumes a bounded input") {
    // The r7/r8 audit class, made structural: a Window with an empty
    // partitionSpec moves ALL rows through one task, so it is legal
    // only over a frame already reduced to a bounded dimension — i.e.
    // with an aggregate or a limit/top-k somewhere below it (q64's day
    // frame, q65's supplier dim, q67's months, t17's top-k cut). A new
    // query that ranks a raw fact table globally fails here before it
    // ever reaches the bench.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{TakeOrderedAndProjectExec,
      GlobalLimitExec, LocalLimitExec, CollectLimitExec}
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan
        flatten(plan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }.filterNot { w =>
          flatten(w.child).exists {
            case _: BaseAggregateExec          => true
            case _: TakeOrderedAndProjectExec  => true
            case _: GlobalLimitExec            => true
            case _: LocalLimitExec             => true
            case _: CollectLimitExec           => true
            case _                             => false
          }
        }.map(_ => name)
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window over an unbounded input:\n${offenders.distinct.mkString("\n")}")
  }

  test("q36_hist_quantiles plan has no exact-percentile SortAggregate") {
    val plan = graft.SparkEntry.queries("q36_hist_quantiles")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("percentile"),
      "the gated q36 must emit only the histogram sketch; exact " +
        "percentile() buffers every value per group (proof lives in " +
        "SketchAndScaleSpec at spec SF)")
  }
}
