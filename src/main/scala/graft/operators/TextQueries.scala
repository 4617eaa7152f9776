package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Derived, Tables}
import graft.functions.Portable
import graft.graph.Materialize.MaterializeOps

/** Text-analysis operators over the `documents` table: token counting,
  * heuristic language ID, quality scoring, and rolling-hash document
  * fingerprinting — the text half of a training-data pipeline. Everything
  * is built from codegen'd built-ins (no UDFs) with a DuckDB-equivalent
  * oracle per query.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** BPE-ish tokenizer regex: letter runs, digit runs, single punctuation. */
  private val TokRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Stopword lists per language for the n-gram/stopword language
    * heuristic. Candidate langs checked in fixed alphabetical order so
    * ties resolve identically in both engines. */
  private val Stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "and", "of", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "un", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est"))

  private def stopwordCount(wordsCol: Column, sw: Seq[String]): Column =
    size(filter(wordsCol, w => w.isInCollection(sw)))

  /** Single-file scan fanned out before the per-row text crunching (see
    * DedupQueries.docs for the measured single-task pathology). */
  private def docs(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d).repartition(col("doc_id"))

  /** t1: token statistics — whitespace tokens, regex (BPE-ish) tokens,
    * distinct word count, character length. */
  def t1TokenStats(s: SparkSession, d: String): DataFrame = {
    val w = Portable.words(col("text"))
    docs(s, d).select(
      col("doc_id"),
      size(w).cast("long").as("n_ws_tokens"),
      regexp_count(col("text"), lit(TokRe)).cast("long").as("n_re_tokens"),
      size(array_distinct(w)).cast("long").as("n_distinct_words"),
      length(col("text")).cast("long").as("len_chars"))
      .orderBy("doc_id")
  }

  /** t2: stopword-profile language ID. Predicts the alphabetically-first
    * language with the maximal stopword count (0 everywhere → "und",
    * undetermined). */
  def t2LangId(s: SparkSession, d: String): DataFrame = {
    val w = Portable.words(col("text"))
    val scored = docs(s, d).select(
      (col("doc_id") +: col("lang").as("labeled_lang") +:
        Stopwords.map { case (l, sw) => stopwordCount(w, sw).as(s"s_$l") }): _*)
    val best = Stopwords.map { case (l, _) => col(s"s_$l") }
      .reduce((a, b) => greatest(a, b))
    // when-chain checks langs in alphabetical order: first maximal score wins,
    // mirroring the oracle's CASE chain exactly.
    val predOrdered = Stopwords.foldLeft(Option.empty[Column]) {
      case (None, (l, _)) => Some(when(col(s"s_$l") === best && best > 0, lit(l)))
      case (Some(c), (l, _)) => Some(c.when(col(s"s_$l") === best && best > 0, lit(l)))
    }.get.otherwise(lit("und"))
    scored.select(col("doc_id"), col("labeled_lang"), predOrdered.as("pred_lang"),
        (predOrdered === col("labeled_lang")).as("agree"))
      .orderBy("doc_id")
  }

  /** t20: language-ID confidence margin — the classifier-confidence face
    * of t2: beside the argmax prediction, the gap between the best and
    * second-best language scores. Confidence-thresholded filtering
    * ("keep only docs the classifier is sure about") is standard
    * curation practice; t2 gives the verdicts, this gives the number a
    * threshold is tuned against (t12 then evaluates the model). A doc is
    * `confident` when some profile matched at all AND the margin ≥ 2 —
    * ties and one-hit wins stay un-confident.
    *
    * Scale shape: zero-shuffle row-local projection (the t3/t16 class);
    * the n-language score sort is over a 4-element array per row. */
  def t20LangidMargin(s: SparkSession, d: String): DataFrame = {
    val w = Portable.words(col("text"))
    val scored = docs(s, d).select(
      (col("doc_id") +:
        Stopwords.map { case (l, sw) =>
          stopwordCount(w, sw).cast("long").as(s"s_$l") }): _*)
    val best = Stopwords.map { case (l, _) => col(s"s_$l") }
      .reduce((a, b) => greatest(a, b))
    val predOrdered = Stopwords.foldLeft(Option.empty[Column]) {
      case (None, (l, _)) => Some(when(col(s"s_$l") === best && best > 0, lit(l)))
      case (Some(c), (l, _)) => Some(c.when(col(s"s_$l") === best && best > 0, lit(l)))
    }.get.otherwise(lit("und"))
    val arr = array_sort(array(Stopwords.map { case (l, _) => col(s"s_$l") }: _*))
    val n = Stopwords.size
    scored.select(col("doc_id"), predOrdered.as("pred_lang"),
        element_at(arr, n).as("best_score"),
        element_at(arr, n - 1).as("second_score"))
      .withColumn("margin", col("best_score") - col("second_score"))
      .withColumn("confident", col("best_score") > 0 && col("margin") >= 2)
      .orderBy("doc_id")
  }

  /** t12: language-ID confusion matrix — t2's per-document predictions
    * aggregated into the (labeled, predicted) cell counts with per-label
    * recall: the eval-harness face every classifier-in-the-pipeline
    * needs (t2 reports rows, t12 reports the model). One extra
    * map-combinable aggregate over the t2 projection; recall is an
    * exact int/int double division. */
  def t12Confusion(s: SparkSession, d: String): DataFrame = {
    t2LangId(s, d)
      .groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("label_total",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("labeled_lang"))))
      .select(col("labeled_lang"), col("pred_lang"), col("n"),
        col("label_total"),
        (col("n").cast("double") / col("label_total").cast("double"))
          .as("frac_of_label"))
      .orderBy("labeled_lang", "pred_lang")
  }

  /** t3: quality scoring — length, punctuation density, stopword ratio,
    * mean token length; composite score in [0,1]-ish. */
  def t3Quality(s: SparkSession, d: String): DataFrame = {
    val w = Portable.words(col("text"))
    val nw = size(w).cast("double")
    val allSw = Stopwords.flatMap(_._2).distinct
    val swRatio = stopwordCount(w, allSw).cast("double") / nw
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,;:!?]", ""))).cast("double")
    val punctRatio = punct / length(col("text")).cast("double")
    val meanLen = (length(col("text")) - (nw - 1)) / nw // chars net of spaces
    val score =
      least(nw / lit(100.0), lit(1.0)) * lit(0.4) +
        least(swRatio * lit(5.0), lit(1.0)) * lit(0.3) +
        (lit(1.0) - least(punctRatio * lit(10.0), lit(1.0))) * lit(0.3)
    docs(s, d).select(
      col("doc_id"),
      size(w).cast("long").as("n_words"),
      round(swRatio, 6).as("stopword_ratio"),
      round(punctRatio, 6).as("punct_ratio"),
      round(meanLen, 6).as("mean_word_len"),
      round(score, 6).as("quality_score"))
      .orderBy("doc_id")
  }

  /** t4: rolling-hash document fingerprint (order-sensitive char fold) +
    * an order-insensitive variant (fold over sorted distinct word hashes). */
  def t4Fingerprint(s: SparkSession, d: String): DataFrame = {
    val wordHashes = sort_array(array_distinct(Portable.wordHashes(col("text"))))
    docs(s, d).select(
      col("doc_id"),
      Portable.charHash(col("text")).as("fp_rolling"),
      Portable.longFold(wordHashes).as("fp_bag"))
      .orderBy("doc_id")
  }

  /** t5: TF-IDF top-3 terms per document (terms = word hashes).
    *
    * The idf factor is the integer surrogate `(1e6 * N) DIV df` rather
    * than `ln(N/df)`: natural log is libm-dependent (Spark's
    * `java.lang.Math.log` vs DuckDB's C `log` can differ in the last
    * ulp), which would make the cross-engine hash gate flaky at rounding
    * boundaries; integer arithmetic is bit-identical everywhere and
    * preserves the tf-idf ordering (monotone in tf, anti-monotone in df).
    *
    * Scale shape: tf is a (doc, term) aggregate (map-side partial),
    * df a term aggregate over tf (already partitioned by term after the
    * tf shuffle), the doc count a broadcast scalar, ranking a per-doc
    * window — no step exceeds O(corpus tokens) shuffle. */
  def t5Tfidf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dd = docs(s, d)
    val tf = dd.select(col("doc_id"), explode(Portable.wordHashes(col("text"))).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("h").agg(count(lit(1)).as("df"))
    val nDocs = broadcast(dd.agg(count(lit(1)).as("n_docs")))
    val scored = tf.join(dfreq, "h").crossJoin(nDocs)
      .select(col("doc_id"), col("h"), col("tf"), col("df"),
        (col("tf") * expr("(1000000 * n_docs) DIV df")).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("h"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("h").as("term_hash"), col("tf"), col("df"),
        col("score"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  /** t6: deterministic text normalization / scrubbing — the
    * redact-before-training step of a data pipeline (here: digit runs →
    * a `<NUM>` placeholder; the same shape handles emails/URLs/IDs).
    * Pure regexp_replace + the portable rolling hash of the scrubbed
    * text, so the oracle verifies the *exact* scrubbed bytes, not just
    * counts. The patterns stay in the regex subset with identical
    * semantics in Java regex (Spark) and RE2 (DuckDB). */
  def t6Scrub(s: SparkSession, d: String): DataFrame = {
    val scrubbed = regexp_replace(col("text"), "[0-9]+", "<NUM>")
    docs(s, d).select(
      col("doc_id"),
      regexp_count(col("text"), lit("[0-9]+")).cast("long").as("n_num_runs"),
      length(scrubbed).cast("long").as("len_scrubbed"),
      Portable.charHash(scrubbed).as("scrub_hash"))
      .orderBy("doc_id")
  }

  /** t7 keep-thresholds (Gopher-style repetition gates, adapted to the
    * corpus so both outcomes occur). The comparisons run on the raw
    * double ratios (single IEEE divisions — bit-identical cross-engine);
    * only the REPORTED ratios are rounded. */
  private[operators] val MaxTopWordFrac = 0.12
  private[operators] val MaxTopBigramFrac = 0.05
  private[operators] val MaxDupWordFrac = 0.6

  /** The t7 repetition-gate verdict as a reusable Column over a text
    * column (shared with d8's corpus selection — same thresholds, same
    * kernel). */
  private[operators] def repetitionKeep(text: Column): Column = {
    val st = call_function("graft_rep_stats", text)
    val nw = element_at(st, 1)
    val topWordFrac = element_at(st, 2).cast("double") / nw
    val dupWordFrac = (nw - element_at(st, 3)).cast("double") / nw
    val topBigramFrac =
      element_at(st, 4).cast("double") / greatest(element_at(st, 5), lit(1L))
    topWordFrac <= MaxTopWordFrac && topBigramFrac <= MaxTopBigramFrac &&
      dupWordFrac <= MaxDupWordFrac
  }

  /** DuckDB twin of [[repetitionKeep]] given a docs relation aliased with
    * (doc_id, words): the t7 oracle's keep expression as a CTE fragment. */
  private[operators] def repetitionKeepSqlCtes(docsRel: String): String =
    s"""rk_wd AS (SELECT doc_id, string_split(text, ' ') AS words FROM $docsRel),
       |rk_aw AS (SELECT doc_id, max(c) AS topw, CAST(sum(c) AS BIGINT) AS nw,
       |    count(*) AS ndw
       |  FROM (SELECT doc_id, t, count(*) AS c FROM
       |    (SELECT doc_id, unnest(words) AS t FROM rk_wd) GROUP BY doc_id, t)
       |  GROUP BY doc_id),
       |rk_ab AS (SELECT doc_id, max(c) AS topb, CAST(sum(c) AS BIGINT) AS nb
       |  FROM (SELECT doc_id, t, count(*) AS c FROM
       |    (SELECT doc_id, unnest(list_transform(
       |       range(1, greatest(len(words)-1, 0)+1),
       |       i -> words[i] || ' ' || words[i+1])) AS t FROM rk_wd)
       |    GROUP BY doc_id, t)
       |  GROUP BY doc_id),
       |rk AS (SELECT rk_aw.doc_id,
       |    (CAST(topw AS DOUBLE)/nw <= $MaxTopWordFrac
       |     AND CAST(coalesce(topb, 0) AS DOUBLE)/greatest(nb, 1) <= $MaxTopBigramFrac
       |     AND CAST(nw - ndw AS DOUBLE)/nw <= $MaxDupWordFrac) AS keep
       |  FROM rk_aw LEFT JOIN rk_ab ON rk_aw.doc_id = rk_ab.doc_id)""".stripMargin

  /** t7: repetition-based quality filtering — the Gopher/C4 family of
    * "document is boilerplate/spam" gates: fraction of tokens taken by
    * the single most frequent word, by the most frequent bigram, and the
    * duplicate-word fraction (1 − distinct/total). Docs failing any gate
    * are dropped by a real pipeline; here every doc is reported with its
    * metrics + the keep verdict so the gate itself is oracle-checked.
    *
    * Scale shape: every metric is row-local, so the whole thing is one
    * native kernel projection (`graft_rep_stats`, codegen'd one-pass
    * word/bigram counting) — zero shuffles beyond the final sort. The
    * equivalent explode → (doc, term) aggregate pipeline shuffles
    * O(corpus tokens) for what each row answers alone (measured 4.9 s vs
    * ~0.6 s at sf0.1); the oracle keeps that relational form, so the gate
    * cross-checks the kernel against unnest + group-by semantics. */
  def t7Repetition(s: SparkSession, d: String): DataFrame = {
    val st = call_function("graft_rep_stats", col("text"))
    val base = docs(s, d).select(col("doc_id"),
      element_at(st, 1).as("nw"), element_at(st, 2).as("topw"),
      element_at(st, 3).as("ndw"), element_at(st, 4).as("topb"),
      element_at(st, 5).as("nb"))
    val topWordFrac = col("topw").cast("double") / col("nw")
    val dupWordFrac = (col("nw") - col("ndw")).cast("double") / col("nw")
    // one-word docs have no bigrams: count 0 over max(nb,1) → 0.0
    val topBigramFrac = col("topb").cast("double") / greatest(col("nb"), lit(1L))
    base.select(col("doc_id"),
        col("nw").as("n_words"),
        round(topWordFrac, 6).as("top_word_frac"),
        round(dupWordFrac, 6).as("dup_word_frac"),
        round(topBigramFrac, 6).as("top_bigram_frac"),
        (topWordFrac <= MaxTopWordFrac && topBigramFrac <= MaxTopBigramFrac &&
          dupWordFrac <= MaxDupWordFrac).as("keep"))
      .orderBy("doc_id")
  }

  /** Token budget per packed sequence for t8. */
  private val PackBudget = 512L

  /** t8: sequence packing — the pretraining step that concatenates docs
    * into fixed-token-budget training sequences. Greedy streaming layout:
    * docs in deterministic (doc_id) order, each starts at the running
    * token offset, and its sequence id is `start_offset DIV budget` (a
    * doc straddling the boundary belongs to the bin it starts in).
    *
    * Packing is PER SOURCE (window partitioned by `source`): a global
    * order-by-everything window is the classic driver-scale bottleneck —
    * sharded packing is what a 100 TB pipeline does (each shard packs
    * independently; sequence ids are (shard, bin)). */
  def t8Pack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // No docs() fan-out here: the window's own partition-by-source
    // Exchange provides the parallelism, and a preceding repartition
    // would just be a second full shuffle (seen in the plan audit).
    val dd = Tables.documents(s, d)
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = dd.select(col("doc_id"), col("source"),
        size(Portable.words(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
    withCum.select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"start_off DIV $PackBudget").as("seq_id"),
        (col("start_off") % PackBudget).as("offset_in_seq"))
      .orderBy("doc_id")
  }

  /** t9 split fractions (bucket ∈ [0,100): <90 train, <95 val, else test). */
  private[operators] val SplitTrainLt = 90L
  private[operators] val SplitValLt = 95L

  /** t9: deterministic train/val/test split — the assignment a pipeline
    * must make reproducibly, with no RNG state and no reshuffling when
    * the corpus regenerates. The bucket is a hash of the CONTENT, not the
    * doc id: byte-identical documents always land in the same split, so
    * an exact duplicate can never straddle train and test (the id-hash
    * variant leaks every unnoticed dup across the boundary — this is the
    * split-time complement of d1's dedup and d7's decontamination gates).
    * Row-local projection, zero shuffles beyond the output sort; the
    * portable rolling hash makes the oracle bit-exact. */
  /** The t9 split assignment (doc_id, split) without the gate ordering —
    * reused by d26's leakage audit. */
  private[operators] def splitAssignment(s: SparkSession, d: String): DataFrame = {
    val bucket = Portable.charHash(col("text")) % 100
    docs(s, d).select(col("doc_id"),
      when(bucket < SplitTrainLt, lit("train"))
        .when(bucket < SplitValLt, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  def t9Split(s: SparkSession, d: String): DataFrame = {
    val bucket = Portable.charHash(col("text")) % 100
    docs(s, d).select(
        col("doc_id"),
        bucket.as("bucket"),
        when(bucket < SplitTrainLt, lit("train"))
          .when(bucket < SplitValLt, lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy("doc_id")
  }

  /** Global top-k size for [[t10TopNgrams]]. */
  private val NgramTopK = 20

  /** Per-document bigram postings (doc_id, gram) materialized once per
    * sfDir — the explode + string materialization is the expensive part
    * of both t10 (global counts) and t13 (coverage scoring); the
    * derive-once rule (first caller pays) applies exactly as for the
    * dedup postings and the g-family pair tables. The text entries live
    * in [[Derived]] family `v1`: bump it when the bigram derivation
    * changes. */
  def gramPostingsMaterialized(s: SparkSession, d: String): DataFrame =
    Derived.parquet(s, d, "v1", "gram_postings") {
      val w = Portable.words(col("text"))
      val grams = when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1),
          i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
        .otherwise(array().cast("array<string>"))
      docs(s, d).select(col("doc_id"), explode(grams).as("gram"))
    }

  /** Global bigram counts (gram, cnt) beside the postings. */
  def gramCountsMaterialized(s: SparkSession, d: String): DataFrame =
    Derived.parquet(s, d, "v1", "gram_counts") {
      gramPostingsMaterialized(s, d).groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
    }

  /** t10: corpus-global top-k n-grams — the vocabulary-building /
    * corpus-statistics pass of a training pipeline (what BPE merge
    * selection and contamination-prone-phrase audits both start from).
    * Adjacent-word bigrams per document (a row-local transform over the
    * already-split word array — no second tokenizer pass), then a global
    * count. The plan is the scale-canonical two-level shape: map-side
    * partial counts combine before the single shuffle on the gram, and
    * the top-k is TakeOrderedAndProject — each partition forwards at most
    * k rows, no global sort ever materializes. At 100 TB the exact count
    * per surviving gram is still two map-combinable aggregates; only the
    * long tail would move to the q35 Count-Min front end. Deterministic
    * LIMIT rule: total order (cnt DESC, gram), re-ordered by gram
    * outside. */
  def t10TopNgrams(s: SparkSession, d: String): DataFrame =
    gramCountsMaterialized(s, d)
      .orderBy(col("cnt").desc, col("gram")).limit(NgramTopK)
      .orderBy("gram")

  /** t11: per-source corpus statistics — the run-ending ops rollup every
    * curation pipeline reports (docs, token/char volume, language
    * spread, mean doc length per source). One map-combinable aggregate
    * over the corpus; the mean is an exact int/int double division. */
  def t11SourceStats(s: SparkSession, d: String): DataFrame = {
    val w = Portable.words(col("text"))
    docs(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(w).cast("long")).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("total_chars"), col("n_langs"),
        (col("total_chars").cast("double") / col("n_docs").cast("double"))
          .as("mean_chars"))
      .orderBy("source")
  }

  /** t13: vocabulary coverage / OOV rate — t10's corpus-global top
    * bigrams applied back to every document as a broadcast vocabulary:
    * per doc, the fraction of its bigrams covered by the vocab (and the
    * OOV complement). The derived-artifact-reuse shape every tokenizer
    * pipeline runs (build vocab once, score coverage everywhere): the
    * vocab is top-k — broadcast-sized by construction — so scoring is a
    * map-side semi-join per exploded bigram; no corpus shuffle beyond
    * the per-doc re-aggregation on the line key it already has.
    * Coverage is an exact int/int double division. */
  def t13VocabCoverage(s: SparkSession, d: String): DataFrame = {
    val vocab = broadcast(t10TopNgrams(s, d).select(col("gram")))
    val perDoc = gramPostingsMaterialized(s, d)
      .join(vocab.withColumn("in_vocab", lit(1L)), Seq("gram"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_covered"))
    perDoc.select(col("doc_id"), col("n_grams"), col("n_covered"),
        (col("n_covered").cast("double") / col("n_grams").cast("double"))
          .as("coverage"))
      .orderBy("doc_id")
  }

  /** t16: readability scoring — Flesch reading-ease and Flesch–Kincaid
    * grade level per document, the third classic quality-filter signal
    * beside t3's ratio gates and t14's LM score (readability bands are a
    * standard curation dimension for instruction/edu corpora). Counts
    * are pure regex (letter runs = words, [.!?] = sentence ends, vowel
    * groups = the standard syllable proxy), and both formulas are
    * evaluated in exact integer milli-units with the t5 idf trick — each
    * `(k·a) DIV b` has positive operands so truncation is identical
    * cross-engine, and no float ever forms. One narrow projection over
    * the corpus, zero shuffles beyond the final sort — trivially
    * scan-parallel at any scale. */
  def t16Readability(s: SparkSession, d: String): DataFrame = {
    val nw = greatest(regexp_count(col("text"), lit("[A-Za-z]+")), lit(1)).cast("long")
    val ns = greatest(regexp_count(col("text"), lit("[.!?]")), lit(1)).cast("long")
    val sy = greatest(regexp_count(lower(col("text")), lit("[aeiouy]+")), lit(1)).cast("long")
    docs(s, d).select(
        col("doc_id"), nw.as("n_words"), ns.as("n_sentences"), sy.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        (lit(206835L) - expr("(1015 * n_words) DIV n_sentences")
          - expr("(84600 * n_syllables) DIV n_words")).as("flesch_milli"),
        (expr("(390 * n_words) DIV n_sentences")
          + expr("(11800 * n_syllables) DIV n_words") - lit(15590L))
          .as("fk_grade_milli"))
      .orderBy("doc_id")
  }

  /** Zipf table depth. */
  private val ZipfK = 100

  /** t17: Zipf rank-frequency table — the top-[[ZipfK]] words with
    * global rank, exact count, integer-ppm frequency and the rank×count
    * product (Zipf's law predicts it near-constant; a corpus whose curve
    * deviates hard is synthetic/spammy — a standard corpus-health
    * screen). Two map-combinable aggregates + TakeOrderedAndProject
    * top-k (the t10 shape over unigrams); the rank window runs on the
    * ALREADY-CUT k-row frame, never the vocabulary. */
  def t17Zipf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(s, d)
      .select(explode(Portable.words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = broadcast(counts.agg(sum(col("cnt")).as("total_tokens")))
    counts.orderBy(col("cnt").desc, col("word")).limit(ZipfK)
      .crossJoin(total)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("word"))).cast("long"))
      .select(col("rank"), col("word"), col("cnt"),
        expr("(1000000 * cnt) DIV total_tokens").as("freq_ppm"),
        (col("rank") * col("cnt")).as("rank_cnt"))
      .orderBy("rank")
  }

  /** t18: JSONL ingestion roundtrip — the wire format training corpora
    * actually arrive in. The documents table is written ONCE as
    * JSON-lines to the derive-once cache (escaping/encoding exercised on
    * real text), then read back with an EXPLICIT schema — never
    * `inferSchema`, which is a full extra pass over 100 TB before the
    * first real job — and reduced to per-source counts, an exact
    * char-hash sum and a char-count sum. The oracle computes the same
    * aggregates from the parquet truth, so the gate proves the JSON
    * sink+source is byte-lossless for every document: any mangled
    * escape, dropped row, or re-encoded character moves a hash sum.
    * Scale shape: the write is one narrow pass, the read is a parallel
    * line-splittable scan (JSONL's reason to exist), the aggregate is
    * map-combinable. */
  def t18JsonlIngest(s: SparkSession, d: String): DataFrame = {
    val out = Derived.entry(d, "jsonl_v1", "documents_jsonl", bill = "jsonl_sink") {
      Tables.documents(s, d).write.mode("overwrite").json(_)
    }
    s.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .json(out)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(Portable.charHash(col("text"))).as("hash_sum"),
        sum(col("n_chars")).as("chars_sum"))
      .orderBy("source")
  }

  val queries: Map[String, Q] = Map(
    "t18_jsonl_ingest" -> t18JsonlIngest,
    "t17_zipf" -> t17Zipf,
    "t19_vocab_growth" -> t19VocabGrowth,
    "t20_langid_margin" -> t20LangidMargin,
    "t16_readability" -> t16Readability,
    "t14_lm_score" -> t14LmScore,
    "t15_phrase_search" -> t15PhraseSearch,
    "t13_vocab_coverage" -> t13VocabCoverage,
    "t12_confusion" -> t12Confusion,
    "t11_source_stats" -> t11SourceStats,
    "t10_top_ngrams" -> t10TopNgrams,
    "t1_token_stats" -> t1TokenStats,
    "t2_langid" -> t2LangId,
    "t3_quality" -> t3Quality,
    "t4_fingerprint" -> t4Fingerprint,
    "t5_tfidf" -> t5Tfidf,
    "t6_scrub" -> t6Scrub,
    "t7_repetition" -> t7Repetition,
    "t8_pack" -> t8Pack,
    "t9_split" -> t9Split)

  // ---- DuckDB oracles ----

  /** t14: bigram language-model scoring — the statistical-LM quality
    * signal of a curation pipeline (the perplexity-filter shape of
    * CCNet/Gopher, with an integer surrogate): the corpus's own bigram
    * model P(w₂|w₁) = cnt(w₁w₂)/cnt(w₁·) scores every document, high
    * mean = typical phrasing, low mean = atypical/garbled. Exact integer
    * ppm per bigram (cnt₂·10⁶ div cnt₁ — a log-prob sum would be libm
    * and float-order dependent; the monotone ranking is what the filter
    * consumes). Model = two map-combinable aggregates over the SHARED
    * materialized gram postings/counts (t10/t13's build); scoring = one
    * gram-keyed sort-merge join postings ⋈ model — at 100 TB the model
    * is unique-grams-sized (Zipf-bounded), the corpus never moves twice.
    * Self-inclusion bias (every doc's bigrams are in its own model) is
    * uniform across docs and irrelevant to the ranking. */
  def t14LmScore(s: SparkSession, d: String): DataFrame = {
    val c2 = gramCountsMaterialized(s, d)
    val c1 = c2.groupBy(split(col("gram"), " ").getItem(0).as("w1"))
      .agg(sum(col("cnt")).as("cnt1"))
    val model = c2.select(col("gram"), col("cnt").as("cnt2"),
        split(col("gram"), " ").getItem(0).as("w1"))
      .join(c1, "w1")
      .selectExpr("gram", "(cnt2 * 1000000L) div cnt1 AS ppm")
    gramPostingsMaterialized(s, d).join(model, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("sum_ppm"))
      .selectExpr("doc_id", "n_bigrams", "sum_ppm",
        "sum_ppm div n_bigrams AS mean_ppm")
      .orderBy("doc_id")
  }

  /** t15 phrase (chosen to occur at every test sf). */
  private val PhraseW1 = "table"
  private val PhraseW2 = "scan"

  /** t15: positional phrase search — the inverted-index-with-positions
    * retrieval primitive (exact-match search over the corpus, the
    * "find every doc containing this exact phrase" auditing/dedup-debug
    * query). Postings (doc_id, pos, word) for the phrase words only;
    * a match is the equi-join p₁ ⋈ p₂ on (doc, pos+1) — candidate
    * volume is bounded by the phrase words' posting lists, never the
    * corpus. The substring `contains` prefilters are pushed into the
    * parquet scan (sound superset: a token match is always a substring
    * match); the positional join is the exact verify. At 100 TB the
    * postings are the materialized artifact, partitioned by word — the
    * query touches |postings(w₁)| + |postings(w₂)| rows total. */
  def t15PhraseSearch(s: SparkSession, d: String): DataFrame = {
    val w = Portable.words(col("text"))
    val postings = docs(s, d)
      .where(col("text").contains(PhraseW1) && col("text").contains(PhraseW2))
      .select(col("doc_id"), posexplode(w).as(Seq("pos", "word")))
      .where(col("word").isin(PhraseW1, PhraseW2))
      .materialize()
    val p1 = postings.where(col("word") === PhraseW1)
      .select(col("doc_id"), col("pos"))
    val p2 = postings.where(col("word") === PhraseW2)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    p1.join(p2, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        (min(col("pos")) + 1).cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  /** t19: lexical-diversity / vocabulary-growth stats per source — the
    * Heaps'-law corpus-health screen beside t11's volume stats and t17's
    * Zipf table: token volume, distinct-word (type) count, hapax
    * legomena (words seen exactly once — the vocabulary's growth edge),
    * type-token ratio and hapax share in exact ppm. A source whose TTR
    * or hapax share collapses versus its peers is template/boilerplate-
    * heavy; one whose hapax share explodes is noisy/garbled — both are
    * curation signals before any model sees the data.
    *
    * Scale shape: one (source, word) hash aggregate — map-combinable,
    * the t10 gram-count shape, shuffling unique (source, word) pairs
    * only — then a per-source rollup of counters; never a distinct over
    * raw tokens, no window. */
  def t19VocabGrowth(s: SparkSession, d: String): DataFrame = {
    val wc = docs(s, d)
      .select(col("source"), explode(Portable.words(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("cnt"))
    val stats = wc.groupBy(col("source")).agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
    // LEFT join + zero-guarded denominators (greatest(x, 1), the q65
    // pre-scaled-denominator convention): a source whose documents all
    // tokenize to zero words still gets its report row (n_docs with
    // zero counters) instead of vanishing — or erroring under ANSI
    // divide-by-zero (ADVICE r7).
    docs(s, d).groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(stats, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        expr("(1000000 * n_types) DIV greatest(n_tokens, 1)").as("ttr_ppm"),
        expr("(1000000 * n_hapax) DIV greatest(n_types, 1)").as("hapax_ppm"))
      .orderBy("source")
  }

  /** The t3 quality score as an oracle CTE fragment defining `qs`
    * (doc_id, q) — reused verbatim by d28's quality-aware canonical
    * selection so both gates rank by the SAME rounded score. */
  private[operators] def qualityCte: String = {
    val allSw = Stopwords.flatMap(_._2).distinct
    s"""qm AS (SELECT doc_id,
       |  CAST(len($sqlWords) AS DOUBLE) AS nw,
       |  CAST(${sqlStopCount(allSw)} AS DOUBLE) AS nsw,
       |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
       |  CAST(length(text) AS DOUBLE) AS nc
       |  FROM documents),
       |qs AS (SELECT doc_id,
       |  round(least(nw/100.0, 1.0)*0.4 + least(nsw/nw*5.0, 1.0)*0.3
       |        + (1.0 - least(np/nc*10.0, 1.0))*0.3, 6) AS q FROM qm)""".stripMargin
  }

  private val sqlWords = "string_split(text, ' ')"

  private def sqlStopCount(sw: Seq[String]): String =
    s"len(list_filter($sqlWords, w -> w IN (${sw.map(x => s"'$x'").mkString(",")})))"

  /** DuckDB twin of [[Portable.charHash]]. */
  private def sqlCharHash(expr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($expr, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (a, b) -> (a*31 + b) % ${Portable.P})""".stripMargin

  val oracle: Map[String, String] = Map(
    "t18_jsonl_ingest" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(${sqlCharHash("text")}) AS BIGINT) AS hash_sum,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "t19_vocab_growth" ->
      s"""WITH w AS (SELECT source, unnest($sqlWords) AS word FROM documents),
         |wc AS (SELECT source, word, count(*) AS cnt FROM w GROUP BY 1, 2),
         |st AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |    count(*) AS n_types,
         |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_hapax
         |  FROM wc GROUP BY source),
         |nd AS (SELECT source, count(*) AS n_docs FROM documents
         |  GROUP BY source)
         |SELECT nd.source, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(n_types, 0) AS BIGINT) AS n_types,
         |  CAST(coalesce(n_hapax, 0) AS BIGINT) AS n_hapax,
         |  (1000000 * CAST(coalesce(n_types, 0) AS BIGINT))
         |    // greatest(coalesce(n_tokens, 1), 1) AS ttr_ppm,
         |  (1000000 * CAST(coalesce(n_hapax, 0) AS BIGINT))
         |    // greatest(CAST(coalesce(n_types, 1) AS BIGINT), 1) AS hapax_ppm
         |FROM nd LEFT JOIN st ON nd.source = st.source
         |ORDER BY nd.source""".stripMargin,
    "t17_zipf" ->
      s"""WITH w AS (SELECT unnest($sqlWords) AS word FROM documents),
         |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM c),
         |r AS (SELECT word, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, word) AS rank FROM c)
         |SELECT CAST(rank AS BIGINT) AS rank, word, CAST(cnt AS BIGINT) AS cnt,
         |  (1000000 * CAST(cnt AS BIGINT)) // total_tokens AS freq_ppm,
         |  CAST(rank * cnt AS BIGINT) AS rank_cnt
         |FROM r, tot WHERE rank <= 100 ORDER BY rank""".stripMargin,
    "t16_readability" ->
      """WITH c AS (SELECT doc_id,
        |    greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1) AS nw,
        |    greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS ns,
        |    greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS sy
        |  FROM documents)
        |SELECT doc_id, nw AS n_words, ns AS n_sentences, sy AS n_syllables,
        |  206835 - (1015 * nw) // ns - (84600 * sy) // nw AS flesch_milli,
        |  (390 * nw) // ns + (11800 * sy) // nw - 15590 AS fk_grade_milli
        |FROM c ORDER BY doc_id""".stripMargin,
    "t14_lm_score" ->
      s"""WITH g AS (SELECT doc_id, unnest(list_transform(
         |    range(greatest(len($sqlWords) - 1, 0)),
         |    i -> $sqlWords[i+1] || ' ' || $sqlWords[i+2])) AS gram
         |  FROM documents),
         |c2 AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt2 FROM g GROUP BY gram),
         |c1 AS (SELECT split_part(gram, ' ', 1) AS w1,
         |    CAST(sum(cnt2) AS BIGINT) AS cnt1 FROM c2 GROUP BY 1),
         |mdl AS (SELECT gram, CAST(cnt2 * 1000000 AS BIGINT) // cnt1 AS ppm
         |  FROM c2 JOIN c1 ON split_part(c2.gram, ' ', 1) = c1.w1),
         |p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(ppm) AS BIGINT) AS sum_ppm
         |  FROM g JOIN mdl USING (gram) GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, sum_ppm, sum_ppm // n_bigrams AS mean_ppm
         |FROM p ORDER BY doc_id""".stripMargin,
    "t15_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, $sqlWords AS words FROM documents),
         |p AS (SELECT doc_id, unnest(words) AS word,
         |    generate_subscripts(words, 1) AS pos FROM t),
         |m AS (SELECT a.doc_id, a.pos FROM p a
         |  JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         |  WHERE a.word = '$PhraseW1' AND b.word = '$PhraseW2')
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         |  CAST(min(pos) AS BIGINT) AS first_pos
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t13_vocab_coverage" ->
      s"""WITH g AS (SELECT doc_id, unnest(list_transform(
         |    range(greatest(len($sqlWords) - 1, 0)),
         |    i -> $sqlWords[i+1] || ' ' || $sqlWords[i+2])) AS gram
         |  FROM documents),
         |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gram),
         |t AS (SELECT gram FROM (SELECT * FROM c
         |  ORDER BY cnt DESC, gram LIMIT $NgramTopK)),
         |p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_covered
         |  FROM g LEFT JOIN t ON g.gram = t.gram GROUP BY doc_id)
         |SELECT doc_id, n_grams, n_covered,
         |  CAST(n_covered AS DOUBLE) / CAST(n_grams AS DOUBLE) AS coverage
         |FROM p ORDER BY doc_id""".stripMargin,
    "t12_confusion" -> {
      val scores = Stopwords.map { case (l, sw) => s"${sqlStopCount(sw)} AS s_$l" }
      val best = s"greatest(${Stopwords.map { case (l, _) => s"s_$l" }.mkString(", ")})"
      val chain = Stopwords.map { case (l, _) =>
        s"WHEN s_$l = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH scored AS (SELECT doc_id, lang AS labeled_lang,
         |    ${scores.mkString(", ")} FROM documents),
         |b AS (SELECT *, $best AS best FROM scored),
         |p AS (SELECT labeled_lang,
         |    CASE $chain ELSE 'und' END AS pred_lang FROM b),
         |c AS (SELECT labeled_lang, pred_lang,
         |    CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
         |c2 AS (SELECT *, CAST(sum(n) OVER (PARTITION BY labeled_lang)
         |    AS BIGINT) AS label_total FROM c)
         |SELECT labeled_lang, pred_lang, n, label_total,
         |  CAST(n AS DOUBLE) / CAST(label_total AS DOUBLE) AS frac_of_label
         |FROM c2 ORDER BY labeled_lang, pred_lang""".stripMargin
    },
    "t11_source_stats" ->
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len($sqlWords)) AS BIGINT) AS total_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(length(text)) AS DOUBLE) / count(*) AS mean_chars
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "t10_top_ngrams" ->
      s"""WITH g AS (SELECT unnest(list_transform(
         |    range(greatest(len($sqlWords) - 1, 0)),
         |    i -> $sqlWords[i+1] || ' ' || $sqlWords[i+2])) AS gram
         |  FROM documents),
         |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gram),
         |t AS (SELECT * FROM c ORDER BY cnt DESC, gram LIMIT $NgramTopK)
         |SELECT gram, cnt FROM t ORDER BY gram""".stripMargin,
    "t1_token_stats" ->
      s"""SELECT doc_id,
         |  len($sqlWords) AS n_ws_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_re_tokens,
         |  len(list_distinct($sqlWords)) AS n_distinct_words,
         |  length(text) AS len_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_langid" -> {
      val scores = Stopwords.map { case (l, sw) => s"${sqlStopCount(sw)} AS s_$l" }
      val best = s"greatest(${Stopwords.map { case (l, _) => s"s_$l" }.mkString(", ")})"
      val chain = Stopwords.map { case (l, _) =>
        s"WHEN s_$l = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH scored AS (SELECT doc_id, lang AS labeled_lang, ${scores.mkString(", ")} FROM documents),
         |b AS (SELECT *, $best AS best FROM scored)
         |SELECT doc_id, labeled_lang,
         |  CASE $chain ELSE 'und' END AS pred_lang,
         |  (CASE $chain ELSE 'und' END) = labeled_lang AS agree
         |FROM b ORDER BY doc_id""".stripMargin
    },
    "t20_langid_margin" -> {
      val scores = Stopwords.map { case (l, sw) => s"${sqlStopCount(sw)} AS s_$l" }
      val best = s"greatest(${Stopwords.map { case (l, _) => s"s_$l" }.mkString(", ")})"
      val chain = Stopwords.map { case (l, _) =>
        s"WHEN s_$l = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      val arr = Stopwords.map { case (l, _) => s"CAST(s_$l AS BIGINT)" }
        .mkString("list_sort([", ", ", "])")
      val n = Stopwords.size
      s"""WITH scored AS (SELECT doc_id, ${scores.mkString(", ")} FROM documents),
         |b AS (SELECT *, $best AS best, $arr AS arr FROM scored)
         |SELECT doc_id,
         |  CASE $chain ELSE 'und' END AS pred_lang,
         |  arr[$n] AS best_score, arr[${n - 1}] AS second_score,
         |  arr[$n] - arr[${n - 1}] AS margin,
         |  best > 0 AND arr[$n] - arr[${n - 1}] >= 2 AS confident
         |FROM b ORDER BY doc_id""".stripMargin
    },
    "t3_quality" -> {
      val allSw = Stopwords.flatMap(_._2).distinct
      s"""WITH m AS (SELECT doc_id,
         |  CAST(len($sqlWords) AS DOUBLE) AS nw,
         |  CAST(${sqlStopCount(allSw)} AS DOUBLE) AS nsw,
         |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS np,
         |  CAST(length(text) AS DOUBLE) AS nc
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(nw AS BIGINT) AS n_words,
         |  round(nsw/nw, 6) AS stopword_ratio,
         |  round(np/nc, 6) AS punct_ratio,
         |  round((nc - (nw - 1))/nw, 6) AS mean_word_len,
         |  round(least(nw/100.0, 1.0)*0.4 + least(nsw/nw*5.0, 1.0)*0.3
         |        + (1.0 - least(np/nc*10.0, 1.0))*0.3, 6) AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "t4_fingerprint" ->
      s"""SELECT doc_id,
         |  ${sqlCharHash("text")} AS fp_rolling,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_sort(list_distinct(list_transform($sqlWords, w -> ${sqlCharHash("w")})))),
         |    (a, b) -> (a*31 + b) % ${Portable.P}) AS fp_bag
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t6_scrub" ->
      s"""WITH sc AS (SELECT doc_id, text,
         |    regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS scrubbed
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '[0-9]+')) AS n_num_runs,
         |  length(scrubbed) AS len_scrubbed,
         |  ${sqlCharHash("scrubbed")} AS scrub_hash
         |FROM sc ORDER BY doc_id""".stripMargin,
    "t7_repetition" ->
      s"""WITH wd AS (SELECT doc_id, $sqlWords AS words FROM documents),
         |uw AS (SELECT doc_id, unnest(words) AS t FROM wd),
         |aw AS (SELECT doc_id, max(c) AS topw, CAST(sum(c) AS BIGINT) AS nw,
         |    count(*) AS ndw
         |  FROM (SELECT doc_id, t, count(*) AS c FROM uw GROUP BY doc_id, t)
         |  GROUP BY doc_id),
         |ub AS (SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(words)-1, 0)+1),
         |    i -> words[i] || ' ' || words[i+1])) AS t FROM wd),
         |ab AS (SELECT doc_id, max(c) AS topb, CAST(sum(c) AS BIGINT) AS nb
         |  FROM (SELECT doc_id, t, count(*) AS c FROM ub GROUP BY doc_id, t)
         |  GROUP BY doc_id),
         |m AS (SELECT aw.doc_id, nw, ndw,
         |    CAST(topw AS DOUBLE)/nw AS twf,
         |    CAST(nw - ndw AS DOUBLE)/nw AS dwf,
         |    CAST(coalesce(topb, 0) AS DOUBLE)/greatest(nb, 1) AS tbf
         |  FROM aw LEFT JOIN ab ON aw.doc_id = ab.doc_id)
         |SELECT doc_id, nw AS n_words,
         |  round(twf, 6) AS top_word_frac,
         |  round(dwf, 6) AS dup_word_frac,
         |  round(tbf, 6) AS top_bigram_frac,
         |  (twf <= $MaxTopWordFrac AND tbf <= $MaxTopBigramFrac
         |    AND dwf <= $MaxDupWordFrac) AS keep
         |FROM m ORDER BY doc_id""".stripMargin,
    "t8_pack" ->
      s"""WITH c AS (SELECT doc_id, source,
         |    CAST(len($sqlWords) AS BIGINT) AS n_tokens,
         |    CAST(sum(len($sqlWords)) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      - len($sqlWords) AS start_off
         |  FROM documents)
         |SELECT doc_id, source, n_tokens,
         |  start_off // $PackBudget AS seq_id,
         |  start_off % $PackBudget AS offset_in_seq
         |FROM c ORDER BY doc_id""".stripMargin,
    "t9_split" ->
      s"""WITH b AS (SELECT doc_id, ${sqlCharHash("text")} % 100 AS bucket
         |  FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < $SplitTrainLt THEN 'train'
         |       WHEN bucket < $SplitValLt THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    "t5_tfidf" ->
      s"""WITH wh AS (SELECT doc_id,
         |    unnest(list_transform($sqlWords, w -> ${sqlCharHash("w")})) AS h
         |  FROM documents),
         |tf AS (SELECT doc_id, h, count(*) AS tf FROM wh GROUP BY doc_id, h),
         |dfreq AS (SELECT h, count(*) AS df FROM tf GROUP BY h),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT tf.doc_id, tf.h, tf.tf, dfreq.df,
         |    tf.tf * ((1000000 * (SELECT n_docs FROM n)) // dfreq.df) AS score
         |  FROM tf JOIN dfreq USING (h)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, h) AS rank FROM sc)
         |SELECT doc_id, h AS term_hash, tf, df, score, rank
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)
}
