package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Derived, Tables}
import graft.dedup.{MinHashLsh, SimHash}
import graft.functions.Portable
import graft.graph.{ConnectedComponentsProgram, GmrRunner, Materialize, PropertyGraph}
import graft.graph.Materialize.MaterializeOps

/** Deduplication operator surface over the `documents` and `embeddings`
  * tables: exact hash, n-gram jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup — the dedup toolbox of a training-data
  * pipeline (each also usable as a library via graft.dedup).
  *
  * Every oracle replicates the *full pipeline* (including LSH banding),
  * not just the intended answer — so the hash-match gate is exact and not
  * recall-dependent.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  private val cfg = MinHashLsh.Config(shingleWords = 3, numPerms = 32,
    bands = 8, threshold = 0.6)

  /** Documents with the scan fanned out: the testdata is one parquet file
    * (one FileScan partition), and the shingle/word hashing downstream is
    * the expensive part — without the repartition it all runs in a single
    * task (measured: 1000+ s of one-core time at sf0.1). At real scale the
    * scan has many splits and this is a near-no-op safety net. */
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id").as("id"), col("lang"), col("text"))
      .repartition(col("id"))

  /** d1: exact duplicate groups by SHA-256 of the raw text. */
  def d1Exact(s: SparkSession, d: String): DataFrame = {
    val h = docs(s, d).select(col("id"), sha2(col("text"), 256).as("text_sha"))
    val canon = h.groupBy("text_sha").agg(min(col("id")).as("canonical_id"))
    h.join(canon, "text_sha")
      .select(col("id").as("doc_id"), col("text_sha"), col("canonical_id"),
        (col("id") =!= col("canonical_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Document-frequency cap for d2's inverted index: a shingle appearing
    * in more docs than this is dropped from candidate generation. k docs
    * sharing a shingle produce k² candidate pairs in ONE join key group —
    * boilerplate/license-header shingles (endemic in web-scale training
    * data) are exactly such keys, and a single 1M-doc shingle would emit
    * 10¹² pairs into one reducer. The cap bounds per-key expansion at
    * DfCap²; pairs whose every common shingle is capped are recovered by
    * d2's bounded hot-dominated-doc pass (see [[d2NgramJaccard]]). The
    * oracle replicates cap and recovery, so the gate stays exact. */
  private val DfCap = 64L


  /** The exploded shingle postings (id, lang, h) materialized to parquet
    * once per sfDir — d2 and d14 both start here (same derive-once rule
    * as the g-family's pair/degree tables: first caller pays, the rest
    * read a scan-only plan; no in-memory cache outlives a query, the
    * parquet does). The dedup entries live in
    * [[Derived]] family `v1`: bump it when the shingling or the d2 pair
    * statistics change. */
  def postingsMaterialized(s: SparkSession, d: String): DataFrame =
    Derived.parquet(s, d, "v1", "dedup_postings") {
      docs(s, d).select(col("id"), col("lang"),
          Portable.shingleHashes(col("text"), cfg.shingleWords).as("sh"))
        .where(size(col("sh")) > 0)
        .select(col("id"), col("lang"), explode(col("sh")).as("h"))
    }

  /** The capped-index pair statistics both near-dup queries consume:
    * `sizes` (id, ntot, nhot — full vs df-capped shingle counts per doc),
    * `pairs` (doc_a, doc_b, c — same-lang pair co-occurrence counts
    * over the capped index, the expensive bounded self-join), and the
    * `hot` shingle list (df > cap — the recovery passes' anchor, small by
    * construction). Built once per sfDir from [[postingsMaterialized]];
    * d2 layers its jaccard bound + hot-recovery on top, d14 its
    * containment prefilter — the self-join itself never re-runs. */
  def pairStatsMaterialized(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    // One build writes all three tables, guarded on the pairs entry
    // (written last).
    val szsPath = Derived.path(d, "v1", "dedup_sizes")
    val hotPath = Derived.path(d, "v1", "dedup_hot")
    val prPath = Derived.entry(d, "v1", "dedup_pairs") { path => Materialize.scoped { cache =>
      val ex = cache(postingsMaterialized(s, d))
      val dfc = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      dfc.where(col("df") > DfCap).select("h")
        .write.mode("overwrite").parquet(hotPath)
      val hot = broadcast(s.read.parquet(hotPath))
      val cex = cache(ex.join(hot, Seq("h"), "left_anti"))
      ex.groupBy(col("id")).agg(count(lit(1)).as("ntot"))
        .join(cex.groupBy(col("id")).agg(count(lit(1)).as("nkept")), Seq("id"), "left_outer")
        .select(col("id"), col("ntot"),
          (col("ntot") - coalesce(col("nkept"), lit(0L))).as("nhot"))
        .write.mode("overwrite").parquet(szsPath)
      val a = cex.as("a"); val b = cex.as("b")
      a.join(b, col("a.h") === col("b.h") && col("a.lang") === col("b.lang") &&
          col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
        .agg(count(lit(1)).as("c"))
        .write.mode("overwrite").parquet(path)
    } }
    (s.read.parquet(szsPath), s.read.parquet(prPath), s.read.parquet(hotPath))
  }

  /** d2: n-gram (3-word shingle) jaccard near-dup pairs — df-capped
    * candidate generation, a bounded recovery pass for hot-only overlap,
    * and an exact FULL-universe jaccard verify; blocked by language.
    *
    * Candidate generation is the inverted index with shingles of
    * document frequency > [[DfCap]] dropped (the boilerplate filter): df
    * is a map-combinable count — hot keys never materialize a posting
    * list — and the self-join on the remaining shingle hash has per-key
    * pair expansion bounded at DfCap². That alone would make a pair
    * whose EVERY common shingle is hot invisible (round-2's documented
    * trade). The recovery pass closes that class: a full-universe
    * jaccard ≥ t with no uncapped common shingle forces BOTH docs to be
    * ≥ t hot-shingled (|A∩B| ⊆ hot and |A∩B| ≥ t·|A| pigeonholes), so
    * candidates are re-generated from hot postings restricted to
    * hot-dominated docs (2·kept ≤ total), re-capped at DfCap within that
    * restricted posting set. The residual invisible class — pairs whose
    * every common shingle is hot even among hot-dominated docs — is
    * pathological boilerplate-of-boilerplate, and d3's MinHash path
    * (which samples the full universe uniformly) still covers it.
    *
    * Candidates are prefiltered with a SOUND integer bound before any
    * array ever ships: with c = capped common count and per-doc full /
    * hot shingle counts (ntot, nhot), full-universe common ≤ c +
    * min(nhotA, nhotB) and union ≥ ntotA + ntotB − that, so
    * `3·(c + min(nhot)) ≥ ntotA + ntotB` is implied by j_full ≥ 0.5 —
    * pairs failing it are discarded on counts alone (at sf0.1 this cuts
    * the verify set from ~290k shingle-sharing pairs to ~10²). Survivors
    * (and every recovery candidate) are then verified with the exact
    * jaccard over the FULL shingle sets (array intersect — the d3 verify
    * shape, O(pairs·|set|)), so the reported jaccard is the true
    * full-universe value, not the capped-universe surrogate. Only narrow
    * (id, lang, h) rows shuffle in candidate generation; arrays ship
    * only for bound-surviving candidates. */
  def d2NgramJaccard(s: SparkSession, d: String): DataFrame = {
    // Postings re-read from the shared materialization (the recovery
    // pass still walks them); the capped self-join and per-doc sizes
    // come from pairStatsMaterialized. The full shingle ARRAYS are never
    // cached: the exact verify re-hashes only the candidate docs (a tiny
    // broadcast semi-join against the raw table).
    val ex = postingsMaterialized(s, d)
    val (szs, common, hotList) = pairStatsMaterialized(s, d)
    val hot = broadcast(hotList)
    val scored = common
      .join(broadcast(szs.select(col("id").as("doc_a"), col("ntot").as("ta"), col("nhot").as("ha"))), "doc_a")
      .join(broadcast(szs.select(col("id").as("doc_b"), col("ntot").as("tb"), col("nhot").as("hb"))), "doc_b")
      .where(lit(3) * (col("c") + least(col("ha"), col("hb"))) >= col("ta") + col("tb"))
    // When either doc lost nothing to the cap, the capped common count
    // IS the full common count (common hot shingles would need to be hot
    // in BOTH) — jaccard closes in integer form, no arrays:
    val closed = scored.where(least(col("ha"), col("hb")) === 0)
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("ta") + col("tb") - col("c")).cast("double")).as("j"))
    val cand1 = scored.where(least(col("ha"), col("hb")) > 0)
      .select("doc_a", "doc_b")
    // Recovery: hot-dominated docs (at least half the shingles capped
    // away), hot postings restricted to them, re-capped within the
    // restriction so per-key expansion stays ≤ DfCap².
    val hdocs = broadcast(szs.where(col("nhot") * 2 >= col("ntot")).select("id"))
    val hx = ex.join(hot, Seq("h")).join(hdocs, Seq("id"))
    val hkeep = hx.groupBy(col("h")).agg(count(lit(1)).as("dfh"))
      .where(col("dfh") <= DfCap).select("h")
    val hxk = hx.join(hkeep, Seq("h"))
    val ha2 = hxk.as("ha"); val hb2 = hxk.as("hb")
    val cand2 = ha2.join(hb2, col("ha.h") === col("hb.h") && col("ha.lang") === col("hb.lang") &&
        col("ha.id") < col("hb.id"))
      .select(col("ha.id").as("doc_a"), col("hb.id").as("doc_b")).distinct()
    // Exact full-universe verify on the bound survivors + recovery
    // pairs: re-hash ONLY the candidate docs (broadcast semi-join on the
    // raw table — the corpus is never re-hashed wholesale).
    val cand = cand1.union(cand2).distinct().materialize()
    val candIds = cand.select(col("doc_a").as("id"))
      .union(cand.select(col("doc_b").as("id"))).distinct()
    // Raw table WITHOUT the docs() repartition: that repartition is a
    // full shuffle of the text corpus — pointless here, where the
    // broadcast semi-join keeps ~|cand| docs before any hashing.
    val vsets = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("text"))
      .join(broadcast(candIds), Seq("id"))
      .select(col("id"), Portable.shingleHashes(col("text"), cfg.shingleWords).as("sh"))
      .materialize()
    val c = size(array_intersect(col("sha"), col("shb")))
    val j = c.cast("double") / (size(col("sha")) + size(col("shb")) - c).cast("double")
    val verified = broadcast(cand)
      .join(vsets.select(col("id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(vsets.select(col("id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), j.as("j"))
    closed.union(verified)
      .where(col("j") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** [[MinHashLsh.nearDuplicates]] over the documents table,
    * materialized once per sfDir (the graph family's derive-once
    * pattern, GraphQueries.partPairsMaterialized): d3 gates the pairs
    * and d6 builds its duplicate-cluster graph from the very same list —
    * without the materialization d6 re-runs the whole
    * shingle→minhash→band→verify pipeline. First caller pays the
    * derivation; bump the `lsh_v1` family when cfg changes. */
  def lshPairsMaterialized(s: SparkSession, d: String): DataFrame =
    Derived.parquet(s, d, "lsh_v1", "pairs", bill = "lsh_pairs") {
      MinHashLsh.nearDuplicates(docs(s, d), cfg)
    }

  /** d3: MinHash+LSH near-dup pairs (banded candidate generation +
    * exact-jaccard verification — see [[graft.dedup.MinHashLsh]]). */
  def d3MinhashLsh(s: SparkSession, d: String): DataFrame =
    lshPairsMaterialized(s, d)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** Band/hamming parameters for d4: 5 bands × 12 bits over the 60-bit
    * fingerprint, hamming ≤ 4 (r10; was 3 × 10 / ≤ 2 over 30 bits — the
    * threshold re-derivation is proportional, 2/30 → 4/60, the same
    * per-bit noise fraction; see [[graft.dedup.SimHash]] for the floor
    * math). maxHamming
    * ≤ bands-1 is what makes the banding lossless (pigeonhole: ≤4
    * flipped bits can dirty at most 4 of the 5 slices). The wider
    * slices also SHRINK the candidate volume: chance band collisions
    * are bands × N²/2^sliceBits — 5/4096 per pair vs the old 3/1024. */
  private val SimBands = 5
  private val SimMaxHamming = 4

  /** d4: SimHash fingerprint pairs with hamming ≤ [[SimMaxHamming]], via
    * banded candidate generation ([[SimHash.bandedPairs]]): candidates =
    * docs sharing any 12-bit fingerprint slice, an equi-join on
    * (band, slice) — no blocking column, no per-block all-pairs. The
    * pigeonhole guarantee makes the banded result provably EQUAL to the
    * all-pairs ground truth, so the oracle runs plain all-pairs SQL and
    * the gate proves the recall guarantee, not just replicates it. */
  /** Shared by d4 (pair list) and d18 (cluster collapse). */
  /** SimHash banded pair list materialized once per sfDir (the
    * derive-once rule, [[lshPairsMaterialized]]'s twin): d4 gates the
    * pair list and d18 collapses the very same list to clusters —
    * without the materialization each re-pays the fingerprint kernel +
    * banded self-join (~2.3 s at sf0.1). First caller pays; bump the
    * `sim_v2` family when the fingerprint/banding parameters change
    * (v2: 60-bit composed fingerprint, 5×12 bands, h ≤ 4). */
  private def simhashPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Derived.entry(d, "sim_v2", "pairs", bill = "sim_pairs") { path =>
      // the fingerprints are a parquet scan, so both self-join sides read
      // the materialized kernel output, never the kernel itself
      SimHash.bandedPairs(simhashFingerprints(s, d), bands = SimBands,
          maxHamming = SimMaxHamming)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
        .write.mode("overwrite").parquet(path)
    })

  /** The per-doc fingerprints materialized beside [[simhashPairs]] —
    * the pair build needs them anyway, and d18's clique contraction
    * re-reads them for the fingerprint → representative map. */
  private def simhashFingerprints(s: SparkSession, d: String): DataFrame =
    Derived.parquet(s, d, "sim_v2", "fp", bill = "sim_fp")(SimHash.fingerprints(docs(s, d)))

  def d4Simhash(s: SparkSession, d: String): DataFrame =
    simhashPairs(s, d).orderBy("doc_a", "doc_b")

  /** d5: embedding-cosine near-dup pairs (cos ≥ 0.4) with hyperplane-LSH
    * candidate generation — s2's bit-exact 6-bit signature
    * ([[SimilarityQueries.signature]]) buckets the vectors, the self-join
    * is equi-keyed on the signature, and candidates get an exact-cosine
    * verify. Unlike a label block, bucket count grows with the plane
    * count (2^planes), so at scale the knob that bounds bucket size is a
    * config constant, not data skew. Bucketing is recall-lossy (unlike
    * d4's pigeonhole banding), so the oracle replicates the signature
    * derivation — the d3 replicate-the-pipeline trick — keeping the
    * hash-match exact rather than recall-dependent. */
  def d5EmbeddingCosine(s: SparkSession, d: String): DataFrame = {
    // materialized: the 6-plane signature projection (384 multiply-adds/row)
    // feeds both self-join sides
    val n = SimilarityQueries.vecsWithNorm(s, d)
      .withColumn("sig", SimilarityQueries.signature(col("v")))
      .materialize()
    val a = n.as("a"); val b = n.as("b")
    val cosSim = Portable.vecDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
    a.join(b, col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), cosSim.as("c"))
      .where(col("c") >= 0.4)
      .select(col("id_a"), col("id_b"), round(col("c"), 6).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  /** Fixed min-label supersteps for d6 (must match the oracle's unroll;
    * near-dup clusters are short chains, so 8 covers any sf0.01 diameter). */
  private val D6Iters = 8

  /** d6: near-dup CLUSTERING — the step after pair generation that an
    * actual dedup pipeline needs: LSH candidate pairs (d3's pipeline)
    * become edges of a doc graph, connected components (the engine's own
    * min-label BSP runner) give the duplicate clusters, and each cluster
    * keeps its min-id doc as canonical. Every document appears: docs with
    * no near-dup are their own canonical. At scale this is the "keep one
    * copy per near-dup set" materialization — pair volume is LSH-bounded
    * and the component iteration shuffles O(|pairs|) per superstep. */
  /** The d6 canonical assignment materialized beside the pair table —
    * d6 and d24 both consume it (the derive-once rule: without this each
    * re-pays the [[D6Iters]]-superstep CC, ~3 s at sf0.1; the first
    * caller pays, the other reads a scan-only plan). */
  private[operators] def dedupAssignMaterialized(s: SparkSession, d: String): DataFrame = {
    // The entry carries EVERY derivation input: the LSH family, the CC
    // iteration count, and the component program's identity — changing
    // any of them must miss this cache, not silently read a stale
    // assignment that the oracle (which always recomputes) would
    // contradict (ADVICE r7).
    val leaf = s"assign_cc${D6Iters}_" +
      ConnectedComponentsProgram.getClass.getSimpleName.stripSuffix("$")
    s.read.parquet(Derived.entry(d, "lsh_v1", leaf, bill = "dedup_assign") { path =>
      val pairs = lshPairsMaterialized(s, d)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val g = PropertyGraph.fromEdges(PropertyGraph.symmetrize(pairs))
      val comp = GmrRunner.runFixed(g, ConnectedComponentsProgram, D6Iters)
        .select(col("id"), col("value").cast("long").as("comp"))
      docs(s, d).select(col("id").as("doc_id"))
        .join(comp, col("doc_id") === col("id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("canonical_id"))
        .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
        .write.mode("overwrite").parquet(path)
    })
  }

  def d6DedupClusters(s: SparkSession, d: String): DataFrame =
    dedupAssignMaterialized(s, d).orderBy("doc_id")

  /** d24: dedup yield report — the accounting an ops team reads AFTER
    * d6's near-dup collapse runs: per source, how many docs survived,
    * how many were folded into a canonical (and how many characters that
    * frees), as exact counts + ppm. This is the number that decides
    * whether the dedup pass paid for itself and which source carries the
    * duplication — d6 gives the per-doc verdicts, this is their rollup
    * against the source dimension.
    *
    * Scale shape: d6's O(docs) assignment table joined back to the
    * corpus's (source, n_chars) projection on the doc key, then one
    * map-combinable aggregate over the source DIMENSION — nothing here
    * is wider than d6 itself. */
  def d24DedupYield(s: SparkSession, d: String): DataFrame = {
    val asg = dedupAssignMaterialized(s, d).select(col("doc_id"), col("is_dup"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(asg, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("is_dup"), col("n_chars")).otherwise(lit(0L)))
          .as("chars_removed"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        (col("n_docs") - col("n_dups")).as("n_kept"),
        col("chars_total"), col("chars_removed"),
        expr("(1000000 * n_dups) DIV n_docs").as("dup_ppm"))
      .orderBy("source")
  }

  /** d27: duplicate-cluster size histogram — g25's rollup applied to the
    * d6 clusters: for each cluster SIZE, how many duplicate families
    * have it and what share of the corpus they hold (size 1 = unique
    * docs). The shape of this histogram decides the dedup strategy: a
    * long tail of pairs is organic near-duplication, a few mega-clusters
    * is boilerplate/templating that d1/t7 should catch upstream instead
    * (the "dup GROUPS are quadratic in their size" exposure the sf1
    * probes measured, as a report).
    *
    * Scale shape: two map-combinable aggregates over the O(docs) shared
    * assignment + a broadcast doc total; output rows = distinct sizes. */
  def d27ClusterSizes(s: SparkSession, d: String): DataFrame = {
    val cs = dedupAssignMaterialized(s, d)
      .groupBy(col("canonical_id")).agg(count(lit(1)).as("csize"))
    val tot = broadcast(cs.agg(sum(col("csize")).as("n_docs")))
    cs.groupBy(col("csize").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(tot)
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs_in"),
        expr("(1000000 * cluster_size * n_clusters) DIV n_docs")
          .as("doc_share_ppm"))
      .orderBy("cluster_size")
  }

  /** d28: quality-aware canonical selection — d6 keeps each duplicate
    * cluster's MIN-ID doc; a real curation pipeline keeps its BEST doc
    * (the cleanest capture of the duplicated content). Per cluster: the
    * argmax of t3's quality score (rounded identically in both engines,
    * doc-id tiebreak), every member labeled with the keeper and a keep
    * verdict. The q33 argmax pattern composed over the shared d6
    * assignment and the t3 scorer — selection-policy-as-data.
    *
    * Scale shape: O(docs) assignment ⋈ zero-shuffle score projection,
    * then one max(struct) hash aggregate per cluster (no window over
    * members) and a join back. */
  def d28QualityCanon(s: SparkSession, d: String): DataFrame = {
    val q = TextQueries.t3Quality(s, d)
      .select(col("doc_id"), col("quality_score").as("q"))
    val scored = dedupAssignMaterialized(s, d)
      .select(col("doc_id"), col("canonical_id").as("cluster_id"))
      .join(q, "doc_id")
    val keeper = scored.groupBy(col("cluster_id"))
      .agg(max(struct(col("q"), (-col("doc_id")).as("negid"))).as("m"))
      .select(col("cluster_id"), (-col("m.negid")).as("keeper_id"))
    scored.join(keeper, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("q").as("quality_score"),
        col("keeper_id"), (col("doc_id") === col("keeper_id")).as("keep"))
      .orderBy("doc_id")
  }

  /** d26: split-leakage audit — does the train/val/test split keep
    * near-duplicate pairs on one side? t9's content-hash bucketing
    * guarantees byte-identical docs can't straddle splits, but NEAR
    * duplicates (d3's verified pairs) still can — and a near-dup of a
    * test doc sitting in train is evaluation contamination the d7/d9
    * decontamination passes exist to prevent. This is the audit that
    * measures it: every verified near-dup pair labeled by its endpoints'
    * splits, rolled up per unordered split pair with a leaked verdict.
    *
    * Scale shape: the O(pairs) shared LSH materialization joined twice
    * against the zero-shuffle split projection on the doc key; rollup is
    * a 3×3-bounded cell aggregate. */
  def d26SplitLeakage(s: SparkSession, d: String): DataFrame = {
    val sp = TextQueries.splitAssignment(s, d)
    lshPairsMaterialized(s, d).select(col("id_a"), col("id_b"))
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("side_a"),
        greatest(col("sa"), col("sb")).as("side_b"))
      .groupBy(col("side_a"), col("side_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("side_a") =!= col("side_b"))
      .orderBy("side_a", "side_b")
  }

  /** d25: corpus snapshot diff — the versioned-corpus CDC face (q44 is
    * the relational MERGE; this is its corpus dual): two crawl
    * snapshots compared by doc key + content hash into per-source
    * added / removed / changed / unchanged counts, the release-notes
    * accounting of a recurring ingestion ("what did this month's crawl
    * actually change?"). Snapshots are derived deterministically from
    * the documents table (old = id % 7 ≠ 0, new = id % 5 ≠ 0 with
    * id % 3 = 0 texts edited) so the oracle can replay them; a real
    * deployment points the two frames at two partitions of the corpus.
    *
    * Scale shape: each side reduces to (key, source, sha256) BEFORE the
    * join — one full-outer sort-merge on the doc key over 40-byte rows,
    * never text; the status rollup is a source×status dimension
    * aggregate. */
  def d25SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val old = base.where(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), col("source").as("src_old"),
        sha2(col("text"), 256).as("h_old"))
    val nw = base.where(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id"), col("source").as("src_new"),
        sha2(when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")), 256)
          .as("h_new"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_new"), col("src_old")).as("source"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"), col("status")).agg(count(lit(1)).as("n"))
      .orderBy("source", "status")
  }

  /** d18: SimHash near-dup output SHAPING at scale — d4's banded pairs
    * collapsed to one row per document: pairs become edges, the
    * engine's min-label BSP connected components give the duplicate
    * clusters, and each cluster keeps its min-id doc as canonical
    * (d6's collapse, composed over d4's pigeonhole-exact candidate
    * generator instead of d3's LSH). The 100 TB rationale: a near-dup
    * pair list is Ω(pairs) — the sf1 probe measured 57.2M pairs from
    * 97k docs because dup GROUPS are quadratic in their size — while
    * this assignment table is O(docs) regardless of how dense the
    * duplicate structure is, and it is the artifact a curation
    * pipeline actually consumes (keep canonical, drop the rest).
    *
    * The CC runs on the CONTRACTED graph: identical-fingerprint docs are
    * a clique by construction (hamming 0), so each fingerprint group
    * collapses to its min-id representative FIRST (one hash aggregate)
    * and the BSP propagation only sees one node per distinct
    * fingerprint — on a replica-heavy corpus that is the difference
    * between supersteps over Ω(docs + pairs) and supersteps over the
    * (tiny) distinct-signature quotient. Min-label flood over the
    * quotient yields the same min DOC id per cluster (every group's rep
    * IS its min doc). Iteration count [[D6Iters]] applies to quotient
    * hops; the oracle contracts identically. */
  def d18SimhashClusters(s: SparkSession, d: String): DataFrame = {
    val rep = simhashFingerprints(s, d)
      .groupBy(col("simhash")).agg(min(col("id")).as("rep"))
      .join(simhashFingerprints(s, d), "simhash")
      .select(col("id"), col("rep"))
      .materialize()
    val qedges = simhashPairs(s, d)
      .join(rep.select(col("id").as("doc_a"), col("rep").as("src")), "doc_a")
      .join(rep.select(col("id").as("doc_b"), col("rep").as("dst")), "doc_b")
      .where(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val g = PropertyGraph.fromEdges(PropertyGraph.symmetrize(qedges))
    val comp = GmrRunner.runFixed(g, ConnectedComponentsProgram, D6Iters)
      .select(col("id").as("rep"), col("value").cast("long").as("comp"))
    docs(s, d).select(col("id").as("doc_id"))
      .join(rep.select(col("id").as("doc_id"), col("rep")), Seq("doc_id"), "left_outer")
      .join(comp, Seq("rep"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("comp"), col("rep"), col("doc_id")).as("canonical_id"))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .orderBy("doc_id")
  }

  /** d7 shingle width: 4-word n-grams — long enough that incidental
    * same-topic overlap is rare, short enough that partial copies still
    * collide (the eval-contamination sweet spot on this corpus; 3-grams
    * flag ~85% of docs, 5-grams only verbatim near-dups). */
  private val DecontamK = 4

  /** Docs with ≥ this many distinct shared n-grams are flagged (a single
    * shared 4-gram can be coincidence; two independent ones almost never). */
  private val DecontamMinShared = 2L

  /** d7: eval-set decontamination — the benchmark-leakage gate a training
    * pipeline runs before anything else: flag every training document
    * sharing verbatim n-grams with a held-out evaluation set (here the
    * deterministic 5% slice doc_id % 20 = 0).
    *
    * Scale shape: the eval set is small by construction (benchmarks), so
    * its distinct shingle-hash set BROADCASTs — the training corpus is
    * probed map-side and never shuffles for the match; one (doc) count
    * aggregate follows. This is the one dedup-family op with NO self-join
    * at all. Hash collisions are mirrored exactly in the oracle (same
    * polynomial hash), keeping the gate bit-exact. */
  def d7Decontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = docs(s, d).select(col("id"),
        explode(Portable.shingleHashes(col("text"), DecontamK)).as("h"))
    val evalH = broadcast(
      sh.where(col("id") % 20 === 0).select("h").distinct())
    val hits = sh.where(col("id") % 20 =!= 0).join(evalH, "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared")) // per-doc shingles distinct
    docs(s, d).select(col("id")).where(col("id") % 20 =!= 0)
      .join(hits, Seq("id"), "left_outer")
      .select(col("id").as("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= DecontamMinShared).as("contaminated"))
      .orderBy("doc_id")
  }

  /** d23: contamination overlap-score report — d7's scoring face, the
    * number a model card publishes ("x% of eval n-grams appear in
    * training documents"): per training document, the DISTINCT shared
    * shingle count over its total distinct shingles as exact integer
    * ppm (n_shared·10⁶ DIV n_total — no float thresholds, the frontier
    * is engine-exact). d7 answers "drop it or not" at a fixed cutoff;
    * the score report is what humans tune that cutoff FROM.
    *
    * Same scale shape as d7 (the eval shingle set broadcasts, the
    * training corpus never shuffles for the match), plus one
    * per-document `size()` on the already-computed shingle array — no
    * second pass over text. */
  def d23OverlapScore(s: SparkSession, d: String): DataFrame = {
    val sh = docs(s, d).select(col("id"),
      Portable.shingleHashes(col("text"), DecontamK).as("shs"))
    val ex = sh.select(col("id"), explode(col("shs")).as("h"))
    val evalH = broadcast(
      ex.where(col("id") % 20 === 0).select("h").distinct())
    val hits = ex.where(col("id") % 20 =!= 0).join(evalH, "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    sh.where(col("id") % 20 =!= 0)
      .select(col("id"), size(col("shs")).cast("long").as("n_total"))
      .join(hits, Seq("id"), "left_outer")
      .select(col("id").as("doc_id"), col("n_total"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("overlap_ppm", when(col("n_total") === 0, lit(0L))
        .otherwise(expr("n_shared * 1000000 DIV n_total")))
      .orderBy("doc_id")
  }

  /** d8: end-to-end corpus selection — the composition a real pipeline
    * ships: a document enters the training corpus iff it (a) is not in
    * the held-out eval slice, (b) passes the t7 repetition-quality gate,
    * (c) is the canonical copy of its exact-duplicate group, and (d)
    * shares no verbatim 4-grams with the eval set (d7's gate; eval docs
    * trivially self-match and come out contaminated, which is harmless —
    * they are excluded by (a) anyway). One row per document with every
    * verdict, so the gate checks each stage AND the conjunction.
    *
    * Scale shape: three narrow per-doc projections (one native-kernel
    * pass for quality, one sha256 groupBy for canonicals, one broadcast
    * probe + count for contamination) joined on doc id — nothing here
    * exceeds the cost of its standalone query. */
  def d8CorpusSelect(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val quality = dd.select(col("id"),
      TextQueries.repetitionKeep(col("text")).as("keep_quality"))
    val sha = dd.select(col("id"), sha2(col("text"), 256).as("sh"))
    val canon = sha.join(
        sha.groupBy("sh").agg(min(col("id")).as("cid")), "sh")
      .select(col("id"), (col("id") === col("cid")).as("is_canonical"))
    val post = dd.select(col("id"),
      explode(Portable.shingleHashes(col("text"), DecontamK)).as("h"))
    val evalH = broadcast(
      post.where(col("id") % 20 === 0).select("h").distinct())
    val hits = post.join(evalH, "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    val isEval = col("id") % 20 === 0
    dd.select(col("id"), isEval.as("is_eval"))
      .join(quality, "id").join(canon, "id")
      .join(hits, Seq("id"), "left_outer")
      .select(col("id").as("doc_id"), col("is_eval"), col("keep_quality"),
        col("is_canonical"),
        (coalesce(col("n_shared"), lit(0L)) < DecontamMinShared).as("is_clean"),
        (!col("is_eval") && col("keep_quality") && col("is_canonical") &&
          coalesce(col("n_shared"), lit(0L)) < DecontamMinShared).as("selected"))
      .orderBy("doc_id")
  }

  /** Bloom geometry for d9: 16384 positions × 3 hash probes. At ~475
    * eval-doc shingle hashes the fill is ~8%, FP rate ≈ fill³ ≈ 0.06% —
    * and the bit array is 2 KB regardless of how large the eval set
    * grows, which is the whole point (see [[d9BloomDecontaminate]]). */
  private val BloomM = 16384L
  private val BloomJ = 3
  private val BloomA = Seq(2654435761L, 2246822519L, 3266489917L)

  /** Probe-j Bloom position of a shingle hash h ∈ [0, P):
    * ((h·A_j + B_j) mod P) mod M — h·A_j < 3.3·10¹⁸ stays in BIGINT. */
  private def bloomPos(h: org.apache.spark.sql.Column, j: Int) =
    ((h * BloomA(j) + lit(j * 7919L + 13L)) % Portable.P) % BloomM

  /** d9: Bloom-filter decontamination — d7's gate rebuilt for the regime
    * where the eval set's exact shingle-hash set is too big to broadcast
    * raw: what broadcasts instead is a fixed-size Bloom bit array
    * ([[BloomM]] bits no matter how many benchmarks pile up), each train
    * shingle is probed map-side against all [[BloomJ]] positions, and
    * only Bloom-passing candidates — true matches plus a provably tiny
    * false-positive tail — proceed to the exact-verify join, which at
    * scale can be an ordinary shuffle join over a candidate set orders of
    * magnitude smaller than the corpus. Bloom filters never yield false
    * negatives, so n_verified is EXACTLY d7's n_shared (asserted in
    * BloomDecontamSpec); the reported candidate/verified split makes the
    * false-positive tail itself oracle-checked. The bit array is modeled
    * as the distinct set of set positions — the declarative twin of a bit
    * vector — and membership as a conjunction of three broadcast
    * semi-joins; the oracle replicates positions exactly. */
  def d9BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = docs(s, d).select(col("id"),
        explode(Portable.shingleHashes(col("text"), DecontamK)).as("h"))
      .materialize()
    val evalSh = sh.where(col("id") % 20 === 0).select("h").distinct()
    val bits = evalSh.select(explode(array(
      (0 until BloomJ).map(j => bloomPos(col("h"), j)): _*)).as("p")).distinct()
    val train = sh.where(col("id") % 20 =!= 0)
    // Conjunction of the three probes = chain of broadcast LEFT SEMI
    // joins: each strips the candidates that miss one position; the
    // train postings never shuffle.
    val cand = (0 until BloomJ).foldLeft(train) { (acc, j) =>
      acc.join(broadcast(bits.select(col("p").as(s"p$j"))),
        bloomPos(col("h"), j) === col(s"p$j"), "left_semi")
    }.materialize()
    val nCand = cand.groupBy(col("id")).agg(count(lit(1)).as("n_candidates"))
    val nVer = cand.join(broadcast(evalSh), "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_verified"))
    docs(s, d).select(col("id")).where(col("id") % 20 =!= 0)
      .join(nCand, Seq("id"), "left_outer")
      .join(nVer, Seq("id"), "left_outer")
      .select(col("id").as("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        (coalesce(col("n_candidates"), lit(0L)) -
          coalesce(col("n_verified"), lit(0L))).as("n_false_pos"),
        (coalesce(col("n_verified"), lit(0L)) >= DecontamMinShared).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Salt decorrelating d10's keep draw from t9's split draw: both hash
    * the text, and an unsalted draw would make "kept" correlate with
    * "train" (every hash-derived decision on the same key must use a
    * distinct salt — the standard independent-coupons rule). */
  private val MixSalt = "mix1"

  /** d10: deterministic source mixing / corpus resampling — the static
    * data-mixture stage of a pretraining pipeline (up/down-weighting
    * sources to target proportions): each document is kept iff its
    * salted content-hash draw falls under its source's keep rate. No RNG
    * state, reproducible under corpus regeneration, and byte-identical
    * duplicates get identical verdicts. The per-source rate table here is
    * derived from the source name hash (self-contained constants for the
    * gate); in production it is exactly this shape — a tiny dim table
    * broadcast onto the corpus, the filter evaluated map-side, zero
    * shuffles over the documents. */
  def d10SourceMix(s: SparkSession, d: String): DataFrame = {
    val dd = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
      .repartition(col("doc_id"))
    val rates = Tables.documents(s, d).select(col("source")).distinct()
      .select(col("source"),
        (lit(25L) + Portable.charHash(col("source")) % 75L).as("keep_pct"))
    val draw = Portable.charHash(concat(col("text"), lit(MixSalt))) % 100L
    dd.join(broadcast(rates), "source")
      .select(col("doc_id"), col("source"), col("keep_pct"),
        draw.as("draw"), (draw < col("keep_pct")).as("kept"))
      .orderBy("doc_id")
  }

  /** d14 containment threshold (τ=0.8 as the exact integer test
    * 5·common ≥ 4·|S(a)|) and the minimum shingle-set size below which
    * containment is trivially noisy. */
  private val ContainMinShingles = 5L

  /** d14: containment (asymmetric) near-dup — |S(a)∩S(b)| / |S(a)| ≥ 0.8
    * flags doc a as CONTAINED in doc b: the quote/subset-duplication
    * semantic that symmetric jaccard (d2) structurally misses (a short
    * doc pasted into a long one has low jaccard but containment ≈ 1).
    * Same bounded machinery as d2 — in fact the SAME frames: the
    * df-capped inverted index, per-doc sizes, and the bounded pair
    * self-join come from [[pairStatsMaterialized]] (derive once, both
    * queries read), d14 just layers a different bound on top: docs with
    * ≥ [[ContainMinShingles]] full shingles, and a SOUND integer
    * prefilter in either direction — full common ≤ capped common + the
    * side's capped-away count, so `5·(c+nhot) ≥ 4·ntot` can't lose a
    * true pair whose common support isn't entirely hot — then an exact
    * full-set verify that re-hashes only candidate docs. The
    * hot-dominated recovery pass (d2's, both ends restricted to
    * hot-dominated docs so per-key expansion stays ≤ DfCap²) recovers
    * the mutual all-hot-overlap class. One class is deliberately OUT of
    * scope: a hot-dominated doc contained in a non-hot-dominated
    * container through exclusively-hot shingles — i.e. a pure-boilerplate
    * doc quoted inside larger docs. That class is Ω(df) per hot shingle
    * by construction (a boilerplate-only doc is contained in every doc
    * carrying the boilerplate), so its output is corpus-quadratic at
    * scale; the d1 exact-dup and t7 boilerplate gates are the right tool
    * for those docs, and the spec pins the exclusion. (For d2's
    * symmetric jaccard the both-ends restriction is lossless — j ≥ 0.5
    * with one side non-hot-dominated forces tb ≤ 2ta and tb > 2ta, a
    * contradiction — which is why d2 carries no such caveat.)
    * Thresholds compare as integers; the reported score is one int/int
    * double division. Output is DIRECTED (mutually-containing
    * near-identical pairs emit both rows). */
  def d14Containment(s: SparkSession, d: String): DataFrame = {
    val (szs, common, hotList) = pairStatsMaterialized(s, d)
    val cand1 = common
      .join(broadcast(szs.select(col("id").as("doc_a"),
        col("ntot").as("ta"), col("nhot").as("ha"))), "doc_a")
      .join(broadcast(szs.select(col("id").as("doc_b"),
        col("ntot").as("tb"), col("nhot").as("hb"))), "doc_b")
      .where(col("ta") >= ContainMinShingles && col("tb") >= ContainMinShingles &&
        (lit(5) * (col("c") + col("ha")) >= lit(4) * col("ta") ||
         lit(5) * (col("c") + col("hb")) >= lit(4) * col("tb")))
      .select("doc_a", "doc_b")
    // Recovery: hot-dominated docs' hot postings, re-capped within the
    // restriction (bounded expansion ≤ DfCap²) — d2's pass verbatim.
    val ex = postingsMaterialized(s, d)
    val hot = broadcast(hotList)
    val hdocs = broadcast(szs
      .where(col("nhot") * 2 >= col("ntot") && col("ntot") >= ContainMinShingles)
      .select("id"))
    val hx = ex.join(hot, Seq("h")).join(hdocs, Seq("id"))
    val hkeep = hx.groupBy(col("h")).agg(count(lit(1)).as("dfh"))
      .where(col("dfh") <= DfCap).select("h")
    val hxk = hx.join(hkeep, Seq("h"))
    val cand2 = hxk.as("ha").join(hxk.as("hb"),
        col("ha.h") === col("hb.h") && col("ha.lang") === col("hb.lang") &&
        col("ha.id") < col("hb.id"))
      .select(col("ha.id").as("doc_a"), col("hb.id").as("doc_b")).distinct()
      .join(broadcast(szs.select(col("id").as("doc_a"), col("ntot").as("ta"))), "doc_a")
      .join(broadcast(szs.select(col("id").as("doc_b"), col("ntot").as("tb"))), "doc_b")
      .where(col("ta") >= ContainMinShingles && col("tb") >= ContainMinShingles)
      .select("doc_a", "doc_b")
    val cand = cand1.union(cand2).distinct()
      // The candidate list is read three times (id semi-join + both
      // directed verifies) — materialize it or the pipeline above re-runs
      // per consumer (the d2 lesson; measured 17.6 → ~6 s here before
      // the self-join moved into the shared materialization).
      .materialize()
    val candIds = cand.select(col("doc_a").as("id"))
      .union(cand.select(col("doc_b").as("id"))).distinct()
    // Exact verify re-hashes ONLY the candidate docs from the raw table
    // (full shingle sets — the capped index never decides a score).
    val vsets = Tables.documents(s, d)
      .select(col("doc_id").as("id"), col("text"))
      .join(broadcast(candIds), Seq("id"))
      .select(col("id"), Portable.shingleHashes(col("text"), cfg.shingleWords).as("sh"))
    val verified = broadcast(cand)
      .join(vsets.select(col("id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(vsets.select(col("id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("cf"),
        size(col("sha")).cast("long").as("ta"), size(col("shb")).cast("long").as("tb"))
      .materialize()
    val dirA = verified.where(lit(5) * col("cf") >= lit(4) * col("ta"))
      .select(col("doc_a").as("contained_id"), col("doc_b").as("container_id"),
        col("cf").as("n_common"), col("ta").as("n_shingles"),
        round(col("cf").cast("double") / col("ta").cast("double"), 6).as("containment"))
    val dirB = verified.where(lit(5) * col("cf") >= lit(4) * col("tb"))
      .select(col("doc_b").as("contained_id"), col("doc_a").as("container_id"),
        col("cf").as("n_common"), col("tb").as("n_shingles"),
        round(col("cf").cast("double") / col("tb").cast("double"), 6).as("containment"))
    dirA.union(dirB).orderBy("contained_id", "container_id")
  }

  /** d15: fuzzy key matching / entity canonicalization — all pairs of
    * distinct part names within edit distance 1, found by deletion-1
    * neighborhood blocking (FastSS): each name emits itself plus every
    * single-character deletion; two strings at distance ≤ 1 ALWAYS share
    * a variant (equal → identity; substitution → delete the differing
    * position on both; indel → the longer side's deletion equals the
    * shorter side's identity), so the equi-join on variants is a
    * lossless candidate generator and `levenshtein` (identical integer
    * DP in both engines) verifies exactly. Scale shape: the vocabulary
    * is `distinct` of the key column (dictionary-sized, ≪ corpus), the
    * fan-out is bounded by max key length + 1, and the blocking join is
    * an equi-join — never an all-pairs edit-distance scan, which is the
    * textbook anti-pattern this operator replaces. */
  def d15FuzzyNames(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
    val vars = names.select(col("name"), explode(expr(
      """concat(array(name), transform(sequence(1, length(name)),
        |  i -> concat(substring(name, 1, i-1), substring(name, i+1, 1000))))"""
        .stripMargin)).as("variant"))
    val cand = vars.as("a").join(vars.as("b"),
        col("a.variant") === col("b.variant") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b")).distinct()
    cand.where(levenshtein(col("name_a"), col("name_b")) <= 1)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .orderBy("name_a", "name_b")
  }

  /** Fixed CC unroll for [[d16NameCanon]] — fuzzy-variant clusters are
    * near-cliques of tiny diameter; 4 min-label rounds is generous and
    * monotone (extra rounds are no-ops). */
  private val D16Iters = 4

  /** d16: vocabulary canonicalization — d15's fuzzy pairs closed into
    * clusters (the engine's own CC runner over name-hash vertices, the
    * d6 pattern) and each cluster mapped to its lexicographically-least
    * member: the "normalize every key variant to one spelling" step that
    * follows fuzzy matching in any entity-resolution pipeline. Every
    * distinct name appears (unpaired names are their own canonical).
    * Pair volume is d15-bounded; the iteration shuffles O(|pairs|) per
    * superstep — dictionary-scale throughout. */
  def d16NameCanon(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      .withColumn("hid", Portable.charHash(col("name")))
      .materialize()
    val e = d15FuzzyNames(s, d)
      .join(names.select(col("name").as("name_a"), col("hid").as("src")), "name_a")
      .join(names.select(col("name").as("name_b"), col("hid").as("dst")), "name_b")
      .select("src", "dst")
    val g = graft.graph.PropertyGraph.fromEdges(
      graft.graph.PropertyGraph.symmetrize(e))
    val comp = GmrRunner.runFixed(g, ConnectedComponentsProgram, D16Iters)
      .select(col("id"), col("value").cast("long").as("comp"))
    val withComp = names.join(comp, col("hid") === col("id"), "left_outer")
      .select(col("name"), coalesce(col("comp"), col("hid")).as("comp"))
    val canon = withComp.groupBy(col("comp")).agg(min(col("name")).as("canonical_name"))
    withComp.join(canon, "comp")
      .select(col("name"), col("canonical_name"),
        (col("name") =!= col("canonical_name")).as("is_variant"))
      .orderBy("name")
  }

  /** d17: cross-source contamination matrix — for every pair of sources,
    * the number of distinct 8-word spans they share: the corpus-level
    * companion to d11 (which flags documents) and the provenance
    * diagnostic that catches mirrored dumps and wholesale re-crawls
    * between sources before they poison dedup-by-source assumptions.
    * One span-hash explode (native kernel) → distinct (source, span) —
    * the per-source span SETS, so document-level duplication inside a
    * source can't inflate its overlap — then a hash-keyed self-join
    * whose per-key expansion is bounded by the SOURCE count (a
    * dictionary-sized dimension), never by corpus size. */
  def d17SourceOverlap(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .repartition(col("doc_id"))
      .select(col("source"),
        explode(Portable.spanHashes(col("text"), SpanK)).as("h"))
      .distinct()
      .materialize()
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .orderBy("source_a", "source_b")
  }

  /** Exactly-k sample size per source for [[d13GroupSample]]. */
  private val SampleK = 5

  /** Draw salt — distinct from [[MixSalt]] and t9's unsalted split hash,
    * so the three hash-derived decisions on the same text are independent
    * (the independent-coupons rule). */
  private val SampleSalt = "samp1"

  /** d13: deterministic exactly-k uniform sample per group — the "show me
    * 5 random docs from every source" QA/eval-set draw, and the dual of
    * d10 (d10 keeps a *rate* per source, this keeps a *count*). The draw
    * order is a salted content hash, so the sample is reproducible across
    * runs and engines with no RNG state; selection is the bounded
    * [[graft.functions.Aggregators.BottomK]] heap — O(k) state per
    * source, map-side merge, each map task forwards at most k candidates
    * per group. The textbook `row_number() OVER (PARTITION BY source
    * ORDER BY random())` form sorts every row of every group (and isn't
    * reproducible); the oracle IS that window over the deterministic
    * draw, proving the heap equals it row-for-row. Ties (byte-identical
    * texts share a draw) resolve by doc_id on both sides. */
  def d13GroupSample(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.Aggregators.BottomK(SampleK),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        Portable.charHash(concat(col("text"), lit(SampleSalt))).as("draw"))
      .repartition(col("doc_id"))
      .groupBy(col("source"))
      .agg(topk(col("draw"), col("doc_id")).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("p.id").as("doc_id"), col("p.m").as("draw"))
      .orderBy("source", "rank")
  }

  /** d19 draw salt — independent of [[SampleSalt]]/[[MixSalt]]/t9 (the
    * independent-coupons rule again: four decisions, four salts). */
  private val WSampleSalt = "wsamp1"
  private val WSampleK = 3

  /** d19: deterministic WEIGHT-PROPORTIONAL sampling per source — the
    * quality-weighted eval-draw / data-mixing primitive (d13 is its
    * uniform dual: same heap, uniform key). Priority = salted content
    * hash div weight in exact integer arithmetic — the A-ES
    * exponential-key shape (Efraimidis-Spirakis u^(1/w) ranking) with an
    * integer surrogate: monotone in the draw, expected priority inversely
    * proportional to weight, zero libm (a pow/ln key would hash-mismatch
    * across engines in the last ulp). Weight = n_chars, so longer docs
    * are proportionally likelier; selection is the same bounded
    * [[graft.functions.Aggregators.BottomK]] heap — O(k) state per
    * source, map-side merge. The oracle is the full row_number window
    * over the identical priority, proving heap ≡ sort row-for-row. */
  def d19WeightedSample(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.Aggregators.BottomK(WSampleK),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        Portable.charHash(concat(col("text"), lit(WSampleSalt))).as("draw"))
      .selectExpr("source", "doc_id", "draw div greatest(n_chars, 1) AS priority")
      .repartition(col("doc_id"))
      .groupBy(col("source"))
      .agg(topk(col("priority"), col("doc_id")).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("p.id").as("doc_id"), col("p.m").as("priority"))
      .orderBy("source", "rank")
  }

  /** d11 span length: 8-word windows — long enough that natural-language
    * collisions are rare, short enough to catch partial boilerplate. */
  private val SpanK = 8

  /** d11: duplicate-span detection — "what fraction of each document is
    * verbatim-duplicated somewhere else in the corpus" (the
    * exact-substring dedup diagnostic of Lee et al.'s "Deduplicating
    * Training Data Makes Language Models Better", re-expressed
    * relationally): hash every [[SpanK]]-word window of every doc (one
    * native-kernel projection, O(tokens) rows of narrow (id, h)), mark a
    * span hash cross-doc-duplicated iff `min(doc) != max(doc)` — an
    * O(1)-state map-combinable aggregate, where a count-distinct would
    * shuffle every (hash, doc) pair — and per doc report total spans,
    * duplicated spans, and the duplicated fraction. No pair expansion
    * anywhere: membership, not joins-per-pair, so a million-way
    * duplicated license header costs one aggregate row, and at 100 TB
    * the whole query is two map-combinable aggregates and one equi
    * semi-join. */
  def d11DupSpans(s: SparkSession, d: String): DataFrame = {
    val spans = docs(s, d).select(col("id"),
        explode(Portable.spanHashes(col("text"), SpanK)).as("h"))
      .materialize()
    val dup = spans.groupBy(col("h"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .where(col("mn") =!= col("mx")).select("h")
    val tot = spans.groupBy(col("id")).agg(count(lit(1)).as("n_spans"))
    val dupPer = spans.join(dup, Seq("h"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("dup_spans"))
    tot.join(dupPer, Seq("id"), "left_outer")
      .select(col("id").as("doc_id"), col("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        round(coalesce(col("dup_spans"), lit(0L)).cast("double") /
          col("n_spans").cast("double"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** d12: signature-level dedup — the batch dual of
    * [[MinHashLsh.streamingSignatureDedup]] (the streaming face keys
    * `dropDuplicatesWithinWatermark` on the same signature; micro-batch
    * suppression is covered in DedupSpec). The signature is the fold of
    * all LSH band signatures — one BIGINT per doc, so dedup state is
    * O(1) per distinct signature on an unbounded stream — with the exact
    * content hash as the fallback for docs too short to shingle. Batch
    * survivor = min doc id per signature. Near-dup recall is the d3/d6
    * pipeline's job; this face is the cheap upstream suppressor (same
    * full signature ⇒ suppress) that runs where pairs can't. */
  def d12SigDedup(s: SparkSession, d: String): DataFrame =
    MinHashLsh.streamingSignatureDedup(
        docs(s, d).select(col("id"), col("text")), cfg)
      .select(col("id").as("doc_id"), col("sig"))
      .orderBy("doc_id")

  /** The d20 "incoming shard" predicate: every 5th doc plays the newly
    * crawled batch; the rest are the already-ingested corpus. */
  private val IncrShardMod = 5

  /** d20: incremental (batch-vs-corpus) near-dup gating — the shape a
    * continuously-fed training pipeline actually runs: a NEW batch
    * arrives and must be deduped against the EXISTING corpus without
    * re-pairing the corpus against itself (d3's all-pairs list is the
    * bootstrap; this is the steady state). The corpus side's band
    * buckets are the persisted signature index at production scale —
    * batch buckets equi-join against it on (band, sig), so per-batch
    * work is O(batch × collisions), never O(corpus²), and the corpus
    * TEXT is only re-read for the candidate docs' shingle sets during
    * exact-jaccard verification (index-then-verify, the d2/d14 rule).
    * Per batch doc: candidate count, verified-match count (j ≥ the d3
    * threshold), earliest matched corpus doc, and the keep verdict. */
  def d20IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val isBatch = col("id") % IncrShardMod === 0
    val sets = MinHashLsh.shingleSets(dd, cfg)
      .materialize()
    val cand = MinHashLsh.bandBuckets(sets.where(isBatch), cfg).as("x")
      .join(MinHashLsh.bandBuckets(sets.where(!isBatch), cfg).as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(col("x.id").as("bid"), col("y.id").as("cid"))
      .distinct()
    val verified = cand
      .join(sets.select(col("id").as("bid"), col("sh").as("shb")), "bid")
      .join(sets.select(col("id").as("cid"), col("sh").as("shc")), "cid")
      .select(col("bid"), col("cid"),
        Portable.jaccard(col("shb"), col("shc")).as("j"))
    val isMatch = col("j") >= cfg.threshold
    val agg = verified.groupBy(col("bid"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(isMatch, 1L).otherwise(0L)).as("n_matches"),
        min(when(isMatch, col("cid"))).as("first_match"))
    dd.where(isBatch).select(col("id").as("doc_id"))
      .join(agg, col("doc_id") === col("bid"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("first_match"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("kept"))
      .orderBy("doc_id")
  }

  /** d21: MinHash estimator calibration — for every verified d3
    * near-dup pair, the EXACT jaccard (integer ppm from intersection /
    * union counts) beside the MinHash ESTIMATE (positionwise agreement
    * of the two per-permutation minima vectors: P(min_a = min_b) = j,
    * so agreement/numPerms is the unbiased estimate) and the absolute
    * error. The sketch-quality eval a pipeline runs before trusting
    * signature-level dedup (d12) at a new corpus: σ ≈ √(j(1−j)/32) ppm
    * predicts the spread, and a corpus whose errors blow past it has
    * shingle pathologies worth investigating. Minima come from the
    * [[graft.functions.HashUtil.minHashMins]] kernel (one per-row
    * projection); agreement is a built-in zip_with/filter pair —
    * everything stays codegen. */
  def d21MinhashCalibration(s: SparkSession, d: String): DataFrame = {
    val sets = MinHashLsh.shingleSets(docs(s, d), cfg)
      .select(col("id"), col("sh"),
        call_function("graft_minhash_mins", col("sh"), lit(cfg.numPerms)).as("mins"))
      .materialize()
    lshPairsMaterialized(s, d)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .join(sets.select(col("id").as("doc_a"), col("sh").as("sha"),
        col("mins").as("ma")), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("sh").as("shb"),
        col("mins").as("mb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("n_inter"),
        size(array_union(col("sha"), col("shb"))).cast("long").as("n_union"),
        size(filter(zip_with(col("ma"), col("mb"), (x, y) => x === y),
          b => b)).cast("long").as("n_agree"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        expr("(1000000 * n_inter) DIV n_union").as("exact_ppm"),
        col("n_agree"),
        expr(s"(1000000 * n_agree) DIV ${cfg.numPerms}").as("est_ppm"))
      .withColumn("err_ppm",
        abs(col("est_ppm") - col("exact_ppm")))
      .orderBy("doc_a", "doc_b")
  }

  /** d22 knobs: saturated term frequency (min(tf, 16) — BM25's
    * sublinear-tf insight in cap form; also THE BIGINT bound: weight ≤
    * 16·[[TcIdfScale]]·N, so Σw² stays < 2⁶³ to N ~ 10⁷ docs with the
    * scale constant as the knob), integer idf surrogate scale, cosine
    * keep threshold. */
  private val TcTfCap = 16L
  private val TcIdfScale = 100L
  private val TcThreshold = 0.5

  /** d22: TF-IDF cosine near-dup — the FIFTH similarity model of the
    * dedup family (jaccard d2, MinHash d3, SimHash d4, embedding d5):
    * docs as sparse saturated-tf·integer-idf vectors, pairs scored by
    * cosine over shared terms. Topically-rewritten near-dups share
    * WEIGHTED vocabulary even when shingle/fingerprint methods miss
    * them — the recall face the others lack.
    *
    * Scale shape is the d2 discipline end-to-end: candidates come ONLY
    * from rare-term postings (df ≤ the d2 [[DfCap]] — per-term pair
    * expansion bounded at DfCap²), the dot product joins the weight
    * table on (candidate, term) so only candidate pairs' SHARED terms
    * ever multiply, and norms are one map-combinable Σw² per doc. The
    * pairs-sharing-only-hot-terms class is documented out of scope by
    * d2's Ω(df) argument (boilerplate — d1/t7 are the tools there).
    * Exact BIGINT dot/norms; the single rounded double division is the
    * only float, identical cross-engine. */
  def d22TfidfCosine(s: SparkSession, d: String): DataFrame = {
    val tf = docs(s, d)
      .select(col("id"), explode(Portable.wordHashes(col("text"))).as("h"))
      .groupBy("id", "h").agg(least(count(lit(1)), lit(TcTfCap)).as("tf"))
      .materialize()
    val dfreq = tf.groupBy("h").agg(count(lit(1)).as("df"))
    val nDocs = broadcast(docs(s, d).agg(count(lit(1)).as("n_docs")))
    val weights = tf.join(dfreq, "h").crossJoin(nDocs)
      .select(col("id"), col("h"),
        (col("tf") * expr(s"($TcIdfScale * n_docs) DIV df")).as("w"))
      .materialize()
    val norms = weights.groupBy("id").agg(sum(col("w") * col("w")).as("n2"))
    val rare = tf.join(dfreq.where(col("df") >= 2 && col("df") <= DfCap), "h")
      .select(col("id"), col("h"))
    val cand = rare.as("a").join(rare.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb")).distinct()
    val dot = cand
      .join(weights.select(col("id").as("ida"), col("h"), col("w").as("wa")), "ida")
      .join(weights.select(col("id").as("idb"), col("h"), col("w").as("wb")),
        Seq("idb", "h"))
      .groupBy("ida", "idb")
      .agg(sum(col("wa") * col("wb")).as("dot"), count(lit(1)).as("n_shared"))
    dot
      .join(norms.select(col("id").as("ida"), col("n2").as("na2")), "ida")
      .join(norms.select(col("id").as("idb"), col("n2").as("nb2")), "idb")
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"), col("n_shared"),
        round(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))), 6)
          .as("cos_sim"))
      .where(col("cos_sim") >= TcThreshold)
      .orderBy("doc_a", "doc_b")
  }

  val queries: Map[String, Q] = Map(
    "d22_tfidf_cosine" -> d22TfidfCosine,
    "d21_minhash_calibration" -> d21MinhashCalibration,
    "d11_dup_spans" -> d11DupSpans,
    "d12_sig_dedup" -> d12SigDedup,
    "d1_exact_dedup" -> d1Exact,
    "d2_ngram_jaccard" -> d2NgramJaccard,
    "d3_minhash_lsh" -> d3MinhashLsh,
    "d4_simhash" -> d4Simhash,
    "d5_embedding_cosine" -> d5EmbeddingCosine,
    "d6_dedup_clusters" -> d6DedupClusters,
    "d24_dedup_yield" -> d24DedupYield,
    "d25_snapshot_diff" -> d25SnapshotDiff,
    "d26_split_leakage" -> d26SplitLeakage,
    "d27_cluster_sizes" -> d27ClusterSizes,
    "d28_quality_canon" -> d28QualityCanon,
    "d7_decontaminate" -> d7Decontaminate,
    "d8_corpus_select" -> d8CorpusSelect,
    "d23_overlap_score" -> d23OverlapScore,
    "d9_bloom_decontaminate" -> d9BloomDecontaminate,
    "d10_source_mix" -> d10SourceMix,
    "d13_group_sample" -> d13GroupSample,
    "d17_source_overlap" -> d17SourceOverlap,
    "d14_containment" -> d14Containment,
    "d15_fuzzy_names" -> d15FuzzyNames,
    "d16_name_canon" -> d16NameCanon,
    "d18_simhash_clusters" -> d18SimhashClusters,
    "d19_weighted_sample" -> d19WeightedSample,
    "d20_incremental_dedup" -> d20IncrementalDedup)

  // ---- DuckDB oracles ----

  private def sqlCharHash(expr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($expr, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (a, b) -> (a*31 + b) % ${Portable.P})""".stripMargin

  /** Shared shingle-set CTE: (id, lang, sh: BIGINT list, distinct). */
  private val setsCte: String =
    s"""wd AS (SELECT doc_id AS id, lang, string_split(text, ' ') AS words FROM documents),
       |sets AS (SELECT id, lang, list_distinct(list_transform(
       |  list_transform(range(1, greatest(len(words)-2, 0)+1),
       |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]),
       |  s -> ${sqlCharHash("s")})) AS sh FROM wd),
       |ne AS MATERIALIZED (SELECT * FROM sets WHERE len(sh) > 0)""".stripMargin

  private val jaccardExpr =
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh)))"

  /** Full MinHash+LSH pipeline through verified pairs (ida < idb, j ≥
    * threshold) — shared by the d3 and d6 oracles. */
  private val lshPairsCte: String =
    s"""$setsCte,
       |ex AS (SELECT id, unnest(sh) AS h FROM ne),
       |perms AS (SELECT range AS perm,
       |  ((range+1)*${MinHashLsh.PermA} + 7) % ${Portable.P} AS a,
       |  ((range+1)*${MinHashLsh.PermB} + 3) % ${Portable.P} AS b
       |  FROM range(0, ${cfg.numPerms})),
       |mins AS (SELECT id, perm, min((a*h + b) % ${Portable.P}) AS minv
       |  FROM ex, perms GROUP BY id, perm),
       |bands AS MATERIALIZED (SELECT id, perm // ${cfg.rowsPerBand} AS band,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(minv ORDER BY perm)),
       |    (x, y) -> (x*31 + y) % ${Portable.P}) AS sig
       |  FROM mins GROUP BY id, perm // ${cfg.rowsPerBand}),
       |cand AS (SELECT DISTINCT x.id AS ida, y.id AS idb
       |  FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.sig = y.sig AND x.id < y.id),
       |lshpairs AS MATERIALIZED (SELECT ida, idb, $jaccardExpr AS j
       |  FROM cand JOIN ne a ON ida = a.id JOIN ne b ON idb = b.id)""".stripMargin

  /** d6 oracle: d3's pair pipeline + unrolled min-label propagation over
    * the symmetrized pair graph, seeded with every document's own id. */
  /** Unrolled min-label CC supersteps over an edge CTE `de(src,dst)`
    * seeded by `c0(id,v)` — the tail shared by the d6 and d18 oracles. */
  private def minLabelCcSteps(iters: Int): String =
    (1 to iters).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT t.id, least(t.v, m.mv) AS v
         |  FROM c${k - 1} t LEFT JOIN (
         |    SELECT e.dst AS id, min(p.v) AS mv
         |    FROM de e JOIN c${k - 1} p ON e.src = p.id
         |    GROUP BY e.dst) m ON t.id = m.id)""".stripMargin
    }.mkString(",\n")

  private def dedupClustersSql(iters: Int): String =
    s"""WITH $lshPairsCte,
       |dp AS (SELECT ida, idb FROM lshpairs WHERE j >= ${cfg.threshold}),
       |de AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM dp
       |       UNION ALL SELECT idb, ida FROM dp),
       |c0 AS (SELECT doc_id AS id, CAST(doc_id AS BIGINT) AS v FROM documents),
       |${minLabelCcSteps(iters)}
       |SELECT id AS doc_id, v AS canonical_id, id != v AS is_dup
       |FROM c$iters ORDER BY doc_id""".stripMargin

  /** SimHash fingerprint + all-pairs hamming CTE chain (pigeonhole-equal
    * to the engine's banded generation) — shared by d4 and d18. The
    * 60-bit word key composes the plain fold (low 30 bits) with the
    * salt-prefixed fold (high 30) exactly as the native kernel does:
    * hash(SimSalt ∥ w) is the same polynomial continued from the salt's
    * own fold, so prefix-concatenation in SQL reproduces it verbatim. */
  private val simhashPairsCte: String =
    s"""sdocs AS (SELECT doc_id AS id, text FROM documents),
       |stf AS (SELECT id, w, count(*) AS tf FROM
       |  (SELECT id, unnest(string_split(text, ' ')) AS w FROM sdocs) GROUP BY id, w),
       |sth AS (SELECT id,
       |  (${sqlCharHash("w")})
       |  + ((${sqlCharHash(s"'${graft.functions.HashUtil.SimSalt}' || w")}) << 30) AS h,
       |  tf FROM stf),
       |sbits AS (SELECT range AS j, (CAST(1 AS BIGINT) << range) AS bitval
       |  FROM range(0, ${SimHash.Bits})),
       |swb AS (SELECT id, j, bitval,
       |  tf * (CASE WHEN (h & bitval) != 0 THEN 1 ELSE -1 END) AS wgt FROM sth, sbits),
       |ssb AS (SELECT id, j, bitval, sum(wgt) AS s FROM swb GROUP BY id, j, bitval),
       |sfp AS MATERIALIZED (SELECT id,
       |    CAST(sum(CASE WHEN s > 0 THEN bitval ELSE 0 END) AS BIGINT) AS simhash
       |  FROM ssb GROUP BY id),
       |shp AS MATERIALIZED (SELECT a.id AS ida, b.id AS idb,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM sfp a JOIN sfp b ON a.id < b.id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimMaxHamming)""".stripMargin

  val oracle: Map[String, String] = Map(
    "d10_source_mix" ->
      s"""WITH rates AS (SELECT source,
         |    25 + ${sqlCharHash("source")} % 75 AS keep_pct
         |  FROM (SELECT DISTINCT source FROM documents)),
         |dr AS (SELECT doc_id, source,
         |    ${sqlCharHash(s"text || '$MixSalt'")} % 100 AS draw
         |  FROM documents)
         |SELECT doc_id, dr.source, CAST(keep_pct AS BIGINT) AS keep_pct,
         |  draw, draw < keep_pct AS kept
         |FROM dr JOIN rates ON dr.source = rates.source
         |ORDER BY doc_id""".stripMargin,
    "d14_containment" ->
      s"""WITH $setsCte,
         |ex AS MATERIALIZED (SELECT id, lang, unnest(sh) AS h FROM ne),
         |dfc AS (SELECT h, count(*) AS df FROM ex GROUP BY h),
         |hot AS (SELECT h FROM dfc WHERE df > $DfCap),
         |cex AS MATERIALIZED (SELECT ex.id, ex.lang, ex.h FROM ex
         |  LEFT JOIN hot ON ex.h = hot.h WHERE hot.h IS NULL),
         |szs AS MATERIALIZED (SELECT ne.id, len(ne.sh) AS ntot,
         |    len(ne.sh) - coalesce(k.nkept, 0) AS nhot
         |  FROM ne LEFT JOIN (SELECT id, count(*) AS nkept FROM cex
         |    GROUP BY id) k ON ne.id = k.id),
         |common AS (SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS c
         |  FROM cex a JOIN cex b ON a.h = b.h AND a.lang = b.lang
         |    AND a.id < b.id GROUP BY 1, 2),
         |cand1 AS (SELECT doc_a, doc_b FROM common
         |  JOIN szs sa ON doc_a = sa.id JOIN szs sb ON doc_b = sb.id
         |  WHERE sa.ntot >= $ContainMinShingles AND sb.ntot >= $ContainMinShingles
         |    AND (5*(c + sa.nhot) >= 4*sa.ntot OR 5*(c + sb.nhot) >= 4*sb.ntot)),
         |hdocs AS (SELECT id FROM szs
         |  WHERE nhot * 2 >= ntot AND ntot >= $ContainMinShingles),
         |hx AS MATERIALIZED (SELECT ex.id, ex.lang, ex.h FROM ex
         |  JOIN hot ON ex.h = hot.h
         |  JOIN hdocs ON ex.id = hdocs.id),
         |hxk AS (SELECT hx.* FROM hx
         |  JOIN (SELECT h FROM hx GROUP BY h HAVING count(*) <= $DfCap) hk
         |  ON hx.h = hk.h),
         |cand2 AS (SELECT DISTINCT x.id AS doc_a, y.id AS doc_b
         |  FROM hxk x JOIN hxk y
         |  ON x.h = y.h AND x.lang = y.lang AND x.id < y.id
         |  JOIN szs sa ON x.id = sa.id JOIN szs sb ON y.id = sb.id
         |  WHERE sa.ntot >= $ContainMinShingles AND sb.ntot >= $ContainMinShingles),
         |cand AS MATERIALIZED (SELECT doc_a, doc_b FROM cand1
         |  UNION SELECT doc_a, doc_b FROM cand2),
         |v AS MATERIALIZED (SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(fa.sh, fb.sh)) AS BIGINT) AS cf,
         |    CAST(len(fa.sh) AS BIGINT) AS ta, CAST(len(fb.sh) AS BIGINT) AS tb
         |  FROM cand JOIN ne fa ON doc_a = fa.id JOIN ne fb ON doc_b = fb.id)
         |SELECT contained_id, container_id, n_common, n_shingles, containment
         |FROM (
         |  SELECT doc_a AS contained_id, doc_b AS container_id, cf AS n_common,
         |    ta AS n_shingles,
         |    round(CAST(cf AS DOUBLE) / CAST(ta AS DOUBLE), 6) AS containment
         |  FROM v WHERE 5*cf >= 4*ta
         |  UNION ALL
         |  SELECT doc_b, doc_a, cf, tb,
         |    round(CAST(cf AS DOUBLE) / CAST(tb AS DOUBLE), 6)
         |  FROM v WHERE 5*cf >= 4*tb)
         |ORDER BY contained_id, container_id""".stripMargin,
    "d16_name_canon" -> {
      val steps = (1 to D16Iters).map { k =>
        s"""c$k AS MATERIALIZED (
           |  SELECT t.id, least(t.v, m.mv) AS v
           |  FROM c${k - 1} t LEFT JOIN (
           |    SELECT e.dst AS id, min(p.v) AS mv
           |    FROM se e JOIN c${k - 1} p ON e.src = p.id
           |    GROUP BY e.dst) m ON t.id = m.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH names AS (SELECT DISTINCT p_name AS name FROM part),
         |ids AS MATERIALIZED (SELECT name, ${sqlCharHash("name")} AS hid FROM names),
         |vars AS (SELECT name, unnest(list_prepend(name,
         |    list_transform(range(1, length(name) + 1),
         |      i -> substring(name, 1, i - 1) || substring(name, i + 1, 1000))))
         |    AS variant
         |  FROM names),
         |cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
         |  FROM vars a JOIN vars b
         |  ON a.variant = b.variant AND a.name < b.name),
         |fp AS (SELECT name_a, name_b FROM cand
         |  WHERE levenshtein(name_a, name_b) <= 1),
         |e0 AS (SELECT ia.hid AS src, ib.hid AS dst FROM fp
         |  JOIN ids ia ON fp.name_a = ia.name
         |  JOIN ids ib ON fp.name_b = ib.name),
         |se AS MATERIALIZED (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst, src FROM e0),
         |c0 AS (SELECT hid AS id, hid AS v FROM ids),
         |$steps,
         |withc AS (SELECT ids.name, c$D16Iters.v AS comp FROM ids
         |  JOIN c$D16Iters ON ids.hid = c$D16Iters.id),
         |grp AS (SELECT comp, min(name) AS canonical_name
         |  FROM withc GROUP BY comp)
         |SELECT withc.name, grp.canonical_name,
         |  withc.name != grp.canonical_name AS is_variant
         |FROM withc JOIN grp ON withc.comp = grp.comp
         |ORDER BY withc.name""".stripMargin
    },
    "d15_fuzzy_names" ->
      s"""WITH names AS (SELECT DISTINCT p_name AS name FROM part),
         |vars AS (SELECT name, unnest(list_prepend(name,
         |    list_transform(range(1, length(name) + 1),
         |      i -> substring(name, 1, i - 1) || substring(name, i + 1, 1000))))
         |    AS variant
         |  FROM names),
         |cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
         |  FROM vars a JOIN vars b
         |  ON a.variant = b.variant AND a.name < b.name)
         |SELECT name_a, name_b,
         |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
         |FROM cand WHERE levenshtein(name_a, name_b) <= 1
         |ORDER BY name_a, name_b""".stripMargin,
    "d22_tfidf_cosine" ->
      s"""WITH wh AS (SELECT doc_id AS id,
         |    unnest(list_transform(string_split(text, ' '),
         |      w -> ${sqlCharHash("w")})) AS h
         |  FROM documents),
         |tfq AS (SELECT id, h, least(count(*), $TcTfCap) AS tf
         |  FROM wh GROUP BY id, h),
         |dfq AS (SELECT h, count(*) AS df FROM tfq GROUP BY h),
         |nn AS (SELECT count(*) AS n_docs FROM documents),
         |wt AS MATERIALIZED (SELECT id, tfq.h,
         |    CAST(tf * (($TcIdfScale * (SELECT n_docs FROM nn)) // df)
         |      AS BIGINT) AS w
         |  FROM tfq JOIN dfq USING (h)),
         |nrm AS (SELECT id, CAST(sum(w * w) AS BIGINT) AS n2
         |  FROM wt GROUP BY id),
         |rare AS (SELECT id, h FROM tfq JOIN dfq USING (h)
         |  WHERE df BETWEEN 2 AND $DfCap),
         |cand AS (SELECT DISTINCT a.id AS ida, b.id AS idb
         |  FROM rare a JOIN rare b ON a.h = b.h AND a.id < b.id),
         |dotp AS (SELECT c.ida, c.idb,
         |    CAST(sum(wa.w * wb.w) AS BIGINT) AS dot,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM cand c JOIN wt wa ON c.ida = wa.id
         |              JOIN wt wb ON c.idb = wb.id AND wa.h = wb.h
         |  GROUP BY c.ida, c.idb),
         |sc AS (SELECT dotp.ida, dotp.idb, n_shared,
         |    round(CAST(dot AS DOUBLE) /
         |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6)
         |      AS cos_sim
         |  FROM dotp JOIN nrm na ON dotp.ida = na.id
         |            JOIN nrm nb ON dotp.idb = nb.id)
         |SELECT ida AS doc_a, idb AS doc_b, n_shared, cos_sim
         |FROM sc WHERE cos_sim >= $TcThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d21_minhash_calibration" ->
      s"""WITH $lshPairsCte,
         |dp AS (SELECT ida, idb FROM lshpairs WHERE j >= ${cfg.threshold}),
         |agree AS (SELECT dp.ida, dp.idb,
         |    CAST(sum(CASE WHEN ma.minv = mb.minv THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_agree
         |  FROM dp JOIN mins ma ON dp.ida = ma.id
         |          JOIN mins mb ON dp.idb = mb.id AND ma.perm = mb.perm
         |  GROUP BY dp.ida, dp.idb),
         |exj AS (SELECT dp.ida, dp.idb,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
         |    CAST(len(list_distinct(a.sh || b.sh)) AS BIGINT) AS n_union
         |  FROM dp JOIN ne a ON dp.ida = a.id JOIN ne b ON dp.idb = b.id)
         |SELECT exj.ida AS doc_a, exj.idb AS doc_b, n_inter, n_union,
         |  (1000000 * n_inter) // n_union AS exact_ppm,
         |  n_agree, (1000000 * n_agree) // ${cfg.numPerms} AS est_ppm,
         |  abs((1000000 * n_agree) // ${cfg.numPerms}
         |    - (1000000 * n_inter) // n_union) AS err_ppm
         |FROM exj JOIN agree ON exj.ida = agree.ida AND exj.idb = agree.idb
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d20_incremental_dedup" ->
      s"""WITH $lshPairsCte,
         |x AS (SELECT
         |    CASE WHEN ida % $IncrShardMod = 0 THEN ida ELSE idb END AS bid,
         |    CASE WHEN ida % $IncrShardMod = 0 THEN idb ELSE ida END AS cid, j
         |  FROM lshpairs
         |  WHERE (ida % $IncrShardMod = 0) != (idb % $IncrShardMod = 0)),
         |agg AS (SELECT bid, count(*) AS n_candidates,
         |    CAST(sum(CASE WHEN j >= ${cfg.threshold} THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_matches,
         |    min(CASE WHEN j >= ${cfg.threshold} THEN cid END) AS first_match
         |  FROM x GROUP BY bid)
         |SELECT d.doc_id, coalesce(n_candidates, 0) AS n_candidates,
         |  coalesce(n_matches, 0) AS n_matches, first_match,
         |  coalesce(n_matches, 0) = 0 AS kept
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.bid
         |WHERE d.doc_id % $IncrShardMod = 0 ORDER BY d.doc_id""".stripMargin,
    "d19_weighted_sample" ->
      s"""WITH h AS (SELECT source, doc_id,
         |    ${sqlCharHash(s"text || '$WSampleSalt'")} // greatest(n_chars, 1)
         |      AS priority
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY priority, doc_id) AS rank FROM h)
         |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, priority
         |FROM r WHERE rank <= $WSampleK ORDER BY source, rank""".stripMargin,
    "d13_group_sample" ->
      s"""WITH h AS (SELECT source, doc_id,
         |    ${sqlCharHash(s"text || '$SampleSalt'")} AS draw
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY draw, doc_id) AS rank FROM h)
         |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, draw
         |FROM r WHERE rank <= $SampleK ORDER BY source, rank""".stripMargin,
    "d12_sig_dedup" ->
      s"""WITH $setsCte,
         |ex AS (SELECT id, unnest(sh) AS h FROM ne),
         |perms AS (SELECT range AS perm,
         |  ((range+1)*${MinHashLsh.PermA} + 7) % ${Portable.P} AS a,
         |  ((range+1)*${MinHashLsh.PermB} + 3) % ${Portable.P} AS b
         |  FROM range(0, ${cfg.numPerms})),
         |mins AS (SELECT id, perm, min((a*h + b) % ${Portable.P}) AS minv
         |  FROM ex, perms GROUP BY id, perm),
         |bands AS (SELECT id, perm // ${cfg.rowsPerBand} AS band,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(minv ORDER BY perm)),
         |    (x, y) -> (x*31 + y) % ${Portable.P}) AS sig
         |  FROM mins GROUP BY id, perm // ${cfg.rowsPerBand}),
         |docsig AS (SELECT id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list(sig ORDER BY band)), (x, y) -> (x*31 + y) % ${Portable.P}) AS sig
         |  FROM bands GROUP BY id),
         |full_sig AS (SELECT d.doc_id AS id,
         |    coalesce(ds.sig, ${sqlCharHash("d.text")}) AS sig
         |  FROM documents d LEFT JOIN docsig ds ON d.doc_id = ds.id)
         |SELECT id AS doc_id, sig FROM full_sig
         |WHERE id = (SELECT min(f2.id) FROM full_sig f2 WHERE f2.sig = full_sig.sig)
         |ORDER BY doc_id""".stripMargin,
    "d17_source_overlap" -> {
      val gram = (0 until 8).map(j => s"words[i+$j]").mkString(" || ' ' || ")
      s"""WITH wd AS (SELECT source, string_split(text, ' ') AS words FROM documents),
         |sp AS MATERIALIZED (SELECT DISTINCT source, h FROM (
         |  SELECT source,
         |    unnest(list_transform(range(1, greatest(len(words)-7, 0)+1),
         |      i -> ${sqlCharHash("gramexpr")})) AS h
         |  FROM wd))
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_shared_spans
         |FROM sp a JOIN sp b ON a.h = b.h AND a.source < b.source
         |GROUP BY a.source, b.source
         |ORDER BY source_a, source_b""".stripMargin.replace("gramexpr", gram)
    },
    "d11_dup_spans" -> {
      val gram = (0 until 8).map(j => s"words[i+$j]").mkString(" || ' ' || ")
      s"""WITH wd AS (SELECT doc_id AS id, string_split(text, ' ') AS words FROM documents),
         |sp AS MATERIALIZED (SELECT id,
         |    unnest(list_transform(range(1, greatest(len(words)-7, 0)+1),
         |      i -> ${sqlCharHash("gramexpr")})) AS h
         |  FROM wd),
         |dup AS (SELECT h FROM sp GROUP BY h HAVING min(id) != max(id)),
         |tot AS (SELECT id, count(*) AS n_spans FROM sp GROUP BY id),
         |dp AS (SELECT id, count(*) AS dup_spans
         |  FROM sp JOIN dup USING (h) GROUP BY id)
         |SELECT tot.id AS doc_id, n_spans,
         |  coalesce(dup_spans, 0) AS dup_spans,
         |  round(CAST(coalesce(dup_spans, 0) AS DOUBLE) / n_spans, 6) AS dup_frac
         |FROM tot LEFT JOIN dp ON tot.id = dp.id
         |ORDER BY doc_id""".stripMargin.replace("gramexpr", gram)
    },
    "d1_exact_dedup" ->
      """SELECT doc_id, sha256(text) AS text_sha,
        |  min(doc_id) OVER (PARTITION BY sha256(text)) AS canonical_id,
        |  doc_id != min(doc_id) OVER (PARTITION BY sha256(text)) AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,
    "d2_ngram_jaccard" ->
      s"""WITH $setsCte,
         |ex AS MATERIALIZED (SELECT id, lang, unnest(sh) AS h FROM ne),
         |dfc AS MATERIALIZED (SELECT h, count(*) AS df FROM ex GROUP BY h),
         |cex AS MATERIALIZED (SELECT ex.id, ex.lang, ex.h
         |  FROM ex JOIN (SELECT h FROM dfc WHERE df <= $DfCap) dft ON ex.h = dft.h),
         |tot AS (SELECT id, count(*) AS ntot FROM ex GROUP BY id),
         |kept AS (SELECT id, count(*) AS nkept FROM cex GROUP BY id),
         |szs AS MATERIALIZED (SELECT tot.id, ntot,
         |    ntot - coalesce(nkept, 0) AS nhot
         |  FROM tot LEFT JOIN kept ON tot.id = kept.id),
         |cmn AS (SELECT x.id AS doc_a, y.id AS doc_b, count(*) AS c
         |  FROM cex x JOIN cex y
         |  ON x.h = y.h AND x.lang = y.lang AND x.id < y.id
         |  GROUP BY x.id, y.id),
         |scored AS (SELECT doc_a, doc_b, c, sa.ntot AS ta, sb.ntot AS tb,
         |    sa.nhot AS ha, sb.nhot AS hb
         |  FROM cmn JOIN szs sa ON doc_a = sa.id JOIN szs sb ON doc_b = sb.id
         |  WHERE 3 * (c + least(sa.nhot, sb.nhot)) >= sa.ntot + sb.ntot),
         |closed AS (SELECT doc_a, doc_b,
         |    CAST(c AS DOUBLE) / (ta + tb - c) AS j
         |  FROM scored WHERE least(ha, hb) = 0),
         |cand1 AS (SELECT doc_a, doc_b FROM scored WHERE least(ha, hb) > 0),
         |hdocs AS (SELECT id FROM szs WHERE nhot * 2 >= ntot),
         |hx AS MATERIALIZED (SELECT ex.id, ex.lang, ex.h FROM ex
         |  JOIN (SELECT h FROM dfc WHERE df > $DfCap) hot ON ex.h = hot.h
         |  JOIN hdocs ON ex.id = hdocs.id),
         |hxk AS (SELECT hx.* FROM hx
         |  JOIN (SELECT h FROM hx GROUP BY h HAVING count(*) <= $DfCap) hk
         |  ON hx.h = hk.h),
         |cand2 AS (SELECT DISTINCT x.id AS doc_a, y.id AS doc_b
         |  FROM hxk x JOIN hxk y
         |  ON x.h = y.h AND x.lang = y.lang AND x.id < y.id),
         |cand AS (SELECT doc_a, doc_b FROM cand1 UNION SELECT doc_a, doc_b FROM cand2),
         |v AS (SELECT doc_a, doc_b, $jaccardExpr AS j
         |  FROM cand JOIN ne a ON doc_a = a.id JOIN ne b ON doc_b = b.id),
         |allp AS (SELECT * FROM closed UNION ALL SELECT * FROM v)
         |SELECT doc_a, doc_b, round(j, 6) AS jaccard
         |FROM allp WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "d3_minhash_lsh" ->
      s"""WITH $lshPairsCte
         |SELECT ida AS doc_a, idb AS doc_b, round(j, 6) AS jaccard
         |FROM lshpairs WHERE j >= ${cfg.threshold}
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d4_simhash" ->
      s"""WITH $simhashPairsCte
         |SELECT ida AS doc_a, idb AS doc_b, hamming
         |FROM shp ORDER BY doc_a, doc_b""".stripMargin,
    "d18_simhash_clusters" ->
      s"""WITH $simhashPairsCte,
         |srep AS MATERIALIZED (SELECT f.id, r.rep FROM sfp f
         |  JOIN (SELECT simhash, min(id) AS rep FROM sfp GROUP BY simhash) r
         |  ON f.simhash = r.simhash),
         |qe AS (SELECT DISTINCT ra.rep AS src, rb.rep AS dst
         |  FROM shp JOIN srep ra ON shp.ida = ra.id
         |           JOIN srep rb ON shp.idb = rb.id
         |  WHERE ra.rep != rb.rep),
         |de AS MATERIALIZED (SELECT src, dst FROM qe
         |       UNION ALL SELECT dst, src FROM qe),
         |c0 AS (SELECT DISTINCT rep AS id, CAST(rep AS BIGINT) AS v FROM srep),
         |${minLabelCcSteps(D6Iters)}
         |SELECT d.doc_id,
         |  CAST(coalesce(c.v, s.rep, d.doc_id) AS BIGINT) AS canonical_id,
         |  d.doc_id != coalesce(c.v, s.rep, d.doc_id) AS is_dup
         |FROM documents d LEFT JOIN srep s ON d.doc_id = s.id
         |  LEFT JOIN c$D6Iters c ON s.rep = c.id
         |ORDER BY d.doc_id""".stripMargin,
    "d6_dedup_clusters" -> dedupClustersSql(D6Iters),
    "d28_quality_canon" ->
      s"""WITH $lshPairsCte,
         |dp AS (SELECT ida, idb FROM lshpairs WHERE j >= ${cfg.threshold}),
         |de AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM dp
         |       UNION ALL SELECT idb, ida FROM dp),
         |c0 AS (SELECT doc_id AS id, CAST(doc_id AS BIGINT) AS v FROM documents),
         |${minLabelCcSteps(D6Iters)},
         |asg AS (SELECT id AS doc_id, v AS cluster_id FROM c$D6Iters),
         |${TextQueries.qualityCte},
         |sc AS (SELECT a.doc_id, a.cluster_id, qs.q
         |  FROM asg a JOIN qs USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY q DESC, doc_id) AS rn FROM sc),
         |k AS (SELECT cluster_id, doc_id AS keeper_id FROM r WHERE rn = 1)
         |SELECT sc.doc_id, CAST(sc.cluster_id AS BIGINT) AS cluster_id,
         |  sc.q AS quality_score, k.keeper_id,
         |  sc.doc_id = k.keeper_id AS keep
         |FROM sc JOIN k ON sc.cluster_id = k.cluster_id
         |ORDER BY sc.doc_id""".stripMargin,
    "d27_cluster_sizes" ->
      s"""WITH $lshPairsCte,
         |dp AS (SELECT ida, idb FROM lshpairs WHERE j >= ${cfg.threshold}),
         |de AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM dp
         |       UNION ALL SELECT idb, ida FROM dp),
         |c0 AS (SELECT doc_id AS id, CAST(doc_id AS BIGINT) AS v FROM documents),
         |${minLabelCcSteps(D6Iters)},
         |cz AS (SELECT CAST(v AS BIGINT) AS canon, count(*) AS csize
         |  FROM c$D6Iters GROUP BY 1),
         |tot AS (SELECT CAST(sum(csize) AS BIGINT) AS n_docs FROM cz)
         |SELECT CAST(csize AS BIGINT) AS cluster_size,
         |  count(*) AS n_clusters,
         |  CAST(csize * count(*) AS BIGINT) AS n_docs_in,
         |  (1000000 * CAST(csize AS BIGINT) * count(*)) // n_docs
         |    AS doc_share_ppm
         |FROM cz, tot GROUP BY csize, n_docs
         |ORDER BY cluster_size""".stripMargin,
    "d26_split_leakage" ->
      s"""WITH $lshPairsCte,
         |dp AS (SELECT ida, idb FROM lshpairs WHERE j >= ${cfg.threshold}),
         |sp AS (SELECT doc_id,
         |    CASE WHEN ${sqlCharHash("text")} % 100 < ${TextQueries.SplitTrainLt}
         |           THEN 'train'
         |         WHEN ${sqlCharHash("text")} % 100 < ${TextQueries.SplitValLt}
         |           THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |jx AS (SELECT least(a.split, b.split) AS side_a,
         |    greatest(a.split, b.split) AS side_b
         |  FROM dp JOIN sp a ON dp.ida = a.doc_id
         |          JOIN sp b ON dp.idb = b.doc_id)
         |SELECT side_a, side_b, count(*) AS n_pairs,
         |  side_a != side_b AS leaked
         |FROM jx GROUP BY side_a, side_b ORDER BY side_a, side_b""".stripMargin,
    "d25_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, source AS src_old, sha256(text) AS h_old
        |    FROM documents WHERE doc_id % 7 != 0),
        |n AS (SELECT doc_id, source AS src_new,
        |    sha256(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
        |      ELSE text END) AS h_new
        |  FROM documents WHERE doc_id % 5 != 0),
        |j AS (SELECT coalesce(src_new, src_old) AS source,
        |    CASE WHEN h_old IS NULL THEN 'added'
        |         WHEN h_new IS NULL THEN 'removed'
        |         WHEN h_old != h_new THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM o FULL OUTER JOIN n USING (doc_id))
        |SELECT source, status, count(*) AS n FROM j
        |GROUP BY source, status ORDER BY source, status""".stripMargin,
    "d24_dedup_yield" ->
      s"""WITH $lshPairsCte,
         |dp AS (SELECT ida, idb FROM lshpairs WHERE j >= ${cfg.threshold}),
         |de AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM dp
         |       UNION ALL SELECT idb, ida FROM dp),
         |c0 AS (SELECT doc_id AS id, CAST(doc_id AS BIGINT) AS v FROM documents),
         |${minLabelCcSteps(D6Iters)},
         |asg AS (SELECT id AS doc_id, id != v AS is_dup FROM c$D6Iters)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN a.is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dups,
         |  CAST(count(*) - sum(CASE WHEN a.is_dup THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_kept,
         |  CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
         |  CAST(sum(CASE WHEN a.is_dup THEN d.n_chars ELSE 0 END) AS BIGINT)
         |    AS chars_removed,
         |  (1000000 * CAST(sum(CASE WHEN a.is_dup THEN 1 ELSE 0 END)
         |    AS BIGINT)) // count(*) AS dup_ppm
         |FROM documents d JOIN asg a ON d.doc_id = a.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "d8_corpus_select" -> {
      val gram = (0 until DecontamK).map(j => s"words[i+$j]").mkString(" || ' ' || ")
      s"""WITH ${TextQueries.repetitionKeepSqlCtes("documents")},
         |cn AS (SELECT doc_id,
         |    doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS is_canonical
         |  FROM documents),
         |dwd AS (SELECT doc_id AS id, string_split(text, ' ') AS words FROM documents),
         |dsh AS (SELECT id, unnest(list_distinct(list_transform(
         |    list_transform(range(1, greatest(len(words)-${DecontamK - 1}, 0)+1),
         |      i -> $gram),
         |    s -> ${sqlCharHash("s")}))) AS h FROM dwd),
         |dev AS (SELECT DISTINCT h FROM dsh WHERE id % 20 = 0),
         |dhits AS (SELECT dsh.id, count(*) AS n_shared
         |  FROM dsh JOIN dev USING (h) GROUP BY dsh.id)
         |SELECT d.doc_id, d.doc_id % 20 = 0 AS is_eval,
         |  rk.keep AS keep_quality, cn.is_canonical,
         |  coalesce(n_shared, 0) < $DecontamMinShared AS is_clean,
         |  (d.doc_id % 20 != 0 AND rk.keep AND cn.is_canonical
         |   AND coalesce(n_shared, 0) < $DecontamMinShared) AS selected
         |FROM documents d
         |JOIN rk ON d.doc_id = rk.doc_id
         |JOIN cn ON d.doc_id = cn.doc_id
         |LEFT JOIN dhits ON d.doc_id = dhits.id
         |ORDER BY d.doc_id""".stripMargin
    },
    "d7_decontaminate" -> {
      val gram = (0 until DecontamK).map(j => s"words[i+$j]").mkString(" || ' ' || ")
      s"""WITH wd AS (SELECT doc_id AS id, string_split(text, ' ') AS words FROM documents),
         |sh AS (SELECT id, unnest(list_distinct(list_transform(
         |    list_transform(range(1, greatest(len(words)-${DecontamK - 1}, 0)+1),
         |      i -> $gram),
         |    s -> ${sqlCharHash("s")}))) AS h FROM wd),
         |ev AS (SELECT DISTINCT h FROM sh WHERE id % 20 = 0),
         |hits AS (SELECT sh.id, count(*) AS n_shared
         |  FROM sh JOIN ev USING (h) WHERE sh.id % 20 != 0 GROUP BY sh.id)
         |SELECT d.doc_id, coalesce(n_shared, 0) AS n_shared,
         |  coalesce(n_shared, 0) >= $DecontamMinShared AS contaminated
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.id
         |WHERE d.doc_id % 20 != 0 ORDER BY doc_id""".stripMargin
    },
    "d23_overlap_score" -> {
      val gram = (0 until DecontamK).map(j => s"words[i+$j]").mkString(" || ' ' || ")
      s"""WITH wd AS (SELECT doc_id AS id, string_split(text, ' ') AS words FROM documents),
         |shl AS (SELECT id, list_distinct(list_transform(
         |    list_transform(range(1, greatest(len(words)-${DecontamK - 1}, 0)+1),
         |      i -> $gram),
         |    s -> ${sqlCharHash("s")})) AS shs FROM wd),
         |sh AS (SELECT id, unnest(shs) AS h FROM shl),
         |ev AS (SELECT DISTINCT h FROM sh WHERE id % 20 = 0),
         |hits AS (SELECT sh.id, count(*) AS n_shared
         |  FROM sh JOIN ev USING (h) WHERE sh.id % 20 != 0 GROUP BY sh.id),
         |tot AS (SELECT id, len(shs) AS n_total FROM shl WHERE id % 20 != 0)
         |SELECT tot.id AS doc_id, CAST(n_total AS BIGINT) AS n_total,
         |  CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
         |  CAST(CASE WHEN n_total = 0 THEN 0
         |       ELSE coalesce(n_shared, 0) * 1000000 // n_total END AS BIGINT)
         |    AS overlap_ppm
         |FROM tot LEFT JOIN hits USING (id) ORDER BY doc_id""".stripMargin
    },
    "d9_bloom_decontaminate" -> {
      val gram = (0 until DecontamK).map(j => s"words[i+$j]").mkString(" || ' ' || ")
      def pos(h: String, j: Int) =
        s"(($h * ${BloomA(j)} + ${j * 7919 + 13}) % ${Portable.P}) % $BloomM"
      val bitsUnion = (0 until BloomJ)
        .map(j => s"SELECT DISTINCT ${pos("h", j)} AS p FROM ev").mkString(" UNION ")
      s"""WITH wd AS (SELECT doc_id AS id, string_split(text, ' ') AS words FROM documents),
         |sh AS (SELECT id, unnest(list_distinct(list_transform(
         |    list_transform(range(1, greatest(len(words)-${DecontamK - 1}, 0)+1),
         |      i -> $gram),
         |    s -> ${sqlCharHash("s")}))) AS h FROM wd),
         |ev AS (SELECT DISTINCT h FROM sh WHERE id % 20 = 0),
         |bits AS ($bitsUnion),
         |cand AS (SELECT id, h FROM sh WHERE id % 20 != 0
         |  AND ${pos("h", 0)} IN (SELECT p FROM bits)
         |  AND ${pos("h", 1)} IN (SELECT p FROM bits)
         |  AND ${pos("h", 2)} IN (SELECT p FROM bits)),
         |nc AS (SELECT id, count(*) AS n_candidates FROM cand GROUP BY id),
         |nv AS (SELECT cand.id, count(*) AS n_verified
         |  FROM cand JOIN ev USING (h) GROUP BY cand.id)
         |SELECT d.doc_id,
         |  coalesce(n_candidates, 0) AS n_candidates,
         |  coalesce(n_verified, 0) AS n_verified,
         |  coalesce(n_candidates, 0) - coalesce(n_verified, 0) AS n_false_pos,
         |  coalesce(n_verified, 0) >= $DecontamMinShared AS contaminated
         |FROM documents d
         |LEFT JOIN nc ON d.doc_id = nc.id
         |LEFT JOIN nv ON d.doc_id = nv.id
         |WHERE d.doc_id % 20 != 0 ORDER BY doc_id""".stripMargin
    },
    "d5_embedding_cosine" ->
      s"""WITH ${SimilarityQueries.baseCte},
         |sigs AS (SELECT vec_id, v, nrm, ${SimilarityQueries.sqlSignature} AS sig FROM n)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${SimilarityQueries.sqlCosGen("a.v", "b.v", "a.nrm", "b.nrm")}, 6) AS cos_sim
         |FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
         |WHERE ${SimilarityQueries.sqlCosGen("a.v", "b.v", "a.nrm", "b.nrm")} >= 0.4
         |ORDER BY id_a, id_b""".stripMargin)
}
