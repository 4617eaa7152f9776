package graft.operators

import graft.graph.Materialize
import graft.graph.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Derived, Tables}
import graft.graph.GraphOps

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - s1: brute-force cosine top-k — the exactness baseline. Query side is
  *    tiny → broadcast; the scan side streams; ranking is a per-query
  *    window (TakeOrdered semantics).
  *  - s2: hyperplane-LSH bucketed top-k — the 100 TB path: a 6-bit
  *    random-hyperplane signature per vector; candidates = same-bucket
  *    vectors only, so the join is equi-key (no cross product). The
  *    hyperplanes come from an explicit LCG formula evaluated identically
  *    in Spark and the DuckDB oracle — bit-exact, so even the approximate
  *    variant hash-matches.
  *
  * All dot products / norms are left-folds over the array in element
  * order (`aggregate`/`zip_with`, DuckDB `list_reduce`) — never a groupBy
  * SUM over exploded elements, whose accumulation order is
  * nondeterministic in a distributed engine.
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  private val TopK = 10
  private val NQueryVecs = 5
  private val NPlanes = 6
  private val Dim = 64

  /** Hyperplane component (j,d) ∈ [-0.5, 0.5), reproducible in any
    * engine with BIGINT + DOUBLE. Quadratic integer hash, NOT a linear
    * LCG of the flat index: LCG outputs at consecutive seeds lie on a
    * coarse lattice, which made the original planes correlated (measured
    * mean |cos| 0.356 between plane pairs, worst pair 0.999 — i.e. two
    * "independent" planes were the same plane, so widening the signature
    * added no discrimination). The quadratic term breaks the lattice:
    * measured mean |cos| 0.096 ≈ the E[|cos|] of truly random 64-dim
    * directions. All intermediates < 2^62 — ANSI-safe BIGINT. */
  private val PlaneP = 2147483647L
  private def planeComponent(j: Int, d: Int): Double = {
    val k = (j * Dim + d).toLong
    ((((k * k) % PlaneP) * 1103515245L + 7919L * k + 13L) % PlaneP).toDouble / PlaneP.toDouble - 0.5
  }

  private[operators] def vecsWithNorm(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(
      col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    e.select(col("vec_id"), col("label"), col("v"),
      graft.functions.Portable.vecNorm(col("v")).as("nrm"))
  }

  private def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    graft.functions.Portable.vecDot(va, vb) / (na * nb)

  /** s1: exact cosine top-10 for the first 5 vectors. */
  def s1AnnBruteforce(s: SparkSession, d: String): DataFrame = {
    val n = vecsWithNorm(s, d)
    val q = broadcast(n.where(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
    val scored = q.crossJoin(n)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("v"), col("qn"), col("nrm")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .orderBy("query_id", "rank")
  }

  /** Signature column: `planes`-bit hyperplane sign pattern of `v`. The
    * default 6-bit form is shared with d5's near-dup candidate generation
    * in [[DedupQueries]]; s2/s9 pass a data-derived width
    * ([[derivedPlanes]]). */
  private[operators] def signature(v: Column, planes: Int = NPlanes): Column =
    (0 until planes).map { j =>
      val plane = array((0 until Dim).map(dd => lit(planeComponent(j, dd))): _*)
      val proj = graft.functions.Portable.vecDot(v, plane)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Data-derived signature width: `max(6, ceil(log2 N) - 3)` — i.e.
    * ~N/8 buckets, so EXPECTED bucket occupancy stays a constant ~8 and
    * within-bucket candidate volume Σb² ≈ 8N stays O(N) as the corpus
    * grows (a fixed width is quadratic: Σb² ≈ N²/2^w). Computed from a
    * one-row `count()` of the vector table via integer bit-length — no
    * libm, so the DuckDB oracle derives the identical width with
    * `length(bin(N-1))`. The floor of 6 keeps the small-SF surface on the
    * round-6 geometry. */
  private[operators] def derivedPlanes(nVecs: Long): Int =
    if (nVecs < 2) NPlanes
    else math.max(NPlanes, 64 - java.lang.Long.numberOfLeadingZeros(nVecs - 1) - 3)

  /** Multi-probe bucket list: the vector's own signature plus every
    * 1-bit flip of it — hamming-radius-1 probing, the standard recall
    * recovery for wide signatures (each true pair at hamming ≤ 1 meets
    * in exactly one probed bucket, so candidates never duplicate). */
  private[operators] def probeSigs(sig: Column, planes: Int): Column =
    array(sig +: (0 until planes).map(j => sig.bitwiseXOR(lit(1L << j))): _*)

  /** s2: LSH-bucketed cosine top-10 — candidates share the query's
    * signature bucket exactly or at hamming distance 1 (multi-probe).
    * Signature width is derived from the corpus size ([[derivedPlanes]]),
    * so the bucket count scales with N and the candidate join stays
    * linear at any scale; multi-probe holds recall as the width grows. */
  def s2AnnLsh(s: SparkSession, d: String): DataFrame = {
    val planes = derivedPlanes(Tables.embeddings(s, d).count())
    val n = vecsWithNorm(s, d).withColumn("sig", signature(col("v"), planes))
    val q = broadcast(n.where(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(probeSigs(col("sig"), planes)).as("qsig")))
    val scored = q.join(n, col("sig") === col("qsig") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("v"), col("qn"), col("nrm")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .orderBy("query_id", "rank")
  }

  /** s3: IVF-style ANN — the third leg of the ANN triad (exact s1,
    * hash-bucket s2, cluster-probe s3).
    *
    * Coarse quantizer: one anchor per label, chosen deterministically as
    * the label's min-vec_id vector (a data-derived centroid surrogate —
    * a k-means mean would be order-nondeterministic in float and break
    * the cross-engine gate). Every vector is assigned to its
    * nearest-by-cosine anchor (its IVF cell — NOT necessarily its own
    * label); each query probes the nprobe=2 nearest anchors and
    * brute-forces only those cells.
    *
    * Scale shape: anchors are broadcast (nlist rows); assignment is a
    * per-row projection over one broadcast join; the probe join is
    * equi-keyed on cell id. At 100 TB this is exactly IVF-Flat: nlist ~
    * √N anchors, cells shuffled once, queries shuffled by probed cell. */
  def s3AnnIvf(s: SparkSession, d: String): DataFrame = {
    val NProbe = 2
    val n = vecsWithNorm(s, d)
    val aw = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val anchors = broadcast(
      n.withColumn("arn", row_number().over(aw)).where(col("arn") === 1)
        .select(col("label").cast("long").as("anchor_id"),
          col("v").as("av"), col("nrm").as("an")))
    def cosToAnchor = cosine(col("v"), col("av"), col("nrm"), col("an"))
    val cellW = Window.partitionBy(col("vec_id"))
      .orderBy(cosToAnchor.desc, col("anchor_id"))
    val assigned = n.crossJoin(anchors)
      .withColumn("crn", row_number().over(cellW)).where(col("crn") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("anchor_id").as("cell"))
    val probeW = Window.partitionBy(col("vec_id"))
      .orderBy(cosToAnchor.desc, col("anchor_id"))
    val probes = n.where(col("vec_id") < NQueryVecs).crossJoin(anchors)
      .withColumn("prn", row_number().over(probeW)).where(col("prn") <= NProbe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("anchor_id").as("cell"))
    val scored = probes.join(assigned, "cell")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qv"), col("v"), col("qn"), col("nrm")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .orderBy("query_id", "rank")
  }

  private val KmK = 4
  /** s8: filtered (metadata-constrained) ANN — each query vector only
    * searches vectors sharing its `label` (the tenant/language/licence
    * restriction every production vector store bolts on). PRE-filter
    * formulation: the predicate is an equi-join key, so the filter
    * applies before any distance is computed and the per-query candidate
    * set shrinks to its label's partition — vs post-filtering a global
    * top-k, which silently returns < k results when the filter is
    * selective. Ranking is the bounded BottomK heap over an integer
    * micro-cosine (round(cos·10⁶) — heap order and the oracle's
    * `ORDER BY mc DESC, id` agree exactly, no float-ordering
    * ambiguity), so there is no per-query window sort. At 100 TB:
    * label-partitioned storage turns the equi-join into a co-located
    * scan of one partition per query. */
  def s8AnnFiltered(s: SparkSession, d: String): DataFrame = {
    val n = vecsWithNorm(s, d)
    val q = broadcast(n.where(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("label"),
        col("v").as("qv"), col("nrm").as("qn")))
    val scored = q.join(n, Seq("label"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v"), col("qn"), col("nrm")) * 1000000)
          .cast("long").as("mc"))
    val topk = udaf(new graft.functions.Aggregators.BottomK(TopK),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    scored.groupBy(col("query_id"))
      .agg(topk(-col("mc"), col("vec_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("p.id").as("neighbor_id"), (-col("p.m")).as("cos_mic"))
      .orderBy("query_id", "rank")
  }

  /** s9 neighbor budget (smaller than [[TopK]] — a kNN GRAPH wants a few
    * strong edges per node, not a deep ranking). */
  private val KnnK = 5

  /** s9: approximate kNN-graph construction — EVERY vector's top-k
    * neighbors, not a handful of probe queries (s1/s2/s8's shape): the
    * precursor to embedding clustering, label propagation over
    * neighborhoods, and graph-based dedup. All-pairs kNN is O(N²); the
    * scale shape is s2's LSH buckets as the candidate generator — a
    * bucket-keyed SELF-join (no broadcast side at all: both sides
    * shuffle once on the 6-bit signature), exact cosine only within
    * buckets, and the bounded BottomK heap per vector over the integer
    * micro-cosine. Output is a directed kNN edge list.
    *
    * Scale knob (CLOSED, round 7): signature width is derived from the
    * corpus size ([[derivedPlanes]] — ~N/8 buckets keeps expected bucket
    * occupancy a constant ~8, so within-bucket candidate volume Σb² ≈ 8N
    * is O(N) instead of the fixed-width N²/2^w), and every vector probes
    * its own bucket plus all hamming-1 neighbors (multi-probe) to hold
    * recall at the wider widths. The plan shape is invariant in the
    * width; the DuckDB oracle derives the identical width from the same
    * count. */
  def s9KnnGraph(s: SparkSession, d: String): DataFrame = {
    val planes = derivedPlanes(Tables.embeddings(s, d).count())
    val n = vecsWithNorm(s, d).withColumn("sig", signature(col("v"), planes))
    val probes = n.select(col("vec_id"), col("v"), col("nrm"),
      explode(probeSigs(col("sig"), planes)).as("psig"))
    val scored = probes.as("a").join(n.as("b"),
        col("a.psig") === col("b.sig") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src_id"), col("b.vec_id").as("vec_id"),
        round(cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")) * 1000000)
          .cast("long").as("mc"))
    val topk = udaf(new graft.functions.Aggregators.BottomK(KnnK),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    scored.groupBy(col("src_id"))
      .agg(topk(-col("mc"), col("vec_id")).as("tk"))
      .select(col("src_id"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("src_id"), (col("pos") + 1).cast("long").as("rank"),
        col("p.id").as("neighbor_id"), (-col("p.m")).as("cos_mic"))
      .orderBy("src_id", "rank")
  }

  /** The number of candidate pairs s9's multi-probe bucket join
    * generates — the quantity the derived width must keep O(N) (it was
    * ~O(N²/2^6) with the fixed 6-bit width); SimilarityScaleSpec pins
    * it. */
  def knnCandidateCount(s: SparkSession, d: String): Long = {
    val planes = derivedPlanes(Tables.embeddings(s, d).count())
    val n = vecsWithNorm(s, d).withColumn("sig", signature(col("v"), planes))
    val probes = n.select(col("vec_id"),
      explode(probeSigs(col("sig"), planes)).as("psig"))
    probes.as("a").join(n.select(col("vec_id"), col("sig")).as("b"),
      col("a.psig") === col("b.sig") && col("a.vec_id") =!= col("b.vec_id")).count()
  }

  private val KmIters = 2
  private val QScale = 1000000L

  /** s15 semantic-dup radius on [[QScale]]-quantized squared distance —
    * exact BIGINT, so the frontier is engine-independent; sized to mark
    * ~25% of the sf0.01 corpus as semantic dups (probed: 126 within-cell
    * pairs at this radius). */
  private val SemDupD2 = 1300000000000L

  /** s15 target cell occupancy: k = max(KmK, N/this), so cells hold
    * ~this many vectors at ANY corpus size (N=500 testdata → k = KmK,
    * keeping the gated parity surface identical to a fixed-k build). */
  private[operators] val SemCellTarget = 125L

  /** Embedding components as positive integer micro-units,
    * `round((x+1)·QScale)`: the +1 offset keeps every value positive, so
    * integer-division truncation == floor in both engines, and every
    * distance and mean over them is exact BIGINT arithmetic. */
  private def quantized(embedding: Column): Column =
    transform(embedding, x => round((x.cast("double") + lit(1.0)) * QScale).cast("long"))

  /** Exact BIGINT squared distance between two quantized arrays — one
    * left fold in element order. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** The `(vec_id, qv)` quantized-array corpus. */
  private def quantizedArrays(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), quantized(col("embedding")).as("qv"))

  /** s4: Lloyd's k-means over the embeddings — the reference's declared
    * KMeans capability (`algorithms.h:212-250`, a stub whose body is a
    * copy of PageRank) made real, and made *deterministic*: the grouped
    * kernel ([[lloyd]]) over one group of [[quantized]] vectors, so
    * assignment distances and centroid means are exact BIGINT arithmetic
    * with zero float accumulation — bit-identical across any
    * partitioning and in the DuckDB oracle, which unrolls the same
    * [[KmIters]] rounds per dimension as CTEs. Init: centroids =
    * vectors 0..k-1. */
  def s4Kmeans(s: SparkSession, d: String): DataFrame =
    kmeansAssignArray(s, d, KmK).orderBy("vec_id")

  /** Flat integer k-means `(vec_id, cluster, d2)`: the kernel with a
    * constant group and init = vectors 0..k-1 (the dense-id convention —
    * an id space that does not start near 0 degenerates to an empty
    * centroid set; normalize ids upstream, as the testdata does).
    * KmeansArrayParitySpec pins it against a per-dim reference at
    * k = [[KmK]] and at a derived k > [[KmK]]. */
  private[operators] def kmeansAssignArray(s: SparkSession, d: String, k: Long): DataFrame = {
    val points = quantizedArrays(s, d).withColumn("g", lit(0)).materialize()
    lloyd(points, lowestIds(points, k), k)._1
      .select(col("vec_id"), col("cluster"), col("d2"))
  }

  /** Initial centroids: in every group, the points with vec_id < k,
    * keyed by their id. */
  private def lowestIds(points: DataFrame, k: Long): DataFrame =
    points.where(col("vec_id") < k)
      .select(col("g"), col("vec_id").as("cluster"), col("qv").as("cv"))

  /** The Lloyd centroid-update aggregate: elementwise exact integer
    * means (`sum DIV count` per dim, positive longs) over the assigned
    * vectors' quantized arrays in one map-combinable pass
    * ([[graft.functions.Aggregators.VecMean]]). */
  private def vecMean = udaf(new graft.functions.Aggregators.VecMean)

  /** The one integer-Lloyd kernel, grouped. `points` is a cached
    * `(vec_id, g, qv)` frame: each point belongs to group `g` and is
    * clustered against its group's centroids only, starting from `init`
    * `(g, cluster, cv)`. Each of [[KmIters]] rounds assigns every point
    * to its group's nearest centroid and moves each centroid to the
    * exact integer mean of its points ([[vecMean]]); a cluster left
    * empty keeps its centroid. Each round's centroids are materialized.
    * Returns the final assignment `(vec_id, g, cluster, d2)` and the
    * final centroids.
    *
    * The callers differ only in the group key and the init:
    *  - flat k-means (s4, level 1 of the cell build): a constant `g`,
    *    init = vectors 0..k-1. The constant is a column of the cached
    *    points, so the optimizer cannot fold the equi-join into a cross
    *    join;
    *  - refinement (levels 2 and 3 of the cell build): `g` = the parent
    *    cell, init = its lowest ids;
    *  - PQ (s6, s7): `g` = the subspace, `qv` = the vector's slice in it.
    *
    * `centroidRows` bounds the centroid frame's rows (k, M·k, r², r²·f):
    * [[toCentroids]] broadcasts it when that many [[Dim]]-long rows fit
    * the engine's broadcast budget. */
  private def lloyd(points: DataFrame, init: DataFrame,
                    centroidRows: Long): (DataFrame, DataFrame) = {
    var cent = init
    for (_ <- 1 to KmIters) {
      val sums = nearest(points, cent, centroidRows)
        .join(points, Seq("vec_id", "g"))
        .groupBy("g", "cluster")
        .agg(vecMean(col("qv")).as("ncv"))
      cent = cent.join(sums, Seq("g", "cluster"), "left_outer")
        .select(col("g"), col("cluster"), coalesce(col("ncv"), col("cv")).as("cv"))
        .materialize()
    }
    (nearest(points, cent, centroidRows), cent)
  }

  /** Every point's squared distance to each centroid of its group,
    * `(vec_id, g, cluster, d2)`: an equi-join on `g`, the centroid side
    * broadcast when `centroidRows` rows of [[Dim]] longs fit
    * [[GraphOps.broadcastFits]]. */
  private def toCentroids(points: DataFrame, cent: DataFrame, centroidRows: Long): DataFrame = {
    val c = if (GraphOps.broadcastFits(points.sparkSession, centroidRows * Dim * 8L))
      broadcast(cent) else cent
    points.join(c, "g")
      .select(col("vec_id"), col("g"), col("cluster"), sqDist(col("qv"), col("cv")).as("d2"))
  }

  /** Per point, the nearest centroid of its group: `min(struct(d2,
    * cluster))` is the lexicographic argmin with ties to the lowest
    * cluster — one aggregate with a map-side partial, never a window. */
  private def nearest(points: DataFrame, cent: DataFrame, centroidRows: Long): DataFrame =
    toCentroids(points, cent, centroidRows)
      .groupBy("vec_id", "g")
      .agg(min(struct(col("d2"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("g"), col("m.cluster").as("cluster"), col("m.d2").as("d2"))

  /** Branching factor of the three-level cell tree: the smallest r with
    * r³ ≥ k. Derived by exact integer search (never a bare floating
    * cbrt/pow, whose rounding at perfect cubes could diverge between
    * engines); the DuckDB oracle runs the identical min-integer search
    * over a range scan. */
  private[operators] def cubeBranch(k: Long): Long = {
    var r = math.max(1L, math.round(math.cbrt(k.toDouble)) - 2)
    while (r * r * r < k) r += 1
    r
  }

  /** Three-level (hierarchical) integer-Lloyd's cell build for the
    * derived-k family (s15/s16/s17/s18). Flat nearest-of-k assignment is
    * O(N·k·d) compute, and with k = N/[[SemCellTarget]] that is O(N²);
    * three levels at branching r = ⌈k^⅓⌉ ([[cubeBranch]]) bring it to
    * O(N·k^⅓·d). Each level is one run of the grouped kernel
    * ([[lloyd]]):
    *  1. r centroids over the whole corpus (a constant group, init =
    *     vectors 0..r-1);
    *  1. r sub-centroids per level-1 cell (group = that cell);
    *  1. f = ⌈k/r²⌉ sub-centroids per level-2 cell `cc·r + mid`.
    * A refined level's init is its group's lowest vec_ids, ranked by a
    * window PARTITIONED by the parent cell (never global). The final
    * cell id packs injectively: `(cc·r + mid)·f + fidx` with mid < r,
    * fidx < f, so every id falls in [0, r·r·f).
    *
    * SemDeDup's contract is cells-of-bounded-occupancy with semantic
    * locality + EXACT radius verification within cells (Abbas et al.
    * 2023 §3 builds its cells with faiss — approximate clustering is
    * the reference behavior, not a concession); tree depth changes
    * which cells the verify runs in, never the verify itself. The
    * oracle unrolls the identical three-level chain, so the cells are
    * bit-identical across engines and partitionings. The derive-once
    * cache is versioned with the tree shape (family `cells_v3`): a
    * depth change invalidates the materialized cells and the oracle CTE
    * chain together. */
  private[operators] def hierarchicalCellAssign(
      s: SparkSession, d: String, k: Long): DataFrame = {
    val r = cubeBranch(k)
    val f = (k + r * r - 1) / (r * r)
    Materialize.scoped { cache =>
      val flat = cache(quantizedArrays(s, d).withColumn("g", lit(0)))
      def regrouped(cells: DataFrame): DataFrame =
        cache(flat.select(col("vec_id"), col("qv")).join(cells, "vec_id")
          .select(col("vec_id"), col("g"), col("qv")))
      def refined(points: DataFrame, subK: Long, centroidRows: Long): DataFrame = {
        val w = Window.partitionBy(col("g")).orderBy(col("vec_id"))
        val init = points.select(col("g"), (row_number().over(w) - 1).as("cluster"),
            col("qv").as("cv"))
          .where(col("cluster") < subK)
          .materialize()
        lloyd(points, init, centroidRows)._1
      }
      val top = lloyd(flat, lowestIds(flat, r), r)._1
      val mid = refined(regrouped(top.select(col("vec_id"), col("cluster").as("g"))),
        r, r * r)
      // The final assignment is materialized before the scope releases
      // the cached frames it was computed from.
      refined(regrouped(mid.select(col("vec_id"), (col("g") * r + col("cluster")).as("g"))),
          f, r * r * f)
        .select(col("vec_id"), (col("g") * f + col("cluster")).as("cluster"), col("d2"))
        .materialize()
    }
  }

  /** Derive-once cell assignment shared by s15/s16 (the dedup-family
    * materialization discipline): the derived-k Lloyd's output
    * (vec_id, cluster, d2) is written to parquet keyed by the source
    * fingerprint; whichever of s15/s16 runs first pays the build, the
    * other reads ~free. Deterministic content (exact integer pipeline)
    * makes the cache partitioning-safe. */
  // Family cells_v2: two-level hierarchical build (r8) — the flat v1
  // nearest-of-k assignment was O(N·k·d) with k ∝ N.
  // cells_v3: three-level build (r9) — O(N·k^⅓·d) assignment; versioned
  // together with the oracle's unrolled CTE chain (the tree shape is
  // pinned on both sides, so depth changes must move this number).
  private[operators] def cellAssignMaterialized(s: SparkSession, d: String): DataFrame =
    Derived.parquet(s, d, "cells_v3", "assign", bill = "cells") {
      val n = Tables.embeddings(s, d).count()
      val k = math.max(KmK.toLong, n / SemCellTarget)
      hierarchicalCellAssign(s, d, k)
    }

  /** s15: SemDeDup — semantic (embedding-space) deduplication via k-means
    * cells + within-cell pairwise distance (Abbas et al. 2023,
    * arXiv:2303.09540), the corpus-curation operator that removes
    * "different words, same meaning" duplicates exact dedup (d1) and
    * lexical near-dedup (d2/d3/d4) both miss. The LLM-pipeline face of
    * the reference's KMeans capability (`/root/reference/algorithms.h:
    * 212-250`): cluster, then compare ONLY within cells.
    *
    * Pipeline: [[hierarchicalCellAssign]] cells (derive-once
    * materialized, shared with s16/s17/s18 —
    * [[cellAssignMaterialized]]) with k DERIVED from a one-row
    * `count()` — k = max(4, N/[[SemCellTarget]]), the s9 discipline:
    * the scale knob moves with N, so cell occupancy stays
    * O([[SemCellTarget]]) and the within-cell pair volume stays O(N) at
    * any corpus size (a fixed k measured 47× time at 10× data — cells
    * held 10× the vectors, ~100× the pairs). Then: per-cell self-join on
    * the quantized vectors → exact BIGINT squared distance ≤
    * [[SemDupD2]] marks a semantic-dup pair → greedy keep-lowest-id: a
    * vector is dropped iff some lower-id vector in its cell is within
    * the radius (the paper's keep-one-representative policy; `dup_of`
    * is the first such witness, = own id for kept vectors, so the
    * column is total and null-free).
    *
    * Scale shape: the candidate join is an equi-join on the cell id
    * (one shuffle, never a global cross product); every level's
    * centroids equi-join on their group key ([[lloyd]]); the embedding
    * column is scanned once and carried as a quantized array, never
    * re-read. The assignment leg is O(N·k^⅓·d)
    * via the three-level build (the IVF coarse-probe refinement: landed
    * two-level in r8 at O(N·√k·d), depth-generalized r9 — N^4/3 per
    * decade where flat arithmetic said ~quadratic). Everything is exact
    * BIGINT arithmetic, so the dup/kept frontier is bit-identical
    * across any partitioning and in the DuckDB oracle (whose CTE chain
    * derives the same k via a scalar subquery). */
  def s15SemDedup(s: SparkSession, d: String): DataFrame = {
    val m = quantizedArrays(s, d)
      .join(cellAssignMaterialized(s, d).select("vec_id", "cluster"), "vec_id")
      .materialize()
    val dupOf = m.as("a").join(m.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
      .where(sqDist(col("a.qv"), col("b.qv")) <= SemDupD2)
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(min(col("a.vec_id")).as("witness"))
    m.join(dupOf, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("witness"), col("vec_id")).as("dup_of"),
        col("witness").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** s5: symmetric int8 quantization of the embedding column — the
    * standard storage/bandwidth shrink for vector search at scale (4x
    * smaller than float32, SIMD-friendly dot products downstream).
    * Per vector: scale = 127 / max|x|, q_i = floor(x_i*scale + 0.5)
    * (explicit floor(x+0.5), not round() — engines disagree on
    * banker's rounding; floor is IEEE-exact everywhere). Output is the
    * per-vector scale, a portable fold-hash of the quantized codes
    * (offset +127 keeps the fold non-negative), and the reconstruction
    * L1 error — both the codes and the error are deterministic because
    * every step is elementwise IEEE arithmetic in array order. */
  def s5Quantize(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val withScale = e.select(col("vec_id"), col("v"),
      (lit(127.0) / array_max(transform(col("v"), x => abs(x)))).as("scale"))
    val q = withScale.select(col("vec_id"), col("v"), col("scale"),
      transform(col("v"),
        x => floor(x * col("scale") + lit(0.5)).cast("long")).as("q"))
    q.select(
      col("vec_id"),
      round(lit(127.0) / col("scale"), 6).as("max_abs"),
      graft.functions.Portable.longFold(
        transform(col("q"), x => x + lit(127L))).as("q_hash"),
      round(aggregate(
        zip_with(col("v"), col("q"),
          (a, b) => abs(a - b.cast("double") / col("scale"))),
        lit(0.0), (acc, x) => acc + x) / lit(Dim.toDouble), 8)
        .as("mean_abs_err"))
      .orderBy("vec_id")
  }

  /** PQ geometry: 4 subspaces × 16 dims over the 64-dim vectors; each
    * subspace gets its own [[KmK]]-entry codebook. */
  private val PqM = 4
  private val PqSubDims = Dim / PqM

  /** Shared PQ training (s6 and s7): the grouped kernel ([[lloyd]]) with
    * `g` = the subspace, over each vector's [[PqSubDims]]-long slices,
    * init = vectors 0..[[KmK]]-1 in every subspace. Returns the code
    * table `(vec_id, sub, cluster, d2)` and the ADC table `(query_id,
    * sub, cluster, pd2)`: each query slice's squared distance to every
    * codeword of its subspace, the kernel's own distance leg — q × M × k
    * rows, tiny by construction, broadcast by the callers. */
  private[operators] def pqModel(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val points = quantizedArrays(s, d)
      .select(col("vec_id"), col("qv"), explode(sequence(lit(0), lit(PqM - 1))).as("g"))
      .select(col("vec_id"), col("g"),
        slice(col("qv"), col("g") * PqSubDims + 1, lit(PqSubDims)).as("qv"))
      .materialize()
    val rows = PqM.toLong * KmK
    val (codes, cent) = lloyd(points, lowestIds(points, KmK), rows)
    val adc = toCentroids(points.where(col("vec_id") < NQueryVecs), cent, rows)
      .select(col("vec_id").as("query_id"), col("g").as("sub"), col("cluster"),
        col("d2").as("pd2"))
    (codes.withColumnRenamed("g", "sub"), adc)
  }

  /** Bounded top-k heap per query (O(k) state, map-side merge) — never a
    * full per-query sort of the candidate approx distances. */
  private def bottomKRank(approx: DataFrame): DataFrame = {
    val topk = udaf(new graft.functions.Aggregators.BottomK(TopK),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    approx.groupBy(col("query_id"))
      .agg(topk(col("approx_d2"), col("vec_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        col("p.m").as("approx_d2"), (col("pos") + 1).cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** s6: product-quantization ANN with asymmetric distance computation
    * (ADC) — the compression leg of the production ANN stack (IVF-PQ):
    * each vector is stored as [[PqM]] small codebook indices (here
    * 4×2 bits vs 64 floats), and query-to-vector distance is
    * approximated by summing precomputed query-to-codeword distances per
    * subspace. Codebook training and code assignment are the grouped
    * Lloyd kernel keyed by subspace ([[pqModel]]); ADC is one broadcast
    * join of the q×M×k distance table against the code table — the full
    * vectors are never touched at query time, which is the entire point
    * at 100 TB: the scan reads M bytes per vector, not the embedding
    * column. Integer micro-unit arithmetic end-to-end, so distances are
    * exact BIGINTs and the oracle unrolls bit-identically.
    *
    * The plan is deliberately Window-free ([[PlanAuditSpec]] asserts it):
    * code assignment is the kernel's `min(struct)` argmin (an
    * aggregate, not a per-(vec,sub) window), and the final per-query
    * ranking is the bounded [[graft.functions.Aggregators.BottomK]]
    * heap — O(k) state per query with map-side partial merge, where the
    * `row_number` form would sort all N approx distances per query. */
  def s6AnnPq(s: SparkSession, d: String): DataFrame = {
    val (codes, adc) = pqModel(s, d)
    val approx = codes.join(broadcast(adc), Seq("sub", "cluster"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("approx_d2"))
    bottomKRank(approx)
  }

  /** s7: IVF-PQ — the two index legs composed, which is the production
    * 100 TB ANN shape (FAISS-style IVF,PQ): the s3 coarse quantizer
    * restricts each query to its nprobe=2 nearest cells, and within the
    * probed cells distance is the s6 ADC sum over PQ codes. Query time
    * touches (a) the broadcast anchor table, (b) the cell-assignment and
    * code tables — M small ints per vector, equi-joined on cell so a
    * cell-partitioned layout prunes everything unprobed — and (c) the
    * broadcast q×M×k ADC table. The embedding column is never read at
    * query time, and no stage ranks more than the probed cells'
    * candidates (final ranking is the bounded [[bottomKRank]] heap).
    * Index-build (cell assignment + codebook training) reads the full
    * vectors once — the standard offline/online split. The per-vector
    * cell argmin is a row_number window over the broadcast anchor list
    * (nlist rows per vector — bounded by the anchor count, not the
    * corpus; the s3 shape). */
  def s7AnnIvfPq(s: SparkSession, d: String): DataFrame = {
    // IVF leg (the s3 coarse quantizer, verbatim semantics)
    val n = vecsWithNorm(s, d)
    val aw = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val anchors = broadcast(
      n.withColumn("arn", row_number().over(aw)).where(col("arn") === 1)
        .select(col("label").cast("long").as("anchor_id"),
          col("v").as("av"), col("nrm").as("an")))
    def cosToAnchor = cosine(col("v"), col("av"), col("nrm"), col("an"))
    val cellW = Window.partitionBy(col("vec_id"))
      .orderBy(cosToAnchor.desc, col("anchor_id"))
    val cells = n.crossJoin(anchors)
      .withColumn("crn", row_number().over(cellW)).where(col("crn") === 1)
      .select(col("vec_id"), col("anchor_id").as("cell"))
    val probes = n.where(col("vec_id") < NQueryVecs).crossJoin(anchors)
      .withColumn("prn", row_number().over(cellW)).where(col("prn") <= 2)
      .select(col("vec_id").as("query_id"), col("anchor_id").as("cell"))
    // PQ leg + ADC over probed cells only
    val (codes, adc) = pqModel(s, d)
    val approx = codes.join(cells, "vec_id")
      .join(probes, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(adc), Seq("query_id", "sub", "cluster"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("approx_d2"))
    bottomKRank(approx)
  }

  private val MmrK = 5
  private val MmrC = 10

  /** s10: MMR diversified top-k — maximal marginal relevance reranking
    * (Carbonell-Goldstein), the retrieval post-processor that trades raw
    * relevance for coverage: each round picks
    * argmax(rel(c) − max_{s∈selected} sim(c, s)) (λ = ½ — at equal
    * weights the ½ factors cancel out of the argmax). The scale shape:
    * candidate generation is the ANN top-C (s1/s7 — here the exact
    * integer micro-cosine pool via the bounded BottomK heap), and the
    * rerank runs entirely inside the per-query candidate pool: the
    * pairwise-sim frame is C² rows PER QUERY keyed by query_id, so at
    * 100 TB it is embarrassingly parallel over queries and never touches
    * the corpus again. Greedy selection is inherently sequential in k —
    * MmrK bounded rounds, each one anti-join + one max(struct) argmax
    * over the pool (no window). All-integer scores; ties by vec_id. */
  def s10Mmr(s: SparkSession, d: String): DataFrame = {
    val n = vecsWithNorm(s, d)
    val q = broadcast(n.where(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
    val scored = q.crossJoin(n)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v"), col("qn"), col("nrm")) * 1000000)
          .cast("long").as("mc"))
    val topc = udaf(new graft.functions.Aggregators.BottomK(MmrC),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    val cand = scored.groupBy(col("query_id"))
      .agg(topc(-col("mc"), col("vec_id")).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("p"))
      .select(col("query_id"), col("p.id").as("vec_id"), (-col("p.m")).as("rel"))
      .materialize()
    val cv = cand.join(n.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
    val pairs = cv.as("a").join(cv.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"), col("a.vec_id").as("aid"),
        col("b.vec_id").as("bid"),
        round(cosine(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")) * 1000000)
          .cast("long").as("sim"))
      .materialize()
    def pick(k: Int, scoredPool: DataFrame): DataFrame =
      scoredPool.groupBy(col("query_id"))
        .agg(max(struct(col("score").as("s"), (-col("vec_id")).as("nid"),
          col("rel").as("r"))).as("m"))
        .select(col("query_id"), (-col("m").getField("nid")).as("vec_id"),
          col("m").getField("r").as("rel"),
          col("m").getField("s").as("score"), lit(k.toLong).as("rank"))
    var selected = pick(1, cand.withColumn("score", col("rel"))).materialize()
    for (k <- 2 to MmrK) {
      val remaining = cand.join(selected, Seq("query_id", "vec_id"), "left_anti")
      val ms = remaining
        .join(pairs.join(selected.select(col("query_id"), col("vec_id").as("bid")),
            Seq("query_id", "bid"))
            .select(col("query_id"), col("aid").as("vec_id"), col("sim")),
          Seq("query_id", "vec_id"), "left_outer")
        .groupBy(col("query_id"), col("vec_id"), col("rel"))
        .agg(coalesce(max(col("sim")), lit(0L)).as("msim"))
        .withColumn("score", col("rel") - col("msim"))
      selected = selected.union(pick(k, ms)).materialize()
    }
    selected
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("rel").as("rel_mic"), col("score").as("score_mic"))
      .orderBy("query_id", "rank")
  }

  /** Binary-rerank candidate-pool size (per query). */
  private val BinRerankC = 50

  /** s11: binary (sign-bit) quantization + Hamming prefilter + exact
    * rerank — the third compression leg of the production ANN stack
    * beside int8 (s5) and PQ (s6): each 64-dim float vector compresses
    * to 64 BITS (two BIGINT halves; bit d = sign of component d), the
    * scan ranks candidates by `popcount(xor)` Hamming distance — 2 XORs
    * + 2 popcounts per vector vs 64 FMAs, and the embedding column is
    * never read — then only the [[BinRerankC]] Hamming-nearest
    * candidates per query are reranked with the exact cosine. The
    * Hamming cut is the bounded [[graft.functions.Aggregators.BottomK]]
    * heap (O(C) state, map-side merge, ties by vec_id); the final
    * ranking is a row_number window over ≤ C rows per query — bounded
    * by the pool constant, not the corpus. Sign bits are exact float
    * comparisons (no arithmetic), so both engines derive identical
    * signatures; two 32-bit halves keep every shift below 2⁶³. */
  def s11BinaryRerank(s: SparkSession, d: String): DataFrame = {
    val half = (off: Int) => expr(
      s"""aggregate(transform(sequence(0, 31),
         |  i -> IF(element_at(v, i + ${off + 1}) > 0.0D,
         |          shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
         |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
    val sigs = vecsWithNorm(s, d)
      .select(col("vec_id"), col("v"), col("nrm"),
        half(0).as("lo"), half(32).as("hi"))
      .materialize()
    val q = broadcast(sigs.where(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("lo").as("qlo"), col("hi").as("qhi")))
    val ham = sigs.select(col("vec_id"), col("lo"), col("hi")).crossJoin(q)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).cast("long").as("hamming"))
    val topc = udaf(new graft.functions.Aggregators.BottomK(BinRerankC),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    val cand = ham.groupBy(col("query_id"))
      .agg(topc(col("hamming"), col("vec_id")).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("p"))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        col("p.m").as("hamming"))
    val scored = cand
      .join(sigs.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
        "neighbor_id")
      .join(q.select(col("query_id"), col("qv"), col("qn")), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        round(cosine(col("qv"), col("v"), col("qn"), col("nrm")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("cos_sim"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** s12: ANN index-quality evaluation — recall@k of the LSH index (s2)
    * against the exact baseline (s1), per query: |approx ∩ exact| / k.
    * The eval harness every production ANN deployment runs before
    * trusting an index (and after every re-index): both pipelines are
    * the GATED s1/s2 paths re-invoked verbatim — the measure can never
    * drift from what the index actually serves. One left join on
    * (query, neighbor) + one map-combinable aggregate on top of the two
    * top-k frames (k rows per query each), so the eval adds nothing to
    * the scan cost; recall in exact integer ppm (the t5 DIV trick). */
  def s12IndexRecall(s: SparkSession, d: String): DataFrame = {
    val exact = s1AnnBruteforce(s, d).select(col("query_id"), col("neighbor_id"))
    val apx = s2AnnLsh(s, d)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(apx, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        expr("(1000000 * n_hit) DIV n_exact").as("recall_ppm"))
      .orderBy("query_id")
  }

  /** s13: int8-quantization recall — s12's twin for the COMPRESSION leg:
    * recall@10 of brute-force search over the s5-quantized vectors
    * against the exact float baseline. Ranking uses the scale-free
    * quantized cosine `dotq(a,b) / (√dotq(a,a)·√dotq(b,b))` — the
    * per-vector scales cancel exactly, so the score needs only integer
    * dot products (exact BIGINTs) plus one sqrt+division per pair.
    * Together with s12 this completes the index-quality story: at
    * sf0.01 compression loses ~nothing while bucketing trades recall —
    * the measured numbers a deployment decides with. */
  def s13QuantRecall(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.select(col("vec_id"),
        transform(col("v"), x => floor(x * (lit(127.0) /
          array_max(transform(col("v"), y => abs(y)))) + lit(0.5)).cast("long"))
          .as("q"))
      .select(col("vec_id"), col("q"),
        sqrt(expr("aggregate(zip_with(q, q, (x, y) -> x * y), 0L, (a, c) -> a + c)")
          .cast("double")).as("qn"))
      .materialize()
    val probes = broadcast(q.where(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("qn").as("qan")))
    val scored = q.crossJoin(probes)
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(expr("aggregate(zip_with(qa, q, (x, y) -> x * y), 0L, (a, c) -> a + c)")
          .cast("double") / (col("qan") * col("qn")), 6).as("cos_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id"))
    val apx = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    s1AnnBruteforce(s, d).select(col("query_id"), col("neighbor_id"))
      .join(apx, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        expr("(1000000 * n_hit) DIV n_exact").as("recall_ppm"))
      .orderBy("query_id")
  }

  /** s14: per-dimension embedding drift — the distribution-shift
    * monitor an embedding pipeline runs between two corpus slices (old
    * vs new crawl, reference vs candidate model; here the label-split
    * halves): per dimension, each slice's exact integer micro-unit
    * mean plus the absolute delta, and the slice's dimension-ranked
    * drift. A model swap or preprocessing regression shows up as a
    * fat-tailed delta profile long before downstream metrics move.
    * Shape: one posexplode + one (slice, dim) map-combinable aggregate
    * — 128 cells regardless of corpus size; means in exact integer
    * micro-units (sum DIV n, both positive after the +1 shift). */
  def s14EmbeddingDrift(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.embeddings(s, d)
      .select((col("label") >= 5).as("slice_b"),
        posexplode(quantized(col("embedding"))).as(Seq("dim", "q")))
      .groupBy(col("slice_b"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("qsum"))
      .select(col("slice_b"), col("dim"), expr("qsum DIV n").as("mean_micro"))
    val a = cells.where(!col("slice_b"))
      .select(col("dim"), col("mean_micro").as("mean_a_micro"))
    val b = cells.where(col("slice_b"))
      .select(col("dim"), col("mean_micro").as("mean_b_micro"))
    a.join(b, "dim")
      .select(col("dim").cast("long").as("dim"), col("mean_a_micro"),
        col("mean_b_micro"),
        abs(col("mean_a_micro") - col("mean_b_micro")).as("drift_micro"))
      .orderBy("dim")
  }

  /** s16: cell medoids + cell profile — the coreset face of the s15
    * cells: per derived k-means cell, the representative vector
    * (argmin exact-BIGINT distance to the final centroid, ties to the
    * lowest id — the struct-min is lexicographic), the occupancy and
    * the squared cell radius. This is the "summarize 100 TB of
    * embeddings as k rows" operator: coreset seeding, cluster
    * diagnostics (occupancy skew, radius outliers), and the routing
    * table an IVF index builds from. One aggregate over the assignment
    * frame — k output rows at any N; k moves with N exactly as s15's
    * ([[SemCellTarget]]), so "per-cell" stays a bounded local notion. */
  def s16CellMedoids(s: SparkSession, d: String): DataFrame = {
    cellAssignMaterialized(s, d)
      .groupBy(col("cluster"))
      .agg(min(struct(col("d2"), col("vec_id"))).as("m"),
        count(lit(1)).as("n_vecs"),
        max(col("d2")).as("radius_d2"))
      .select(col("cluster"), col("m.vec_id").as("medoid_id"),
        col("m.d2").as("medoid_d2"), col("n_vecs"), col("radius_d2"))
      .orderBy("cluster")
  }

  /** s19: ANN cost accounting — s12's twin (s12 measures the RECALL an
    * index buys; this measures what it COSTS): per query, the distinct
    * candidates the multi-probe LSH index would score versus the N−1
    * every exact scan pays, with the scan fraction in exact ppm. The
    * recall/cost pair is how an index parameter change (signature
    * width, probe count) is actually evaluated before deployment.
    *
    * Scale shape: the same broadcast-probes × signature equi-join s2
    * runs, reduced to counts — no cosine is ever computed; totals are a
    * broadcast scalar. */
  def s19AnnCost(s: SparkSession, d: String): DataFrame = {
    val planes = derivedPlanes(Tables.embeddings(s, d).count())
    val n = vecsWithNorm(s, d).withColumn("sig", signature(col("v"), planes))
    val q = broadcast(n.where(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"),
        explode(probeSigs(col("sig"), planes)).as("qsig")))
    val cands = q.join(n.select(col("vec_id"), col("sig")),
        col("sig") === col("qsig") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
      .groupBy("query_id").agg(count(lit(1)).as("nc"))
    val tot = broadcast(n.agg(count(lit(1)).as("n_vecs")))
    n.where(col("vec_id") < NQueryVecs).select(col("vec_id").as("query_id"))
      .join(cands, Seq("query_id"), "left_outer")
      .crossJoin(tot)
      .select(col("query_id"),
        coalesce(col("nc"), lit(0L)).as("n_candidates"),
        (col("n_vecs") - 1).as("exact_scans"))
      .withColumn("scan_frac_ppm",
        expr("(1000000 * n_candidates) DIV exact_scans"))
      .orderBy("query_id")
  }

  private val SepTopCells = 12

  /** s18: cell-separation diagnostic — is the IVF/SemDeDup routing table
    * well-separated or do cells overlap? For the [[SepTopCells]] largest
    * derived cells: the nearest other top cell's medoid-to-medoid
    * exact quantized distance beside the cell's own squared radius,
    * with an overlap-risk verdict (separation < 4·radius ⇒ the two
    * cells' pointsets plausibly interleave — probe more cells, or
    * re-derive k). s16 profiles cells in isolation; this is the
    * BETWEEN-cells quality check an ANN deployment reads before
    * trusting nprobe=2.
    *
    * Scale shape: bounded by construction — the pairwise frame is the
    * TOP-P cells only (P fixed), so P² = 144 medoid pairs at any N and
    * any derived k; a full k×k matrix would grow quadratically in the
    * derived k (which moves with N), exactly the blowup class the probe
    * bans. The medoid join touches P embedding rows. */
  def s18CellSeparation(s: SparkSession, d: String): DataFrame = {
    val top = s16CellMedoids(s, d)
      .orderBy(col("n_vecs").desc, col("cluster")).limit(SepTopCells)
      .select(col("cluster"), col("medoid_id"), col("n_vecs"), col("radius_d2"))
    val qa = quantizedArrays(s, d)
    val mv = top.join(qa, top("medoid_id") === qa("vec_id"))
      .select(col("cluster"), col("n_vecs"), col("radius_d2"), col("qv"))
    val a = mv.select(col("cluster").as("ca"), col("n_vecs"),
      col("radius_d2"), col("qv").as("va"))
    val b = mv.select(col("cluster").as("cb"), col("qv").as("vb"))
    a.join(broadcast(b), col("ca") =!= col("cb"))
      .select(col("ca"), col("cb"), col("n_vecs"), col("radius_d2"),
        sqDist(col("va"), col("vb")).as("sep_d2"))
      .groupBy(col("ca").as("cluster"), col("n_vecs"), col("radius_d2"))
      .agg(min(struct(col("sep_d2"), col("cb"))).as("m"))
      .select(col("cluster"), col("n_vecs"), col("radius_d2"),
        col("m.cb").as("nearest_cell"), col("m.sep_d2").as("sep_d2"),
        (col("m.sep_d2") < col("radius_d2") * 4).as("overlap_risk"))
      .orderBy("cluster")
  }

  private val CoresetK = 2
  private val CoresetSalt = "coreset1"

  /** s17: stratified coreset sample — an eval/QA slice that COVERS the
    * embedding space: exactly [[CoresetK]] vectors drawn per derived
    * k-means cell (the s15/s16 shared assignment) by a salted
    * content-independent hash draw. A uniform corpus draw (d13's shape
    * over sources) oversamples dense regions; stratifying by cell gives
    * every semantic neighborhood a voice — the representative-subset
    * primitive behind eval-slice construction and coreset distillation
    * (s16 picks each cell's CENTER; this draws unbiased members).
    *
    * Scale shape: one bounded BottomK heap per cell over the O(N)
    * assignment table — O(k·CoresetK) output at any N, k moves with N
    * (SemCellTarget) so cells stay bounded; draw is RNG-free and
    * reproducible (the d13 discipline, its own salt). */
  def s17CoresetSample(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.Aggregators.BottomK(CoresetK),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    cellAssignMaterialized(s, d)
      .select(col("cluster"),
        graft.functions.Portable.charHash(
          concat(col("vec_id").cast("string"), lit(CoresetSalt))).as("draw"),
        col("vec_id"))
      .groupBy(col("cluster"))
      .agg(topk(col("draw"), col("vec_id")).as("tk"))
      .select(col("cluster"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("cluster"), (col("pos") + 1).cast("long").as("rank"),
        col("p.id").as("vec_id"), col("p.m").as("draw"))
      .orderBy("cluster", "rank")
  }

  val queries: Map[String, Q] = Map(
    "s19_ann_cost" -> s19AnnCost,
    "s18_cell_separation" -> s18CellSeparation,
    "s17_coreset_sample" -> s17CoresetSample,
    "s16_cell_medoids" -> s16CellMedoids,
    "s14_embedding_drift" -> s14EmbeddingDrift,
    "s13_quant_recall" -> s13QuantRecall,
    "s12_index_recall" -> s12IndexRecall,
    "s1_ann_bruteforce" -> s1AnnBruteforce,
    "s2_ann_lsh" -> s2AnnLsh,
    "s3_ann_ivf" -> s3AnnIvf,
    "s4_kmeans" -> s4Kmeans,
    "s5_quantize" -> s5Quantize,
    "s6_ann_pq" -> s6AnnPq,
    "s7_ann_ivfpq" -> s7AnnIvfPq,
    "s8_ann_filtered" -> s8AnnFiltered,
    "s9_knn_graph" -> s9KnnGraph,
    "s10_mmr" -> s10Mmr,
    "s11_binary_rerank" -> s11BinaryRerank,
    "s15_semdedup" -> s15SemDedup)

  // ---- DuckDB oracles ----

  private val sqlNorm =
    """sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |  list_transform(v, x -> x*x)), (a, b) -> a + b))""".stripMargin

  private val sqlCos =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |  list_transform(list_zip(q.qv, n.v), s -> s[1]*s[2])),
      |  (a, b) -> a + b) / (q.qn * n.nrm)""".stripMargin

  /** Unrolled integer-Lloyd's CTE chain (`q` quantized rows → `c0..cK`
    * centroid rounds → `aout` final assignment) — shared by the s4 and
    * s15 oracles so both sides of SemDeDup see the identical cells.
    * `kSql` is the cluster count as a SQL expression: s4 pins the
    * constant [[KmK]]; s15 derives k from N exactly as the engine does. */
  /** Quantized per-dim view of the embeddings table (the oracle twin of
    * the engine's `round((x+1)*QScale)` long arrays). */
  private val kmQCte: String =
    s"""q AS (SELECT vec_id, u.pos - 1 AS dim,
       |    CAST(round((CAST(u.x AS DOUBLE) + 1.0) * $QScale) AS BIGINT) AS qd
       |  FROM embeddings, LATERAL (SELECT unnest(embedding) AS x,
       |    generate_subscripts(embedding, 1) AS pos) u)""".stripMargin

  private def kmAssignCte(name: String, c: String): String =
    s"""$name AS (SELECT vec_id, cluster, d2 FROM (
       |  SELECT q.vec_id, c.cluster,
       |    sum((q.qd - c.cd) * (q.qd - c.cd)) AS d2,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY sum((q.qd - c.cd) * (q.qd - c.cd)), c.cluster) AS rn
       |  FROM q JOIN $c c ON q.dim = c.dim
       |  GROUP BY q.vec_id, c.cluster) WHERE rn = 1)""".stripMargin

  private def kmUpdateCte(name: String, a: String, prev: String): String =
    s"""$name AS (SELECT p.cluster, p.dim, coalesce(n.ncd, p.cd) AS cd
       |  FROM $prev p LEFT JOIN (
       |    SELECT a.cluster, q.dim, CAST(sum(q.qd) AS BIGINT) // count(*) AS ncd
       |    FROM q JOIN $a a ON q.vec_id = a.vec_id
       |    GROUP BY a.cluster, q.dim) n
       |  ON p.cluster = n.cluster AND p.dim = n.dim)""".stripMargin

  private def kmeansOracleCtes(kSql: String = KmK.toString): String = {
    val rounds = (1 to KmIters).map { i =>
      kmAssignCte(s"a$i", s"c${i - 1}") + ",\n" + kmUpdateCte(s"c$i", s"a$i", s"c${i - 1}")
    }.mkString(",\n")
    s"""$kmQCte,
       |c0 AS (SELECT vec_id AS cluster, dim, qd AS cd FROM q WHERE vec_id < ($kSql)),
       |$rounds,
       |${kmAssignCte("aout", s"c$KmIters")}""".stripMargin
  }

  /** One unrolled per-parent refinement level as CTEs — the oracle twin
    * of a refined level of [[hierarchicalCellAssign]]. `parent` names a CTE with `(vec_id, pkey)`;
    * emits `${p}iv` (init ranks), `${p}c0..${p}c[[KmIters]]` centroid
    * rounds, and `${p}out(vec_id, pkey, sidx, d2)`. `subKSql` is a
    * scalar subquery for the per-parent sub-centroid count. */
  private def refineOracleCtes(p: String, parent: String, subKSql: String): String = {
    def assignCte(name: String, c: String) =
      s"""$name AS (SELECT vec_id, pkey, sidx, d2 FROM (
         |  SELECT q.vec_id, v.pkey, c.sidx,
         |    sum((q.qd - c.cd) * (q.qd - c.cd)) AS d2,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY sum((q.qd - c.cd) * (q.qd - c.cd)), c.sidx) AS rn
         |  FROM q JOIN $parent v ON q.vec_id = v.vec_id
         |       JOIN $c c ON c.pkey = v.pkey AND q.dim = c.dim
         |  GROUP BY q.vec_id, v.pkey, c.sidx) WHERE rn = 1)""".stripMargin
    def updateCte(name: String, a: String, prev: String) =
      s"""$name AS (SELECT p.pkey, p.sidx, p.dim, coalesce(n.ncd, p.cd) AS cd
         |  FROM $prev p LEFT JOIN (
         |    SELECT a.pkey, a.sidx, q.dim,
         |      CAST(sum(q.qd) AS BIGINT) // count(*) AS ncd
         |    FROM q JOIN $a a ON q.vec_id = a.vec_id
         |    GROUP BY a.pkey, a.sidx, q.dim) n
         |  ON p.pkey = n.pkey AND p.sidx = n.sidx AND p.dim = n.dim)""".stripMargin
    val rounds = (1 to KmIters).map { i =>
      assignCte(s"${p}a$i", s"${p}c${i - 1}") + ",\n" +
        updateCte(s"${p}c$i", s"${p}a$i", s"${p}c${i - 1}")
    }.mkString(",\n")
    s"""${p}iv AS (SELECT vec_id, pkey,
       |    row_number() OVER (PARTITION BY pkey ORDER BY vec_id) - 1 AS sidx
       |  FROM $parent),
       |${p}c0 AS MATERIALIZED (SELECT i.pkey, i.sidx, q.dim, q.qd AS cd
       |  FROM ${p}iv i JOIN q ON i.vec_id = q.vec_id
       |  WHERE i.sidx < ($subKSql)),
       |$rounds,
       |${assignCte(s"${p}out", s"${p}c$KmIters")}""".stripMargin
  }

  /** Unrolled THREE-LEVEL Lloyd's CTE chain — the oracle twin of
    * [[hierarchicalCellAssign]] (versioned with it:
    * family `cells_v3`): `q` → level-1 rounds `hc0..hcK` at
    * branching r (`hp` derives r by the same min-integer-cube search as
    * [[cubeBranch]] — an exact range scan, never a floating cbrt) →
    * `l1(vec_id, pkey)` → per-cell refine `mout` (r sub-centroids) →
    * `l2(vec_id, pkey = cc·r + mid)` → per-cell refine `fout`
    * (f = ⌈k/r²⌉ sub-centroids) → `aout(vec_id, cluster, d2)` with
    * `cluster = pkey·f + fidx`. Shared by the s15/s16/s17/s18 oracles
    * so all four see the identical hierarchical cells the engine
    * materializes. */
  private def hierKmeansOracleCtes(kSql: String): String = {
    val coarseRounds = (1 to KmIters).map { i =>
      kmAssignCte(s"ha$i", s"hc${i - 1}") + ",\n" +
        kmUpdateCte(s"hc$i", s"ha$i", s"hc${i - 1}")
    }.mkString(",\n")
    s"""$kmQCte,
       |hp AS (SELECT k, r, (k + r*r - 1) // (r*r) AS f FROM (
       |  SELECT k, (SELECT min(i)
       |      FROM (SELECT unnest(range(1, 4096)) AS i) t
       |      WHERE i*i*i >= k) AS r
       |  FROM (SELECT CAST(($kSql) AS BIGINT) AS k))),
       |hc0 AS (SELECT vec_id AS cluster, dim, qd AS cd FROM q
       |  WHERE vec_id < (SELECT r FROM hp)),
       |$coarseRounds,
       |${kmAssignCte("hout", s"hc$KmIters")},
       |l1 AS MATERIALIZED (SELECT vec_id, cluster AS pkey FROM hout),
       |${refineOracleCtes("m", "l1", "SELECT r FROM hp")},
       |l2 AS MATERIALIZED (SELECT vec_id,
       |    pkey * (SELECT r FROM hp) + sidx AS pkey FROM mout),
       |${refineOracleCtes("f", "l2", "SELECT f FROM hp")},
       |aout AS MATERIALIZED (SELECT vec_id,
       |    pkey * (SELECT f FROM hp) + sidx AS cluster, d2
       |  FROM fout)""".stripMargin
  }

  /** SQL form of [[planeComponent]] for a plane-index expression `j`
    * and dimension lambda variable `d` (exact integer arithmetic, then
    * one shared IEEE division — bit-identical across engines). */
  private def sqlPlaneComponent(j: String): String =
    s"""CAST((((CAST(($j*$Dim + d) AS BIGINT)*($j*$Dim + d) % $PlaneP)
       |  * 1103515245 + 7919*($j*$Dim + d) + 13) % $PlaneP) AS DOUBLE)
       |  / $PlaneP.0 - 0.5""".stripMargin

  /** The same 6-bit signature as [[signature]], from the same planes. */
  private[operators] val sqlSignature: String =
    (0 until NPlanes).map { j =>
      s"""(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |  list_transform(list_zip(v, list_transform(range(0, $Dim),
         |    d -> ${sqlPlaneComponent(j.toString)})),
         |  s -> s[1]*s[2])), (a, b) -> a + b) > 0
         | THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)""".stripMargin
    }.mkString(" + ")

  /** Dynamic-width signature CTE chain (s2/s9 oracles): `cnt` derives
    * the same width as [[derivedPlanes]] via integer bit-length
    * (`length(bin(N-1))` == `64 - numberOfLeadingZeros(N-1)` — no libm);
    * `sigb` computes one sign bit per (vector, plane) with the plane
    * index as a correlated lambda column; `sigv` folds the bits (exact
    * integer sum of distinct powers of two); `probes` is the hamming-1
    * multi-probe expansion (own bucket + every 1-bit flip). Expects the
    * `e`/`n` CTEs of [[baseCte]] upstream. */
  private val sqlSigDyn: String =
    s"""cnt AS (SELECT GREATEST($NPlanes,
       |    length(bin(CAST(count(*) - 1 AS BIGINT))) - 3) AS planes FROM e),
       |sigb AS (SELECT vec_id, j,
       |  CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_zip(v, list_transform(range(0, $Dim),
       |      d -> ${sqlPlaneComponent("j")})),
       |    s -> s[1]*s[2])), (a, b) -> a + b) > 0
       |   THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END AS bit
       |  FROM e CROSS JOIN (SELECT unnest(range(0, (SELECT planes FROM cnt))) AS j)),
       |sigv AS MATERIALIZED (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS sig
       |  FROM sigb GROUP BY vec_id),
       |sigs AS MATERIALIZED (SELECT n.vec_id, n.v, n.nrm, sigv.sig
       |  FROM n JOIN sigv USING (vec_id)),
       |flips AS (SELECT unnest(range(0, (SELECT planes FROM cnt) + 1)) AS f),
       |probes AS (SELECT vec_id, v, nrm,
       |  CASE WHEN f = (SELECT planes FROM cnt) THEN sig
       |       ELSE xor(sig, CAST(1 AS BIGINT) << f) END AS psig
       |  FROM sigs CROSS JOIN flips)""".stripMargin

  /** s10 oracle: unrolled greedy MMR rounds. sel1 is the pure-relevance
    * argmax; each later round re-scores the unselected pool against the
    * selected set's pairwise sims and picks the (score, vec_id) argmax
    * via the textbook row_number form the engine's max(struct) must
    * equal. */
  private def mmrSql(k: Int, c: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""mx$r AS MATERIALIZED (SELECT cd.query_id, cd.vec_id, cd.rel,
         |    coalesce(max(p.sim), 0) AS ms
         |  FROM cand cd
         |  LEFT JOIN (pr p JOIN sel${r - 1} s
         |      ON p.query_id = s.query_id AND p.bid = s.vec_id)
         |    ON p.query_id = cd.query_id AND p.aid = cd.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s2
         |    WHERE s2.query_id = cd.query_id AND s2.vec_id = cd.vec_id)
         |  GROUP BY cd.query_id, cd.vec_id, cd.rel),
         |pk$r AS (SELECT query_id, vec_id, rel, rel - ms AS score,
         |    CAST($r AS BIGINT) AS rank
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel - ms DESC, vec_id) AS rn FROM mx$r) WHERE rn = 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1}
         |  UNION ALL SELECT * FROM pk$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $baseCte,
       |qv AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
       |  FROM n WHERE vec_id < $NQueryVecs),
       |sc AS (SELECT q.query_id, n.vec_id,
       |  CAST(round((${sqlCosGen("q.qv", "n.v", "q.qn", "n.nrm")}) * 1000000)
       |    AS BIGINT) AS rel
       |  FROM qv q JOIN n ON n.vec_id != q.query_id),
       |cand AS MATERIALIZED (SELECT query_id, vec_id, rel FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel DESC, vec_id) AS rn FROM sc) WHERE rn <= $c),
       |cv AS (SELECT cd.query_id, cd.vec_id, n.v, n.nrm
       |  FROM cand cd JOIN n USING (vec_id)),
       |pr AS MATERIALIZED (SELECT a.query_id, a.vec_id AS aid, b.vec_id AS bid,
       |  CAST(round((${sqlCosGen("a.v", "b.v", "a.nrm", "b.nrm")}) * 1000000)
       |    AS BIGINT) AS sim
       |  FROM cv a JOIN cv b
       |    ON a.query_id = b.query_id AND a.vec_id != b.vec_id),
       |sel1 AS MATERIALIZED (SELECT query_id, vec_id, rel, rel AS score,
       |    CAST(1 AS BIGINT) AS rank
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rel DESC, vec_id) AS rn FROM cand) WHERE rn = 1),
       |$rounds
       |SELECT query_id, rank, vec_id, rel AS rel_mic, score AS score_mic
       |FROM sel$k ORDER BY query_id, rank""".stripMargin
  }

  /** Parameterized cosine between two aliased vector/norm columns. */
  private[operators] def sqlCosGen(va: String, vb: String, na: String, nb: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(list_zip($va, $vb), s -> s[1]*s[2])),
       |  (a, b) -> a + b) / ($na * $nb)""".stripMargin

  private[operators] val baseCte =
    s"""e AS (SELECT vec_id, label,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (SELECT vec_id, label, v, $sqlNorm AS nrm FROM e)""".stripMargin

  /** PQ training CTE chain (shared by the s6 and s7 oracles): integer
    * micro-unit frame `q`, [[KmIters]] unrolled Lloyd rounds per (sub,
    * cluster), the `codes` table, and the `dq` ADC distance table. */
  private val pqTrainCtes: String = {
    def assignCte(name: String, c: String) =
      s"""$name AS (SELECT vec_id, sub, cluster FROM (
         |  SELECT q.vec_id, q.sub, c.cluster,
         |    row_number() OVER (PARTITION BY q.vec_id, q.sub
         |      ORDER BY sum((q.qd - c.cd) * (q.qd - c.cd)), c.cluster) AS rn
         |  FROM q JOIN $c c ON q.dim = c.dim
         |  GROUP BY q.vec_id, q.sub, c.cluster) WHERE rn = 1)""".stripMargin
    def updateCte(name: String, a: String, prev: String) =
      s"""$name AS (SELECT p.sub, p.cluster, p.dim, coalesce(n.ncd, p.cd) AS cd
         |  FROM $prev p LEFT JOIN (
         |    SELECT a.sub, a.cluster, q.dim,
         |      CAST(sum(q.qd) AS BIGINT) // count(*) AS ncd
         |    FROM q JOIN $a a ON q.vec_id = a.vec_id AND q.sub = a.sub
         |    GROUP BY a.sub, a.cluster, q.dim) n
         |  ON p.sub = n.sub AND p.cluster = n.cluster AND p.dim = n.dim)""".stripMargin
    val rounds = (1 to KmIters).map { i =>
      assignCte(s"a$i", s"c${i - 1}") + ",\n" + updateCte(s"c$i", s"a$i", s"c${i - 1}")
    }.mkString(",\n")
    s"""q AS MATERIALIZED (SELECT vec_id, u.pos - 1 AS dim,
       |    (u.pos - 1) // $PqSubDims AS sub,
       |    CAST(round((CAST(u.x AS DOUBLE) + 1.0) * $QScale) AS BIGINT) AS qd
       |  FROM embeddings, LATERAL (SELECT unnest(embedding) AS x,
       |    generate_subscripts(embedding, 1) AS pos) u),
       |c0 AS (SELECT sub, vec_id AS cluster, dim, qd AS cd FROM q WHERE vec_id < $KmK),
       |$rounds,
       |${assignCte("codes", s"c$KmIters")},
       |dq AS MATERIALIZED (SELECT p.vec_id AS query_id, c.sub, c.cluster,
       |    CAST(sum((p.qd - c.cd) * (p.qd - c.cd)) AS BIGINT) AS pd2
       |  FROM q p JOIN c$KmIters c ON p.dim = c.dim WHERE p.vec_id < $NQueryVecs
       |  GROUP BY p.vec_id, c.sub, c.cluster)""".stripMargin
  }

  private val oracleBase: Map[String, String] = Map(
    "s9_knn_graph" ->
      s"""WITH $baseCte,
         |$sqlSigDyn,
         |scored AS (SELECT a.vec_id AS src_id, b.vec_id,
         |  CAST(round((list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(list_zip(a.v, b.v), s -> s[1]*s[2])),
         |    (x, y) -> x + y) / (a.nrm * b.nrm)) * 1000000) AS BIGINT) AS mc
         |  FROM probes a JOIN sigs b
         |  ON a.psig = b.sig AND a.vec_id != b.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY src_id
         |  ORDER BY mc DESC, vec_id) AS rank FROM scored)
         |SELECT src_id, CAST(rank AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, mc AS cos_mic
         |FROM ranked WHERE rank <= $KnnK ORDER BY src_id, rank""".stripMargin,
    "s10_mmr" -> mmrSql(MmrK, MmrC),
    "s11_binary_rerank" ->
      s"""WITH $baseCte,
         |sig AS (SELECT vec_id, v, nrm,
         |  CAST(list_sum(list_transform(range(1, 33), i ->
         |    CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
         |         ELSE 0 END)) AS BIGINT) AS lo,
         |  CAST(list_sum(list_transform(range(33, 65), i ->
         |    CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 33))
         |         ELSE 0 END)) AS BIGINT) AS hi
         |  FROM n),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
         |    lo AS qlo, hi AS qhi
         |  FROM sig WHERE vec_id < $NQueryVecs),
         |ham AS (SELECT q.query_id, s.vec_id,
         |    CAST(bit_count(xor(s.lo, q.qlo)) + bit_count(xor(s.hi, q.qhi))
         |      AS BIGINT) AS hamming
         |  FROM q JOIN sig s ON s.vec_id != q.query_id),
         |cand AS (SELECT query_id, vec_id, hamming,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY hamming, vec_id) AS hrn
         |  FROM ham),
         |scored AS (SELECT c.query_id, n.vec_id AS neighbor_id, c.hamming,
         |    round($sqlCos, 6) AS cos_sim
         |  FROM cand c
         |  JOIN n ON n.vec_id = c.vec_id
         |  JOIN q ON q.query_id = c.query_id
         |  WHERE c.hrn <= $BinRerankC),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, hamming, cos_sim, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "s8_ann_filtered" ->
      s"""WITH $baseCte,
         |q AS (SELECT vec_id AS query_id, label, v AS qv, nrm AS qn
         |  FROM n WHERE vec_id < $NQueryVecs),
         |scored AS (SELECT q.query_id, n.vec_id,
         |  CAST(round(($sqlCos) * 1000000) AS BIGINT) AS mc
         |  FROM q JOIN n ON n.label = q.label AND n.vec_id != q.query_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY mc DESC, vec_id) AS rank FROM scored)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank,
         |  vec_id AS neighbor_id, mc AS cos_mic
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "s1_ann_bruteforce" ->
      s"""WITH $baseCte,
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < $NQueryVecs),
         |scored AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |  round($sqlCos, 6) AS cos_sim
         |  FROM q CROSS JOIN n WHERE n.vec_id != q.query_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "s2_ann_lsh" ->
      s"""WITH $baseCte,
         |$sqlSigDyn,
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, psig AS qsig
         |  FROM probes WHERE vec_id < $NQueryVecs),
         |scored AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |  round($sqlCos, 6) AS cos_sim
         |  FROM q JOIN (SELECT vec_id, v, nrm, sig FROM sigs) n
         |  ON n.sig = q.qsig AND n.vec_id != q.query_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "s3_ann_ivf" ->
      s"""WITH $baseCte,
         |aw AS (SELECT label, vec_id, v, nrm,
         |  row_number() OVER (PARTITION BY label ORDER BY vec_id) AS arn FROM n),
         |anchors AS (SELECT CAST(label AS BIGINT) AS anchor_id, v AS av, nrm AS an
         |  FROM aw WHERE arn = 1),
         |asg AS (SELECT vec_id, v, nrm, anchor_id,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ${sqlCosGen("v", "av", "nrm", "an")} DESC, anchor_id) AS crn
         |  FROM n CROSS JOIN anchors),
         |assigned AS (SELECT vec_id, v, nrm, anchor_id AS cell FROM asg WHERE crn = 1),
         |pw AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, anchor_id,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ${sqlCosGen("v", "av", "nrm", "an")} DESC, anchor_id) AS prn
         |  FROM n CROSS JOIN anchors WHERE vec_id < $NQueryVecs),
         |probes AS (SELECT query_id, qv, qn, anchor_id AS cell FROM pw WHERE prn <= 2),
         |scored AS (SELECT p.query_id, s.vec_id AS neighbor_id,
         |  round(${sqlCosGen("p.qv", "s.v", "p.qn", "s.nrm")}, 6) AS cos_sim
         |  FROM probes p JOIN assigned s ON p.cell = s.cell AND s.vec_id != p.query_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos_sim DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "s4_kmeans" ->
      s"""WITH ${kmeansOracleCtes()}
         |SELECT vec_id, cluster, CAST(d2 AS BIGINT) AS d2
         |FROM aout ORDER BY vec_id""".stripMargin,
    "s19_ann_cost" ->
      s"""WITH $baseCte,
         |$sqlSigDyn,
         |q AS (SELECT vec_id AS query_id, psig AS qsig FROM probes
         |  WHERE vec_id < $NQueryVecs),
         |cand AS (SELECT DISTINCT q.query_id, sg.vec_id
         |  FROM q JOIN (SELECT vec_id, sig FROM sigs) sg
         |  ON sg.sig = q.qsig AND sg.vec_id != q.query_id),
         |cc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS nc
         |  FROM cand GROUP BY query_id),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM sigs),
         |qq AS (SELECT vec_id AS query_id FROM sigs
         |  WHERE vec_id < $NQueryVecs)
         |SELECT qq.query_id,
         |  CAST(coalesce(nc, 0) AS BIGINT) AS n_candidates,
         |  n_vecs - 1 AS exact_scans,
         |  (1000000 * CAST(coalesce(nc, 0) AS BIGINT)) // (n_vecs - 1)
         |    AS scan_frac_ppm
         |FROM qq LEFT JOIN cc ON qq.query_id = cc.query_id, tot
         |ORDER BY qq.query_id""".stripMargin,
    "s18_cell_separation" ->
      s"""WITH ${hierKmeansOracleCtes(
             s"SELECT greatest($KmK, count(DISTINCT vec_id) // $SemCellTarget) FROM q")},
         |r AS (SELECT cluster, vec_id, d2, row_number() OVER (
         |    PARTITION BY cluster ORDER BY d2, vec_id) AS rn FROM aout),
         |p AS (SELECT cluster, count(*) AS n_vecs,
         |    CAST(max(d2) AS BIGINT) AS radius_d2 FROM aout GROUP BY cluster),
         |tc AS (SELECT p.cluster, p.n_vecs, p.radius_d2,
         |    r.vec_id AS medoid_id,
         |    row_number() OVER (ORDER BY p.n_vecs DESC, p.cluster) AS orn
         |  FROM p JOIN r ON p.cluster = r.cluster AND r.rn = 1),
         |top AS (SELECT * FROM tc WHERE orn <= $SepTopCells),
         |mv AS (SELECT top.cluster, top.n_vecs, top.radius_d2, q.dim, q.qd
         |  FROM top JOIN q ON top.medoid_id = q.vec_id),
         |pd AS (SELECT a.cluster AS ca, b.cluster AS cb,
         |    max(a.n_vecs) AS n_vecs, max(a.radius_d2) AS radius_d2,
         |    CAST(sum((a.qd - b.qd) * (a.qd - b.qd)) AS BIGINT) AS sep_d2
         |  FROM mv a JOIN mv b ON a.dim = b.dim AND a.cluster != b.cluster
         |  GROUP BY 1, 2),
         |nr AS (SELECT *, row_number() OVER (PARTITION BY ca
         |    ORDER BY sep_d2, cb) AS rn2 FROM pd)
         |SELECT ca AS cluster, CAST(n_vecs AS BIGINT) AS n_vecs, radius_d2,
         |  cb AS nearest_cell, sep_d2,
         |  sep_d2 < radius_d2 * 4 AS overlap_risk
         |FROM nr WHERE rn2 = 1 ORDER BY cluster""".stripMargin,
    "s17_coreset_sample" ->
      s"""WITH ${hierKmeansOracleCtes(
             s"SELECT greatest($KmK, count(DISTINCT vec_id) // $SemCellTarget) FROM q")},
         |dr AS (SELECT cluster, vec_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(CAST(vec_id AS VARCHAR)
         |        || '$CoresetSalt', ''),
         |      c -> CAST(ascii(c) AS BIGINT))),
         |      (a, b) -> (a*31 + b) % ${graft.functions.Portable.P}) AS draw
         |  FROM aout),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY draw, vec_id) AS rank FROM dr)
         |SELECT cluster, CAST(rank AS BIGINT) AS rank, vec_id, draw
         |FROM r WHERE rank <= $CoresetK ORDER BY cluster, rank""".stripMargin,
    "s16_cell_medoids" ->
      s"""WITH ${hierKmeansOracleCtes(
             s"SELECT greatest($KmK, count(DISTINCT vec_id) // $SemCellTarget) FROM q")},
         |r AS (SELECT cluster, vec_id, d2,
         |    row_number() OVER (PARTITION BY cluster ORDER BY d2, vec_id) AS rn
         |  FROM aout),
         |p AS (SELECT cluster, count(*) AS n_vecs,
         |    CAST(max(d2) AS BIGINT) AS radius_d2 FROM aout GROUP BY cluster)
         |SELECT p.cluster, r.vec_id AS medoid_id, CAST(r.d2 AS BIGINT) AS medoid_d2,
         |  n_vecs, radius_d2
         |FROM p JOIN r ON p.cluster = r.cluster AND r.rn = 1
         |ORDER BY p.cluster""".stripMargin,
    "s15_semdedup" ->
      s"""WITH ${hierKmeansOracleCtes(
             s"SELECT greatest($KmK, count(DISTINCT vec_id) // $SemCellTarget) FROM q")},
         |qa AS (SELECT vec_id, list(qd ORDER BY dim) AS qv FROM q GROUP BY vec_id),
         |m AS MATERIALIZED (SELECT qa.vec_id, aout.cluster, qa.qv
         |  FROM qa JOIN aout ON qa.vec_id = aout.vec_id),
         |dup AS (SELECT vec_id, min(ida) AS witness FROM (
         |  SELECT a.vec_id AS ida, b.vec_id AS vec_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_zip(a.qv, b.qv),
         |        s -> (s[1] - s[2]) * (s[1] - s[2]))), (x, y) -> x + y) AS pair_d2
         |  FROM m a JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         |  WHERE pair_d2 <= $SemDupD2 GROUP BY vec_id)
         |SELECT m.vec_id, m.cluster,
         |  coalesce(dup.witness, m.vec_id) AS dup_of,
         |  dup.vec_id IS NULL AS kept
         |FROM m LEFT JOIN dup ON m.vec_id = dup.vec_id
         |ORDER BY m.vec_id""".stripMargin,
    "s6_ann_pq" ->
      s"""WITH $pqTrainCtes,
         |ad AS (SELECT dq.query_id, k.vec_id AS neighbor_id,
         |    CAST(sum(pd2) AS BIGINT) AS approx_d2
         |  FROM codes k JOIN dq ON k.sub = dq.sub AND k.cluster = dq.cluster
         |  WHERE k.vec_id != dq.query_id
         |  GROUP BY dq.query_id, k.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY approx_d2, neighbor_id) AS rank FROM ad)
         |SELECT query_id, neighbor_id, approx_d2, rank
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "s7_ann_ivfpq" ->
      s"""WITH $baseCte,
         |aw AS (SELECT label, vec_id, v, nrm,
         |  row_number() OVER (PARTITION BY label ORDER BY vec_id) AS arn FROM n),
         |anchors AS (SELECT CAST(label AS BIGINT) AS anchor_id, v AS av, nrm AS an
         |  FROM aw WHERE arn = 1),
         |asg AS (SELECT vec_id, anchor_id,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ${sqlCosGen("v", "av", "nrm", "an")} DESC, anchor_id) AS crn
         |  FROM n CROSS JOIN anchors),
         |cells AS MATERIALIZED (SELECT vec_id, anchor_id AS cell FROM asg WHERE crn = 1),
         |probes AS MATERIALIZED (SELECT vec_id AS query_id, anchor_id AS cell
         |  FROM asg WHERE vec_id < $NQueryVecs AND crn <= 2),
         |$pqTrainCtes,
         |ad AS (SELECT dq.query_id, k.vec_id AS neighbor_id,
         |    CAST(sum(pd2) AS BIGINT) AS approx_d2
         |  FROM codes k
         |  JOIN cells ON k.vec_id = cells.vec_id
         |  JOIN probes ON probes.cell = cells.cell
         |  JOIN dq ON dq.query_id = probes.query_id
         |         AND k.sub = dq.sub AND k.cluster = dq.cluster
         |  WHERE k.vec_id != probes.query_id
         |  GROUP BY dq.query_id, k.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY approx_d2, neighbor_id) AS rank FROM ad)
         |SELECT query_id, neighbor_id, approx_d2, rank
         |FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "s5_quantize" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sc AS (SELECT vec_id, v,
         |    127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
         |  FROM e),
         |qq AS (SELECT vec_id, v, scale,
         |    list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS q
         |  FROM sc)
         |SELECT vec_id,
         |  round(127.0 / scale, 6) AS max_abs,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(q, x -> x + 127)),
         |    (a, b) -> (a*31 + b) % ${graft.functions.Portable.P}) AS q_hash,
         |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(list_zip(v, q), s -> abs(s[1] - s[2] / scale))),
         |    (a, b) -> a + b) / $Dim.0, 8) AS mean_abs_err
         |FROM qq ORDER BY vec_id""".stripMargin)

  /** s12's oracle composes the s1 (exact) and s2 (LSH) result sets as
    * nested-WITH CTEs — the recall measure must re-derive both sides
    * exactly as their own gates do, so it references their oracle
    * strings verbatim. */
  val oracle: Map[String, String] = oracleBase +
    ("s14_embedding_drift" ->
      s"""WITH ex AS (SELECT label >= 5 AS slice_b,
         |    unnest(list_transform(embedding,
         |      x -> CAST(round((CAST(x AS DOUBLE) + 1.0) * $QScale)
         |        AS BIGINT))) AS q,
         |    unnest(range(0, 64)) AS dim
         |  FROM embeddings),
         |cells AS (SELECT slice_b, dim,
         |    CAST(sum(q) AS BIGINT) // count(*) AS mean_micro
         |  FROM ex GROUP BY slice_b, dim)
         |SELECT CAST(a.dim AS BIGINT) AS dim,
         |  a.mean_micro AS mean_a_micro, b.mean_micro AS mean_b_micro,
         |  abs(a.mean_micro - b.mean_micro) AS drift_micro
         |FROM (SELECT * FROM cells WHERE NOT slice_b) a
         |JOIN (SELECT * FROM cells WHERE slice_b) b ON a.dim = b.dim
         |ORDER BY dim""".stripMargin) +
    ("s13_quant_recall" ->
      s"""WITH exact AS (${oracleBase("s1_ann_bruteforce")}),
         |e2 AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |qs AS (SELECT vec_id, v,
         |    127.0 / list_max(list_transform(v, y -> abs(y))) AS scale
         |  FROM e2),
         |qv AS (SELECT vec_id,
         |    list_transform(v, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS q
         |  FROM qs),
         |qnrm AS (SELECT vec_id, q,
         |    sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_zip(q, q), s -> s[1]*s[2])),
         |      (a, c) -> a + c) AS DOUBLE)) AS qn
         |  FROM qv),
         |probes AS (SELECT vec_id AS query_id, q AS qa, qn AS qan
         |  FROM qnrm WHERE vec_id < $NQueryVecs),
         |scored AS (SELECT p.query_id, b.vec_id AS neighbor_id,
         |    round(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_zip(p.qa, b.q), s -> s[1]*s[2])),
         |      (a, c) -> a + c) AS DOUBLE) / (p.qan * b.qn), 6) AS cos_q
         |  FROM probes p CROSS JOIN qnrm b WHERE b.vec_id != p.query_id),
         |apx AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_q DESC, neighbor_id) AS rank FROM scored)
         |  WHERE rank <= $TopK),
         |hits AS (SELECT e.query_id, e.neighbor_id,
         |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM exact e LEFT JOIN apx a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
         |SELECT query_id, count(*) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_hit,
         |  (1000000 * CAST(sum(hit) AS BIGINT)) // count(*) AS recall_ppm
         |FROM hits GROUP BY query_id ORDER BY query_id""".stripMargin) +
    ("s12_index_recall" ->
      s"""WITH exact AS (${oracleBase("s1_ann_bruteforce")}),
         |apx AS (${oracleBase("s2_ann_lsh")}),
         |hits AS (SELECT e.query_id, e.neighbor_id,
         |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM exact e LEFT JOIN apx a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
         |SELECT query_id, count(*) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_hit,
         |  (1000000 * CAST(sum(hit) AS BIGINT)) // count(*) AS recall_ppm
         |FROM hits GROUP BY query_id ORDER BY query_id""".stripMargin)
}
