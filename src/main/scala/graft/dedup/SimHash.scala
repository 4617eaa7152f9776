package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Portable

/** SimHash document fingerprinting for near-duplicate detection.
  *
  * Per document: tokenize to words, derive a 60-bit key per word from
  * TWO portable polynomial folds (plain hash → low 30 bits, a
  * salt-prefixed hash → high 30; [[graft.functions.HashUtil.SimSalt]]),
  * and for each of the 60 key bits add `+tf` when the bit is set, `-tf`
  * when clear; the fingerprint sets bit j iff the accumulated weight is
  * positive. Near-dups differ in few bits → hamming distance (bit_count
  * of xor) is the similarity measure.
  *
  * The fingerprint is one per-row native kernel
  * ([[graft.functions.HashUtil.simHashFp]]) — tokenize, tf-count, and
  * 60-bit weight accumulation in a single pass, no explode and no
  * aggregate shuffle (the DuckDB oracle computes the identical
  * fingerprint relationally: unnest → tf → composed two-fold hash →
  * bit table → two aggregations).
  *
  * 60 bits by composition (r10; was 30) because one portable hash lives
  * in [0, 1e9+7) — only 30 honest bits. Width is the corpus-size knob:
  * unrelated fingerprints collide at hamming ≤ h by pure chance with
  * probability C(bits, ≤h)/2^bits. At the old (bits=30, h=2) the dedup
  * FALSE-POSITIVE FLOOR was ≈ N²/2 × 466/2³⁰ — ~39k chance pairs
  * measured on 500k content-independent docs (a 100× replica of
  * sf0.1, SURVEY §6.2.1). At (bits=60, h=4) the floor is N²/2 × C(60,≤4)/2⁶⁰ ≈
  * N²/2 × 4.5e-13 — ~0.06 pairs at the same N, gone for any corpus the
  * banding itself can hold. The hamming threshold re-derivation is
  * proportional (2/30 → 4/60 — the same per-bit noise fraction: the
  * all-pairs hamming histogram of the population is smooth, so the
  * fraction, not an absolute gap, is the invariant); bands follow
  * pigeonhole: 5 bands of 12 bits catch every pair with hamming ≤ 4.
  */
object SimHash {

  val Bits: Int = graft.functions.HashUtil.SimHashBits

  /** (id, simhash) — one BIGINT fingerprint per document. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("id"), call_function("graft_simhash", col("text")).as("simhash"))

  /** Pairs with hamming distance ≤ maxHamming, blocked by a caller-chosen
    * key column (cheap at test scale; the 100 TB path is [[bandedPairs]]). */
  def pairsWithin(fps: DataFrame, blockCol: String, maxHamming: Int): DataFrame = {
    val a = fps.as("a"); val b = fps.as("b")
    a.join(b, col(s"a.$blockCol") === col(s"b.$blockCol") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Scale path: candidates = docs sharing any contiguous bit slice of the
    * fingerprint (pigeonhole: hamming ≤ bands-1 guarantees a shared band).
    * Join key is (band, slice) — no cross join, no blocking column needed. */
  def bandedPairs(fps: DataFrame, bands: Int, maxHamming: Int,
                  bits: Int = Bits): DataFrame = {
    val spark = fps.sparkSession
    import spark.implicits._
    val width = bits / bands
    val bandTbl = broadcast(
      (0 until bands).map(b => (b, 1L << (b * width))).toDF("band", "divisor"))
    val sliced = fps.crossJoin(bandTbl).select(
      col("id"), col("simhash"), col("band"),
      expr(s"(simhash DIV divisor) % ${1L << width}").as("slice"))
    val x = sliced.as("x"); val y = sliced.as("y")
    x.join(y, col("x.band") === col("y.band") && col("x.slice") === col("y.slice") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      // hamming filter BEFORE the dedup shuffle: a pair sharing k band
      // slices comes out of the join k times, but most candidates fail
      // the hamming cut — filtering first shrinks the distinct's input
      // to (survivors × k) instead of (all candidates × k).
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
