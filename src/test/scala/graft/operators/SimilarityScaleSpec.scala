package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Scale contract of the round-7 LSH changes (s2/s9): the signature
  * width must grow with the corpus so the bucketed self-join stays
  * O(N), the hyperplanes must actually be pairwise near-orthogonal
  * (the round-6 LCG planes were lattice-correlated — worst pair
  * |cos| 0.999, i.e. the same plane twice), and hamming-1 multi-probe
  * must produce every qualifying pair exactly once. */
class SimilarityScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("derivedPlanes: floor 6 at small N, ceil(log2 N)-3 beyond, grows with N") {
    assert(SimilarityQueries.derivedPlanes(0) === 6)
    assert(SimilarityQueries.derivedPlanes(1) === 6)
    assert(SimilarityQueries.derivedPlanes(500) === 6)   // sf0.01: gate geometry
    assert(SimilarityQueries.derivedPlanes(2000) === 8)  // sf0.1
    assert(SimilarityQueries.derivedPlanes(20000) === 12) // sf1
    assert(SimilarityQueries.derivedPlanes(1L << 30) === 27)
    // monotone: more data never narrows the signature
    val widths = Seq(512L, 4096L, 65536L, 1L << 20, 1L << 40)
      .map(SimilarityQueries.derivedPlanes)
    assert(widths === widths.sorted)
  }

  test("hyperplanes are pairwise near-orthogonal (no lattice correlation)") {
    // Independent reimplementation of the quadratic-hash plane formula —
    // pins the constants against accidental drift back to an LCG.
    val P = 2147483647L
    def comp(j: Int, d: Int): Double = {
      val k = (j * 64 + d).toLong
      ((((k * k) % P) * 1103515245L + 7919L * k + 13L) % P).toDouble / P.toDouble - 0.5
    }
    val planes = (0 until 16).map(j => (0 until 64).map(d => comp(j, d)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      dp / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    val pairCos = for (i <- 0 until 16; j <- i + 1 until 16)
      yield math.abs(cos(planes(i), planes(j)))
    // E[|cos|] of random 64-dim directions is ~0.1; the old LCG planes
    // had mean 0.356 and a worst pair at 0.999.
    assert(pairCos.max < 0.35, s"worst plane pair |cos| = ${pairCos.max}")
    assert(pairCos.sum / pairCos.size < 0.15)
  }

  test("multi-probe candidates == every ordered pair at hamming <= 1, exactly once") {
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val planes = SimilarityQueries.derivedPlanes(n)
    // brute-force expectation from the collected signatures
    val collected = SimilarityQueries.vecsWithNorm(spark, sf)
      .withColumn("sig", SimilarityQueries.signature(col("v"), planes))
      .select("vec_id", "sig").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (ia, sa) <- collected; (ib, sb) <- collected
      if ia != ib && java.lang.Long.bitCount(sa ^ sb) <= 1
    } yield (ia, ib)).toSet
    assert(expected.nonEmpty, "fixture produced no hamming<=1 pairs")
    assert(SimilarityQueries.knnCandidateCount(spark, sf) === expected.size)
  }
}
