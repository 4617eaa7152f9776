package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The s15 cell build ([[SimilarityQueries.kmeansAssignArray]]) reshapes
  * the gated per-dim Lloyd's ([[SimilarityQueries.kmeansAssign]], s4's
  * body) for a k that grows with N. The DuckDB gate only ever sees the
  * derived k collapse to KmK=4 at testdata size, so this spec is the
  * proof for the k > 4 path: both formulations must agree cell-for-cell
  * and distance-for-distance — at k = 4 on the raw testdata AND at a
  * derived k > 4 on a replicated corpus (the scale-replica convention:
  * dimension-rotated copies, so copies decorrelate instead of forming
  * exact dup groups). */
class KmeansArrayParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def collectMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("array kernel == per-dim kernel at k = 4 (the gated surface)") {
    assert(collectMap(SimilarityQueries.kmeansAssignArray(spark, sf, 4)) ===
      collectMap(SimilarityQueries.kmeansAssign(spark, sf, 4)))
  }

  test("array kernel == per-dim kernel at derived k = 16 on a 4x corpus") {
    val big = s"${sys.props("java.io.tmpdir")}/graft_kmeans_parity"
    if (!new java.io.File(s"$big/_SUCCESS").exists()) {
      val src = graft.core.Tables.embeddings(spark, sf)
      (0 until 4).map { k =>
        src.withColumn("vec_id", col("vec_id") + lit(k * 1000000L))
          .withColumn("embedding",
            if (k == 0) col("embedding")
            else concat(slice(col("embedding"), k + 1, 64 - k),
              slice(col("embedding"), 1, k)))
      }.reduce(_ union _).write.mode("overwrite").parquet(big)
    }
    // point Tables at the file directly via a dir containing it
    val dir = new java.io.File(big).getParent
    val bigDir = s"$dir/graft_kmeans_parity_dir"
    val f = new java.io.File(s"$bigDir/embeddings.parquet")
    if (!f.exists()) {
      f.getParentFile.mkdirs()
      java.nio.file.Files.createSymbolicLink(
        f.toPath, new java.io.File(big).toPath)
    }
    val n = graft.core.Tables.embeddings(spark, bigDir).count()
    val k = math.max(4L, n / SimilarityQueries.SemCellTarget)
    assert(k === 16L, s"derived k=$k (n=$n)")
    assert(collectMap(SimilarityQueries.kmeansAssignArray(spark, bigDir, k)) ===
      collectMap(SimilarityQueries.kmeansAssign(spark, bigDir, k)))
  }
}
