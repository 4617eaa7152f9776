package graft.operators

import graft.graph.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every Lloyd's in the engine runs on one grouped array kernel
  * (`SimilarityQueries.lloyd`). This spec pins it against an independent
  * per-dim reference ([[perDimReference]]): integer Lloyd's over the
  * exploded (vec, dim, qd) table, clustering each `width`-dim subspace on
  * its own. Width 64 is flat k-means (s4 and the cell build's first
  * level); width 16 is PQ's per-subspace codebooks (s6/s7). The DuckDB
  * gate only ever sees the derived k collapse to KmK=4 at testdata size,
  * so this spec is also the proof for the k > 4 path: both formulations
  * must agree cell-for-cell and distance-for-distance — at k = 4 on the
  * raw testdata AND at a derived k > 4 on a replicated corpus (the
  * scale-replica convention: dimension-rotated copies, so copies
  * decorrelate instead of forming exact dup groups). */
class KmeansArrayParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  /** Per-dim integer Lloyd's `(vec_id, sub, cluster, d2)` over the
    * subspaces `dim DIV width`: components quantized to micro-units
    * `round((x+1)·1e6)`, init = vectors 0..k-1 in every subspace,
    * `sum DIV count` centroid means per (sub, cluster, dim), empty
    * clusters keep their centroid, and the per-(vec, sub) argmin is a
    * window ordered by (d2, cluster). */
  private def perDimReference(s: SparkSession, d: String, k: Long, width: Int): DataFrame = {
    val q = graft.core.Tables.embeddings(s, d).select(col("vec_id"),
        posexplode(transform(col("embedding"),
          x => round((x.cast("double") + lit(1.0)) * 1000000L).cast("long")))
          .as(Seq("dim", "qd")))
      .withColumn("sub", expr(s"dim DIV $width"))
      .materialize()
    def assign(centroids: DataFrame): DataFrame = {
      val d2 = (col("qd") - col("cd")) * (col("qd") - col("cd"))
      val dist = q.join(broadcast(centroids.drop("sub")), "dim")
        .groupBy(col("vec_id"), col("sub"), col("cluster")).agg(sum(d2).as("d2"))
      val w = Window.partitionBy("vec_id", "sub").orderBy(col("d2"), col("cluster"))
      dist.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("cluster"), col("d2"))
    }
    var centroids = q.where(col("vec_id") < k)
      .select(col("sub"), col("vec_id").as("cluster"), col("dim"), col("qd").as("cd"))
    for (_ <- 1 to 2) { // KmIters
      val sums = q.join(assign(centroids).select("vec_id", "sub", "cluster"),
          Seq("vec_id", "sub"))
        .groupBy(col("sub"), col("cluster"), col("dim"))
        .agg(expr("sum(qd) DIV count(1)").as("ncd"))
      centroids = centroids
        .join(sums, Seq("sub", "cluster", "dim"), "left_outer")
        .select(col("sub"), col("cluster"), col("dim"),
          coalesce(col("ncd"), col("cd")).as("cd"))
        .materialize()
    }
    assign(centroids)
  }

  /** `(vec_id, sub) -> (cluster, d2)` of a `(vec_id, sub, cluster, d2)`
    * frame. */
  private def collectMap(df: DataFrame) =
    df.select(col("vec_id"), col("sub").cast("long"), col("cluster").cast("long"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap

  private def flat(df: DataFrame) = collectMap(df.withColumn("sub", lit(0L)))

  test("array kernel == per-dim kernel at k = 4 (the gated surface)") {
    // two inputs: flat k-means (width 64, s4) and PQ codes (g = sub,
    // width 16, s6/s7), each at 1 and 7 shuffle partitions
    val inputs = Seq[(Int, () => Map[(Long, Long), (Long, Long)])](
      64 -> (() => flat(SimilarityQueries.kmeansAssignArray(spark, sf, 4))),
      16 -> (() => collectMap(SimilarityQueries.pqModel(spark, sf)._1)))
    for ((width, kernel) <- inputs; parts <- Seq("1", "7")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try assert(kernel() === collectMap(perDimReference(spark, sf, 4, width)),
        s"width $width at spark.sql.shuffle.partitions=$parts")
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
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
    assert(flat(SimilarityQueries.kmeansAssignArray(spark, bigDir, k)) ===
      collectMap(perDimReference(spark, bigDir, k, 64)))
  }
}
