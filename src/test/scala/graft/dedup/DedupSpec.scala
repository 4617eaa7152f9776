package graft.dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Portable

class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "text")
  }

  test("charHash matches the DuckDB-oracle fold for 'hello world'") {
    // Reference value computed independently with the same recurrence
    // acc = (acc*31 + ascii) % 1e9+7 → 204910434 (verified in DuckDB).
    val got = docsDf(1L -> "hello world")
      .select(Portable.charHash(col("text"))).first().getLong(0)
    assert(got === 204910434L)
  }

  test("shingles: guard for docs shorter than k") {
    val d = docsDf(1L -> "one two", 2L -> "a b c d")
    val n = d.select(col("id"), size(Portable.shingles(Portable.words(col("text")), 3)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(n === Map(1L -> 0, 2L -> 2))
  }

  test("streamingSignatureDedup: re-crawls suppressed across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = (1 to 40).map(i => s"token$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("id", "text", "ts")
    val q = MinHashLsh.streamingSignatureDedup(df)
      .writeStream.format("memory").queryName("sigdedup_out")
      .outputMode("append").start()
    val survivors = try {
      mem.addData((1L, text, new java.sql.Timestamp(60000L)))
      q.processAllAvailable()
      // batch 2: a re-crawl of doc 1 (identical content, new id) + a new doc
      mem.addData((2L, text, new java.sql.Timestamp(120000L)),
        (3L, other, new java.sql.Timestamp(180000L)))
      q.processAllAvailable()
      spark.table("sigdedup_out").select("id").collect().map(_.getLong(0)).toSet
    } finally q.stop()
    assert(survivors === Set(1L, 3L), "the re-crawl must be suppressed by state")
  }

  test("streamingSignatureDedup batch mode: short docs are NOT cross-suppressed") {
    import spark.implicits._
    // both docs are below the 3-word shingle floor — empty shingle sets;
    // the content-hash fallback must keep them distinct
    val docs = Seq((1L, "one two", ts0), (2L, "red blue", ts0))
      .toDF("id", "text", "ts")
    val out = MinHashLsh.streamingSignatureDedup(docs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out === Set(1L, 2L))
  }

  private def ts0 = new java.sql.Timestamp(0L)

  test("MinHashLsh finds a planted near-duplicate and skips unrelated docs") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"token$i").mkString(" ")
    val unrelated = (1 to 40).map(i => s"other$i word$i").mkString(" ")
    val pairs = MinHashLsh.nearDuplicates(
        docsDf(1L -> base, 2L -> nearDup, 3L -> unrelated),
        MinHashLsh.Config(threshold = 0.5))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("MinHash signature of identical docs is identical (jaccard 1.0)") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val out = MinHashLsh.nearDuplicates(docsDf(1L -> text, 2L -> text))
      .collect()
    assert(out.length === 1)
    assert(out.head.getDouble(2) === 1.0)
  }

  test("SimHash: identical docs hamming 0, near-dup small, unrelated large") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i % 29 == 0) "CHANGED" else s"tok$i").mkString(" ")
    val other = (1 to 60).map(i => s"zzz$i qqq$i").mkString(" ")
    val fps = SimHash.fingerprints(docsDf(1L -> base, 2L -> base, 3L -> near, 4L -> other))
      .withColumn("blk", lit(1))
    val ham = SimHash.pairsWithin(fps, "blk", maxHamming = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ham((1L, 2L)) === 0L)
    assert(ham((1L, 3L)) < ham((1L, 4L)))
    assert(ham((1L, 3L)) <= 8L)
  }

  test("SimHash banded candidates find what the blocked path finds") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val fps = SimHash.fingerprints(docsDf(1L -> base, 2L -> near))
    val banded = SimHash.bandedPairs(fps, bands = 6, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(banded.toSeq === Seq((1L, 2L)))
  }

  /** Runs `f` on a fresh temp corpus dir, then wipes the derive-once
    * entries the queries keyed on it, so a test run leaves no tag dir
    * behind under the derived root. */
  private def onTempCorpus[T](prefix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(dir) finally graft.core.Derived.wipeFor(Seq(dir))
  }

  test("d2 recovery: a pair sharing ONLY hot shingles is still found") {
    import spark.implicits._
    // Corpus: 70 docs all containing the same boilerplate header (every
    // boilerplate shingle has df=70 > DfCap=64 → hot). Docs 1 and 2 are
    // the bare boilerplate (jaccard 1.0, every common shingle hot — the
    // class the df-cap alone makes invisible); docs 3..70 append a long
    // unique tail so they are NOT hot-dominated and stay out of the
    // recovery restriction.
    val boiler = (1 to 12).map(i => s"license term$i common header").mkString(" ")
    val rows = Seq((1L, "en", boiler), (2L, "en", boiler)) ++
      (3 to 70).map { i =>
        (i.toLong, "en",
          boiler + " " + (1 to 60).map(w => s"unique${i}word$w").mkString(" "))
      }
    onTempCorpus("graft-d2rec") { dir =>
      rows.toDF("doc_id", "lang", "text").withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.operators.DedupQueries.d2NgramJaccard(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(out.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 },
        s"hot-only pair (1,2) not recovered: ${out.mkString(", ")}")
    }
  }

  test("d14: a short doc quoted inside a long one is contained, not jaccard-similar") {
    import spark.implicits._
    // Doc 1 (12 words, 10 shingles) is pasted verbatim into doc 2's 100
    // unique words: containment(1 in 2) = 1.0 while jaccard ~ 0.09 —
    // the asymmetric class d2 structurally misses. Doc 3 is unrelated.
    val quote = (1 to 12).map(i => s"quoted$i").mkString(" ")
    val rows = Seq(
      (1L, "en", quote),
      (2L, "en", (1 to 50).map(i => s"longa$i").mkString(" ") + " " + quote +
        " " + (1 to 50).map(i => s"longb$i").mkString(" ")),
      (3L, "en", (1 to 40).map(i => s"other$i").mkString(" ")))
    onTempCorpus("graft-d14") { dir =>
      rows.toDF("doc_id", "lang", "text").withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.operators.DedupQueries.d14Containment(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
      assert(out.toSeq === Seq((1L, 2L, 1.0)),
        s"expected exactly doc1-contained-in-doc2: ${out.mkString(", ")}")
      // and d2's jaccard gate (threshold 0.5) rightly does NOT pair them
      val j = graft.operators.DedupQueries.d2NgramJaccard(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!j.contains((1L, 2L)), "jaccard gate should not fire on containment-only pair")
    }
  }

  test("d14 recovery: mutual hot-only containment found; boilerplate-quote class excluded") {
    import spark.implicits._
    // d2's recovery corpus: docs 1,2 are bare boilerplate (every shingle
    // hot at df=70, mutual containment 1.0, invisible to the capped
    // index); docs 3..70 carry the boilerplate plus a long unique tail.
    val boiler = (1 to 12).map(i => s"license term$i common header").mkString(" ")
    val rows = Seq((1L, "en", boiler), (2L, "en", boiler)) ++
      (3 to 70).map { i =>
        (i.toLong, "en",
          boiler + " " + (1 to 60).map(w => s"unique${i}word$w").mkString(" "))
      }
    onTempCorpus("graft-d14rec") { dir =>
      rows.toDF("doc_id", "lang", "text").withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.operators.DedupQueries.d14Containment(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
      assert(out.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
        s"mutual hot-only pair (1,2) not recovered: ${out.mkString(", ")}")
      assert(out.exists { case (a, b, c) => a == 2L && b == 1L && c == 1.0 })
      // The documented exclusion: doc 1 IS contained in docs 3..70, but
      // only via hot shingles with a non-hot-dominated container — that
      // boilerplate-quote class is deliberately out of scope (Ω(df)
      // output; d1/t7 are the tools for boilerplate docs).
      assert(!out.exists { case (a, b, _) => a == 1L && b >= 3L },
        "boilerplate-quote class unexpectedly enumerated")
    }
  }

  test("d15: deletion-1 blocking finds substitution AND indel pairs, nothing else") {
    val names = graft.core.Tables.part(spark, "/root/testdata/sf0.001")
      .select("p_name").distinct().collect().map(_.getString(0))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      i <- names.indices; j <- names.indices
      if names(i) < names(j) && lev(names(i), names(j)) <= 1
    } yield (names(i), names(j), lev(names(i), names(j)).toLong)).sorted
    val got = graft.operators.DedupQueries
      .d15FuzzyNames(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty, "fixture has no distance-1 name pairs")
    // the fixture's pairs are substitutions AND indels ('old'/'cold');
    // assert the indel class (length difference 1) is actually present
    assert(got.exists { case (a, b, _) => a.length != b.length },
      "no indel pair exercised")
  }

  test("d17: cross-source shared passage counted once per source pair") {
    import spark.implicits._
    // Sources A and B share one 10-word passage (3 distinct 8-word
    // spans); A contains the passage TWICE (two docs) — the per-source
    // span SETS must keep the overlap at 3, not 6. Source C is disjoint.
    val passage = (1 to 10).map(i => s"shared$i").mkString(" ")
    val rows = Seq(
      (1L, "A", passage + " " + (1 to 20).map(i => s"aone$i").mkString(" ")),
      (2L, "A", (1 to 20).map(i => s"atwo$i").mkString(" ") + " " + passage),
      (3L, "B", passage + " " + (1 to 20).map(i => s"bone$i").mkString(" ")),
      (4L, "C", (1 to 30).map(i => s"cuniq$i").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft-d17").toString
    rows.toDF("doc_id", "source", "text").withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.DedupQueries.d17SourceOverlap(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("A", "B") -> 3L),
      s"expected only (A,B)->3, got $out")
  }

  test("d11: planted duplicate span is found, unique text is not") {
    import spark.implicits._
    // Docs 1 and 2 share one verbatim 10-word passage (3 duplicated
    // 8-word spans each: start offsets 0,1,2 of the passage); doc 3 is
    // fully unique; doc 4 repeats a span WITHIN itself only (not
    // cross-doc -> not duplicated).
    val passage = (1 to 10).map(i => s"shared$i").mkString(" ")
    val selfRep = (1 to 8).map(i => s"rep$i").mkString(" ")
    val rows = Seq(
      (1L, "en", passage + " " + (1 to 20).map(i => s"onea$i").mkString(" ")),
      (2L, "en", (1 to 20).map(i => s"twoa$i").mkString(" ") + " " + passage),
      (3L, "en", (1 to 30).map(i => s"uniq$i").mkString(" ")),
      (4L, "en", selfRep + " " + selfRep))
    val dir = java.nio.file.Files.createTempDirectory("graft-d11").toString
    rows.toDF("doc_id", "lang", "text").withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.DedupQueries.d11DupSpans(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._2 === 3L, s"doc 1 dup spans: ${out(1L)}")
    assert(out(2L)._2 === 3L, s"doc 2 dup spans: ${out(2L)}")
    assert(out(3L)._2 === 0L, "unique doc must have zero duplicated spans")
    assert(out(4L)._2 === 0L, "within-doc repetition is not cross-doc duplication")
  }

  test("d6 clusters: canonical assignment is the transitive closure of d3 pairs") {
    import graft.operators.DedupQueries
    val d = "/root/testdata/sf0.001"
    val canon = DedupQueries.d6DedupClusters(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Canonical is a cluster minimum and a fixpoint: canon(c) == c.
    canon.foreach { case (doc, c) =>
      assert(c <= doc, s"canonical $c > doc $doc")
      assert(canon(c) === c, s"canonical $c of doc $doc is not itself canonical")
    }
    // Every verified near-dup pair landed in the same cluster.
    DedupQueries.d3MinhashLsh(spark, d).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(canon(a) === canon(b), s"pair ($a,$b) split across clusters")
    }
    // And docs with no near-dup stayed their own canonical.
    val paired = DedupQueries.d3MinhashLsh(spark, d)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    canon.foreach { case (doc, c) =>
      if (!paired.contains(doc)) assert(c === doc)
    }
  }

  test("d18 quotient CC equals union-find over the full d4 pair graph") {
    import graft.operators.DedupQueries
    val d = "/root/testdata/sf0.001"
    val pairs = DedupQueries.d4Simhash(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // union-find roots are cluster minima because unions always point
    // the larger root at the smaller one
    val got = DedupQueries.d18SimhashClusters(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    got.foreach { case (doc, c, dup) =>
      assert(c === find(doc), s"doc $doc: canonical $c != union-find root")
      assert(dup === (c != doc))
    }
    assert(got.exists(_._3), "fixture has no simhash dup clusters")
  }
}
