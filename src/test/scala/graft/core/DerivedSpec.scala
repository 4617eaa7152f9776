package graft.core

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Derived]] is the one owner of the derive-once caches: an entry is
  * built once, billed once, rebuilt after a wipe or a failed build, and
  * its key misses whenever the SOURCE changes — (name, size, mtime)
  * catches regeneration in the normal case, and the content sample the
  * same-second same-size in-place rewrite that mtime granularity hides
  * (ADVICE r7 / VERDICT r7 item 7). */
class DerivedSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.builder("2").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def tmpDirWith(content: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft-derived").toFile
    val f = new java.io.File(dir, "data.bin")
    val w = new java.io.FileOutputStream(f)
    try w.write(content.getBytes("UTF-8")) finally w.close()
    dir
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** A fresh family name, so billing and layout never collide with
    * another test's entries. */
  private def family(): String = s"spec_${java.util.UUID.randomUUID.toString.take(8)}"

  private def cleanup(fam: String): Unit =
    rm(new java.io.File(s"${sys.props("user.dir")}/target/graft_derived/$fam"))

  test("tag changes when a source file's size or mtime changes") {
    val dir = tmpDirWith("aaaa")
    val t1 = Derived.tag(dir.toString)
    val f = new java.io.File(dir, "data.bin")
    val w = new java.io.FileOutputStream(f)
    try w.write("bbbbbbbb".getBytes("UTF-8")) finally w.close() // size changes
    assert(Derived.tag(dir.toString) !== t1)
  }

  test("the tag detects a same-size same-mtime rewrite") {
    val dir = tmpDirWith("aaaa")
    val f = new java.io.File(dir, "data.bin")
    val mtime = f.lastModified()
    val before = Derived.tag(dir.toString)
    // deliberately-stale rewrite: same byte count, mtime pinned back
    val w = new java.io.FileOutputStream(f)
    try w.write("bbbb".getBytes("UTF-8")) finally w.close()
    f.setLastModified(mtime)
    assert(Derived.tag(dir.toString) !== before)
  }

  test("wipeFor removes exactly the tag dirs keyed on the given sources") {
    // Guards the cold-measurement invariant Bench and perfbench rely on:
    // wiping one source's derive-once caches must not touch a sibling's.
    val src = tmpDirWith("wipe-me")
    val other = tmpDirWith("keep-me")
    val root = new java.io.File(
      s"${sys.props("user.dir")}/target/graft_derived/spec_wipe")
    val doomed = new java.io.File(root, Derived.tag(src.toString))
    val kept = new java.io.File(root, Derived.tag(other.toString))
    Seq(doomed, kept).foreach { d =>
      assert(d.mkdirs())
      val w = new java.io.FileOutputStream(new java.io.File(d, "part-0.parquet"))
      try w.write("x".getBytes("UTF-8")) finally w.close()
    }
    try {
      Derived.wipeFor(Seq(src.toString))
      assert(!doomed.exists(), "the wiped source's cache must be gone")
      assert(kept.exists(), "an unrelated source's cache must survive")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root)
    }
  }

  test("the tag samples head AND tail of large files") {
    // file > 4 KiB whose difference is only in the LAST bytes
    val big = "x" * 10000
    val dir = tmpDirWith(big + "AAAA")
    val f = new java.io.File(dir, "data.bin")
    val mtime = f.lastModified()
    val before = Derived.tag(dir.toString)
    val w = new java.io.FileOutputStream(f)
    try w.write((big + "BBBB").getBytes("UTF-8")) finally w.close()
    f.setLastModified(mtime)
    assert(Derived.tag(dir.toString) !== before)
  }

  test("parquet builds and bills once; a second call reads the entry back") {
    val src = tmpDirWith("parquet").toString
    val fam = family()
    var builds = 0
    def call() = Derived.parquet(spark, src, fam, "leaf", bill = s"$fam-bill") {
      builds += 1
      spark.range(5).toDF("id")
    }
    try {
      assert(call().count() === 5L)
      val billed = Derived.buildTimes
      assert(billed.contains(s"$fam-bill"))
      assert(call().count() === 5L)
      assert(builds === 1)
      assert(Derived.buildTimes === billed)
    } finally cleanup(fam)
  }

  test("after wipeFor, the entry rebuilds") {
    val src = tmpDirWith("rebuild").toString
    val fam = family()
    var builds = 0
    def call() = Derived.entry(src, fam, "leaf") { p =>
      builds += 1
      assert(new java.io.File(p).mkdirs())
      assert(new java.io.File(p, "_SUCCESS").createNewFile())
    }
    try {
      val p = call()
      call()
      assert(builds === 1)
      Derived.wipeFor(Seq(src))
      assert(!new java.io.File(p).exists())
      assert(call() === p)
      assert(builds === 2)
    } finally cleanup(fam)
  }

  test("a build that throws leaves no marker, and the next call builds again") {
    val src = tmpDirWith("throws").toString
    val fam = family()
    var builds = 0
    def call(fail: Boolean) = Derived.entry(src, fam, "leaf") { p =>
      builds += 1
      new java.io.File(p).mkdirs() // the failed build's dir may be left over
      if (fail) throw new IllegalStateException("build failed")
      assert(new java.io.File(p, "_SUCCESS").createNewFile())
    }
    try {
      intercept[IllegalStateException](call(fail = true))
      val p = Derived.path(src, fam, "leaf")
      assert(!new java.io.File(p, "_SUCCESS").exists())
      assert(call(fail = false) === p)
      assert(builds === 2)
      assert(new java.io.File(p, "_SUCCESS").exists())
    } finally cleanup(fam)
  }

  test("no code outside core/Derived.scala spells out the cache layout") {
    // Every derive-once entry goes through Derived: a `graft_derived`
    // path or a `_SUCCESS` check anywhere else in src/main is a
    // hand-rolled copy of the protocol that wipeFor cannot vouch for.
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    val (owner, rest) = files.partition(_.endsWith(java.nio.file.Paths.get("core", "Derived.scala")))
    assert(owner.length === 1)
    val literals = Seq("graft_derived", "_SUCCESS")
    assert(literals.forall(java.nio.file.Files.readString(owner.head).contains))
    val offenders = rest.filter(p =>
      literals.exists(java.nio.file.Files.readString(p).contains))
    assert(offenders.isEmpty, s"derive-once layout spelled out in: ${offenders.mkString(", ")}")
  }
}
