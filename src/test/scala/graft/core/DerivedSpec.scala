package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The derive-once cache key must miss whenever the SOURCE changes.
  * (name, size, mtime) catches regeneration in the normal case; the
  * content-hash mode (`graft.derived.contentHash`) additionally catches
  * the same-second same-size in-place rewrite that mtime granularity
  * hides (ADVICE r7 / VERDICT r7 item 7). */
class DerivedSpec extends AnyFunSuite {

  private def tmpDirWith(content: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft-derived").toFile
    val f = new java.io.File(dir, "data.bin")
    val w = new java.io.FileOutputStream(f)
    try w.write(content.getBytes("UTF-8")) finally w.close()
    dir
  }

  test("tag changes when a source file's size or mtime changes") {
    val dir = tmpDirWith("aaaa")
    val t1 = Derived.tag(dir.toString)
    val f = new java.io.File(dir, "data.bin")
    val w = new java.io.FileOutputStream(f)
    try w.write("bbbbbbbb".getBytes("UTF-8")) finally w.close() // size changes
    assert(Derived.tag(dir.toString) !== t1)
  }

  test("content-hash mode detects a same-size same-mtime rewrite; default misses it") {
    val dir = tmpDirWith("aaaa")
    val f = new java.io.File(dir, "data.bin")
    val mtime = f.lastModified()
    val defaultBefore = Derived.tag(dir.toString)
    sys.props("graft.derived.contentHash") = "true"
    val hashedBefore = try Derived.tag(dir.toString)
      finally sys.props.remove("graft.derived.contentHash")
    // deliberately-stale rewrite: same byte count, mtime pinned back
    val w = new java.io.FileOutputStream(f)
    try w.write("bbbb".getBytes("UTF-8")) finally w.close()
    f.setLastModified(mtime)
    // the default (name, size, mtime) key CANNOT see this rewrite …
    assert(Derived.tag(dir.toString) === defaultBefore)
    // … the content-sampling key must.
    sys.props("graft.derived.contentHash") = "true"
    val hashedAfter = try Derived.tag(dir.toString)
      finally sys.props.remove("graft.derived.contentHash")
    assert(hashedAfter !== hashedBefore)
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

  test("content-hash mode samples head AND tail of large files") {
    // file > 4 KiB whose difference is only in the LAST bytes
    val big = "x" * 10000
    val dir = tmpDirWith(big + "AAAA")
    val f = new java.io.File(dir, "data.bin")
    val mtime = f.lastModified()
    sys.props("graft.derived.contentHash") = "true"
    try {
      val before = Derived.tag(dir.toString)
      val w = new java.io.FileOutputStream(f)
      try w.write((big + "BBBB").getBytes("UTF-8")) finally w.close()
      f.setLastModified(mtime)
      assert(Derived.tag(dir.toString) !== before)
    } finally sys.props.remove("graft.derived.contentHash")
  }
}
