package graft.core

/** Naming for the on-disk derive-once caches under `target/graft_derived`.
  *
  * The cache key must change when the SOURCE data changes: a sanitized
  * dir-name alone collides for distinct dirs that sanitize identically,
  * and silently serves stale parquet when testdata is regenerated in
  * place. The tag therefore combines the readable sanitized name with a
  * fingerprint of the full path plus every source file's (relative name,
  * size, mtime) — regenerating any input invalidates every derived
  * artifact keyed on it.
  *
  * The (name, size, mtime) triple misses one corner: a same-second,
  * same-size in-place rewrite (mtime granularity is 1 s on many
  * filesystems). For correctness-critical reruns set
  * `-Dgraft.derived.contentHash=true` (or env
  * `GRAFT_DERIVED_CONTENT_HASH=1`): the fingerprint then also samples
  * each file's first and last 4 KiB of CONTENT — enough to catch any
  * realistic rewrite (parquet footers carry per-file statistics and a
  * creation timestamp) without re-reading terabytes for a cache key. */
object Derived {

  /** Wall-clock registry of derive-once cache BUILDS — the first-caller
    * cost the per-query bench numbers used to silently absorb (g29 paid
    * the 7 s LPA build g8 then read for 0.3 s, purely by run order;
    * VERDICT r9 item 5). Every builder wraps its cold-build block in
    * [[recordBuild]]; Bench diffs this registry around each query to
    * bill the query its MARGINAL cost and emits the builds as their own
    * `derived_builds` artifact field. Warm cache hits never record
    * (the guard sits outside the build block). */
  private val buildLog =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Time spent in recordBuild calls NESTED inside the current one
    * (builders compose: pairStats builds postings, d6's assignment
    * builds the LSH pairs) — subtracted so each build bills only its
    * own marginal seconds and the registry total equals the outermost
    * build's wall time. Same-thread by construction: the builders are
    * `synchronized` and call each other directly. */
  private val nestedSecs = new ThreadLocal[java.lang.Double] {
    override def initialValue(): java.lang.Double = 0.0
  }

  /** Run a cold derive-once build, billing its marginal wall seconds to
    * `name` in the registry. */
  def recordBuild[T](name: String)(f: => T): T = {
    val outerNested = nestedSecs.get()
    nestedSecs.set(0.0)
    val t0 = System.nanoTime()
    try f finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val own = math.max(0.0, wall - nestedSecs.get())
      buildLog.merge(name, own, (a, b) => a + b)
      nestedSecs.set(outerNested + wall)
    }
  }

  /** Snapshot of accumulated build seconds by name. */
  def buildTimes: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildLog.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  /** Delete every derive-once cache entry (`target/graft_derived/
    * <family>/<tag>/…`) whose tag keys on one of `dirs` — the
    * both-sides-cold guarantee for recorded measurements (Bench and
    * perfbench wipe at start, so every recorded run is cold-comparable
    * instead of silently mixing warm-cache and cold-build runs, VERDICT
    * r10 item 3). Bounded work: the derived root holds one small parquet
    * tree per (family, source-dir). */
  def wipeFor(dirs: Seq[String]): Unit = {
    val root = new java.io.File(s"${sys.props("user.dir")}/target/graft_derived")
    val tags = dirs.map(tag).toSet
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    Option(root.listFiles()).foreach(_.foreach { family =>
      Option(family.listFiles())
        .foreach(_.filter(t => tags.contains(t.getName)).foreach { t =>
          rm(t)
          // A tag dir surviving a failed delete (e.g. a permissions
          // hiccup leaving _SUCCESS behind) would let a recorded run
          // read a WARM derive-once cache, corrupting the cold
          // measurement this wipe exists to guarantee — fail loudly
          // instead (ADVICE r9).
          require(!t.exists(), s"wipeFor failed to remove $t — " +
            "a warm derive-once cache would corrupt the cold measurement")
        })
    })
  }

  /** Stable cache tag for a source data directory. */
  def tag(d: String): String = {
    val name = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    s"$name-${fingerprint(d)}"
  }

  private[core] def contentHashEnabled: Boolean =
    sys.props.get("graft.derived.contentHash").exists(_.equalsIgnoreCase("true")) ||
      sys.env.get("GRAFT_DERIVED_CONTENT_HASH").contains("1")

  private def fingerprint(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sampleContent = contentHashEnabled
    md.update(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def walk(f: java.io.File, rel: String): Unit = {
      md.update(s"|$rel:${f.length()}:${f.lastModified()}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (sampleContent && f.isFile && f.length() > 0) {
        // readFully, not a single read(): read() may legally return
        // fewer bytes than requested even when more are available, and a
        // short read would change the fingerprint nondeterministically
        // across runs (spurious cache-key misses → rebuilds). Sample
        // sizes are clamped to the file length so EOF cannot hit —
        // UNLESS the file shrinks between the length() calls and the
        // read (data regenerated in place by a concurrent process). An
        // EOF there must perturb the fingerprint (→ cache-key miss and
        // rebuild), not abort the run (ADVICE r9).
        try {
          val raf = new java.io.RandomAccessFile(f, "r")
          try {
            val head = new Array[Byte](math.min(4096L, f.length()).toInt)
            raf.readFully(head)
            md.update(head)
            if (f.length() > 4096) {
              val tail = new Array[Byte](4096)
              raf.seek(f.length() - 4096)
              raf.readFully(tail)
              md.update(tail)
            }
          } finally raf.close()
        } catch {
          case _: java.io.IOException =>
            md.update("|concurrent-rewrite".getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
        }
      }
      val children = f.listFiles()
      if (children != null)
        children.sortBy(_.getName).foreach(c => walk(c, s"$rel/${c.getName}"))
    }
    walk(new java.io.File(d), "")
    md.digest().take(6).map(b => f"$b%02x").mkString
  }
}
