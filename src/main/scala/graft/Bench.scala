package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Each query is forced through a `noop` sink write — `count()` would let
  * Catalyst prune projections/sorts and under-measure. One warmup action
  * first so JVM/codegen startup isn't billed to the first query. */
object Bench {
  /** Locale-pinned numeric formatting for the JSON artifacts (ADVICE r11):
    * the f-interpolator formats through the JVM default locale, so on a
    * comma-decimal locale every `%.2f` field would render "3,14" and the
    * single stdout line would be unparseable — the exact `parsed: null`
    * failure mode the r11 protocol work eliminated. Route every numeric
    * field through here to pin '.' as the decimal separator. */
  private def jn(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.get(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // SPARK_GRAFT_CONF="k=v;k2=v2": runtime-settable session confs for
    // builder-side mode benches (e.g. spark.graft.checkpoint.reliable=true
    // to price the durable-checkpoint mode); the driver never sets it.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k.trim, v.trim)
        case _ => ()
      }
    })
    // Host conditions AT LAUNCH, read before any bench work: the r11
    // micro-LPA warmup below is heavy enough (~10 s at 32 threads) to
    // inflate the 1-min load average by itself, and a self-polluted
    // load_start would break the field's cross-round meaning (every
    // quiet/noisy call in SURVEY §6.1 reads it as co-tenant pressure).
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg
    // Delivered per-core speed calibration (r11, §6.1[^h11]): the host's
    // single-thread throughput swings ~2× across the day with co-tenant
    // pressure INVISIBLE to the load average (a fixed reference loop read
    // 1.56 s in one idle window and 2.9–3.4 s in another the same
    // morning — the difference between the 252-era and 306-era bench
    // totals). ~0.3–0.5 s per pass; the value rides the artifact so
    // cross-round `value` deltas can be read against delivered speed
    // instead of argued from load averages. Known limit (measured,
    // §6.1): single-threaded lanes bound ONLY the cheap cases — box
    // pressure that materializes under 32-wide operation can leave
    // both lanes reading idle-fast; same-window A/B is the decisive
    // instrument there.
    def calibOnce(): Double = {
      var x = 0L; var i = 0L
      val t0 = System.nanoTime()
      while (i < 800000000L) { x ^= i * 2654435761L; i += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      if (x == 42L) System.err.println("")  // keep the loop live
      dt
    }
    // Min of three: pass 1 pays C2 + core wake-up (measured ~10% ramp on
    // this host), passes 2–3 read the sustained delivered speed.
    def calib(): Double = Seq(calibOnce(), calibOnce(), calibOnce()).min
    // Second calibration lane, MEMORY-BOUND: the ALU loop above runs in
    // registers and stayed fast (0.31–0.40 s) in a window where the
    // Spark sweep inflated ×1.3 — co-tenant pressure on this box shows
    // up in memory bandwidth, which is what shuffle/scan-heavy queries
    // actually consume. Stream a 256 MB long array 8×; report seconds
    // (min of three) — a bandwidth-starved window reads proportionally
    // higher here while host_1t barely moves.
    // Deliberately retained for the end-of-run reading (256 MB, < 1% of
    // the bench heap) so both calibrations stream the same buffer.
    val memArr = new Array[Long](32 << 20)
    java.util.Arrays.fill(memArr, 0x9E3779B97F4A7C15L)
    def memOnce(): Double = {
      var x = 0L
      val t0 = System.nanoTime()
      var p = 0
      while (p < 8) {
        var i = 0
        while (i < memArr.length) { x ^= memArr(i); i += 1 }
        p += 1
      }
      val dt = (System.nanoTime() - t0) / 1e9
      if (x == 42L) System.err.println("")
      dt
    }
    def memCalib(): Double = Seq(memOnce(), memOnce(), memOnce()).min
    val host1tStart = calib()
    val hostMemStart = memCalib()
    // Cold-comparable artifacts (VERDICT r10 item 3): wipe this dir's
    // derive-once caches at bench start, so every recorded run pays the
    // same cold builds (billed apart under "derived_builds") instead of
    // silently mixing warm-cache runs (r10: builds 0.00) with cold-build
    // runs (r9: g29 absorbed the LPA build) — the "derived_cold" field
    // records which regime the artifact is. SPARK_GRAFT_BENCH_NO_WIPE=1
    // is builder-side only (fast warm iteration); the driver never sets it.
    val derivedCold = !sys.env.get("SPARK_GRAFT_BENCH_NO_WIPE").contains("1")
    if (derivedCold) graft.core.Derived.wipeFor(Seq(sfDir))
    // Warmup: JVM/codegen/shuffle startup must not be billed to the first
    // queries (alphabetically the dedup family) — touch a scan, a hash
    // projection, and a small shuffle once.
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1000).count()
    locally {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .groupBy("h").count().count()
    }
    // BSP/JIT warmup (VERDICT r10 item 4): the first iterative superstep
    // loop per JVM pays a ~4× C2-compilation premium (SURVEY §7.4(5))
    // that the scan/hash/shuffle warmup above never touches, so in
    // sorted order it landed on whichever g-query built lpa_labels
    // first. A 3-superstep micro-LPA on a 1k-vertex synthetic ring
    // compiles the vote/pick/materialize path once, off the bill.
    locally {
      import org.apache.spark.sql.functions._
      val ids = spark.range(0, 1000).select(col("id"))
      val ring = spark.range(0, 1000)
        .select(col("id").as("src"), ((col("id") + 1) % 1000).as("dst"))
      val g = graft.graph.PropertyGraph(
        ids, graft.graph.PropertyGraph.symmetrize(ring))
      graft.graph.GraphOps.labelPropagation(g, 3)
        .write.format("noop").mode("overwrite").save()
    }
    // SPARK_GRAFT_BENCH_ONLY=g1_pagerank,g5_... : builder-side subset runs
    // while iterating on one query; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Shared-derivation billing (VERDICT r9 item 5): per-query numbers
    // used to misattribute derive-once build cost purely by run order
    // (g29 paid the 7 s LPA build that g8 then read for 0.3 s). Every
    // builder records its cold-build seconds in Derived.buildTimes;
    // diffing that registry around each query splits its wall time into
    // MARGINAL query cost (reported under "queries") and build cost
    // (accumulated under "derived_builds"). "value" stays the true
    // total wall = queries + builds — comparable across rounds.
    def timeOne(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Double, Boolean) = {
      val buildsBefore = graft.core.Derived.buildTimes
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val buildSecs = graft.core.Derived.buildTimes.map { case (k, v) =>
        v - buildsBefore.getOrElse(k, 0.0) }.sum
      // Collect the finished query's checkpoint RDDs (not billed to the
      // query) so the ContextCleaner drops their blocks before the next
      // query: block-manager pressure from iterative queries would
      // otherwise poison later measurements in the shared local-mode JVM.
      System.gc()
      (math.max(0.0, dt - buildSecs), buildSecs, ok)
    }
    // Stability protocol (VERDICT r7 item 6): the documented
    // highest-variance queries (g19's tiny-data write jobs magnify
    // scheduler/JIT latency under co-tenant load, 9.5-31.9 s observed on
    // identical code) run TWICE with the min reported — encoding the
    // "chase regressions only on a quiet host" rule in the artifact
    // itself instead of the round narrative. A failed run's (short)
    // elapsed time never wins the min over a successful one. Caveat for
    // SPARK_GRAFT_BENCH_ONLY subset runs on a clean workspace: run 1
    // pays any derive-once parquet build and run 2 reads it, so the min
    // is the warm number there — same semantics as the full bench,
    // where earlier g-queries build the shared derivations before g19,
    // but NOT a cold-build measurement (the subset-billing trap,
    // SURVEY §6).
    // g29 joined g19 in r11 (VERDICT r10 nit 1): it is now the top-cost
    // query and shares g19's exact tiny-write/scheduler-variance profile
    // (38.57 s in the noisy driver run vs 6.05–7.42 quiet on the same code).
    val minOfTwo = Set("g19_partition_roundtrip", "g29_locality_roundtrip")
    val g19MinOfTwo = selected.exists(_._1 == "g19_partition_roundtrip")
    val g29MinOfTwo = selected.exists(_._1 == "g29_locality_roundtrip")
    val results = selected.map { case (name, fn) =>
      val (t1, _, ok1) = timeOne(name, fn)
      val dt =
        if (minOfTwo(name)) {
          val (t2, _, ok2) = timeOne(name, fn)
          (ok1, ok2) match {
            case (true, true)  => math.min(t1, t2)
            case (true, false) => t1
            case (false, true) => t2
            case _             => math.max(t1, t2)
          }
        } else t1
      name -> dt
    }
    val builds = graft.core.Derived.buildTimes.toSeq.sortBy(_._1)
    val buildsTotal = builds.map(_._2).sum
    val total = results.map(_._2).sum + buildsTotal
    val load = loadAvg
    val host1tEnd = calib()
    val hostMemEnd = memCalib()
    // The driver ships only the LAST 2000 chars of stdout (confirmed:
    // BENCH_r09's "tail" is exactly 2000 chars and its "parsed" is null
    // — the r9 line was already over, so the HEAD of the line, i.e.
    // "value" and the meta, was what got cut). Three defenses (r10):
    // the headline fields print at the END of the line (a truncated
    // head loses cheap per-query entries, never the totals), the
    // per-build map stays in bench_full.json only
    // (derived_builds_total rides the line), and the compact query map
    // is BUDGETED — entries sorted slowest-first and dropped from the
    // cheap end until the whole line fits the window ("queries_shown"
    // says how many survived; bench_full.json always has all of them
    // at ms precision with the full names).
    val shortKeys = results.map { case (k, _) => k.takeWhile(_ != '_') }
    val compactKeys =
      if (shortKeys.distinct.size == results.size) shortKeys
      else results.map(_._1)
    val bySlowest = compactKeys.zip(results.map(_._2)).sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + jn(v, 2) }
    val metaTail = s""""derived_builds_total":${jn(buildsTotal, 2)},""" +
      s""""derived_cold":$derivedCold,""" +
      s""""unit":"sec","sf":"$sfDir","load":${jn(load, 2)},""" +
      s""""load_start":${jn(loadStart, 2)},""" +
      s""""host_1t_start":${jn(host1tStart, 2)},"host_1t_end":${jn(host1tEnd, 2)},""" +
      s""""host_mem_start":${jn(hostMemStart, 2)},"host_mem_end":${jn(hostMemEnd, 2)},""" +
      s""""g19_min_of_two":$g19MinOfTwo,""" +
      s""""g29_min_of_two":$g29MinOfTwo,""" +
      s""""n":${results.size},"full":"bench_full.json""""
    def line(qents: Seq[String]) =
      s"""{"queries":${qents.mkString("{", ",", "}")},""" +
        s""""queries_shown":${qents.size},$metaTail,""" +
        s""""metric":"total","value":${jn(total, 3)}}"""
    // One-pass budget fit (ADVICE r10): accumulate entry lengths against
    // the fixed overhead instead of re-rendering the whole line per
    // dropped entry. +8 margin covers "queries_shown" digit growth; the
    // trailing trim loop is belt-and-braces (expected 0 iterations) and
    // the overflow case — meta alone over budget — now warns instead of
    // silently printing an over-budget line.
    val budget = 1900
    var acc = line(Nil).length + 8
    var shown = bySlowest.takeWhile { e =>
      val ok = acc + e.length + 1 <= budget
      if (ok) acc += e.length + 1
      ok
    }
    while (line(shown).length > budget && shown.nonEmpty) shown = shown.init
    if (line(shown).length > budget)
      System.err.println(s"[bench] meta tail alone exceeds the $budget-char" +
        s" budget (${line(shown).length}) — driver tail will cut the head")
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + jn(v, 3) }
      .mkString("{", ",", "}")
    val buildsJson = builds.map { case (k, v) => "\"" + k + "\":" + jn(v, 2) }
      .mkString("{", ",", "}")
    // r22 (VERDICT r20 item 3 / r21 item 1): per-query PHASE legs (the
    // g19/g29 write/assign splits operators record in graft.core.Phase)
    // ride bench_full.json as their own top-level field so a burst draw
    // names its leg without a same-window A/B. bench_full.json only —
    // the stdout line and the flat "queries" map are byte-identical to
    // r21's format; no timed code changed. Legs are from the query's
    // LAST run in this JVM (min-of-two queries: the second run).
    val phaseJson = graft.core.Phase.snapshot.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + jn(v, 3) }
      .mkString("{", ",", "}")
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(s"""{"metric":"total","value":${jn(total, 3)},""" +
        s""""unit":"sec","sf":"$sfDir","load":${jn(load, 2)},""" +
        s""""load_start":${jn(loadStart, 2)},""" +
        s""""host_1t_start":${jn(host1tStart, 2)},"host_1t_end":${jn(host1tEnd, 2)},""" +
        s""""host_mem_start":${jn(hostMemStart, 2)},"host_mem_end":${jn(hostMemEnd, 2)},""" +
        s""""g19_min_of_two":$g19MinOfTwo,""" +
        s""""g29_min_of_two":$g29MinOfTwo,"derived_cold":$derivedCold,""" +
        s""""derived_builds":$buildsJson,""" +
        s""""derived_builds_total":${jn(buildsTotal, 2)},""" +
        s""""phase_legs":$phaseJson,""" +
        s""""n":${results.size},"queries":$fullQs}""")
      finally w.close()
    } catch { case _: Throwable => () }
    // Print the line to the RAW stdout fd. BENCH_r09/r10 show
    // "parsed": null with the line visible in the tail only as
    // "[info] {...}": sbt's default LoggedOutput strategy pipes the
    // forked child's whole stdout through its logger, prefixing every
    // line (even fd-level writes — the pipe sits at the process
    // boundary). build.sbt now sets `run / outputStrategy :=
    // StdoutOutput` so the child inherits the real stdout and the line
    // lands bare; the fd-direct stream additionally bypasses any
    // in-JVM System.out wrapper. Printed exactly once — a second copy
    // would crowd this one inside the driver's 2000-char tail window.
    val rawOut = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    rawOut.println(line(shown))
    rawOut.flush()
    spark.stop()
  }
}
