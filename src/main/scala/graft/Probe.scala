package graft

import org.apache.spark.sql.functions._
import graft.graph.Materialize.MaterializeOps

/** Builder-side diagnostic toolkit: `runMain graft.Probe <verb>` over
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). NOT part of the driver
  * contract — these decompose specific queries' wall time (or A/B a
  * design choice) when a bench number needs a root cause. Each verb was
  * born as a standalone main during an investigation (r5-r7); they are
  * folded here so the diagnostic surface is one documented entry point.
  *
  * Verbs:
  *  - `d2`       d2 cold vs warm (cache-fill + AQE floor vs steady compute)
  *  - `g19`      g19 roundtrip phase decomposition (write/stats/read/triangle)
  *  - `ppr`      PageRank vs PersonalizedPageRank superstep cost
  *  - `scc`      g9 SCC decomposition (derive/forward CC/full run)
  *  - `g1`       g1 PageRank decomposition (derive/degrees/supersteps)
  *  - `locality` hash vs locality partitioner cut + imbalance (O8)
  *  - `simham`   all-pairs SimHash hamming histogram (threshold calibration)
  *  - `lpaab`    locality-pipeline leg A/B: frontier vs full LPA,
  *               broadcast vs shuffle ownership write (SPARK_GRAFT_LPA_ITERS,
  *               SPARK_GRAFT_LPAAB_WRITES_ONLY)
  */
object Probe {

  private def t[A](tag: String, label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[probe:$tag] $label%-30s ${(System.nanoTime() - t0) / 1e9}%7.2f s"); r
  }

  def main(args: Array[String]): Unit = {
    val verb = args.headOption.getOrElse("help")
    if (verb == "help") {
      println("usage: runMain graft.Probe <d2|g19|ppr|scc|g1|locality|simham|lpaab>")
      return
    }
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.get(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // Same contract as Bench: "k=v;k2=v2" runtime session confs (e.g.
    // spark.graft.explainMaterialize=true to capture loop-round plans).
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k.trim, v.trim)
        case _ => ()
      }
    })
    // unrecorded warmup: classload + codegen floor (SURVEY §6)
    spark.read.parquet(s"$d/lineitem.parquet").limit(1000).count()
    verb match {
      case "d2"       => d2(spark, d)
      case "g19"      => g19(spark, d)
      case "ppr"      => ppr(spark, d)
      case "scc"      => scc(spark, d)
      case "g1"       => g1(spark, d)
      case "locality" => locality(spark, d)
      case "simham"   => simham(spark, d)
      case "lpaab"    => lpaab(spark, d)
      case "superstep" => superstep(spark, d)
      case "ab"       => abQuery(spark, d, args.drop(1))
      case "d18"      => d18(spark, d)
      case other      => println(s"[probe] unknown verb '$other'")
    }
    spark.stop()
  }

  /** In-JVM A/B of one declared query under a conf toggle (r21): runs the
    * query `reps`× alternating the session conf between the two given
    * values, same JVM/caches/JIT, so the contrast is free of the inter-JVM
    * slot variance that dominates subset bench runs on this host. Usage:
    * `runMain graft.Probe ab <query> [reps] [key] [valA] [valB]`
    * (defaults: 6 reps of the state-broadcast knob, default-vs-0).
    * First pair is warmup-biased — read pairs 2+. */
  private def abQuery(spark: org.apache.spark.sql.SparkSession, d: String,
                      rest: Array[String]): Unit = {
    val name = rest.headOption.getOrElse("g1_pagerank")
    val reps = rest.lift(1).map(_.toInt).getOrElse(6)
    val key = rest.lift(2).getOrElse(graft.graph.GraphOps.StateBroadcastBytesKey)
    val valA = rest.lift(3).getOrElse(
      graft.graph.GraphOps.StateBroadcastBytesDefault.toString)
    val valB = rest.lift(4).getOrElse("0")
    val fn = SparkEntry.queries(name)
    for (i <- 1 to reps) {
      val v = if (i % 2 == 1) valA else valB
      spark.conf.set(key, v)
      t("ab", s"$name $key=$v") {
        fn(spark, d).write.format("noop").mode("overwrite").save()
      }
      spark.catalog.clearCache()
      System.gc()
    }
  }

  /** d18 phase decomposition (r21): rep map build, quotient edges, CC,
    * final assembly — run twice so the warm pass separates steady compute
    * from the cache/AQE floor. */
  private def d18(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    import graft.operators.DedupQueries
    for (pass <- Seq("cold", "warm")) {
      t("d18", s"full $pass") {
        DedupQueries.d18SimhashClusters(spark, d)
          .write.format("noop").mode("overwrite").save()
      }
      spark.catalog.clearCache()
    }
    for (pass <- Seq("cold", "warm")) {
      t("d18", s"rep-only $pass") {
        DedupQueries.d18RepOnly(spark, d)
          .write.format("noop").mode("overwrite").save()
      }
      t("d18", s"qedges $pass") {
        DedupQueries.d18QedgesOnly(spark, d)
          .write.format("noop").mode("overwrite").save()
      }
      spark.catalog.clearCache()
    }
  }

  /** d2 cold + warm: the warm delta isolates the cache-fill + AQE stage
    * floor from steady compute. */
  private def d2(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    t("d2", "d2 cold") {
      graft.operators.DedupQueries.d2NgramJaccard(spark, d)
        .write.format("noop").mode("overwrite").save()
    }
    t("d2", "d2 warm") {
      graft.operators.DedupQueries.d2NgramJaccard(spark, d)
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** Decompose g19's roundtrip (write → stats → read-back → triangle) to
    * find where the time goes. */
  private def g19(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    import graft.operators.GraphQueries
    import graft.graph.PropertyGraph
    val parts = 3
    val pairs = t("g19", "pairs read") {
      val p = GraphQueries.partPairsMaterialized(spark, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count(); p
    }
    val g = PropertyGraph(
      GraphQueries.vertexDegMaterialized(spark, d).select(col("id")),
      PropertyGraph.symmetrize(pairs))
    val base = s"${sys.props("user.dir")}/target/graft_derived/probe_subgraph_rt"
    new java.io.File(base).getParentFile.mkdirs()
    // decompose the writer's internal phases (mirrors writeMetisSubgraphs)
    t("g19", "  w: allIntegral scan") {
      g.edges.where(coalesce(col("weight"), lit(1.0)) =!=
        floor(coalesce(col("weight"), lit(1.0)))).isEmpty
    }
    t("g19", "  w: lines build+count") {
      val nbrs = g.edges
        .select(col("src"), col("dst"), coalesce(col("weight"), lit(1.0)).as("w"))
        .groupBy(col("src"))
        .agg(sort_array(collect_list(struct(col("dst"),
          pmod(col("dst"), lit(parts)).as("dpart"), col("w")))).as("ns"))
      g.vertices.select(col("id"))
        .join(nbrs, col("id") === col("src"), "left_outer")
        .select(col("id"), pmod(col("id"), lit(parts)).as("part")).count()
    }
    t("g19", "writeMetisSubgraphs") {
      graft.io.GraphLoaders.writeMetisSubgraphs(g, parts, base)
    }
    // r22: the query's read side parses the files ONCE
    // (metisRecords, persisted) — mirror that here, but also time the
    // stats aggregate and the canon distinct separately.
    val recs = t("g19", "parse once (cache fill)") {
      val r = graft.io.GraphLoaders.metisRecords(spark,
          graft.io.GraphLoaders.subgraphFiles(base, parts))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count(); r
    }
    t("g19", "partitionStats") {
      graft.io.GraphLoaders.partitionStatsFromRecords(recs).collect()
    }
    val back = recs.select(col("id").as("src"), explode(col("ns")).as("e"))
      .select(col("src"), col("e.dst").as("dst"))
    val canon = back
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("g19", "canon distinct") { canon.count() }
    t("g19", "triangle intersect grouped") {
      val tri = graft.graph.GraphOps.edgesWithAdjacency(canon)
        .groupBy(pmod(col("src"), lit(3L)).as("part"))
        .agg(coalesce(sum(call_function("graft_sorted_intersect_count",
            col("asrc"), col("adst"))), lit(0L))
          .cast("long").as("n_triangles"))
      tri.collect().sortBy(_.getLong(0)).foreach(r =>
        println(s"[probe:g19]   part ${r.getLong(0)} tri ${r.getLong(1)}"))
    }
  }

  /** PageRank vs PersonalizedPageRank superstep cost on the same derived
    * graph. */
  private def ppr(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val g = t("ppr", "partGraph") { graft.operators.GraphQueries.partGraph(spark, d) }
    val degs = g.degrees
    val n = t("ppr", "degrees count") { degs.count() }
    val std = t("ppr", "PageRank 5 supersteps") {
      graft.graph.GmrRunner.loopTimed(
        graft.graph.PropertyGraph(degs, g.edges), new graft.graph.PageRank(n), 5)
    }
    std.supersteps.zipWithIndex.foreach { case (s, i) =>
      println(f"[probe:ppr]   pr superstep ${i + 1}: $s%6.2f s") }
    val nSeeds = t("ppr", "seed count") { degs.where(col("id") % 100 === 0).count() }
    val pprRun = t("ppr", "PPR 5 supersteps") {
      graft.graph.GmrRunner.loopTimed(
        graft.graph.PropertyGraph(degs, g.edges),
        new graft.graph.PersonalizedPageRank(nSeeds, col("id") % 100 === 0), 5)
    }
    pprRun.supersteps.zipWithIndex.foreach { case (s, i) =>
      println(f"[probe:ppr]   ppr superstep ${i + 1}: $s%6.2f s") }
  }

  /** Decompose g9_scc wall time into derivation / forward-coloring
    * supersteps / full run. */
  private def scc(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    // Same parity orientation as GraphQueries.directedPairs.
    val even = (col("src") + col("dst")) % 2 === 0
    val de = t("scc", "derive directed edges") {
      val e = graft.operators.GraphQueries.partPairsMaterialized(spark, d).select(
        when(even, col("src")).otherwise(col("dst")).as("src"),
        when(even, col("dst")).otherwise(col("src")).as("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[probe:scc] edges: ${e.count()}")
      e
    }
    val verts = t("scc", "vertex set") {
      val v = de.select(col("src").as("id")).union(de.select(col("dst").as("id")))
        .distinct().materialize()
      println(s"[probe:scc] vertices: ${v.count()}")
      v
    }
    val fwd = t("scc", "forward CC to convergence") {
      graft.graph.GmrRunner.run(
        graft.graph.PropertyGraph(verts, de.withColumn("weight", lit(1.0))),
        graft.graph.ConnectedComponentsProgram)
    }
    println(s"[probe:scc] forward iterations: ${fwd.iterations}")
    fwd.supersteps.zipWithIndex.foreach { case (s, i) =>
      println(f"[probe:scc]   fwd superstep ${i + 1}: $s%6.2f s")
    }
    val full = t("scc", "full strongComponents") {
      val r = graft.graph.Scc.strongComponents(de)
      println(s"[probe:scc] scc rows: ${r.count()}")
      r
    }
    val nScc = full.select(countDistinct(col("scc"))).first().getLong(0)
    println(s"[probe:scc] distinct SCCs: $nScc")
  }

  /** Decompose g1_pagerank wall time into graph derivation / degree
    * count / per-superstep cost. `SPARK_GRAFT_AQE=false` A/Bs the loop
    * without adaptive re-planning. */
  private def g1(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val g = t("g1", "partGraph (lazy)") { graft.operators.GraphQueries.partGraph(spark, d) }
    val nPairs = t("g1", "pairs materialize (count)") { g.edges.count() }
    println(s"[probe:g1] directed edges: $nPairs")
    val degs = g.degrees
    val n = t("g1", "degree count action") { degs.count() }
    println(s"[probe:g1] vertices: $n")
    val pr = new graft.graph.PageRank(n)
    sys.env.get("SPARK_GRAFT_AQE").foreach(v =>
      spark.conf.set("spark.sql.adaptive.enabled", v))
    val run = t("g1", "5 supersteps (runFixed)") {
      graft.graph.GmrRunner.loopTimed(
        graft.graph.PropertyGraph(degs, g.edges), pr, 5)
    }
    run.supersteps.zipWithIndex.foreach { case (s, i) =>
      println(f"[probe:g1]   superstep ${i + 1}: $s%6.2f s")
    }
    t("g1", "final orderBy+noop") {
      run.vertices.select(col("id"), round(col("value"), 8).as("rank")).orderBy("id")
        .write.format("noop").mode("overwrite").save()
    }
  }

  /** A/B the subgraph writer's two owner assignments on the
    * co-occurrence graph: `id mod parts` (the reference's random
    * partitioner, O7) vs LPA-community locality (the Zoltan analog, O8).
    * Prints both partitionStats frames and the imbalance/cut summary. */
  private def locality(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    import graft.operators.GraphQueries
    import graft.io.GraphLoaders
    val parts = 3
    val g = graft.graph.PropertyGraph(
      GraphQueries.vertexDegMaterialized(spark, d).select(col("id")),
      graft.graph.PropertyGraph.symmetrize(GraphQueries.partPairsMaterialized(spark, d)))
    val base = s"${sys.props("user.dir")}/target/graft_derived/probe_locality"
    new java.io.File(base).getParentFile.mkdirs()
    t("locality", "write hash parts") {
      GraphLoaders.writeMetisSubgraphs(g, parts, s"$base.hash")
    }
    val assign = t("locality", "LPA + balance assignment") {
      GraphLoaders.localityAssignment(
        GraphQueries.lpaLabelsMaterialized(spark, d), parts)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    t("locality", "write locality parts") {
      GraphLoaders.writeMetisSubgraphs(g, parts, s"$base.loc", Some(assign))
    }
    for ((mode, b) <- Seq("hash" -> s"$base.hash", "locality" -> s"$base.loc")) {
      val stats = GraphLoaders.partitionStats(spark, b, parts)
      stats.orderBy("part").collect().foreach(r =>
        println(s"[probe:locality] $mode part=${r.getLong(0)} nvtxs=${r.getLong(1)} " +
          s"nedges=${r.getLong(2)} cut=${r.getLong(3)} cut_pct=${r.get(4)}"))
      val (vI, eI, cuts) = GraphLoaders.partitionImbalance(stats)
      println(f"[probe:locality] $mode%-9s vImbal=$vI%.4f eImbal=$eI%.4f cuts=$cuts")
    }
  }

  /** Locality-pipeline leg A/B over the co-purchase graph (r10): LPA
    * with the frontier-incremental plan vs the full per-round recompute
    * (`spark.graft.lpa.frontier`), then the locality write with the
    * assignment broadcast vs the shuffle ownership join
    * (`spark.graft.assignmentBroadcastBytes`). Decomposes exactly the
    * legs the GScale `locality_partition` row sums, so a moved number
    * there can be attributed to one change. */
  private def lpaab(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    import graft.operators.GraphQueries
    import graft.io.GraphLoaders
    val pairs = GraphQueries.partPairsMaterialized(spark, d)
    val g = graft.graph.PropertyGraph(
      pairs.select(col("src").as("id"))
        .union(pairs.select(col("dst").as("id"))).distinct(),
      graft.graph.PropertyGraph.symmetrize(pairs))
    val iters = sys.env.getOrElse("SPARK_GRAFT_LPA_ITERS", "5").toInt
    def lpa(): org.apache.spark.sql.DataFrame =
      graft.graph.GraphOps.labelPropagation(g, iters)
        .select(col("id"), col("label"))
    spark.conf.set("spark.graft.lpa.debug", "true")
    // SPARK_GRAFT_LPAAB_WRITES_ONLY=1 skips the LPA A/B (one LPA still
    // runs to feed the assignment) — re-measuring just the write legs.
    if (!sys.env.get("SPARK_GRAFT_LPAAB_WRITES_ONLY").contains("1"))
      for (frontier <- Seq(true, false, true)) {
        spark.conf.set("spark.graft.lpa.frontier", frontier.toString)
        t("lpaab", s"lpa x$iters frontier=$frontier") {
          lpa().write.format("noop").mode("overwrite").save() }
      }
    spark.conf.set("spark.graft.lpa.frontier", "true")
    // Force the cache INSIDE the assignment timing block: a lazy persist
    // would bill the per-vertex assignment pickup to whichever write leg
    // runs first (the broadcast one), inflating exactly the comparison
    // this probe exists to make (ADVICE r10).
    val assign = t("lpaab", "assignment (LPT)") {
      val a = GraphLoaders.localityAssignment(lpa(), 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      a.count()
      a }
    val base = s"${sys.props("user.dir")}/target/graft_derived/probe_lpaab"
    new java.io.File(base).getParentFile.mkdirs()
    for (bcast <- Seq(true, false, true)) {
      spark.conf.set("spark.graft.assignmentBroadcastBytes",
        if (bcast) (256L << 20).toString else "0")
      t("lpaab", s"locality write bcast=$bcast") {
        GraphLoaders.writeMetisSubgraphs(g, 3, s"$base.loc", Some(assign)) }
    }
    spark.conf.unset("spark.graft.assignmentBroadcastBytes")
    assign.unpersist(blocking = false)
  }

  /** One BSP superstep under the microscope (r21 optimization round):
    * prints the physical plan of a single PageRank superstep in the
    * current shuffle-join shape and in the broadcast-state shape, then
    * A/Bs 5 supersteps of each (alternating, so slot drift cannot fake a
    * winner). The broadcast shape hints the O(V) state side of the
    * message join and the O(V) aggregate side of the update join —
    * leaving the message groupBy as the superstep's only exchange and
    * never sorting the O(E) edge side. */
  private def superstep(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    import graft.operators.GraphQueries
    val g = GraphQueries.partGraph(spark, d)
    val degs = g.degrees
    val n = degs.count()
    val pr = new graft.graph.PageRank(n)
    val nShuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val edges = g.edges.repartition(nShuffle, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgesPlain = g.edges
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val state0 = pr.initial(degs)
      .withColumn("_delta", lit(Double.MaxValue)).materialize()
    def step(v: org.apache.spark.sql.DataFrame, bcast: Boolean)
        : org.apache.spark.sql.DataFrame = {
      val vv = if (bcast) broadcast(v) else v
      val e = if (bcast) edgesPlain else edges
      val msgs = pr.messages(vv, e)
      val agg = msgs.groupBy("id").agg(pr.combiner.as("_agg"))
      val aggS = if (bcast) broadcast(agg) else agg
      v.join(aggS, Seq("id"), "left_outer")
        .select(col("id"),
          pr.updated(col("value"), col("_agg")).as("value"),
          pr.delta(col("value"), pr.updated(col("value"), col("_agg"))).as("_delta"),
          col("deg"))
    }
    println("========== superstep plan: shuffle shape ==========")
    step(state0, bcast = false).explain("formatted")
    println("========== superstep plan: broadcast shape ==========")
    step(state0, bcast = true).explain("formatted")
    for (b <- Seq(false, true, false, true)) {
      var s2 = state0
      t("superstep", s"5 supersteps bcast=$b") {
        for (_ <- 1 to 5) s2 = step(s2, b).materialize()
      }
    }
    edges.unpersist(blocking = false)
    edgesPlain.unpersist(blocking = false)
  }

  /** All-pairs SimHash hamming histogram (low end) over the documents
    * table — the calibration evidence behind `SimMaxHamming`: the
    * near-dup population and the chance population separate by a wide
    * gap, and the threshold sits inside it. Re-run after any
    * fingerprint-width change (it priced the r10 30→60-bit widening). */
  private def simham(spark: org.apache.spark.sql.SparkSession, d: String): Unit = {
    val fps = graft.dedup.SimHash
      .fingerprints(graft.core.Tables.documents(spark, d)
        .select(col("doc_id").as("id"), col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = fps.as("a"); val b = fps.as("b")
    val hist = t("simham", "all-pairs hamming histogram") {
      a.join(b, col("a.id") < col("b.id"))
        .select(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("h"))
        .groupBy("h").count().orderBy("h").limit(32).collect()
    }
    fps.unpersist(blocking = false)
    println("[probe:simham] " +
      hist.map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" "))
  }
}
