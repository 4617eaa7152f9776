package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph._
import graft.io.GraphLoaders

/** The reference's command-line entry point re-expressed over the engine:
  * `mpirun -np P ./gmr <algorithm> <partition> <graphfile>`
  * (`/root/reference/gmr.cpp:42-104`, launch wrapper `startgmr.sh:12-69`)
  * becomes `runMain graft.Gmr <algorithm> <partition> <graphfile>` — a
  * user of the reference switches by changing the launcher line.
  *
  * Defaults follow the reference: algorithm = trianglecount
  * (`gmr.cpp:188`), graphfile = graph/rdsmall.graph (`gmr.cpp:69`),
  * partition = random. `zoltan` (the locality partitioner, `gmr.cpp:
  * 107-167`) is accepted and maps to an explicit `repartition($"src")` —
  * placement beyond that belongs to Spark's shuffle service (SURVEY.md
  * §2.1 O8: correctness-irrelevant, the co-location win is captured).
  *
  * Algorithms: pagerank (reference damping 0.5, `algorithms.h:30`),
  * sssp (source vertex 1, `gmr.cpp:181`), trianglecount, plus the
  * declared-but-stub bfs and cc (`algorithms.h:190,195`) made real.
  * Iteration semantics mirror the reference: run to convergence
  * (max-abs-delta < 1e-4, `gmr.h:25`) under the 10,000-iteration cap
  * (`gmr.h:28`).
  */
object Gmr {

  /** Load a graph file, auto-detecting the reference's formats:
    * `.subgraph.N` files and METIS adjacency files
    * ([[GraphLoaders.isMetisAdjacency]]: the header's vertex and edge
    * counts match the rows) → the METIS-family reader (its header's fmt
    * mask decides the columns); anything else → edge list with optional
    * single-token header lines. */
  def load(spark: SparkSession, path: String): PropertyGraph =
    if (path.matches(".*\\.subgraph\\.\\d+$") || GraphLoaders.isMetisAdjacency(spark, path))
      GraphLoaders.metisGraph(spark, path)
    else GraphLoaders.edgeList(spark, path)

  /** One algorithm run → (result DataFrame, iterations). Exposed
    * separately from main so tests drive it without a JVM boundary. */
  def run(spark: SparkSession, algorithm: String, graphfile: String,
          partition: String = "random"): (DataFrame, Int) = {
    val g0 = load(spark, graphfile)
    // the reference's zoltan path physically co-locates each vertex's
    // edges; repartition-by-src is the Spark analog (SURVEY §2.1 O8/O9)
    val g = if (partition == "zoltan")
      g0.copy(edges = g0.edges.repartition(col("src"))) else g0
    algorithm.toLowerCase match {
      case "pagerank" =>
        val r = PageRank.compat(g).converged()
        (r.vertices.select(col("id"), round(col("value"), 8).as("value"))
          .orderBy("id"), r.iterations)
      case "sssp" =>
        val r = GmrRunner.run(g, new Sssp(1L))
        (r.vertices.select(col("id"), col("value").as("dist")).orderBy("id"), r.iterations)
      case "bfs" =>
        val r = GmrRunner.run(g, new Bfs(1L))
        (r.vertices.select(col("id"), col("value").as("hops")).orderBy("id"), r.iterations)
      case "cc" | "connectedcomponents" =>
        val r = GmrRunner.run(g, ConnectedComponentsProgram)
        (r.vertices.select(col("id"), col("value").cast("long").as("component"))
          .orderBy("id"), r.iterations)
      case "mst" =>
        // reference stub `algorithms.h:200` — Borůvka MSF over the
        // canonical undirected pair set (perturbed order ⇒ unique forest)
        val pairs = g.edges
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"), col("weight"))
          .where(col("src") =!= col("dst"))
          .groupBy("src", "dst").agg(min(col("weight")).as("weight"))
        (Mst.minimumSpanningForest(pairs).orderBy("src", "dst"), 1)
      case "scc" | "stronglyconnectedcomponents" =>
        // reference stub `algorithms.h:207` — edge direction as loaded
        (Scc.strongComponents(g.edges).orderBy("id"), 1)
      case "ppr" | "personalizedpagerank" =>
        // personalization toward vertex 1 — the sssp source convention
        val r = GmrRunner.run(
          PropertyGraph(g.degrees, g.edges),
          new PersonalizedPageRank(nSeeds = 1, isSeed = col("id") === 1))
        (r.vertices.select(col("id"), round(col("value"), 8).as("value"))
          .orderBy("id"), r.iterations)
      case "labelprop" | "lpa" =>
        (GraphOps.labelPropagation(g, 5)
          .select(col("id"), col("label").as("community")).orderBy("id"), 5)
      case "trianglecount" | _ =>
        // canonical undirected pair set, as the reference's (min,max) key
        // canonicalization produces (`algorithms.h:118-126`); the count
        // broadcasts the adjacency only within the engine's budget
        val pairs = g.edges
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .where(col("src") =!= col("dst")).distinct()
        (GraphOps.triangleCountAuto(pairs), 1)
    }
  }

  /** The reference's partition-and-scatter pre-processing as a CLI verb:
    * `runMain graft.Gmr partition <graphfile> [P] [outBase] [mode]` loads
    * any of the three formats and writes `outBase.subgraph.0..P-1` in the
    * fmt=1111 layout (GraphLoaders.writeMetisSubgraphs) — files the
    * reference's ranks (and our own subgraph loader) read directly.
    * mode `random` (default) = `id mod parts` (the reference's random
    * partitioner); mode `zoltan`/`locality` = LPA communities balanced
    * into parts (GraphLoaders.localityAssignment — the reference's
    * cut-minimizing Zoltan path, `gmr.cpp:107-167`). `lpaIters` trades
    * partitioning time for cut quality — more iterations merge mesh
    * fragments into larger communities (each iteration is two O(E)
    * shuffles, the g8 cost model). */
  def partitionFiles(spark: SparkSession, graphfile: String, parts: Int,
                     outBase: String, mode: String = "random",
                     lpaIters: Int = 5): Unit = {
    val g = load(spark, graphfile)
    val assignment = mode.toLowerCase match {
      case "zoltan" | "locality" =>
        Some(GraphLoaders.localityAssignment(
          GraphOps.labelPropagation(g, lpaIters).select(col("id"), col("label")),
          parts))
      case "random" | "hash" => None
      case other => throw new IllegalArgumentException(
        s"unknown partition mode '$other' — use random (default) or zoltan/locality " +
          "(a typo here would silently measure random against itself)")
    }
    GraphLoaders.writeMetisSubgraphs(g, parts, outBase, assignment)
  }

  /** The training-corpus curation pipeline as a CLI verb: runs the gated
    * d8 end-to-end selection (quality gate ∧ exact-dup canonical ∧
    * decontamination, one verdict row per document) over a testdata-shaped
    * directory and writes the result as parquet. */
  def curateCorpus(spark: SparkSession, sfDir: String, outDir: String): Long = {
    val out = graft.operators.DedupQueries.d8CorpusSelect(spark, sfDir)
    out.write.mode("overwrite").parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  def main(args: Array[String]): Unit = {
    val algorithm = args.headOption.getOrElse("trianglecount")
    if (algorithm == "corpus") {
      val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
      val outDir = if (args.length > 2) args(2)
        else s"${sys.props("user.dir")}/target/corpus_out"
      val spark = graft.core.GraftSession.get(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      val n = curateCorpus(spark, sfDir, outDir)
      println(s"[gmr] wrote $n corpus verdict rows at $outDir")
      spark.stop()
      return
    }
    if (algorithm == "partstats") {
      // the reference's showGraphPartitions analog (partition.h:469-542):
      // `runMain graft.Gmr partstats <basePath> [parts]` over files the
      // reference's partitioner (or our `partition` verb) wrote.
      val basePath = if (args.length > 1) args(1)
        else "/root/reference/graph/small.graph"
      val parts = if (args.length > 2) args(2).toInt
        else Iterator.from(0)
          .takeWhile(p => new java.io.File(s"$basePath.subgraph.$p").exists()).size
      require(parts > 0, s"no $basePath.subgraph.* files found")
      val spark = graft.core.GraftSession.get(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      val stats = GraphLoaders.partitionStats(spark, basePath, parts)
      stats.orderBy("part").show(truncate = false)
      val (vImbal, eImbal, cuts) = GraphLoaders.partitionImbalance(stats)
      println(f"[gmr] Object imbalance (1.0 perfect, larger numbers are worse): $vImbal%.4f")
      println(f"[gmr] Edge-record imbalance: $eImbal%.4f")
      println(s"[gmr] Total number of edge cuts: $cuts")
      spark.stop()
      return
    }
    if (algorithm == "partition") {
      val graphfile = if (args.length > 1) args(1)
        else "/root/reference/graph/rdsmall.graph"
      val parts = if (args.length > 2) args(2).toInt else 3
      val outBase = if (args.length > 3) args(3)
        else s"${sys.props("user.dir")}/target/partitioned/" +
          new java.io.File(graphfile).getName
      val mode = if (args.length > 4) args(4) else "random"
      val lpaIters = if (args.length > 5) args(5).toInt else 5
      new java.io.File(outBase).getParentFile.mkdirs()
      val spark = graft.core.GraftSession.get(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      partitionFiles(spark, graphfile, parts, outBase, mode, lpaIters)
      println(s"[gmr] wrote $parts subgraph files at $outBase.subgraph.* (mode=$mode)")
      spark.stop()
      return
    }
    if (algorithm == "trace") {
      // the reference's per-iteration deviation report (`gmr.h:127-128`,
      // printed per rank each superstep) as a verb: fixed-length PageRank
      // residual trace over any loadable graph file.
      val graphfile = if (args.length > 1) args(1)
        else "/root/reference/graph/rdsmall.graph"
      val iters = if (args.length > 2) args(2).toInt else 6
      val spark = graft.core.GraftSession.get(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      val pr = PageRank.compat(load(spark, graphfile))
      val res = GmrRunner.runTraced(pr.graph, pr.program, iters)
      res.residuals.zipWithIndex.foreach { case (r, i) =>
        println(f"[gmr] iter=${i + 1}%3d residual=$r%.8f " +
          s"converged=${r < pr.program.tolerance}")
      }
      spark.stop()
      return
    }
    val partition = if (args.length > 1) args(1) else "random"
    val graphfile = if (args.length > 2) args(2)
      else "/root/reference/graph/rdsmall.graph"
    val spark = graft.core.GraftSession.get(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val t0 = System.nanoTime()
    val (result, iters) = run(spark, algorithm, graphfile, partition)
    // printResult analog (`algorithms.h:174-179` prints the global sum;
    // displayGraph `graph.h:121-155` dumps vertex values)
    result.show(20, truncate = false)
    val n = result.count()
    println(f"[gmr] algorithm=$algorithm file=$graphfile rows=$n " +
      f"iterations=$iters time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
