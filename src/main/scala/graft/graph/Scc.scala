package graft.graph

import graft.graph.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Strongly connected components — the reference's declared-but-stub SCC
  * capability (`/root/reference/algorithms.h:207`, whose comment cites
  * GraphX's operator list) made real, via forward-backward coloring (the
  * standard Pregel-model SCC: Orzan's coloring / GraphX's own algorithm):
  *
  * repeat until no active vertices:
  *   1. forward color: propagate min vertex id along edge DIRECTION to
  *      fixpoint ([[ConnectedComponentsProgram]] on the un-symmetrized
  *      subgraph) — color(v) = min id that reaches v.
  *   2. backward mark: v belongs to the SCC rooted at its color c iff v
  *      can reach c through vertices of the same color ([[Scc.BackwardMark]]
  *      over reversed same-color edges). Sound and complete: any vertex on
  *      a v→c path is itself in SCC(c) (c reaches v by coloring), and
  *      within one SCC colors are uniform, so restricting to same-color
  *      edges loses nothing.
  *   3. marked vertices are finalized (scc = color) and removed; every
  *      color root marks itself, so each round finalizes ≥1 SCC per color
  *      class and the loop terminates.
  *
  * Scale shape: each inner superstep is one O(|E_active|) shuffle + one
  * join (the [[GmrRunner]] contract) with frontier pruning; the active
  * subgraph shrinks monotonically, and the per-round joins are equi-keyed
  * on vertex id. Determinism: min-color and reachability are order-free
  * fixpoints, so the result is partitioning-independent and the DuckDB
  * oracle can unroll the same rounds with fixed upper-bound iteration
  * counts (a monotone fixpoint reached early is unchanged by extra
  * iterations).
  */
object Scc {

  /** Cap on the distributed coloring rounds. */
  private val MaxRounds = 40

  /** Backward-reachability marker. Vertices carry a static `color`;
    * value 0.0 = "reaches its color root via same-color vertices"
    * (monotone null→0.0 absorption, so frontier pruning is sound). */
  private object BackwardMark extends VertexProgram {
    override def initial(vertices: DataFrame): DataFrame =
      vertices.select(col("id"),
        when(col("id") === col("color"), lit(0.0)).cast("double").as("value"),
        col("color"))
    override def messages(v: DataFrame, e: DataFrame): DataFrame =
      e.join(v, e("src") === v("id"))
        .where(v("value").isNotNull)
        .select(e("dst").as("id"), lit(0.0).as("msg"))
    override def combiner: Column = min(col("msg"))
    override def updated(old: Column, agg: Column): Column = least(old, agg)
    override def frontierOnly: Boolean = true
  }

  /** SCC membership for every endpoint of `directedEdges`: (id, scc) with
    * scc = the min vertex id of the component.
    *
    * Hybrid endgame (the [[Mst]] local-finish pattern): whole SCCs
    * finalize atomically per round, so after the first round the active
    * residue is the periphery — chains of small SCCs that would otherwise
    * cost one distributed round EACH (only a color root's SCC finalizes
    * per color class per round). Once the active subgraph fits a driver
    * buffer ([[GraphOps.DriverRows]] vertices and edges, within the
    * broadcast budget), one iterative Tarjan pass replaces the remaining
    * O(chain length) rounds of cluster actions. Same unique
    * result either way — `stateBroadcastBytes=0` forces pure-distributed. */
  def strongComponents(directedEdges: DataFrame): DataFrame = {
    val spark = directedEdges.sparkSession
    import spark.implicits._
    // The active frames' sizes steer the loop (exit, local finish,
    // broadcast gate); each is counted by the job that materializes it.
    var (activeEdges, nActiveEdges) =
      directedEdges.select(col("src"), col("dst")).materializeCounted()
    var (active, nActive) = activeEdges.select(col("src").as("id"))
      .union(activeEdges.select(col("dst").as("id")))
      .distinct().materializeCounted()
    var result = Seq.empty[(Long, Long)].toDF("id", "scc")
    var round = 0
    var finished = false
    while (round < MaxRounds && !finished && nActive > 0) {
      if (Seq(nActive, nActiveEdges).forall(GraphOps.driverFits(spark, _))) {
        val verts = active.collect().map(_.getLong(0))
        val edgeArr = activeEdges.collect().map(r => (r.getLong(0), r.getLong(1)))
        result = result.union(localTarjan(verts, edgeArr).toSeq.toDF("id", "scc"))
        finished = true
      } else {
      // Color and survivor frames are O(|active|), the gate; the nested
      // GmrRunner loops gate on the same active set.
      Superstep.gated(spark, nActive) { gate =>
      val colors = GmrRunner.run(
          PropertyGraph(active, activeEdges.withColumn("weight", lit(1.0))),
          ConnectedComponentsProgram).vertices
        .select(col("id"), col("value").cast("long").as("color"))
        .materialize()
      val ec = activeEdges
        .join(gate.hint(colors.select(col("id").as("src"), col("color").as("csrc"))), "src")
        .join(gate.hint(colors.select(col("id").as("dst"), col("color").as("cdst"))), "dst")
        .where(col("csrc") === col("cdst"))
      // Eager checkpoint severs colors' attribute ids from the edge plan:
      // BackwardMark's vertex state ALSO passes colors' attrs through, and
      // a message join whose two sides expose the same attr ids trips the
      // analyzer's ambiguous-self-join detection.
      val rev = ec.select(col("dst").as("src"), col("src").as("dst"),
        lit(1.0).as("weight")).materialize()
      val marked = GmrRunner.run(PropertyGraph(colors, rev), BackwardMark).vertices
        .select(col("id"), col("color"), col("value").isNotNull.as("m"))
        .materialize()
      result = result
        .union(marked.where(col("m")).select(col("id"), col("color").as("scc")))
        .materialize()
      val (nextActive, n) = marked.where(!col("m")).select("id").materializeCounted()
      val (nextEdges, nEdges) = activeEdges
        .join(gate.hint(nextActive.select(col("id").as("src"))), "src")
        .join(gate.hint(nextActive.select(col("id").as("dst"))), "dst")
        .select("src", "dst").materializeCounted()
      active = nextActive; nActive = n
      activeEdges = nextEdges; nActiveEdges = nEdges
      }
      }
      round += 1
    }
    result
  }

  /** Iterative (explicit-stack) Tarjan over the collected residue; labels
    * each SCC with its min member id — the same labeling the distributed
    * rounds produce, so the hybrid cut point never shows in the output.
    * Vertices absent from `edgeArr` are singleton SCCs. */
  private def localTarjan(verts: Array[Long],
                          edgeArr: Array[(Long, Long)]): Array[(Long, Long)] = {
    val ids = verts.distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val adj = Array.fill(n)(List.empty[Int])
    edgeArr.foreach { case (s, d) =>
      (idx.get(s), idx.get(d)) match {
        case (Some(a), Some(b)) => adj(a) = b :: adj(a)
        case _ => // endpoint already finalized — edge can't be in a live SCC
      }
    }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStk = new Array[Boolean](n)
    val label = new Array[Long](n)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    val dfs = scala.collection.mutable.Stack.empty[(Int, Iterator[Int])]
    var counter = 0
    def open(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack += v; onStk(v) = true
      dfs.push((v, adj(v).iterator))
    }
    for (s <- 0 until n if index(s) == -1) {
      open(s)
      while (dfs.nonEmpty) {
        val (v, it) = dfs.top
        if (it.hasNext) {
          val w = it.next()
          if (index(w) == -1) open(w)
          else if (onStk(w)) low(v) = math.min(low(v), index(w))
        } else {
          dfs.pop()
          if (dfs.nonEmpty) low(dfs.top._1) = math.min(low(dfs.top._1), low(v))
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer.empty[Int]
            var w = -1
            while (w != v) {
              w = stack.remove(stack.length - 1); onStk(w) = false; members += w
            }
            val minId = members.iterator.map(ids).min
            members.foreach(m => label(m) = minId)
          }
        }
      }
    }
    Array.tabulate(n)(i => ids(i) -> label(i))
  }
}
