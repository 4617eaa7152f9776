package graft.graph

import graft.graph.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** PageRank — re-expression of `/root/reference/algorithms.h:4-37`.
  *
  * map: each vertex sends `value/out_degree` to every neighbor
  * (`algorithms.h:12-18`); reduce: sum (`algorithms.h:24-33`); cover-mode
  * update `(1-d)/n + d*sum`.
  *
  * Reference quirks (SURVEY.md §2.1 "notable semantic quirks"):
  * damping d=0.5 and a per-*partition* vertex count in the redistribution
  * term (`algorithms.h:30` uses the local `ntxs` — a bug vs. the README's
  * global-n formula, `README.md:120-121`). The mathematically standard
  * d=0.85/global-n is the default; `compat = true` reproduces d=0.5 with
  * global n (per-partition n is placement-dependent and thus unreproducible
  * by design in Spark — documented divergence).
  */
final class PageRank(n: Long, damping: Double = 0.85) extends VertexProgram {
  override def initial(vertices: DataFrame): DataFrame = {
    val degs = vertices // expects (id, deg) from PropertyGraph.degrees
    degs.select(col("id"), lit(1.0 / n).as("value"), col("deg"))
  }
  override def messages(v: DataFrame, e: DataFrame): DataFrame =
    e.join(v, e("src") === v("id"))
      .select(e("dst").as("id"), (v("value") / v("deg")).as("msg"))
  override def combiner: Column = sum(col("msg"))
  override def updated(old: Column, agg: Column): Column =
    lit((1.0 - damping) / n) + lit(damping) * coalesce(agg, lit(0.0))
  override def twin: Option[VertexProgram.Twin] =
    Some(new PageRank.Twin(_ => (1.0 - damping) / n, damping))
}

object PageRank {
  def apply(graph: PropertyGraph, damping: Double = 0.85): PageRankRun = {
    // short-circuits when vertices carry deg; materialized, as every run
    // reads it again for its initial state
    val (degs, n) = graph.degrees.materializeCounted()
    PageRankRun(PropertyGraph(degs, graph.edges), new PageRank(n, damping))
  }
  /** Reference-compat damping (d=0.5, `/root/reference/algorithms.h:30`). */
  def compat(graph: PropertyGraph): PageRankRun = apply(graph, damping = 0.5)

  /** The twin of [[PageRank]] and [[PersonalizedPageRank]]: a vertex sends
    * value/deg (null where SQL's division gives null: a null or zero
    * deg), the messages sum, and the update is
    * `teleport(v) + d·coalesce(agg, 0)` in the programs' own operation
    * order. */
  private[graph] final class Twin(teleport: Row => Double, damping: Double)
      extends VertexProgram.Twin {
    def message(v: Row, value: Double, weight: Double): java.lang.Double = {
      val deg = v.getAs[Number]("deg")
      if (deg == null || deg.doubleValue == 0.0) null else value / deg.doubleValue
    }
    def combine(a: Double, b: Double): Double = a + b
    def updated(v: Row, old: java.lang.Double, agg: java.lang.Double): java.lang.Double =
      teleport(v) + damping * (if (agg == null) 0.0 else agg.doubleValue)
  }
}

/** Personalized PageRank: the teleport term returns ALL restart mass to a
  * seed set instead of spreading 1/n everywhere — the query-biased
  * ranking used for related-item retrieval ("rank parts by relevance to
  * THESE parts"). Same map/reduce as [[PageRank]] (value/deg along edges,
  * sum combine); only the update differs: seeds get (1-d)/|S|, non-seeds
  * get pure propagated mass. The seed indicator rides the static-column
  * channel (like deg), so the superstep stays one join + one aggregate;
  * on a dangling-free graph total mass stays exactly 1 per superstep
  * (spec-asserted). `isSeed` is any deterministic predicate over the id
  * column (g12 uses id ≡ 0 mod 100, oracle-replicable; the CLI uses
  * id = 1, the sssp source convention); `nSeeds` must be its true
  * cardinality. */
final class PersonalizedPageRank(nSeeds: Long, isSeed: Column,
                                 damping: Double = 0.85) extends VertexProgram {
  override def initial(vertices: DataFrame): DataFrame =
    vertices.select(col("id"),
      when(isSeed, lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("value"),
      col("deg"), isSeed.as("seed"))
  override def messages(v: DataFrame, e: DataFrame): DataFrame =
    e.join(v, e("src") === v("id"))
      .select(e("dst").as("id"), (v("value") / v("deg")).as("msg"))
  override def combiner: Column = sum(col("msg"))
  override def updated(old: Column, agg: Column): Column =
    when(col("seed"), lit((1.0 - damping) / nSeeds)).otherwise(lit(0.0)) +
      lit(damping) * coalesce(agg, lit(0.0))
  override def twin: Option[VertexProgram.Twin] = Some(new PageRank.Twin(
    v => if (v.getAs[Any]("seed") == true) (1.0 - damping) / nSeeds else 0.0, damping))
}
final case class PageRankRun(graph: PropertyGraph, program: VertexProgram) {
  def fixed(iterations: Int): DataFrame =
    GmrRunner.runFixed(graph, program, iterations).select("id", "value")
  def converged(): GmrRunner.RunResult = GmrRunner.run(graph, program)
}

/** Single-source shortest paths, Bellman-Ford relaxation —
  * `/root/reference/algorithms.h:42-92`. Unreached = NULL (the reference
  * uses FLT_MAX, `algorithms.h:52`); `least` skips nulls in both Spark and
  * the DuckDB oracle. map emits `dist+w` to each neighbor plus self-dist
  * (`algorithms.h:57-67` — the self-message keeps the reduce total; the
  * outer-join update makes it redundant here); reduce: min
  * (`algorithms.h:73-85`); cover-mode. */
class Sssp(source: Long) extends VertexProgram {
  override def initial(vertices: DataFrame): DataFrame =
    vertices.select(col("id"),
      when(col("id") === source, lit(0.0)).otherwise(lit(null)).cast("double").as("value"))
  override def messages(v: DataFrame, e: DataFrame): DataFrame =
    e.join(v, e("src") === v("id"))
      .where(v("value").isNotNull)
      .select(e("dst").as("id"), (v("value") + e("weight")).as("msg"))
  override def combiner: Column = min(col("msg"))
  override def updated(old: Column, agg: Column): Column = least(old, agg)
  override def frontierOnly: Boolean = true // monotone min-propagation
  override def twin: Option[VertexProgram.Twin] =
    Some(new VertexProgram.MinTwin(_ + _, weighted = true))
}

/** BFS hop distance = SSSP over unit weights (reference stub
  * `/root/reference/algorithms.h:190` made real, SURVEY.md §2.1 O21). */
final class Bfs(source: Long) extends Sssp(source) {
  override def messages(v: DataFrame, e: DataFrame): DataFrame =
    e.join(v, e("src") === v("id"))
      .where(v("value").isNotNull)
      .select(e("dst").as("id"), (v("value") + lit(1.0)).as("msg"))
  override def twin: Option[VertexProgram.Twin] =
    Some(new VertexProgram.MinTwin((value, _) => value + 1.0))
}

/** Connected components by min-label propagation (reference stub
  * `/root/reference/algorithms.h:195` made real). value = smallest vertex
  * id seen; converges when labels stabilize. */
object ConnectedComponentsProgram extends VertexProgram {
  override def initial(vertices: DataFrame): DataFrame =
    vertices.select(col("id"), col("id").cast("double").as("value"))
  override def messages(v: DataFrame, e: DataFrame): DataFrame =
    e.join(v, e("src") === v("id"))
      .select(e("dst").as("id"), v("value").as("msg"))
  override def combiner: Column = min(col("msg"))
  override def updated(old: Column, agg: Column): Column = least(old, agg)
  override def frontierOnly: Boolean = true // monotone min-propagation
  override def twin: Option[VertexProgram.Twin] =
    Some(new VertexProgram.MinTwin((value, _) => value))
}

/** Non-iterative whole-graph operators. */
object GraphOps {

  /** The engine's one budget for deliberate broadcasts: every frame the
    * engine hints for broadcast on its own (loop vertex state, the
    * triangle kernels' adjacency table, the locality writer's
    * assignment) is broadcast only when its estimated
    * size fits, and takes the shuffle shape otherwise — a latency
    * optimization, never a correctness or OOM hazard; both shapes give
    * identical results (GraphPropertiesSpec). 256 MB is routine executor
    * memory on a real cluster; `0` forces every shuffle path. */
  val StateBroadcastBytesKey = "spark.graft.stateBroadcastBytes"
  val StateBroadcastBytesDefault: Long = 256L << 20

  /** Does a frame estimated at `bytes` fit the broadcast budget? */
  def broadcastFits(spark: org.apache.spark.sql.SparkSession, bytes: Long): Boolean = {
    val budget = spark.conf.getOption(StateBroadcastBytesKey).map(_.toLong)
      .getOrElse(StateBroadcastBytesDefault)
    budget > 0 && bytes <= budget
  }

  /** The most rows a driver-side loop or endgame collects: SCC's Tarjan
    * finish (active vertices and edges), MST's Kruskal finish (labeled
    * edges), and the resident rounds of [[Superstep.fold]] (state rows
    * and edges). One limit, so "fits on the driver" means one thing. */
  val DriverRows: Long = 100000L

  /** May a driver-side endgame (collect, solve locally, broadcast the
    * answer) take `rows` rows? At most `maxRows`, and their 64 B per row
    * within the broadcast budget, so budget 0 forces the distributed
    * rounds. */
  private[graph] def driverFits(spark: org.apache.spark.sql.SparkSession,
                                rows: Long, maxRows: Long = DriverRows): Boolean =
    rows <= maxRows && broadcastFits(spark, rows * 64L)

  /** Priority composite shift for [[lubyMis]]: hash ∈ [0, P) with
    * P = 1e9+7, so hash·2³¹ + id is a strict total order in BIGINT for
    * id < 2³¹. */
  val MisShift = 2147483648L

  /** Luby's maximal-independent-set tournament over a SYMMETRIZED edge
    * list (both directions present): each round, still-active vertices
    * draw the deterministic salted-hash priority
    * `charHash(id || "mis" || round)·shift + id`; strict local maxima
    * join the MIS and knock their active neighbors out. `rounds` fixed
    * rounds; leftovers stay undecided (`decided=false`). Returns
    * (id, in_mis, decided, round_joined). RNG-free, so an oracle or a
    * local reference can replay the identical tournament.
    *
    * Per round: one max-priority-neighbor join over the shrinking
    * active subgraph + one winner-neighborhood knockout, with the tiny
    * winner frame materialized (it is consumed twice; unmaterialized,
    * its max-neighbor join re-runs per consumer — measured 2.4× at
    * sf0.1). */
  def lubyMis(vertices: DataFrame, symEdges: DataFrame, rounds: Int): DataFrame = {
    // Priorities, winners and knockouts are bounded by |V|, the gate.
    val mis = Materialize.scoped { cache =>
    val edges = cache(symEdges.select("src", "dst"))
    Superstep.fold(vertices
        .select(col("id"), lit("a").as("st"), lit(-1L).as("round_joined")),
        rounds) { gate => (state, r) =>
      val pri = state.where(col("st") === "a")
        .select(col("id"),
          (graft.functions.Portable.charHash(
            concat(col("id").cast("string"), lit("mis"), lit(r.toString)))
            * lit(MisShift) + col("id")).as("key"))
      val nbrMax = edges
        .join(gate.hint(pri.select(col("id").as("src"), col("key").as("skey"))), "src")
        .join(gate.hint(pri.select(col("id").as("dst"))), "dst")
        .groupBy(col("dst").as("id")).agg(max(col("skey")).as("mk"))
      val win = pri.join(gate.hint(nbrMax), Seq("id"), "left_outer")
        .where(col("mk").isNull || col("key") > col("mk"))
        .select(col("id"))
        .materialize()
      val out = edges.join(gate.hint(win.select(col("id").as("src"))), "src")
        .select(col("dst").as("id")).distinct()
      state
        .join(gate.hint(win.withColumn("w", lit(true))), Seq("id"), "left_outer")
        .join(gate.hint(out.withColumn("o", lit(true))), Seq("id"), "left_outer")
        .select(col("id"),
          when(col("w"), lit("m"))
            .when(col("o") && col("st") === "a", lit("o"))
            .otherwise(col("st")).as("st"),
          when(col("w"), lit(r.toLong)).otherwise(col("round_joined"))
            .as("round_joined"))
    }.state
    }
    mis.select(col("id"), (col("st") === "m").as("in_mis"),
      (col("st") =!= "a").as("decided"), col("round_joined"))
  }

  /** k-core decomposition by iterative peeling over a symmetrized edge
    * list: `rounds` fixed rounds of "drop every vertex whose degree in
    * the surviving subgraph is < k". Returns (id, in_core, peel_round)
    * where peel_round is the 1-based round a vertex was removed
    * (0 = survived all rounds). Derivation is the membership-count form
    * (vertex in m of the survivor snapshots ⇒ peeled at m+1) so a
    * relational oracle can reproduce it verbatim. Per round: one degree
    * aggregate over the surviving edges, equi-joined against the (only
    * shrinking) survivor set; survivor state is eagerly checkpointed —
    * lazy peeling chains are recompute trees. */
  def kCore(symEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // The survivor set is O(V) and only shrinks: gated on |V|.
    val snapshots = Seq.newBuilder[DataFrame]
    val run = Materialize.scoped { cache =>
    val e2 = cache(symEdges.select("src", "dst"))
    Superstep.fold(e2.select(col("src").as("id")).distinct(), rounds) {
        gate => (surv, r) =>
      if (r > 1) snapshots += surv // the last round's survivors, materialized
      e2.join(gate.hint(surv.select(col("id").as("src"))), "src")
        .join(gate.hint(surv.select(col("id").as("dst"))), "dst")
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("id")
    }
    }
    if (rounds > 0) snapshots += run.state
    val s0 = run.initial
    val mc = snapshots.result().reduce(_ union _)
      .groupBy("id").agg(count(lit(1)).as("m"))
    s0.join(mc, Seq("id"), "left_outer")
      .select(col("id"),
        (coalesce(col("m"), lit(0L)) === rounds).as("in_core"),
        when(coalesce(col("m"), lit(0L)) === rounds, lit(0L))
          .otherwise(coalesce(col("m"), lit(0L)) + 1).as("peel_round"))
  }

  /** k-truss decomposition — the edge-level analog of [[kCore]]:
    * iteratively drop every edge whose support (triangles it closes
    * within the surviving subgraph) is below k−2, for a fixed number of
    * cascade rounds. Input must be canonical (src < dst) undirected
    * pairs; output is one row per input edge with the in-truss verdict
    * and the 1-based peel round (0 = survived), derived by the same
    * membership-count trick as kCore so a relational oracle reproduces
    * it verbatim. Per round: one canonical-triple triangle join (the g5
    * shape, bounded by Σ deg² of the surviving subgraph), an explode
    * crediting each triangle's three edges, and an equi-join filter;
    * survivor state is eagerly checkpointed. Fixed rounds keep both
    * engines in lockstep even short of the fixpoint — the truss
    * monotonically shrinks, so extra rounds are no-ops once converged. */
  def kTruss(canonEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // The support filter is an inner join, so an edge closing ZERO
    // triangles is dropped unconditionally — correct for k >= 3 (its
    // threshold k-2 >= 1) but wrong for k <= 2, where every edge is
    // trivially in-truss. Pin the supported domain rather than pay a
    // left join + coalesce on the hot path for a degenerate k.
    require(k >= 3, s"kTruss is defined for k >= 3 (k=$k is the whole graph)")
    // The edge frame only shrinks, so the initial edge count gates every
    // round. Checkpointed frames carry default size stats: unhinted, the
    // 3-way triangle join re-plans as sort-merge every cascade round.
    val snapshots = Seq.newBuilder[DataFrame]
    val run = Superstep.fold(canonEdges.select("src", "dst"), rounds) { gate => (e, r) =>
      if (r > 1) snapshots += e // the last round's survivors, materialized
      val tri = e.as("ab").join(gate.hint(e.as("bc")), col("ab.dst") === col("bc.src"))
        .join(gate.hint(e.as("ac")),
          col("ac.src") === col("ab.src") && col("ac.dst") === col("bc.dst"))
        .select(col("ab.src").as("a"), col("ab.dst").as("b"), col("bc.dst").as("c"))
      val sup = tri.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("c").as("dst")),
          struct(col("a").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("support"))
      e.join(gate.hint(sup), Seq("src", "dst"))
        .where(col("support") >= k - 2)
        .select("src", "dst")
    }
    if (rounds > 0) snapshots += run.state
    val e0 = run.initial
    val mc = snapshots.result().reduce(_ union _)
      .groupBy("src", "dst").agg(count(lit(1)).as("m"))
    e0.join(mc, Seq("src", "dst"), "left_outer")
      .select(col("src"), col("dst"),
        (coalesce(col("m"), lit(0L)) === rounds).as("in_truss"),
        when(coalesce(col("m"), lit(0L)) === rounds, lit(0L))
          .otherwise(coalesce(col("m"), lit(0L)) + 1).as("peel_round"))
  }

  /** Global triangle count — re-expression of TriangleCount
    * (`/root/reference/algorithms.h:97-180`). The reference emits each
    * canonical edge `(min,max)` as a composite key with the full neighbor
    * list as value and intersects the two lists that meet (`:138-155`);
    * relationally that is the classic 3-way self-join on canonical edges
    * a<b<c (each triangle counted exactly once — same invariant as the
    * reference's `c > skey` guard at `algorithms.h:147`). */
  def triangles(canonicalEdges: DataFrame): DataFrame = {
    val e = canonicalEdges.select("src", "dst")
    val ab = e.as("ab"); val bc = e.as("bc"); val ac = e.as("ac")
    ab.join(bc, col("ab.dst") === col("bc.src"))
      .join(ac, col("ac.src") === col("ab.src") && col("ac.dst") === col("bc.dst"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"), col("bc.dst").as("c"))
  }

  def triangleCount(canonicalEdges: DataFrame): Long = triangles(canonicalEdges).count()

  /** Skew constants of the id-oriented wedge fallback
    * ([[trianglesSalted]]): a middle vertex whose `in·out` wedge product
    * meets the threshold has its wedge set spread over `WedgeSalts` join
    * keys. The threshold (~4M pairs) marks only vertices whose
    * single-key wedge set would dominate a task; the hot set is bounded
    * by Σ(in·out)/threshold rows — broadcastable by construction. */
  private val WedgeSalts = 16
  private val WedgeSaltThreshold = 1L << 22

  /** Wedge enumeration of the id-oriented formulation with HOT-MIDDLE
    * salting (VERDICT r8 item 3). The a<b<c wedge join keys on the
    * middle vertex b, so a hub with ~half its neighbors on each id side
    * funnels `in(b)·out(b)` wedge pairs through ONE shuffle key — on a
    * power-law graph past the broadcast budget, that single hub is the
    * straggler task. Middles whose wedge product crosses the threshold
    * are salted: the a→b side carries `hash(a) mod salts`, the b→c side
    * replicates each hot edge once per salt — every wedge still meets
    * exactly once (at the a-side's salt), but the hot vertex's wedge
    * set runs `salts`-way parallel. Cold middles keep salt 0 on both
    * sides, so the replication cost is `salts × (hot out-edges)` only,
    * never `salts × |E|`. Total wedge WORK is unchanged (those wedges
    * exist — only degree-orientation shrinks the count, and that
    * re-keys triangles away from the min-vertex attribution the grouped
    * contract needs); what the salt fixes is the per-task bound:
    * `in·out` → `in·out / salts`. `saltThreshold` is lowered only by
    * tests, to salt small fixtures. */
  private[graph] def saltedWedges(canonicalEdges: DataFrame,
                                  saltThreshold: Long): DataFrame = {
    val e = canonicalEdges.select("src", "dst")
    val hot = e.groupBy(col("dst").as("b")).agg(count(lit(1)).as("ind"))
      .join(e.groupBy(col("src").as("b")).agg(count(lit(1)).as("outd")), "b")
      .where(col("ind") * col("outd") >= saltThreshold)
      .select(col("b"), lit(true).as("hot"))
    val ab = e.join(broadcast(hot), e("dst") === hot("b"), "left_outer")
      .select(col("src"), col("dst"),
        when(col("hot"), pmod(xxhash64(col("src")), lit(WedgeSalts.toLong)))
          .otherwise(lit(0L)).as("salt"))
    val saltArr = array((0 until WedgeSalts).map(i => lit(i.toLong)): _*)
    val bc = e.join(broadcast(hot), e("src") === hot("b"), "left_outer")
      .select(col("src"), col("dst"),
        explode(when(col("hot"), saltArr).otherwise(array(lit(0L)))).as("salt"))
    ab.as("ab").join(bc.as("bc"),
        col("ab.dst") === col("bc.src") && col("ab.salt") === col("bc.salt"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"), col("bc.dst").as("c"))
  }

  /** [[triangles]] with the salted wedge join — identical triple set
    * (proved against the intersect kernel on a forced-fallback star
    * fixture in GraphAlgoSpec), used by [[triangleCountByGroup]]'s
    * over-budget path where the enumeration must keep the min-vertex
    * key. The closing-edge join is unsalted: its key (a, c) is an edge
    * lookup bounded by the true pair list, with no per-key
    * amplification. */
  private[graph] def trianglesSalted(canonicalEdges: DataFrame,
                                     saltThreshold: Long): DataFrame = {
    val e = canonicalEdges.select("src", "dst")
    saltedWedges(e, saltThreshold)
      .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Adjacency-intersection triangle count — the reference's own reduce
    * semantics (`/root/reference/algorithms.h:138-155`: intersect the two
    * endpoint neighbor lists of every edge) done relationally: per
    * canonical edge (u,v), count `|N⁺(u) ∩ N⁺(v)|` over id-oriented
    * out-neighbor arrays. Each triangle x<y<z is counted exactly once, at
    * edge (x,y) (the `c > skey` guard of `algorithms.h:147`).
    *
    * Scale shape: the canonical adjacency table is |V| rows totalling |E|
    * longs — megabytes for dimension-scale graphs, so it broadcasts and
    * the whole count is one scan of the edge list with zero wide-row
    * shuffles; no Σdeg² wedge materialization ever shuffles (the wedge
    * count of a uniform-degree graph, ~72M rows at sf0.1, is exactly what
    * made the 3-way join formulation the bench bottleneck). For a graph
    * whose adjacency exceeds broadcast memory, use
    * [[orientedTriangleCountDF]] — the shuffle-join formulation with
    * O(√E)-bounded oriented degrees. */
  def triangleCountViaIntersect(canonicalEdges: DataFrame): DataFrame = {
    val withA = edgesWithAdjacency(canonicalEdges)
    withA.agg(coalesce(sum(call_function("graft_sorted_intersect_count",
        col("asrc"), col("adst"))), lit(0L))
      .cast("long").as("n_triangles"))
  }

  /** Kernel selector (VERDICT r7 item 3): does the canonical adjacency
    * table fit the broadcast budget ([[broadcastFits]])? The budget is
    * the engine's, not `autoBroadcastJoinThreshold`: the 10 MB join
    * default guards against broadcasting a join side per probe row,
    * while this is ONE broadcast per query that replaces shuffling the
    * Σdeg² wedge set (the r7 measurement: 1.5 s intersect vs ~9 s wedge
    * at a 10 MB adjacency). Estimated from one aggregate pass over the
    * (usually already persisted) edge frame: 8 bytes per edge entry
    * (the packed long arrays) + ~48 per distinct source row (row +
    * array headers), with `approx_count_distinct` for the row term — a
    * budget decision, not arithmetic that needs exactness. */
  def adjacencyFitsBroadcast(canonicalEdges: DataFrame): Boolean = {
    val r = canonicalEdges
      .agg(count(lit(1)).as("e"), approx_count_distinct(col("src")).as("v"))
      .first()
    broadcastFits(canonicalEdges.sparkSession, 8L * r.getLong(0) + 48L * r.getLong(1))
  }

  /** Global triangle count with data-driven kernel choice: the
    * broadcast-adjacency intersect kernel while the adjacency fits the
    * broadcast budget ([[adjacencyFitsBroadcast]]), else the
    * degree-oriented wedge join whose per-wedge work is O(√E)-bounded
    * and never broadcasts. Same count either way (proved in
    * GraphAlgoSpec under both forced regimes). */
  def triangleCountAuto(canonicalEdges: DataFrame): DataFrame =
    if (adjacencyFitsBroadcast(canonicalEdges))
      triangleCountViaIntersect(canonicalEdges)
    else orientedTriangleCountDF(canonicalEdges)

  /** Per-group triangle counts with the same data-driven kernel choice —
    * both kernels attribute triangle x<y<z to `group(x)` (the minimum
    * vertex), so the grouped sums are identical: the intersect kernel
    * counts it at edge (x,y) keyed by src=x; the fallback enumerates
    * (a,b,c) with a<b<c and groups by a. The fallback is the id-oriented
    * wedge join (Σdeg² shuffle) rather than the degree-oriented one,
    * which re-keys triangles to the lowest-DEGREE corner and cannot
    * preserve the min-vertex attribution; its wedge enumeration is
    * hot-middle-salted ([[trianglesSalted]]) so a single hub past the
    * broadcast budget cannot concentrate its in·out wedge set in one
    * straggler task. */
  def triangleCountByGroup(canonicalEdges: DataFrame,
                           group: Column => Column): DataFrame =
    triangleCountByGroup(canonicalEdges, group, WedgeSaltThreshold)

  /** [[triangleCountByGroup]] with the fallback's salt threshold given. */
  private[graph] def triangleCountByGroup(canonicalEdges: DataFrame,
                                          group: Column => Column,
                                          saltThreshold: Long): DataFrame = {
    // Uniform output contract for BOTH kernels: one row per group value
    // present among the edges' min-vertices, zero-triangle groups
    // included. Neither kernel supplies that on its own — the wedge
    // join emits nothing for a triangle-less group, and the intersect
    // kernel's adjacency join drops edges whose dst has no
    // out-neighbors — so each sums into a left-join against the
    // group dimension; without it the selector would change the row
    // set whenever the data crossed the broadcast budget.
    val groups = canonicalEdges.select(group(col("src")).as("part")).distinct()
    val sums =
      if (adjacencyFitsBroadcast(canonicalEdges))
        edgesWithAdjacency(canonicalEdges)
          .groupBy(group(col("src")).as("part"))
          .agg(coalesce(sum(call_function("graft_sorted_intersect_count",
              col("asrc"), col("adst"))), lit(0L))
            .cast("long").as("n_triangles"))
      else
        trianglesSalted(canonicalEdges, saltThreshold)
          .groupBy(group(col("a")).as("part"))
          .agg(count(lit(1)).cast("long").as("n_triangles"))
    groups.join(sums, Seq("part"), "left_outer")
      .select(col("part"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** The intersect formulation's edge frame with both endpoints'
    * broadcast adjacency arrays attached — shared by the global count
    * above and keyed variants (each triangle x<y<z contributes exactly
    * once, at edge (x,y), so `sum` grouped by any function of (src,
    * dst) attributes triangles to their minimum vertex's group). */
  def edgesWithAdjacency(canonicalEdges: DataFrame): DataFrame = {
    val e = canonicalEdges.select("src", "dst")
    val adj = e.groupBy(col("src").as("id"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    // native merge-scan intersect (arrays are sorted + distinct by
    // construction) — array_intersect builds a hash set per edge.
    e.join(broadcast(adj.select(col("id").as("src"), col("nbrs").as("asrc"))), "src")
      .join(broadcast(adj.select(col("id").as("dst"), col("nbrs").as("adst"))), "dst")
  }

  /** Degree-oriented triangle count — same count as [[triangleCount]]
    * (orientation choice never changes the triangle set) but each edge is
    * oriented from its lower-(degree, id) endpoint, so wedge enumeration
    * is Σ deg_out² with deg_out bounded ~O(√E) on skewed graphs instead
    * of Σ deg² — the standard formulation when adjacency arrays are too
    * wide to materialize. */
  def orientedTriangleCountDF(canonicalEdges: DataFrame): DataFrame = {
    val e = canonicalEdges.select("src", "dst")
    val deg = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("id").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("ddeg")), "dst")
    val srcFirst = col("sdeg") < col("ddeg") ||
      (col("sdeg") === col("ddeg") && col("src") < col("dst"))
    val oriented = withDeg.select(
      when(srcFirst, col("src")).otherwise(col("dst")).as("u"),
      when(srcFirst, col("dst")).otherwise(col("src")).as("v"),
      when(srcFirst, col("ddeg")).otherwise(col("sdeg")).as("vdeg"))
    val e1 = oriented.as("e1"); val e2 = oriented.as("e2")
    val wedges = e1.join(e2, col("e1.u") === col("e2.u") &&
        (col("e1.vdeg") < col("e2.vdeg") ||
          (col("e1.vdeg") === col("e2.vdeg") && col("e1.v") < col("e2.v"))))
      .select(col("e1.v").as("b"), col("e2.v").as("c"))
    // inner join (not semi): every wedge whose closing edge exists is a
    // distinct triangle; oriented edges are distinct so no overcount.
    wedges.join(oriented.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-vertex triangle participation (each triangle credited to all 3
    * corners). */
  def triangleCounts(canonicalEdges: DataFrame): DataFrame =
    triangles(canonicalEdges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))

  /** Label propagation (community detection): at most `iters`
    * synchronous supersteps. Each step a vertex adopts the most frequent
    * label among its in-neighbors (ties → smallest label; a vertex with
    * no in-edges keeps its own), so the run is fully deterministic.
    * Returns (id, label).
    *
    * The rounds run on [[Superstep.fold]] over (id, label, changed); each
    * round's checkpoint job also counts the labels it changed, and the
    * loop stops after the first round that changes none. Every later
    * round would be an exact no-op (each vertex's vote multiset is
    * unchanged), so the result equals the full `iters`-round run. Sync
    * LPA need not reach a fixpoint (a bipartite pair swaps labels
    * forever), and such runs take all `iters` rounds. A graph that fits
    * the driver runs its rounds there ([[LpaRounds]]). */
  def labelPropagation(g: PropertyGraph, iters: Int): DataFrame = {
    val edges = g.edges.select(col("src"), col("dst"))
    val resident = Superstep.Resident(edges) {
      (state, graph) => new LpaRounds(state.map(_.getLong(1)), graph)
    }
    // Labels and picks are O(V): the vertex count gates the loop. The
    // seed label is -(-id), not an alias of id: an alias would carry the
    // vertices' partitioning on `id` over to `label`, which round 1 replaces.
    Superstep.fold(
        g.vertices.select(col("id"), (-(-col("id"))).as("label"), lit(true).as("changed")),
        iters, Seq(count_if(col("changed")).as("changed")),
        exit = _("changed") == 0L, resident = Some(resident)) { gate => (state, _) =>
      val labels = state.select(col("id"), col("label"))
      val votes = edges
        .join(gate.hint(labels), col("src") === col("id"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      // argmax(c, ties -> min label) as a hash aggregate: max of the
      // lexicographic struct (c, -label) — map-side combinable, no
      // per-dst sort the way a row_number window would do it.
      val pick = votes
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("dst").as("id"), (-col("m.nl")).as("new_label"))
      labels.join(gate.hint(pick), Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("new_label"), col("label")).as("label"),
          coalesce(col("new_label") =!= col("label"), lit(false)).as("changed"))
    }.state.select(col("id"), col("label"))
  }

  /** [[labelPropagation]]'s rounds on the driver, by its rules: a vertex
    * takes the most frequent label among its in-neighbors (a duplicate
    * edge votes twice, ties go to the smaller label), a vertex with no
    * in-edges keeps its label, and the probe counts the labels changed. */
  private final class LpaRounds(labels: Array[Long], g: Superstep.Csr)
      extends Superstep.Rounds {
    private var label = labels
    private var changed = Array.fill(labels.length)(true)

    def step(round: Int): Map[String, Any] = {
      val next = label.clone()
      val moved = new Array[Boolean](g.size)
      for (v <- 0 until g.size if g.start(v) < g.start(v + 1)) {
        val votes = (g.start(v) until g.start(v + 1)).map(k => label(g.src(k))).sorted
        // the first of the longest runs: the smallest label among the modes
        var (best, bestRun, i) = (votes(0), 0, 0)
        while (i < votes.length) {
          var j = i
          while (j < votes.length && votes(j) == votes(i)) j += 1
          if (j - i > bestRun) { best = votes(i); bestRun = j - i }
          i = j
        }
        next(v) = best
        moved(v) = best != label(v)
      }
      label = next
      changed = moved
      Map("changed" -> moved.count(identity).toLong)
    }

    def result: Map[String, Array[Any]] =
      Map("label" -> label.map(x => x: Any), "changed" -> changed.map(x => x: Any))
  }
}
