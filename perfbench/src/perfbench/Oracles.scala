package perfbench

import scala.collection.mutable

/** Plain-Scala answers for the `gmr_cli` algorithms, computed from the
  * generated edge list with no Spark involved. A directed graph here is
  * (n, src, dst, weight) over ids 1..n; the loaders see the same id space.
  */
object Oracles {

  final case class Digraph(n: Int, src: Array[Int], dst: Array[Int], w: Array[Double]) {
    /** CSR out-adjacency: offsets(v)..offsets(v+1) index into targets. */
    lazy val (offsets, targets, weights) = {
      val off = new Array[Int](n + 2)
      src.foreach(s => off(s + 1) += 1)
      (1 to n + 1).foreach(i => off(i) += off(i - 1))
      val fill = off.clone()
      val t = new Array[Int](src.length); val ww = new Array[Double](src.length)
      src.indices.foreach { i =>
        val p = fill(src(i)); t(p) = dst(i); ww(p) = w(i); fill(src(i)) += 1
      }
      (off, t, ww)
    }
    def outDeg(v: Int): Int = offsets(v + 1) - offsets(v)
  }

  /** Dijkstra distances from `source`; NaN marks an unreached vertex. */
  def sssp(g: Digraph, source: Int = 1): Array[Double] = {
    val dist = Array.fill(g.n + 1)(Double.NaN)
    if (source > g.n) return dist
    val pq = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by[(Double, Int), Double](-_._1))
    dist(source) = 0.0
    pq.enqueue((0.0, source))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u)) {
        var p = g.offsets(u)
        while (p < g.offsets(u + 1)) {
          val v = g.targets(p); val nd = d + g.weights(p)
          if (dist(v).isNaN || nd < dist(v)) { dist(v) = nd; pq.enqueue((nd, v)) }
          p += 1
        }
      }
    }
    dist
  }

  /** Weakly connected components, labelled by their smallest id. */
  def components(g: Digraph): Array[Long] = {
    val parent = Array.tabulate(g.n + 1)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    g.src.indices.foreach { i =>
      val a = find(g.src(i)); val b = find(g.dst(i))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(g.n + 1)(v => find(v).toLong)
  }

  /** Tarjan's strongly connected components over the vertices that occur
    * in an edge; each component is labelled by its smallest id. */
  def scc(g: Digraph): Map[Long, Long] = {
    val present = new Array[Boolean](g.n + 1)
    g.src.foreach(present(_) = true); g.dst.foreach(present(_) = true)
    val index = Array.fill(g.n + 1)(-1); val low = new Array[Int](g.n + 1)
    val onStack = new Array[Boolean](g.n + 1)
    val stack = new mutable.Stack[Int]()
    val label = new Array[Long](g.n + 1)
    var next = 0
    // explicit DFS frames (vertex, next edge slot) — no recursion depth limit
    val frames = new mutable.Stack[(Int, Int)]()
    (1 to g.n).foreach { root => if (present(root) && index(root) < 0) {
      frames.push((root, g.offsets(root)))
      index(root) = next; low(root) = next; next += 1
      stack.push(root); onStack(root) = true
      while (frames.nonEmpty) {
        val (v, p) = frames.pop()
        if (p < g.offsets(v + 1)) {
          frames.push((v, p + 1))
          val u = g.targets(p)
          if (index(u) < 0) {
            index(u) = next; low(u) = next; next += 1
            stack.push(u); onStack(u) = true
            frames.push((u, g.offsets(u)))
          } else if (onStack(u)) low(v) = math.min(low(v), index(u))
        } else {
          if (frames.nonEmpty) {
            val parent = frames.top._1
            low(parent) = math.min(low(parent), low(v))
          }
          if (low(v) == index(v)) {
            val members = mutable.ArrayBuffer.empty[Int]
            var x = -1
            while (x != v) { x = stack.pop(); onStack(x) = false; members += x }
            val m = members.min.toLong
            members.foreach(label(_) = m)
          }
        }
      }
    }}
    (1 to g.n).filter(present).map(v => v.toLong -> label(v)).toMap
  }

  /** Kruskal minimum spanning forest over the undirected pair set (the
    * lightest weight per pair): (forest edge count, total weight). */
  def msf(g: Digraph): (Long, Double) = {
    val best = mutable.HashMap.empty[(Int, Int), Double]
    g.src.indices.foreach { i =>
      val a = math.min(g.src(i), g.dst(i)); val b = math.max(g.src(i), g.dst(i))
      if (a != b) best.update((a, b), math.min(best.getOrElse((a, b), Double.MaxValue), g.w(i)))
    }
    val parent = Array.tabulate(g.n + 1)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
    var count = 0L; var total = 0.0
    best.toSeq.sortBy { case ((a, b), w) => (w, a, b) }.foreach { case ((a, b), w) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { parent(ra) = rb; count += 1; total += w }
    }
    (count, total)
  }

  /** Triangles of the undirected simple graph under the edge set. */
  def triangles(g: Digraph): Long = {
    val nbrs = Array.fill(g.n + 1)(mutable.SortedSet.empty[Int])
    g.src.indices.foreach { i =>
      val a = math.min(g.src(i), g.dst(i)); val b = math.max(g.src(i), g.dst(i))
      if (a != b) nbrs(a) += b // oriented low → high
    }
    var t = 0L
    (1 to g.n).foreach { a =>
      nbrs(a).foreach(b => t += nbrs(a).count(c => c > b && nbrs(b).contains(c)))
    }
    t
  }

  /** PageRank by power iteration, the CLI's semantics: start at 1/n,
    * value = (1-d)/n + d * Σ value(u)/outdeg(u), stop once the largest
    * per-vertex change is below `tol`. Returns (values, iterations). */
  def pagerank(g: Digraph, damping: Double = 0.5, tol: Double = 1e-4,
               maxIter: Int = 10000): (Array[Double], Int) = {
    val n = g.n
    var value = Array.fill(n + 1)(1.0 / n)
    var iter = 0; var delta = Double.MaxValue
    while (iter < maxIter && delta >= tol) {
      val acc = new Array[Double](n + 1)
      val got = new Array[Boolean](n + 1)
      (1 to n).foreach { u =>
        val deg = g.outDeg(u)
        var p = g.offsets(u)
        while (p < g.offsets(u + 1)) {
          acc(g.targets(p)) += value(u) / deg; got(g.targets(p)) = true; p += 1
        }
      }
      val next = Array.tabulate(n + 1)(v =>
        (1.0 - damping) / n + damping * (if (got(v)) acc(v) else 0.0))
      delta = (1 to n).map(v => math.abs(next(v) - value(v))).max
      value = next; iter += 1
    }
    (value, iter)
  }

  /** Synchronous label propagation with `GraphOps.labelPropagation`'s
    * rule: every vertex starts with its own id; each round a vertex takes
    * the label most frequent among its in-neighbours' labels, ties going
    * to the smallest label; a vertex with no in-edges keeps its label. */
  def lpa(g: Digraph, iters: Int): Array[Long] = {
    var label = Array.tabulate(g.n + 1)(_.toLong)
    (1 to iters).foreach { _ =>
      val votes = Array.fill(g.n + 1)(mutable.HashMap.empty[Long, Int])
      g.src.indices.foreach { i =>
        val m = votes(g.dst(i)); val l = label(g.src(i))
        m.update(l, m.getOrElse(l, 0) + 1)
      }
      label = Array.tabulate(g.n + 1) { v =>
        if (votes(v).isEmpty) label(v)
        else votes(v).toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    label
  }
}
