package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Seeded R-MAT generator for the `gmr_cli` workload.
  *
  * Draws `edgeFactor * 2^scale` endpoint pairs with the recursive
  * quadrant probabilities (a, b, c, d), folds each pair to an undirected
  * (min, max) key, drops self loops and duplicates (the smallest drawn
  * weight wins), and numbers vertices 1..2^scale. Ids the draw never hits
  * stay in the id space as isolated vertices: both loaders gap-fill them
  * (edge list up to the largest id, METIS up to the header count), so the
  * subgraph writer emits them as neighbour-less lines.
  *
  * Same (scale, edgeFactor, seed) gives byte-identical files.
  */
final case class UGraph(n: Int, src: Array[Int], dst: Array[Int], w: Array[Int]) {
  def pairs: Int = src.length

  /** Directed view with both directions of every pair, as written to
    * the edge-list file: (src, dst, weight) sorted by (src, dst). */
  def directed: (Array[Int], Array[Int], Array[Double]) = {
    val m = pairs
    val idx = (0 until 2 * m).sortBy { i =>
      val (s, d) = if (i < m) (src(i), dst(i)) else (dst(i - m), src(i - m))
      s.toLong * (n.toLong + 1) + d
    }.toArray
    val s = new Array[Int](2 * m); val d = new Array[Int](2 * m)
    val ww = new Array[Double](2 * m)
    idx.zipWithIndex.foreach { case (i, k) =>
      if (i < m) { s(k) = src(i); d(k) = dst(i); ww(k) = w(i) }
      else { s(k) = dst(i - m); d(k) = src(i - m); ww(k) = w(i - m) }
    }
    (s, d, ww)
  }
}

object Rmat {
  val Probs: (Double, Double, Double) = (0.57, 0.19, 0.19) // d = 0.05

  def generate(scale: Int, edgeFactor: Int, seed: Long): UGraph = {
    val rnd = new java.util.SplittableRandom(seed)
    val n = 1 << scale
    val draws = edgeFactor.toLong * n
    val best = new java.util.HashMap[java.lang.Long, Integer]()
    val (a, b, c) = Probs
    var k = 0L
    while (k < draws) {
      var u = 0; var v = 0; var bit = scale - 1
      while (bit >= 0) {
        val r = rnd.nextDouble()
        if (r < a) ()
        else if (r < a + b) v |= 1 << bit
        else if (r < a + b + c) u |= 1 << bit
        else { u |= 1 << bit; v |= 1 << bit }
        bit -= 1
      }
      val wt = 1 + rnd.nextInt(9)
      if (u != v) {
        val lo = math.min(u, v) + 1; val hi = math.max(u, v) + 1
        val key = java.lang.Long.valueOf(lo.toLong * (n + 1) + hi)
        val old = best.get(key)
        if (old == null || wt < old) best.put(key, wt)
      }
      k += 1
    }
    val keys = new Array[Long](best.size)
    var i = 0
    val it = best.keySet.iterator()
    while (it.hasNext) { keys(i) = it.next(); i += 1 }
    java.util.Arrays.sort(keys)
    val src = keys.map(x => (x / (n + 1)).toInt)
    val dst = keys.map(x => (x % (n + 1)).toInt)
    val w = keys.map(x => best.get(java.lang.Long.valueOf(x)).intValue)
    // the id space ends at the largest endpoint, as the edge-list loader
    // back-fills it; the METIS header uses the same count
    UGraph(if (dst.isEmpty) 0 else dst.max max src.max, src, dst, w)
  }

  /** Edge-list file: one `src dst weight` line per directed edge. */
  def writeEdgeList(g: UGraph, path: Path): Unit = {
    val (s, d, w) = g.directed
    val sb = new StringBuilder
    s.indices.foreach(i => sb.append(s(i)).append(' ').append(d(i)).append(' ')
      .append(w(i).toInt).append('\n'))
    Files.write(path, sb.toString.getBytes(StandardCharsets.US_ASCII))
  }

  /** METIS adjacency file: header `n pairs`, then line i lists the
    * neighbours of vertex i (an empty line for an isolated vertex). */
  def writeMetis(g: UGraph, path: Path): Unit = {
    val (s, d, _) = g.directed
    val sb = new StringBuilder
    sb.append(g.n).append(' ').append(g.pairs).append('\n')
    var j = 0
    (1 to g.n).foreach { v =>
      var first = true
      while (j < s.length && s(j) == v) {
        if (!first) sb.append(' ')
        sb.append(d(j)); first = false; j += 1
      }
      sb.append('\n')
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.US_ASCII))
  }
}
