package perfbench

import Inputs.Csr

/** Plain single-threaded solvers over int arrays. They share no code with
  * the engine; the benchmark checks every engine result against them.
  */
object Reference {

  /** A solved graph problem: the value of every vertex, the per-round
    * changed counts of the superstep loop that reaches the same fixpoint,
    * and the edge work that loop does (messages sent).
    */
  final case class Solution(values: Array[Double], changedTrace: Seq[Long],
                            edgeWork: Long)

  /** Unit-weight single-source shortest paths by a queue BFS. Unreachable
    * vertices keep +∞. Round `r` of a frontier loop changes exactly the
    * vertices at depth `r`, and the round after the deepest one changes
    * none; every reached vertex sends along each of its out-edges once.
    */
  def bfs(g: Csr, source: Int): Solution = {
    val dist = Array.fill(g.n)(Double.PositiveInfinity)
    val depth = Array.fill(g.n)(-1)
    val queue = new Array[Int](g.n)
    var head = 0
    var tail = 0
    dist(source) = 0.0; depth(source) = 0
    queue(tail) = source; tail += 1
    var work = 0L
    while (head < tail) {
      val u = queue(head); head += 1
      work += g.outDeg(u)
      var j = g.off(u)
      while (j < g.off(u + 1)) {
        val v = g.adj(j)
        if (depth(v) < 0) {
          depth(v) = depth(u) + 1; dist(v) = depth(v).toDouble
          queue(tail) = v; tail += 1
        }
        j += 1
      }
    }
    val maxDepth = depth.max
    val perDepth = new Array[Long](maxDepth + 2)
    depth.foreach(d => if (d > 0) perDepth(d) += 1)
    Solution(dist, perDepth.toSeq.drop(1), work)
  }

  /** Power-iteration PageRank with the engine's stopping rule:
    * `pr' = (1-d)/n + d·Σ pr(u)/outdeg(u)` from `init` everywhere; a vertex
    * changed when `|pr' − pr| > epsilon`; stop after the first round that
    * changes none, or at `maxIter`.
    */
  def pageRank(g: Csr, d: Double, init: Double, epsilon: Double = 1e-4,
               maxIter: Int = 120): Solution = {
    var pr = Array.fill(g.n)(init)
    val base = (1.0 - d) / g.n
    val trace = Seq.newBuilder[Long]
    var changed = 1L
    var iter = 0
    while (iter < maxIter && changed > 0) {
      iter += 1
      val acc = new Array[Double](g.n)
      var u = 0
      while (u < g.n) {
        val deg = g.outDeg(u)
        if (deg > 0) {
          val msg = pr(u) / deg
          var j = g.off(u)
          while (j < g.off(u + 1)) { acc(g.adj(j)) += msg; j += 1 }
        }
        u += 1
      }
      val next = new Array[Double](g.n)
      changed = 0L
      var v = 0
      while (v < g.n) {
        next(v) = base + d * acc(v)
        val delta = next(v) - pr(v)
        if (!delta.isNaN && math.abs(delta) > epsilon) changed += 1
        v += 1
      }
      trace += changed
      pr = next
    }
    Solution(pr, trace.result(), iter.toLong * g.m)
  }

  /** First mismatch between an engine result and the reference, if any:
    * every vertex must be present once, infinities must agree exactly and
    * finite values within `tol`.
    */
  def firstMismatch(expected: Array[Double], ids: Array[Long],
                    values: Array[Double], tol: Double): Option[String] = {
    if (ids.length != expected.length)
      return Some(s"${ids.length} rows for ${expected.length} vertices")
    val seen = new Array[Boolean](expected.length)
    var i = 0
    while (i < ids.length) {
      val id = ids(i)
      if (id < 0 || id >= expected.length || seen(id.toInt))
        return Some(s"unexpected or repeated vertex $id")
      seen(id.toInt) = true
      val e = expected(id.toInt)
      val v = values(i)
      val ok =
        if (e.isInfinite || v.isInfinite || e.isNaN || v.isNaN) e == v
        else math.abs(e - v) <= tol
      if (!ok) return Some(s"vertex $id: expected $e, got $v")
      i += 1
    }
    None
  }
}
