package graft.algos

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.engine.{GmrAlgorithm, GraphMeta}

/** The reference's algorithm library (algorithms.h) as [[GmrAlgorithm]]
  * instances — the *intended* semantics per SURVEY §2.2: pull SSSP as
  * live-verified, textbook push PageRank (the live tree's mid-refactor
  * breakage is deliberately not reproduced), plus the declared-intent stubs
  * (BFS, WCC) as real implementations.
  */
object Algorithms {

  /** SSSP (algorithms.h:4-68). Reference parity: edge weights forced to 1.0
    * (algorithms.h:17-18) makes it hop-count BFS — pass unit weights for
    * parity, real weights for true shortest paths. Pull-style relaxation:
    * msg = srcVal + w, reduce = min, update = min(old, agg), cover mode.
    */
  object Sssp extends GmrAlgorithm {
    override val idleNoOp = true
    override val usesOutDegree = false // msg = srcVal + w
    val name = "sssp"
    private val Inf = Double.PositiveInfinity

    def initCol(id: Column, meta: GraphMeta): Column =
      when(id === meta.source, 0.0).otherwise(Inf)
    def msgCol(srcVal: Column, weight: Column, srcOutDeg: Column): Column =
      srcVal + weight
    override def sendCondCol(srcVal: Column): Column = srcVal =!= lit(Inf)
    def reduceAgg(msg: Column): Column = min(msg)
    def updateCol(oldVal: Column, agg: Column, meta: GraphMeta): Column =
      when(agg.isNull, oldVal).otherwise(least(oldVal, agg))

    def initFn(id: Long, meta: GraphMeta): Double =
      if (id == meta.source) 0.0 else Inf
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double =
      srcVal + weight
    override def sendCondFn(srcVal: Double): Boolean = !srcVal.isPosInfinity
    def mergeFn(a: Double, b: Double): Double = math.min(a, b)
    def updateFn(oldVal: Double, agg: Option[Double], meta: GraphMeta): Double =
      agg.fold(oldVal)(math.min(oldVal, _))
  }

  /** BFS level — the reference's declared stub (algorithms.h:204) is exactly
    * its own SSSP under unit weights.
    */
  val Bfs: GmrAlgorithm = Sssp

  /** [[base]] with the edge weight pinned to 1.0 — for callers that KNOW
    * their graph is unit-weight (the synthetic anchors build
    * `weight = lit(1.0)` themselves). `msg(v, 1.0, d)` is definitionally
    * identical to `msg(v, w, d)` on such a graph, and declaring
    * `usesWeight = false` lets SqlRunner drop the constant-1.0 column
    * from the per-superstep cached edge relation (guide §2.3).
    */
  final case class UnitWeighted(b: GmrAlgorithm)
      extends graft.engine.DelegatingGmrAlgorithm(b) {
    override val usesWeight = false
    override def msgCol(srcVal: Column, weight: Column,
                        srcOutDeg: Column): Column =
      base.msgCol(srcVal, lit(1.0), srcOutDeg)
    override def msgFn(srcVal: Double, weight: Double,
                       srcOutDeg: Int): Double =
      base.msgFn(srcVal, 1.0, srcOutDeg)
  }

  /** PageRank (algorithms.h:73-112). `PR' = d·Σ(PR(u)/outdeg(u)) + (1-d)/n`,
    * cover mode, ε=1e-4, ≤120 iterations.
    *
    * Parity mode (`PageRank(0.5, uniformInit = true)`): the reference's
    * d=0.5 and all-ones init (algorithms.h:75-78). Its *local*-partition `n`
    * (gmr.h:319 — a partition-count-dependent bug, SURVEY §2.2) is NOT
    * reproduced: we use global n, the README §4.1 formula.
    * Standard mode: `PageRank(0.85)` with 1/n init.
    */
  final case class PageRank(d: Double, uniformInit: Boolean = false,
                            fixedIters: Option[Int] = None)
      extends GmrAlgorithm {
    val name = s"pagerank_d$d"
    override val activeMessaging = false
    override val usesWeight = false // msg = value/outdeg — weight unread
    // A fixed iteration count (≙ algoIterNum, gmr.h:121) disables the ε-stop.
    override val maxIter: Int = fixedIters.getOrElse(120)
    override val epsilon: Double = if (fixedIters.isDefined) -1.0 else 1e-4

    def initCol(id: Column, meta: GraphMeta): Column =
      if (uniformInit) lit(1.0) else lit(1.0 / meta.numVertices)
    def msgCol(srcVal: Column, weight: Column, srcOutDeg: Column): Column =
      srcVal / srcOutDeg
    override def sendCondCol(srcVal: Column): Column = lit(true)
    def reduceAgg(msg: Column): Column = sum(msg)
    def updateCol(oldVal: Column, agg: Column, meta: GraphMeta): Column =
      lit((1.0 - d) / meta.numVertices) + lit(d) * coalesce(agg, lit(0.0))

    def initFn(id: Long, meta: GraphMeta): Double =
      if (uniformInit) 1.0 else 1.0 / meta.numVertices
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double =
      srcVal / srcOutDeg
    def mergeFn(a: Double, b: Double): Double = a + b
    def updateFn(oldVal: Double, agg: Option[Double], meta: GraphMeta): Double =
      (1.0 - d) / meta.numVertices + d * agg.getOrElse(0.0)
  }

  /** Forward max-color propagation — phase 1 of FW-BW-coloring SCC
    * ([[graft.graphs.Scc]]): color(v) = max vertex id that reaches v.
    * Vertices whose color equals their own id are the color roots. Labels
    * are ids as doubles (exact below 2^53); accu/max merge.
    */
  object FwdMaxColor extends GmrAlgorithm {
    override val idleNoOp = true
    override val usesWeight = false // msg = srcVal — weight unread
    override val usesOutDegree = false
    val name = "fwd-max-color"

    def initCol(id: Column, meta: GraphMeta): Column = id.cast("double")
    def msgCol(srcVal: Column, weight: Column, srcOutDeg: Column): Column =
      srcVal
    def reduceAgg(msg: Column): Column = max(msg)
    def updateCol(oldVal: Column, agg: Column, meta: GraphMeta): Column =
      when(agg.isNull, oldVal).otherwise(greatest(oldVal, agg))

    def initFn(id: Long, meta: GraphMeta): Double = id.toDouble
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double = srcVal
    def mergeFn(a: Double, b: Double): Double = math.max(a, b)
    def updateFn(oldVal: Double, agg: Option[Double], meta: GraphMeta): Double =
      agg.fold(oldVal)(math.max(oldVal, _))
  }

  /** Weakly connected components via min-label propagation (the intended
    * implementation of the reference's `connectedComponents` stub,
    * algorithms.h:210). Labels are vertex ids as doubles; cover/min merge.
    */
  object Wcc extends GmrAlgorithm {
    override val idleNoOp = true
    override val usesWeight = false // msg = srcVal — weight unread
    override val usesOutDegree = false
    val name = "wcc"

    def initCol(id: Column, meta: GraphMeta): Column = id.cast("double")
    def msgCol(srcVal: Column, weight: Column, srcOutDeg: Column): Column =
      srcVal
    def reduceAgg(msg: Column): Column = min(msg)
    def updateCol(oldVal: Column, agg: Column, meta: GraphMeta): Column =
      when(agg.isNull, oldVal).otherwise(least(oldVal, agg))

    def initFn(id: Long, meta: GraphMeta): Double = id.toDouble
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double = srcVal
    def mergeFn(a: Double, b: Double): Double = math.min(a, b)
    def updateFn(oldVal: Double, agg: Option[Double], meta: GraphMeta): Double =
      agg.fold(oldVal)(math.min(oldVal, _))
  }

  /** Longest-path layering of a DAG ([[graft.graphs.GraphOps.criticalPath]]):
    * value(v) = length of the longest chain ending at v. Every vertex starts
    * at 0 and max-relaxes value+1 along its out-edges; only vertices whose
    * layer grew re-send. Converges on a DAG in (longest chain + 1)
    * supersteps; the cap is shared with the g37 oracle's recursion guard.
    */
  object LongestPath extends GmrAlgorithm {
    override val idleNoOp = true
    override val usesWeight = false // msg = srcVal + 1 — weight unread
    override val usesOutDegree = false
    override val maxIter: Int = graft.graphs.GraphOps.CriticalPathMaxRounds
    val name = "longest-path"

    def initCol(id: Column, meta: GraphMeta): Column = lit(0.0)
    def msgCol(srcVal: Column, weight: Column, srcOutDeg: Column): Column =
      srcVal + 1.0
    def reduceAgg(msg: Column): Column = max(msg)
    def updateCol(oldVal: Column, agg: Column, meta: GraphMeta): Column =
      when(agg.isNull, oldVal).otherwise(greatest(oldVal, agg))

    def initFn(id: Long, meta: GraphMeta): Double = 0.0
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double =
      srcVal + 1.0
    def mergeFn(a: Double, b: Double): Double = math.max(a, b)
    def updateFn(oldVal: Double, agg: Option[Double], meta: GraphMeta): Double =
      agg.fold(oldVal)(math.max(oldVal, _))
  }
}
