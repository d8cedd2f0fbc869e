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
    def updateCol(id: Column, oldVal: Column, agg: Column,
                  meta: GraphMeta): Column =
      when(agg.isNull, oldVal).otherwise(least(oldVal, agg))

    def initFn(id: Long, meta: GraphMeta): Double =
      if (id == meta.source) 0.0 else Inf
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double =
      srcVal + weight
    override def sendCondFn(srcVal: Double): Boolean = !srcVal.isPosInfinity
    def mergeFn(a: Double, b: Double): Double = math.min(a, b)
    def updateFn(id: Long, oldVal: Double, agg: Option[Double],
                 meta: GraphMeta): Double =
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
    * Personalized mode (`personalized = true`, random walk with restart):
    * all mass starts at `meta.source` and the (1-d) teleport returns there,
    * `PR' = d·Σ(PR(u)/outdeg(u)) + (1-d)·[v = source]`; `n` is unused.
    */
  final case class PageRank(d: Double, uniformInit: Boolean = false,
                            fixedIters: Option[Int] = None,
                            personalized: Boolean = false)
      extends GmrAlgorithm {
    val name = if (personalized) s"ppr_d$d" else s"pagerank_d$d"
    override val activeMessaging = false
    override val usesWeight = false // msg = value/outdeg — weight unread
    // A fixed iteration count (≙ algoIterNum, gmr.h:121) disables the ε-stop.
    override val maxIter: Int = fixedIters.getOrElse(120)
    override val epsilon: Double = if (fixedIters.isDefined) -1.0 else 1e-4

    /** The teleport term, `(1-d)/n` or `(1-d)·[id = source]`. */
    private def restartCol(id: Column, meta: GraphMeta): Column =
      if (personalized) when(id === meta.source, 1.0 - d).otherwise(0.0)
      else lit((1.0 - d) / meta.numVertices)
    private def restartFn(id: Long, meta: GraphMeta): Double =
      if (personalized) { if (id == meta.source) 1.0 - d else 0.0 }
      else (1.0 - d) / meta.numVertices

    def initCol(id: Column, meta: GraphMeta): Column =
      if (personalized) when(id === meta.source, 1.0).otherwise(0.0)
      else if (uniformInit) lit(1.0) else lit(1.0 / meta.numVertices)
    def msgCol(srcVal: Column, weight: Column, srcOutDeg: Column): Column =
      srcVal / srcOutDeg
    override def sendCondCol(srcVal: Column): Column = lit(true)
    def reduceAgg(msg: Column): Column = sum(msg)
    def updateCol(id: Column, oldVal: Column, agg: Column,
                  meta: GraphMeta): Column =
      restartCol(id, meta) + lit(d) * coalesce(agg, lit(0.0))

    def initFn(id: Long, meta: GraphMeta): Double =
      if (personalized) { if (id == meta.source) 1.0 else 0.0 }
      else if (uniformInit) 1.0 else 1.0 / meta.numVertices
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double =
      srcVal / srcOutDeg
    def mergeFn(a: Double, b: Double): Double = a + b
    def updateFn(id: Long, oldVal: Double, agg: Option[Double],
                 meta: GraphMeta): Double =
      restartFn(id, meta) + d * agg.getOrElse(0.0)
  }

  /** k-core membership by peeling ([[graft.graphs.GraphOps.kcore]]) over a
    * symmetric edge set. The value is an alive flag (1.0 / 0.0); every
    * alive vertex sends 1.0 to each neighbour, and a vertex stays alive
    * while it was alive and counts at least `k` alive neighbours. A vertex
    * dies once and stays dead, so a round's changed count is the vertices
    * it peeled and the peel depth is the rounds that changed something.
    * Every alive vertex sends every round, and the loop is uncapped: a
    * path peels one vertex from each end per round, past any fixed cap.
    */
  final case class KCore(k: Int) extends GmrAlgorithm {
    override val activeMessaging = false
    override val usesWeight = false // msg = 1 — weight unread
    override val usesOutDegree = false
    override val maxIter: Int = Int.MaxValue
    val name = s"kcore_$k"

    def initCol(id: Column, meta: GraphMeta): Column = lit(1.0)
    def msgCol(srcVal: Column, weight: Column, srcOutDeg: Column): Column =
      lit(1.0)
    override def sendCondCol(srcVal: Column): Column = srcVal > 0.0
    def reduceAgg(msg: Column): Column = sum(msg)
    def updateCol(id: Column, oldVal: Column, agg: Column,
                  meta: GraphMeta): Column =
      when(oldVal > 0.0 && coalesce(agg, lit(0.0)) >= k, 1.0).otherwise(0.0)

    def initFn(id: Long, meta: GraphMeta): Double = 1.0
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double = 1.0
    override def sendCondFn(srcVal: Double): Boolean = srcVal > 0.0
    def mergeFn(a: Double, b: Double): Double = a + b
    def updateFn(id: Long, oldVal: Double, agg: Option[Double],
                 meta: GraphMeta): Double =
      if (oldVal > 0.0 && agg.getOrElse(0.0) >= k) 1.0 else 0.0
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
    def updateCol(id: Column, oldVal: Column, agg: Column,
                  meta: GraphMeta): Column =
      when(agg.isNull, oldVal).otherwise(greatest(oldVal, agg))

    def initFn(id: Long, meta: GraphMeta): Double = id.toDouble
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double = srcVal
    def mergeFn(a: Double, b: Double): Double = math.max(a, b)
    def updateFn(id: Long, oldVal: Double, agg: Option[Double],
                 meta: GraphMeta): Double =
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
    def updateCol(id: Column, oldVal: Column, agg: Column,
                  meta: GraphMeta): Column =
      when(agg.isNull, oldVal).otherwise(least(oldVal, agg))

    def initFn(id: Long, meta: GraphMeta): Double = id.toDouble
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double = srcVal
    def mergeFn(a: Double, b: Double): Double = math.min(a, b)
    def updateFn(id: Long, oldVal: Double, agg: Option[Double],
                 meta: GraphMeta): Double =
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
    def updateCol(id: Column, oldVal: Column, agg: Column,
                  meta: GraphMeta): Column =
      when(agg.isNull, oldVal).otherwise(greatest(oldVal, agg))

    def initFn(id: Long, meta: GraphMeta): Double = 0.0
    def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double =
      srcVal + 1.0
    def mergeFn(a: Double, b: Double): Double = math.max(a, b)
    def updateFn(id: Long, oldVal: Double, agg: Option[Double],
                 meta: GraphMeta): Double =
      agg.fold(oldVal)(math.max(oldVal, _))
  }
}
