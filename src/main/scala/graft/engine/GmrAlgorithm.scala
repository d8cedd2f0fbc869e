package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Static facts about the graph a run executes over. `numVertices` ≤ 0
  * means unknown — [[GmrRunner.auto]] fills it in.
  */
final case class GraphMeta(numVertices: Long = -1L, source: Long = 1L)

/** The engine's user API — a Spark-first re-expression of the reference's
  * `GMR` abstract class (gmr.h:92-123: initGraph/map/reduce/keyComp +
  * algoIterNum/upmode). One algorithm = one vertex-centric superstep algebra:
  *
  *   init     ≙ GMR::initGraph        (gmr.h:96, per-vertex initial value)
  *   msg/send ≙ GMR::map + the active-vertex send filter (gmr.h:97,
  *              partition.h:521-522 — only active vertices emit)
  *   reduce   ≙ GMR::reduce           (gmr.h:104, per-destination combine)
  *   update   ≙ updateGraph's accu/cover merge + convergence bookkeeping
  *              (gmr.h:170-219)
  *
  * Every hook exists twice: as a Catalyst `Column` expression (SqlRunner —
  * stays inside whole-stage codegen, no UDFs) and as a scalar function
  * (GraphXRunner — used inside `aggregateMessages`). Both runners must
  * produce identical results; a ScalaTest spec enforces it per algorithm.
  */
trait GmrAlgorithm extends Serializable {
  def name: String

  /** Iteration cap, mirroring MAX_ITERATION (gmr.h:32). */
  def maxIter: Int = 120

  /** Convergence threshold on |Δvalue| (gmr.h:29). */
  def epsilon: Double = 1e-4

  /** If true, only vertices whose value changed last round send messages —
    * the reference's active-vertex pruning (partition.h:521-522) and
    * dirty-predecessor skip (gmr.h:229-236). PageRank-style algorithms keep
    * every vertex sending until global convergence.
    */
  def activeMessaging: Boolean = true

  /** True when an update with NO message is the identity
    * (`update(v, None) == v` for every v). Cover/accu label propagations
    * (SSSP, WCC, max-color) have this; PageRank's damped re-mix does not.
    * Executors use it to skip idle vertices entirely — LocalRunner's
    * frontier loop, and SqlRunner's update, which then evaluates only the
    * vertices that received a message — a pure optimization: results must
    * be identical either way, so a wrong `true` is a wrong answer.
    */
  def idleNoOp: Boolean = false

  /** False when [[msgCol]]/[[msgFn]] ignore the sender's out-degree
    * (everything but PageRank-style mass division). SqlRunner then skips
    * the out-degree aggregate + vertex join entirely — at 64M edges that
    * setup pass (a full-width partial aggregate and a vertex-sized join)
    * costs tens of seconds and produces a column no expression reads.
    * Pure representation: the vertex state carries a constant 0.
    */
  def usesOutDegree: Boolean = true

  /** False when [[msgCol]]/[[msgFn]] ignore the edge weight (label
    * propagations, PageRank's value/outdeg). SqlRunner then drops the
    * weight column from the per-round cached edge relation — at 64M edges
    * that is 512 MB of constant doubles the loop otherwise re-reads every
    * superstep (guide §2.3: narrower rows). Pure representation: the
    * runner feeds a literal 1.0 where the hook asks for a weight, and the
    * hook never looks at it.
    */
  def usesWeight: Boolean = true

  // ---- SqlRunner hooks (Catalyst expressions) ----
  def initCol(id: Column, meta: GraphMeta): Column
  def msgCol(srcVal: Column, weight: Column, srcOutDeg: Column): Column
  def sendCondCol(srcVal: Column): Column = lit(true)
  /** The per-destination combine of the messages `msg`, read as DOUBLE;
    * null when every message was null, which counts as no message. Every
    * aggregate function in it must be a declarative aggregate (min, max,
    * sum, count, avg, first, ...: no distinct, no filter) whose buffer is
    * fixed-width: SqlRunner binds its update, merge and evaluate
    * expressions once and folds each message straight into a buffer per
    * destination, giving what `groupBy(dst).agg(reduceAgg(msg))` over the
    * same messages gives, bit for bit. Anything else (e.g.
    * `percentile_approx`) fails SqlRunner's setup with an error that names
    * the algorithm.
    */
  def reduceAgg(msg: Column): Column
  /** `agg` is null when the vertex received no message this round. */
  def updateCol(id: Column, oldVal: Column, agg: Column, meta: GraphMeta): Column

  // ---- GraphXRunner hooks (scalars) ----
  def initFn(id: Long, meta: GraphMeta): Double
  def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double
  def sendCondFn(srcVal: Double): Boolean = true
  def mergeFn(a: Double, b: Double): Double
  def updateFn(id: Long, oldVal: Double, agg: Option[Double],
               meta: GraphMeta): Double
}

/** Forwarding proxy over a base algorithm: every member — hooks AND tuning
  * flags — delegates, so a wrapper that tweaks one knob (a tighter maxIter,
  * a disabled fast path) cannot silently drop another. Hand-copied
  * member-by-member wrappers did exactly that: an SCC cap wrapper omitted
  * `idleNoOp` and quietly pushed every peel onto the bulk-scan branch.
  */
class DelegatingGmrAlgorithm(protected val base: GmrAlgorithm)
    extends GmrAlgorithm {
  def name: String = base.name
  override def maxIter: Int = base.maxIter
  override def epsilon: Double = base.epsilon
  override def activeMessaging: Boolean = base.activeMessaging
  override def idleNoOp: Boolean = base.idleNoOp
  override def usesWeight: Boolean = base.usesWeight
  override def usesOutDegree: Boolean = base.usesOutDegree
  def initCol(id: Column, meta: GraphMeta): Column = base.initCol(id, meta)
  def msgCol(srcVal: Column, weight: Column, srcOutDeg: Column): Column =
    base.msgCol(srcVal, weight, srcOutDeg)
  override def sendCondCol(srcVal: Column): Column = base.sendCondCol(srcVal)
  def reduceAgg(msg: Column): Column = base.reduceAgg(msg)
  def updateCol(id: Column, oldVal: Column, agg: Column, meta: GraphMeta): Column =
    base.updateCol(id, oldVal, agg, meta)
  def initFn(id: Long, meta: GraphMeta): Double = base.initFn(id, meta)
  def msgFn(srcVal: Double, weight: Double, srcOutDeg: Int): Double =
    base.msgFn(srcVal, weight, srcOutDeg)
  override def sendCondFn(srcVal: Double): Boolean = base.sendCondFn(srcVal)
  def mergeFn(a: Double, b: Double): Double = base.mergeFn(a, b)
  def updateFn(id: Long, oldVal: Double, agg: Option[Double],
               meta: GraphMeta): Double =
    base.updateFn(id, oldVal, agg, meta)
}

/** Stats-driven sizing for iterative-loop shuffles.
  *
  * An iterative round over a few-thousand-edge graph scheduled at the
  * session's full shuffle width pays ~10× more in task dispatch than in
  * work; a 100 TB graph takes the session cap, which a real deployment
  * sizes to the cluster. One partition per ~1M edges, floor 1.
  */
object LoopConf {
  /** Partitions for ~8 MB of shuffled loop state each, floor 1, capped at
    * the session setting. 8 MB, not the 64 MB AQE coalesce target: loop
    * rounds are join/agg CPU work, not scan IO — at 64 MB an 8M-edge graph
    * collapsed to 3 partitions and ran one superstep on 3 of 32 cores
    * (measured 2.5× slower end-to-end on the b02 anchor), while every
    * few-thousand-edge graph still maps to 1 partition either way.
    */
  def sizedParallelism(s: org.apache.spark.sql.SparkSession,
                       numRows: Long, rowBytes: Long): Int = {
    // Loops may exceed the session cap up to 4× (extra task waves) when the
    // 8 MB/partition target demands it: at 64M edges the 32-partition cap
    // left ~48 MB of loop state per partition and the superstep shuffles
    // spilled 3.6 GB; 4 waves trade scheduling overhead for in-memory
    // partitions. A cluster deployment sizes the session cap to the
    // cluster, and these loops still only size DOWN from `capFactor`×
    // that. GRAFT_LOOP_CAP_FACTOR (or -Dgraft.engine.loopCapFactor)
    // overrides the measured default: on the b05 skewed 64M-edge anchor,
    // factor 8 (256 partitions) cut superstep spill ~3× (2.8 GB → ~1 GB)
    // but cost +25% wall on local[32] where task dispatch dominates —
    // a memory-per-core-constrained cluster would flip that trade, so
    // the factor is the deployment lever, 4 the local[32]-measured best.
    // Validated at the knob, not deep in a loop: a malformed value would
    // otherwise surface as a NumberFormatException nowhere near the env
    // var, and 0/negative would silently serialize every superstep to one
    // partition via the max(1, min(cap, …)) clamp below.
    val capFactor = sys.env.get("GRAFT_LOOP_CAP_FACTOR")
      .orElse(sys.props.get("graft.engine.loopCapFactor"))
      .map { v =>
        val n = try v.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"GRAFT_LOOP_CAP_FACTOR/graft.engine.loopCapFactor must be a " +
              s"positive integer, got '$v'")
        }
        require(n > 0,
          s"GRAFT_LOOP_CAP_FACTOR/graft.engine.loopCapFactor must be > 0, got $n")
        n
      }.getOrElse(4L)
    val cap = capFactor * s.conf.get("spark.sql.shuffle.partitions").toInt
    val target = 8L * 1024 * 1024
    math.max(1, math.min(cap,
      (numRows * rowBytes + target - 1) / target).toInt)
  }

  /** Edge-relation convenience: a (src, dst, weight) row is ~16-24 B on the
    * wire — one partition per ~1-4M edges.
    */
  def loopParallelism(s: org.apache.spark.sql.SparkSession, numEdges: Long): Int =
    sizedParallelism(s, numEdges, 24)

  /** Run `body` with shuffle partitions temporarily set to `n`; the loops
    * materialize every round eagerly, so the setting is in force for
    * exactly the loop's own shuffles.
    */
  def withShuffleParts[T](s: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T =
    withConfs(s, Map("spark.sql.shuffle.partitions" -> n.toString))(body)

  /** Run `body` with session confs temporarily overridden — the loops
    * materialize eagerly, so the overrides cover exactly their own queries.
    */
  def withConfs[T](s: org.apache.spark.sql.SparkSession,
                   confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
