package graft.engine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.algos.Algorithms

/** SqlRunner's array-backed vertex state: a round's update builds the next
  * state beside the previous one and never writes into it, so a task
  * re-run after a lost block reads the old state and computes the same
  * partition again.
  */
class VertexStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val meta = GraphMeta(10L, source = 4L)

  /** Ten vertices, ids 9 down to 0, so the seed sorts them; vertex i of
    * out-degree i and value `init(i)`.
    */
  private def seed(alg: GmrAlgorithm): VertexState =
    VertexState.seed((9L to 0L by -1L).iterator.map(i =>
      InternalRow(i, i.toInt, alg.initFn(i, meta))), LongType)

  /** One task's partials of `alg`'s reduce: messages for vertices 2, 5
    * and 7, a null message for 3, and one for 42, which the partition does
    * not hold.
    */
  private def partials(reduce: Fold.Reduce): Fold.Partials = {
    val dsts = Array(2L, 3L, 5L, 7L, 42L)
    val buffers = reduce.task(0).buffers(dsts.length)
    Seq[(Int, Any)](3 -> 1.0, 0 -> 0.5, 1 -> null, 2 -> 8.0, 4 -> 0.0).foreach {
      case (slot, msg) => buffers.update(slot, InternalRow(msg))
    }
    buffers.partials(EdgeIndex.ids(dsts), 0)
  }
  private val got = Map(7L -> 1.0, 2L -> 0.5, 5L -> 8.0)

  private def snapshot(s: VertexState) =
    ((0 until s.size).map(s.ids(_)), s.outdeg.toSeq, s.value.toSeq, s.changed.clone())

  Seq("SSSP" -> Algorithms.Sssp, "PageRank" -> Algorithms.PageRank(0.85)).foreach {
    case (name, alg) =>
      test(s"$name: a round's partition computed twice from one state is the same, " +
          "and the state it read is unchanged") {
        val prev = seed(alg)
        val before = snapshot(prev)
        val update = VertexState.update(spark, alg, meta, LongType)
        val reduce = Fold.reduce(spark, alg,
          Seq(AttributeReference("msg", DoubleType)()), col("msg"))
        val sent = partials(reduce)
        def round() = VertexState.merge(prev, Iterator(sent), reduce.task(0), update, 0, LongType,
          receiversOnly = alg.idleNoOp)
        val (a, b) = (round(), round())
        assert(snapshot(a) == snapshot(b))
        assert(snapshot(prev) == before, "the round wrote into the state it read")
        assert(a.value ne prev.value)
        // The bound update is the algorithm's own, and the change test
        // the loop's.
        (0 until a.size).foreach { i =>
          val id = a.ids(i)
          val want = alg.updateFn(id, prev.value(i), got.get(id), meta)
          assert(a.value(i).equals(want), s"vertex $id")
          val d = want - prev.value(i)
          assert(a.changed.get(i) == (!d.isNaN && math.abs(d) > alg.epsilon), s"vertex $id")
        }
        if (alg.idleNoOp) {
          val all = VertexState.merge(prev, Iterator(sent), reduce.task(0), update, 0, LongType,
            receiversOnly = false)
          assert(snapshot(all) == snapshot(a), "receivers-only and every-vertex updates differ")
        }
      }
  }
}
