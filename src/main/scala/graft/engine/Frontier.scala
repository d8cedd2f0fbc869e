package graft.engine

import java.nio.ByteBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression,
  Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec,
  RDDScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.Platform

/** A round's senders (≙ the reference's next-frontier exchange,
  * igmr.cpp:137-153): each state partition packs the rows the sender
  * selection selects from it, as `UnsafeRow` bytes, sorted by id into the
  * [[Senders]] the fold reads ([[EdgeIndex.fold]]). In pull mode the job of
  * the round before packs them and the driver sorts and broadcasts them to
  * the next round's fold without a job of its own; in classic mode each
  * fold task packs and sorts its own state partition's senders.
  */
private[engine] object Frontier {

  /** A state's senders: their count and, per partition, their rows, each
    * prefixed by its size in bytes.
    */
  final case class Packed(count: Long, parts: Seq[Array[Byte]]) {
    /** The senders as rows of `fields`, ordered by their `id` field. */
    def senders(fields: Seq[Attribute]): Senders = {
      val idAt = fields.indexWhere(_.name == "id")
      val wide = fields(idAt).dataType == LongType
      val bytes = Array.concat(parts: _*)
      val n = count.toInt
      val (ids, at, sizes) = (new Array[Long](n), new Array[Int](n), new Array[Int](n))
      val in = ByteBuffer.wrap(bytes)
      val row = new UnsafeRow(fields.size)
      for (i <- 0 until n) {
        sizes(i) = in.getInt()
        at(i) = in.position()
        row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + at(i), sizes(i))
        ids(i) = if (wide) row.getLong(idAt) else row.getInt(idAt).toLong
        in.position(at(i) + sizes(i))
      }
      val order = EdgeIndex.sortedOrder(ids)
      new Senders(EdgeIndex.permute(ids, order), EdgeIndex.permute(at, order),
        EdgeIndex.permute(sizes, order), bytes)
    }
  }

  /** A round's senders as the fold reads them: `ids` ascending, and
    * sender i's row at `at(i)` in `bytes`, `sizes(i)` bytes long.
    */
  final class Senders private[Frontier] (val ids: Array[Long], at: Array[Int],
                                         sizes: Array[Int], bytes: Array[Byte])
      extends Serializable {
    def size: Int = ids.length

    /** Points `row` at sender i's row. */
    def read(i: Int, row: UnsafeRow): Unit =
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + at(i), sizes(i))
  }

  /** The chain `side` — filters and projections over its scan of `from`,
    * the frame it was planned on, topped by a projection — bound so a task
    * can evaluate it on any rows of `from`'s layout: the sender selection
    * over a state's vertices, and the round's update. Fails loudly on a
    * plan of any other shape.
    */
  def select(side: SparkPlan, from: RDD[_]): Select = {
    def shape = new IllegalStateException(
      s"cannot evaluate rows through the plan:\n$side")
    def steps(p: SparkPlan): List[Either[Expression, Seq[Expression]]] = p match {
      case w: WholeStageCodegenExec => steps(w.child)
      case i: InputAdapter => steps(i.child)
      case f: FilterExec =>
        Left(BindReferences.bindReference(f.condition, f.child.output)) :: steps(f.child)
      case pr: ProjectExec =>
        Right(BindReferences.bindReferences(pr.projectList, pr.child.output)) :: steps(pr.child)
      case s: RDDScanExec if s.rdd eq from => Nil
      case _ => throw shape
    }
    // The top projection makes every selected row an UnsafeRow of the side.
    val topDown = steps(side)
    if (!topDown.headOption.exists(_.isRight)) throw shape
    new Select(topDown.reverse)
  }

  /** A bound filter/project chain, applied bottom-up. */
  final class Select private[Frontier] (chain: Seq[Either[Expression, Seq[Expression]]])
      extends Serializable {
    /** The chain for one task's partition: a row's result, reused by the
      * next call, or null when a filter drops the row.
      */
    def bind(partition: Int): InternalRow => UnsafeRow = {
      val steps: Array[InternalRow => InternalRow] = chain.map {
        case Left(cond) =>
          val p = Predicate.create(cond)
          p.initialize(partition)
          (r: InternalRow) => if (p.eval(r)) r else null
        case Right(exprs) =>
          val u = UnsafeProjection.create(exprs)
          u.initialize(partition)
          (r: InternalRow) => u(r)
      }.toArray
      // The chain ends in an UnsafeProjection, so a row that passes is unsafe.
      (r: InternalRow) => {
        var x = r
        var i = 0
        while (x != null && i < steps.length) { x = steps(i)(x); i += 1 }
        x.asInstanceOf[UnsafeRow]
      }
    }

    /** The count of the rows this selects from one task's `rows`, and
      * those rows packed, each prefixed by its size in bytes (big-endian,
      * as [[Packed.senders]] reads it).
      */
    def pack(partition: Int, rows: Iterator[InternalRow]): (Long, Array[Byte]) = {
      val select = bind(partition)
      var bytes = new Array[Byte](4096)
      var at = 0
      var count = 0L
      rows.foreach { state =>
        val row = select(state)
        if (row != null) {
          val n = row.getSizeInBytes
          if (at + 4 + n > bytes.length)
            bytes = java.util.Arrays.copyOf(bytes, math.max(2 * bytes.length, at + 4 + n))
          var b = 0
          while (b < 4) { bytes(at + b) = (n >>> (24 - 8 * b)).toByte; b += 1 }
          row.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + at + 4)
          at += 4 + n
          count += 1
        }
      }
      (count, java.util.Arrays.copyOf(bytes, at))
    }
  }
}
