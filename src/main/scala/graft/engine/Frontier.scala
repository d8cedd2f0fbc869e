package graft.engine

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression,
  Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec,
  RDDScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.unsafe.Platform

/** A pull-mode round's senders, gathered by the job of the round before it
  * (≙ the reference's next-frontier exchange, igmr.cpp:137-153): each
  * state partition packs the rows the round plan's broadcast side would
  * select from it, as `UnsafeRow` bytes, and the driver builds the next
  * round's broadcast from them without a job of its own.
  */
private[engine] object Frontier {

  /** A state's senders: their count and, per partition, their rows, each
    * prefixed by its size in bytes.
    */
  final case class Packed(count: Long, parts: Seq[Array[Byte]]) {
    /** The senders as rows of `numFields` fields, read in place. */
    def rows(numFields: Int): Iterator[InternalRow] = parts.iterator.flatMap { bytes =>
      val in = ByteBuffer.wrap(bytes)
      Iterator.continually(in).takeWhile(_.hasRemaining).map { b =>
        val size = b.getInt()
        val row = new UnsafeRow(numFields)
        row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + b.position(), size)
        b.position(b.position() + size)
        row
      }
    }
  }

  /** The broadcast side `side` of a round plan — a filter/project chain
    * over its scan of `from`, the state the plan was built on, topped by a
    * projection — bound so a task can evaluate it on any state's rows.
    * Fails loudly on a side of any other shape.
    */
  def select(side: SparkPlan, from: RDD[_]): Select = {
    def shape = new IllegalStateException(
      s"cannot gather senders through the broadcast side:\n$side")
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
    // The top projection makes every packed row an UnsafeRow of the side.
    val topDown = steps(side)
    if (!topDown.headOption.exists(_.isRight)) throw shape
    new Select(topDown.reverse)
  }

  /** A bound filter/project chain, applied bottom-up. */
  final class Select private[Frontier] (chain: Seq[Either[Expression, Seq[Expression]]])
      extends Serializable {
    /** A packer for one task's partition. */
    def packer(partition: Int): Packer = new Packer(chain.map {
      case Left(cond) =>
        val p = Predicate.create(cond)
        p.initialize(partition)
        (r: InternalRow) => if (r == null || !p.eval(r)) null else r
      case Right(exprs) =>
        val u = UnsafeProjection.create(exprs)
        u.initialize(partition)
        (r: InternalRow) => if (r == null) null else u(r)
    })
  }

  /** Packs the senders among the state rows `add`ed to it. */
  final class Packer private[Frontier] (chain: Seq[InternalRow => InternalRow]) {
    private val bytes = new ByteArrayOutputStream()
    private val out = new DataOutputStream(bytes)
    private val buf = new Array[Byte](4096)
    private var count = 0L

    def add(state: InternalRow): Unit = {
      // The chain ends in an UnsafeProjection, so a row that passes is unsafe.
      val row = chain.foldLeft(state)((r, f) => f(r)).asInstanceOf[UnsafeRow]
      if (row != null) {
        out.writeInt(row.getSizeInBytes)
        row.writeToStream(out, buf)
        count += 1
      }
    }

    /** The sender count and the packed rows. */
    def result: (Long, Array[Byte]) = { out.flush(); (count, bytes.toByteArray) }
  }
}
