package graft.engine

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{Column, GraftFrames, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences,
  BoundReference, Expression, JoinedRow, MutableProjection, SpecificInternalRow,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.Platform

/** A round's reduce (≙ GMR::reduce over each destination's run of the
  * grouped KV stream, gmr.h:300-313), without a hash table: each task
  * folds its messages into one buffer per slot of its index partition
  * ([[EdgeIndex.fold]]), and each state partition merges the partials of
  * its vertices into one buffer per vertex ([[VertexState.merge]]). The
  * buffers, their updates, merges and result are the algorithm's own
  * `reduceAgg`, bound once, so a vertex's reduced value is the one Spark's
  * aggregate over the same messages gives, bit for bit.
  */
private[engine] object Fold {

  /** `alg`'s `reduceAgg` over `msg`, an expression of message rows of
    * `input`, as a task evaluates it: every aggregate function in it must
    * be a declarative aggregate (no distinct, no filter) whose buffer is
    * fixed-width, so that a buffer is a fixed-size `UnsafeRow` updated in
    * place. The expression is analyzed and optimized once, as a query
    * would be, and never planned.
    */
  def reduce(spark: SparkSession, alg: GmrAlgorithm, input: Seq[Attribute],
             msg: Column): Reduce = {
    val agg = alg.reduceAgg(msg).cast(DoubleType)
    val plan = GraftFrames.ofRdd(spark, input, spark.sparkContext.emptyRDD[InternalRow],
      UnknownPartitioning(0), Statistics(1)).agg(agg).queryExecution.optimizedPlan
    def refuse(why: String) = new IllegalArgumentException(s"${alg.name}: reduceAgg " +
      s"must be declarative aggregates with fixed-width buffers, but $why: $agg")
    val (out, rows) = plan.collectFirst { case a: Aggregate => a } match {
      case Some(a) if a.groupingExpressions.isEmpty && a.aggregateExpressions.size == 1 =>
        (a.aggregateExpressions.head, a.child.collectLeaves().head.output)
      case _ => throw refuse(s"it plans as\n$plan")
    }
    val fns = out.collect { case a: AggregateExpression => a }.distinct.map {
      case AggregateExpression(f: DeclarativeAggregate, _, false, None, _)
          if f.aggBufferAttributes.forall(b => UnsafeRow.isFixedLength(b.dataType)) => f
      case a => throw refuse(s"${a.aggregateFunction.prettyName} is not one")
    }
    if (fns.isEmpty) throw refuse("it holds no aggregate function")
    val buffer = fns.flatMap(_.aggBufferAttributes)
    val result = (out match { case Alias(c, _) => c; case e => e }).transform {
      case a: AggregateExpression => a.aggregateFunction.asInstanceOf[DeclarativeAggregate]
        .evaluateExpression
    }
    val init = UnsafeProjection.create(fns.flatMap(_.initialValues)).apply(InternalRow.empty)
    new Reduce(buffer.size, init.copy().getBytes,
      BindReferences.bindReferences(fns.flatMap(_.updateExpressions), buffer ++ rows),
      BindReferences.bindReferences(fns.flatMap(_.mergeExpressions),
        buffer ++ fns.flatMap(_.inputAggBufferAttributes)),
      BindReferences.bindReference(result, buffer))
  }

  /** A bound reduce: buffers of `fields` fields, each `init` when it takes
    * its first message.
    */
  final class Reduce private[Fold] (val fields: Int, val init: Array[Byte],
                                    val update: Seq[Expression], val merge: Seq[Expression],
                                    val result: Expression) extends Serializable {
    /** The reduce made executable for task `partition`, once: every
      * buffer the task folds or merges into shares its projections.
      */
    def task(partition: Int): Task = new Task(this, partition)
  }

  /** One task's generated update, merge and result projections, over a
    * buffer row the task points at one buffer at a time.
    */
  final class Task private[Fold] (reduce: Reduce, partition: Int) {
    private[Fold] val (size, init) = (reduce.init.length, reduce.init)
    private[Fold] val buffer, other = new UnsafeRow(reduce.fields)
    private def projection(exprs: Seq[Expression]) = {
      val p = MutableProjection.create(exprs)
      p.initialize(partition)
      p.target(buffer)
    }
    private[Fold] val (updater, merger) = (projection(reduce.update), projection(reduce.merge))
    private[Fold] val evaluate = UnsafeProjection.create(Seq(reduce.result))
    evaluate.initialize(partition)
    private[Fold] val withMessage = new JoinedRow(buffer, null)
    private[Fold] val withPartial = new JoinedRow(buffer, other)

    /** `n` fresh buffers. */
    def buffers(n: Int): Buffers = new Buffers(this, n)
  }

  /** Where a destination's partials go: the partition of its id, of type
    * `idType`, among `parts` partitions laid out as `HashPartitioning(id,
    * parts)`, the vertex state's layout.
    */
  final class Route(idType: DataType, val parts: Int) extends Serializable {
    private val partitionOf = HashPartitioning(Seq(BoundReference(0, idType, nullable = false)),
      parts).partitionIdExpression

    /** The partition of an id, for one task. */
    def open(): Long => Int = {
      val row = new SpecificInternalRow(Seq(idType))
      val p = UnsafeProjection.create(Seq(partitionOf))
      id => { EdgeIndex.setId(row, idType, id); p(row).getInt(0) }
    }
  }

  /** A task's reduced buffers for some destinations: `ids` ascending, and
    * destination i's buffer, an `UnsafeRow` of fixed size, at
    * i × its size in `buffers`. `map` is the task's partition: a state
    * partition merges partials in map order.
    */
  final class Partials(val map: Int, val ids: EdgeIndex.Ids, val buffers: Array[Byte])
      extends Serializable {
    def size: Int = ids.length
  }

  /** One task's buffers 0 until `n`, each a fixed-size `UnsafeRow` in one
    * byte array, set to the reduce's initial values when first touched.
    */
  final class Buffers private[Fold] (task: Task, n: Int) {
    import task._
    private val bytes = new Array[Byte](n * size)
    private val touched = new Array[Boolean](n)

    /** Whether buffer i took a message or a partial. */
    def isTouched(i: Int): Boolean = touched(i)

    private def at(i: Int): Unit = {
      buffer.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + i * size, size)
      if (!touched(i)) {
        touched(i) = true
        System.arraycopy(init, 0, bytes, i * size, size)
      }
    }

    /** Buffer i with one message, a row of the reduce's input. */
    def update(i: Int, message: InternalRow): Unit = {
      at(i)
      updater(withMessage.withRight(message))
    }

    /** Buffer i with `from`'s buffer j merged in. */
    def merge(i: Int, from: Partials, j: Int): Unit = {
      at(i)
      other.pointTo(from.buffers, Platform.BYTE_ARRAY_OFFSET + j * size, size)
      merger(withPartial)
    }

    /** Touched buffer i's reduced value, a DOUBLE, possibly null, in a row
      * the next call reuses.
      */
    def result(i: Int): UnsafeRow = {
      buffer.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + i * size, size)
      evaluate(buffer)
    }

    /** The touched buffers as one [[Partials]] of task `map`, buffer i
      * holding destination `ids(i)`.
      */
    def partials(ids: EdgeIndex.Ids, map: Int): Partials = {
      val at = slots
      gather(ids, map, at, 0, at.length)
    }

    /** The touched buffers as [[Partials]] of task `map` for each
      * partition of `route` that holds some of their destinations, buffer
      * i holding destination `ids(i)`.
      */
    def partials(ids: EdgeIndex.Ids, map: Int, route: Route): Iterator[(Int, Partials)] = {
      val (at, partitionOf) = (slots, route.open())
      val target = at.map(i => partitionOf(ids(i)))
      val (order, start) = EdgeIndex.countingOrder(at.length, route.parts)(target(_))
      val sorted = EdgeIndex.permute(at, order)
      Iterator.range(0, route.parts).filter(p => start(p + 1) > start(p))
        .map(p => p -> gather(ids, map, sorted, start(p), start(p + 1)))
    }

    private def slots: Array[Int] = {
      val at = new ArrayBuilder.ofInt
      var i = 0
      while (i < n) { if (touched(i)) at += i; i += 1 }
      at.result()
    }

    private def gather(ids: EdgeIndex.Ids, map: Int, at: Array[Int], from: Int,
                       until: Int): Partials = {
      val (got, out) = (new Array[Long](until - from), new Array[Byte]((until - from) * size))
      var k = from
      while (k < until) {
        got(k - from) = ids(at(k))
        System.arraycopy(bytes, at(k) * size, out, (k - from) * size, size)
        k += 1
      }
      new Partials(map, EdgeIndex.ids(got), out)
    }
  }
}
