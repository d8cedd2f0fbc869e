package graft.engine

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{GraftFrames, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, SpecificInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.functions.{abs, col, isnan}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType}

/** One partition of SqlRunner's vertex state, kept as the reference keeps a
  * process's vertex values (gmr.h:170-219): the partition's vertex ids
  * ascending, each one's static out-degree and value, and which of them
  * the round that made this state changed. A round never writes into a
  * state: it builds the next one beside it, sharing the ids and
  * out-degrees, so a task re-run from the same state computes the same
  * next state.
  */
private[engine] final class VertexState(val ids: EdgeIndex.Ids, val outdeg: Array[Int],
                                        val value: Array[Double],
                                        val changed: java.util.BitSet)
    extends Serializable {
  def size: Int = ids.length
  def changedCount: Int = changed.cardinality()

  /** The vertices as (id, outdeg, value, changed) rows, ids of type
    * `idType` — every vertex, or only the changed ones — through one
    * reused row.
    */
  def rows(idType: DataType, changedOnly: Boolean): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val row = new SpecificInternalRow(Seq(idType, IntegerType, DoubleType, BooleanType))
      private var i = if (changedOnly) changed.nextSetBit(0) else 0
      def hasNext: Boolean = i >= 0 && i < ids.length
      def next(): InternalRow = {
        EdgeIndex.setId(row, idType, ids(i))
        row.setInt(1, outdeg(i))
        row.setDouble(2, value(i))
        row.setBoolean(3, changed.get(i))
        i = if (changedOnly) changed.nextSetBit(i + 1) else i + 1
        row
      }
    }

  /** The vertices as (id LONG, value) rows, through one reused row. */
  def values: Iterator[InternalRow] = {
    val row = new SpecificInternalRow(Seq(LongType, DoubleType))
    Iterator.range(0, size).map { i =>
      row.setLong(0, ids(i))
      row.setDouble(1, value(i))
      row
    }
  }
}

private[engine] object VertexState {

  /** The seed of one partition: its (id, outdeg, value) rows, ids of type
    * `idType`, with every vertex changed.
    */
  def seed(rows: Iterator[InternalRow], idType: DataType): VertexState = {
    val (id, deg, value) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofInt,
      new ArrayBuilder.ofDouble)
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(2))
        throw new IllegalArgumentException("a vertex with a null id or initial value")
      id += (if (idType == LongType) r.getLong(0) else r.getInt(0).toLong)
      deg += r.getInt(1)
      value += r.getDouble(2)
    }
    val ids = id.result()
    val order = EdgeIndex.sortedOrder(ids)
    val sorted = EdgeIndex.permute(ids, order)
    // A vertex is one position: a repeated id would take its messages at
    // one of its positions and keep its old value at the others.
    (1 until sorted.length).find(i => sorted(i) == sorted(i - 1)).foreach { i =>
      throw new IllegalArgumentException(s"vertex ${sorted(i)} is listed more than once")
    }
    val changed = new java.util.BitSet(ids.length)
    changed.set(0, ids.length)
    new VertexState(EdgeIndex.ids(sorted),
      EdgeIndex.permute(deg.result(), order), EdgeIndex.permute(value.result(), order),
      changed)
  }

  /** `alg`'s update of one vertex: `updateCol` and the NaN-safe change test
    * over (id, value, agg) rows, ids of type `idType` and `agg` null when
    * the vertex received no message, planned once and bound like the
    * sender selection ([[Frontier.select]]). A row it evaluates is
    * (value, changed).
    */
  def update(spark: SparkSession, alg: GmrAlgorithm, meta: GraphMeta,
             idType: DataType): Frontier.Select = {
    val in = Seq(AttributeReference("id", idType, nullable = false)(),
      AttributeReference("value", DoubleType, nullable = false)(),
      AttributeReference("agg", DoubleType)())
    val rows = spark.sparkContext.emptyRDD[InternalRow]
    val updated = GraftFrames.ofRdd(spark, in, rows, UnknownPartitioning(0), Statistics(1))
      .select(col("value").as("old"),
        alg.updateCol(col("id"), col("value"), col("agg"), meta).as("value"))
      .select(col("value"),
        // NaN-safe the SQL way: |inf-inf| is NaN, and Spark SQL orders NaN
        // GREATER than every value (unlike Java, where NaN comparisons are
        // false) — without the isnan guard every unreachable vertex counts
        // as changed forever and the loop burns all 120 rounds instead of
        // converging.
        (!isnan(col("value") - col("old")) &&
          abs(col("value") - col("old")) > alg.epsilon).as("changed"))
    Frontier.select(updated.queryExecution.executedPlan, rows)
  }

  /** The state a round leaves in one partition: `prev` with `update`
    * applied, as partition `partition` evaluates it, to the vertices whose
    * reduced value is not null, or, unless `receiversOnly`, to every
    * vertex, with a null agg where none arrived. A vertex's reduced value
    * is `reduce`'s result over one buffer per vertex that `partials` merge
    * into, in map order. A destination the partition does not hold is a
    * vertex the caller did not declare, which no update reads. A vertex
    * `update` does not reach keeps its value, unchanged. `prev` is only
    * read.
    */
  def merge(prev: VertexState, partials: Iterator[Fold.Partials], reduce: Fold.Task,
            update: Frontier.Select, partition: Int, idType: DataType,
            receiversOnly: Boolean): VertexState = {
    // Merge-join each partial's ascending ids into the state's. Taken in map
    // order, a vertex's partials merge in the same order on every run.
    val buffers = reduce.buffers(prev.size)
    partials.toArray.sortBy(_.map).foreach { p =>
      var i, j = 0
      while (i < p.size) {
        val id = p.ids(i)
        while (j < prev.size && prev.ids(j) < id) j += 1
        if (j < prev.size && prev.ids(j) == id) buffers.merge(j, p, i)
        i += 1
      }
    }
    val agg = new Array[Double](prev.size)
    val received = new java.util.BitSet(prev.size)
    var i = 0
    while (i < prev.size) {
      if (buffers.isTouched(i)) {
        val r = buffers.result(i)
        if (!r.isNullAt(0)) { agg(i) = r.getDouble(0); received.set(i) }
      }
      i += 1
    }
    val eval = update.bind(partition)
    val in = new SpecificInternalRow(Seq(idType, DoubleType, DoubleType))
    val value = prev.value.clone()
    val changed = new java.util.BitSet(prev.size)
    def apply(i: Int): Unit = {
      EdgeIndex.setId(in, idType, prev.ids(i))
      in.setDouble(1, prev.value(i))
      if (received.get(i)) in.setDouble(2, agg(i)) else in.setNullAt(2)
      val out = eval(in)
      if (out.isNullAt(0))
        throw new IllegalStateException(s"the update left vertex ${prev.ids(i)} null")
      value(i) = out.getDouble(0)
      if (!out.isNullAt(1) && out.getBoolean(1)) changed.set(i)
    }
    i = if (receiversOnly) received.nextSetBit(0) else 0
    while (i >= 0 && i < prev.size) {
      apply(i)
      i = if (receiversOnly) received.nextSetBit(i + 1) else i + 1
    }
    new VertexState(prev.ids, prev.outdeg, value, changed)
  }
}
