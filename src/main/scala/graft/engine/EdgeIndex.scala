package graft.engine

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SpecificInternalRow, UnsafeRow}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/** SqlRunner's edges as the reference keeps its subgraph, a CSR per
  * process reached through a routing table (partition.h:276-279): each
  * partition of the partitioned edges (by dst in pull mode, by src in
  * classic mode) becomes its sorted distinct source ids, where each one's
  * out-edges start, and their destinations and weights. A round's scatter
  * visits only its senders' out-edges, so its work follows the frontier
  * instead of the edge count.
  */
private[engine] object EdgeIndex {

  /** Vertex ids, stored int-width when every id of the partition fits. */
  sealed trait Ids extends Serializable {
    def length: Int
    def apply(i: Int): Long
    /** The position of `id` in these ascending ids, negative when absent. */
    def indexOf(id: Long): Int
  }

  private final class IntIds(a: Array[Int]) extends Ids {
    def length: Int = a.length
    def apply(i: Int): Long = a(i).toLong
    def indexOf(id: Long): Int =
      if (id.isValidInt) java.util.Arrays.binarySearch(a, id.toInt) else -1
  }

  private final class LongIds(a: Array[Long]) extends Ids {
    def length: Int = a.length
    def apply(i: Int): Long = a(i)
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(a, id)
  }

  private[engine] def ids(a: Array[Long], narrow: Boolean): Ids =
    if (!narrow) new LongIds(a)
    else {
      val b = new Array[Int](a.length)
      java.util.Arrays.setAll(b, (i: Int) => a(i).toInt)
      new IntIds(b)
    }

  // The element `order(i)` of `a` at i. `Array.map` would box every element.
  private[engine] def permute(a: Array[Long], order: Array[Int]): Array[Long] = {
    val out = new Array[Long](order.length)
    java.util.Arrays.setAll(out, (i: Int) => a(order(i)))
    out
  }

  private[engine] def permute(a: Array[Int], order: Array[Int]): Array[Int] = {
    val out = new Array[Int](order.length)
    java.util.Arrays.setAll(out, (i: Int) => a(order(i)))
    out
  }

  private[engine] def permute(a: Array[Double], order: Array[Int]): Array[Double] = {
    val out = new Array[Double](order.length)
    java.util.Arrays.setAll(out, (i: Int) => a(order(i)))
    out
  }

  private[engine] def fitsInt(a: Array[Long]): Boolean =
    java.util.Arrays.stream(a).allMatch(x => x == x.toInt)

  /** One partition's CSR: `dst(offsets(k) until offsets(k + 1))` are the
    * out-edges of `keys(k)`, with `weight` in step (null when no message
    * reads it) and `nullWeight` marking its nulls (null when it has none).
    */
  final class Part(val keys: Ids, val offsets: Array[Int], val dst: Ids,
                   val weight: Array[Double], val nullWeight: java.util.BitSet)
      extends Serializable

  /** `edges` — (src, dst[, weight]) rows as they are partitioned, about
    * `rowsHint` per partition — indexed partition by partition and
    * persisted; the caller unpersists it. An edge with a null endpoint is
    * left out: it joins no sender and no vertex, so it never carried a
    * message.
    */
  def build(edges: DataFrame, weighted: Boolean, rowsHint: Int): RDD[Part] = {
    val schema = edges.schema
    val (srcAt, dstAt) = (schema.fieldIndex("src"), schema.fieldIndex("dst"))
    val weightAt = if (weighted) schema.fieldIndex("weight") else -1
    val wide = schema(srcAt).dataType == LongType
    edges.queryExecution.toRdd.mapPartitions { rows =>
      val (src, dst) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
      val (weight, nulls) = (new ArrayBuilder.ofDouble, new java.util.BitSet)
      src.sizeHint(rowsHint)
      dst.sizeHint(rowsHint)
      if (weighted) weight.sizeHint(rowsHint)
      var n = 0
      def id(r: InternalRow, i: Int) = if (wide) r.getLong(i) else r.getInt(i).toLong
      rows.foreach { r =>
        if (!r.isNullAt(srcAt) && !r.isNullAt(dstAt)) {
          src += id(r, srcAt)
          dst += id(r, dstAt)
          if (weighted) {
            if (r.isNullAt(weightAt)) nulls.set(n)
            weight += (if (r.isNullAt(weightAt)) 0.0 else r.getDouble(weightAt))
          }
          n += 1
        }
      }
      val (s, d) = (src.result(), dst.result())
      val order = sortedOrder(s)
      val keys = new ArrayBuilder.ofLong
      val offsets = new ArrayBuilder.ofInt
      order.indices.foreach { i =>
        if (i == 0 || s(order(i)) != s(order(i - 1))) { keys += s(order(i)); offsets += i }
      }
      offsets += order.length
      val narrow = fitsInt(s) && fitsInt(d)
      val w = if (weighted) permute(weight.result(), order) else null
      val nullWeight = if (nulls.isEmpty) null else {
        val b = new java.util.BitSet
        order.indices.foreach(i => if (nulls.get(order(i))) b.set(i))
        b
      }
      Iterator.single(new Part(ids(keys.result(), narrow), offsets.result(),
        ids(permute(d, order), narrow), w, nullWeight))
    }.setName("edge index").persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Positions of `keys` in ascending key order, equal keys in position
    * order. Keys within a 2^32 span sort packed with their positions as
    * primitive longs; wider spans fall back to a boxed stable sort.
    */
  def sortedOrder(keys: Array[Long]): Array[Int] =
    if (keys.isEmpty) Array.emptyIntArray
    else {
      val lo = java.util.Arrays.stream(keys).min().getAsLong
      val span = java.util.Arrays.stream(keys).max().getAsLong - lo
      val order = new Array[Int](keys.length)
      if (span >= 0 && span < (1L << 32)) {
        val packed = new Array[Long](keys.length)
        java.util.Arrays.setAll(packed, (i: Int) => ((keys(i) - lo) << 31) | i)
        java.util.Arrays.sort(packed)
        java.util.Arrays.setAll(order, (i: Int) => (packed(i) & Int.MaxValue).toInt)
      } else keys.indices.sortBy(keys(_)).copyToArray(order)
      order
    }

  /** Per partition, each source id with its out-edge count there, as
    * (src, n) rows of the id width `idType`.
    */
  def degrees(index: RDD[Part], idType: DataType): RDD[InternalRow] =
    index.mapPartitions(_.flatMap { p =>
      val row = new SpecificInternalRow(Seq(idType, IntegerType))
      Iterator.range(0, p.keys.length).map { k =>
        setId(row, idType, p.keys(k))
        row.setInt(1, p.offsets(k + 1) - p.offsets(k))
        row
      }
    })

  private[engine] def setId(row: SpecificInternalRow, idType: DataType, id: Long): Unit =
    if (idType == LongType) row.setLong(0, id) else row.setInt(0, id.toInt)

  /** A message row's layout: the destination id of type `idType`, the
    * fields `payload` (ordinal, type) of the sender's row of `senderFields`
    * fields, and the edge weight when `weighted`.
    */
  final case class Layout(idType: DataType, senderFields: Int,
                          payload: Seq[(Int, DataType)], weighted: Boolean)

  /** The round's messages over `index`: one row per out-edge of a sender in
    * `senders`, laid out by `layout`, with `emitted` counting them. Each
    * partition picks its direction by size (Beamer et al., SC 2012): when
    * the senders are no more than its source ids, each sender looks up its
    * own out-edges; otherwise it walks its source ids and probes the
    * senders. Both visit the matches in id order, so the rows come out the
    * same either way.
    */
  def scatter(index: RDD[Part], senders: Broadcast[Frontier.Senders], layout: Layout,
              emitted: LongAccumulator): RDD[InternalRow] =
    index.mapPartitions(_.flatMap(part => new Scatter(part, senders.value, layout, emitted)))

  /** Classic mode's messages over `index`, laid out like the vertex state
    * `states`: each task packs the senders `side` selects as rows of
    * `fields` from its own state partition's vertices (only the changed
    * ones when `changedOnly`) and scatters them over its own index
    * partition, so no sender leaves its partition.
    */
  def scatter(index: RDD[Part], states: RDD[VertexState], side: Frontier.Select,
              changedOnly: Boolean, fields: Seq[Attribute], layout: Layout,
              emitted: LongAccumulator): RDD[InternalRow] =
    index.zipPartitions(states) { (parts, state) =>
      val (n, bytes) = side.pack(TaskContext.getPartitionId(),
        state.next().rows(layout.idType, changedOnly))
      val senders = Frontier.Packed(n, Seq(bytes)).senders(fields)
      parts.flatMap(new Scatter(_, senders, layout, emitted))
    }

  private final class Scatter(part: Part, senders: Frontier.Senders, layout: Layout,
                              emitted: LongAccumulator) extends Iterator[InternalRow] {
    private val row = new SpecificInternalRow(
      layout.idType +: layout.payload.map(_._2) ++: (if (layout.weighted) Seq(DoubleType) else Nil))
    private val (payloadAt, payloadType) = layout.payload.toArray.unzip
    private val weightAt = payloadAt.length + 1
    private val sender = new UnsafeRow(layout.senderFields)
    private val sparse = senders.size <= part.keys.length
    private val steps = if (sparse) senders.size else part.keys.length
    private var step = 0
    private var probe = 0 // dense: the first sender a later key can match
    private var edge, end = 0 // the matched sender's out-edges not yet emitted
    private var count = 0L

    def hasNext: Boolean = {
      while (edge == end && step < steps) {
        var s, k = -1
        if (sparse) {
          s = step
          k = part.keys.indexOf(senders.ids(step))
        } else {
          val key = part.keys(step)
          while (probe < senders.size && senders.ids(probe) < key) probe += 1
          if (probe < senders.size && senders.ids(probe) == key) { s = probe; k = step }
        }
        step += 1
        if (k >= 0) {
          senders.read(s, sender)
          var i = 0
          while (i < payloadAt.length) {
            if (sender.isNullAt(payloadAt(i))) row.setNullAt(i + 1)
            else row.update(i + 1, sender.get(payloadAt(i), payloadType(i)))
            i += 1
          }
          edge = part.offsets(k)
          end = part.offsets(k + 1)
        }
      }
      val more = edge < end
      if (!more && count > 0) { emitted.add(count); count = 0 }
      more
    }

    def next(): InternalRow = {
      setId(row, layout.idType, part.dst(edge))
      if (layout.weighted) {
        if (part.nullWeight != null && part.nullWeight.get(edge)) row.setNullAt(weightAt)
        else row.setDouble(weightAt, part.weight(edge))
      }
      edge += 1
      count += 1
      row
    }
  }
}
