package graft.engine

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, JoinedRow,
  SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel

/** SqlRunner's edges as the reference keeps its subgraph, a CSR per
  * process reached through a routing table (partition.h:276-279): each
  * partition of the partitioned edges (by dst in pull mode, by src in
  * classic mode) becomes its sorted distinct source ids, where each one's
  * out-edges start, and their destinations and weights, each destination
  * a slot into the partition's sorted distinct destinations. A round's
  * fold visits only its senders' out-edges and reduces their messages into
  * one buffer per slot, so its work follows the frontier instead of the
  * edge count.
  *
  * Like the reference's per-process sub-CSRs, shipped whole as arrays
  * (partition.h:281-497), the edges travel to their partitions as
  * primitive-array chunks, never a row at a time: each map task buckets
  * its edges by target partition, and each partition fills its CSR from
  * its chunks with one stable radix sort of the sources. A source's
  * out-edges keep the input order of each input partition.
  */
private[engine] object EdgeIndex {

  /** Vertex ids, stored int-width when every one of them fits. */
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

  private[engine] def ids(a: Array[Long]): Ids =
    if (!fitsInt(a)) new LongIds(a)
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

  private def fitsInt(a: Array[Long]): Boolean = {
    var i = 0
    while (i < a.length && a(i) == a(i).toInt) i += 1
    i == a.length
  }

  /** A partition's edge destinations as slots into its sorted distinct
    * destinations, char-width while there are at most 2^16 of them.
    */
  sealed trait Slots extends Serializable {
    def apply(e: Int): Int
  }

  private final class CharSlots(a: Array[Char]) extends Slots {
    def apply(e: Int): Int = a(e).toInt
  }

  private final class IntSlots(a: Array[Int]) extends Slots {
    def apply(e: Int): Int = a(e)
  }

  /** One partition's CSR: edges `offsets(k) until offsets(k + 1)` are the
    * out-edges of `keys(k)` in input order. Edge e leads to `dsts(slot(e))`,
    * `dsts` the partition's distinct destinations ascending, so a round
    * folds its messages into one buffer per slot. `weight` is in step with
    * the edges (null when no message reads it) and `nullWeight` marks its
    * nulls (null when it has none).
    */
  final class Part(val keys: Ids, val offsets: Array[Int], val dsts: Ids, val slot: Slots,
                   val weight: Array[Double], val nullWeight: java.util.BitSet)
      extends Serializable

  /** One map task's edges bound for one index partition, in input order:
    * `map` is the task's input partition and `seq` the flush that emitted
    * it, so (map, seq) orders a partition's chunks as its input does.
    */
  final class Chunk(val map: Int, val seq: Int, val src: Ids, val dst: Ids,
                    val weight: Array[Double], val nullWeight: java.util.BitSet)
      extends Serializable {
    def size: Int = src.length
  }

  /** The edges a map task buffers before it ships them as chunks: a large
    * input partition is never held whole.
    */
  private val ChunkEdges = 1 << 18

  /** `edges` — (src, dst[, weight]) rows, and any further `keys` columns —
    * indexed as `parts` partitions laid out by `HashPartitioning(keys,
    * parts)`, the layout `repartition(parts, keys)` gives them, and
    * persisted; the caller unpersists it. Each map task tags its edges with
    * that layout's own partition id expression and ships them to their
    * partitions as primitive-array [[Chunk]]s through one shuffle; each
    * partition's CSR is then filled by [[merge]], so a source's out-edges
    * keep the input order of each input partition: the same on every run,
    * and on a retry too when `edges`' rows come in a fixed order. An edge
    * with a null
    * endpoint is left out: it joins no sender and no vertex, so it never
    * carried a message.
    */
  def build(edges: DataFrame, keys: Seq[String], parts: Int, weighted: Boolean): RDD[Part] =
    shipped(edges, keys, parts, weighted)
      // The keys are partition ids, which a HashPartitioner of `parts`
      // leaves where they are.
      .partitionBy(new HashPartitioner(parts))
      .mapPartitions(cs => Iterator.single(merge(cs.map(_._2), weighted)))
      .setName("edge index").persist(StorageLevel.MEMORY_AND_DISK)

  /** The map side of [[build]]: every task's edges as (partition, chunk)
    * pairs, each edge tagged by the partition id expression of
    * `HashPartitioning(keys, parts)` over `edges`' own columns.
    */
  private[engine] def shipped(edges: DataFrame, keys: Seq[String], parts: Int,
                              weighted: Boolean): RDD[(Int, Chunk)] = {
    val out = edges.queryExecution.executedPlan.output
    def col(name: String) = out.find(_.name == name).get
    val tagged = BindReferences.bindReferences(
      HashPartitioning(keys.map(col), parts).partitionIdExpression +:
        Seq(col("src"), col("dst")) ++: (if (weighted) Seq(col("weight")) else Nil), out)
    val wide = col("src").dataType == LongType
    edges.queryExecution.toRdd.mapPartitionsWithIndex { (map, rows) =>
      val tag = UnsafeProjection.create(tagged)
      tag.initialize(map)
      chunks(rows.map(tag), map, parts, wide, weighted)
    }
  }

  /** Map task `map`'s edges as (partition, chunk) pairs, from `rows` of
    * (partition, src, dst[, weight]), ids LONG when `wide` else INT: every
    * [[ChunkEdges]] edges, each partition receives its share of them, in
    * input order, as one chunk. A null weight reads 0.0 and is marked.
    */
  private def chunks(rows: Iterator[InternalRow], map: Int, parts: Int, wide: Boolean,
                     weighted: Boolean): Iterator[(Int, Chunk)] = {
    val (part, src, dst) = (new Array[Int](ChunkEdges), new Array[Long](ChunkEdges),
      new Array[Long](ChunkEdges))
    val weight = if (weighted) new Array[Double](ChunkEdges) else null
    val nulls = new java.util.BitSet
    def id(r: InternalRow, i: Int) = if (wide) r.getLong(i) else r.getInt(i).toLong
    var seq = -1
    def flush(): Seq[(Int, Chunk)] = {
      var n = 0
      nulls.clear()
      while (n < ChunkEdges && rows.hasNext) {
        val r = rows.next()
        if (!r.isNullAt(1) && !r.isNullAt(2)) {
          part(n) = r.getInt(0)
          src(n) = id(r, 1)
          dst(n) = id(r, 2)
          if (weighted) {
            if (r.isNullAt(3)) nulls.set(n)
            weight(n) = if (r.isNullAt(3)) 0.0 else r.getDouble(3)
          }
          n += 1
        }
      }
      seq += 1
      val (order, start) = countingOrder(n, parts)(part(_))
      (0 until parts).filter(p => start(p + 1) > start(p)).map { p =>
        val at = java.util.Arrays.copyOfRange(order, start(p), start(p + 1))
        p -> new Chunk(map, seq, ids(permute(src, at)), ids(permute(dst, at)),
          if (weighted) permute(weight, at) else null, nullsAt(nulls, at))
      }
    }
    Iterator.continually(flush()).takeWhile(_.nonEmpty).flatten
  }

  /** One partition's CSR from its `chunks`, in any arrival order: their
    * edges in (map, seq) order, grouped by source with the stable
    * [[sortedOrder]].
    */
  private[engine] def merge(chunks: Iterator[Chunk], weighted: Boolean): Part = {
    val cs = chunks.toArray.sortBy(c => (c.map, c.seq))
    val n = cs.iterator.map(_.size).sum
    val (src, dst) = (new Array[Long](n), new Array[Long](n))
    val weight = if (weighted) new Array[Double](n) else null
    val nulls = new java.util.BitSet
    var at = 0
    cs.foreach { c =>
      var i = 0
      while (i < c.size) { src(at + i) = c.src(i); dst(at + i) = c.dst(i); i += 1 }
      if (weighted) System.arraycopy(c.weight, 0, weight, at, c.size)
      if (c.nullWeight != null)
        c.nullWeight.stream().forEach(i => nulls.set(at + i))
      at += c.size
    }
    val order = sortedOrder(src)
    val (keys, offsets) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofInt)
    order.indices.foreach { i =>
      if (i == 0 || src(order(i)) != src(order(i - 1))) { keys += src(order(i)); offsets += i }
    }
    offsets += n
    // Each edge's destination as its rank among the distinct destinations.
    val byDst = sortedOrder(dst)
    val (dsts, rank) = (new ArrayBuilder.ofLong, new Array[Int](n))
    var slots = -1
    byDst.indices.foreach { i =>
      if (i == 0 || dst(byDst(i)) != dst(byDst(i - 1))) { dsts += dst(byDst(i)); slots += 1 }
      rank(byDst(i)) = slots
    }
    val slot =
      if (slots < (1 << 16)) {
        val a = new Array[Char](n)
        var i = 0
        while (i < n) { a(i) = rank(order(i)).toChar; i += 1 }
        new CharSlots(a)
      } else new IntSlots(permute(rank, order))
    new Part(ids(keys.result()), offsets.result(), ids(dsts.result()), slot,
      if (weighted) permute(weight, order) else null, nullsAt(nulls, order))
  }

  /** The positions `0 until n` grouped by `bucket`, each in `0 until
    * buckets`, by one stable counting pass: bucket b's positions, in
    * ascending order, are `order(start(b) until start(b + 1))`. Returns
    * (order, start).
    */
  private[engine] def countingOrder(n: Int, buckets: Int)(
      bucket: Int => Int): (Array[Int], Array[Int]) = {
    val start = new Array[Int](buckets + 1)
    var i = 0
    while (i < n) { start(bucket(i) + 1) += 1; i += 1 }
    i = 0
    while (i < buckets) { start(i + 1) += start(i); i += 1 }
    val (next, order) = (start.clone(), new Array[Int](n))
    i = 0
    while (i < n) { val b = bucket(i); order(next(b)) = i; next(b) += 1; i += 1 }
    (order, start)
  }

  /** The positions i of `order` with `nulls(order(i))` set, or null for none. */
  private def nullsAt(nulls: java.util.BitSet, order: Array[Int]): java.util.BitSet =
    if (nulls.isEmpty) null
    else {
      val b = new java.util.BitSet
      order.indices.foreach(i => if (nulls.get(order(i))) b.set(i))
      if (b.isEmpty) null else b
    }

  /** Positions of `keys` in ascending key order, equal keys in position
    * order: a stable LSD radix sort over `key − lo`, read as unsigned, in
    * as few passes of at most 16 bits as the span needs.
    */
  def sortedOrder(keys: Array[Long]): Array[Int] = {
    val lo = java.util.Arrays.stream(keys).min().orElse(0L)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(
      java.util.Arrays.stream(keys).max().orElse(0L) - lo)
    val passes = (bits + 15) / 16
    val width = if (passes == 0) 0 else (bits + passes - 1) / passes
    (0 until passes).foldLeft(Array.range(0, keys.length)) { (order, pass) =>
      permute(order, countingOrder(keys.length, 1 << width) { i =>
        ((keys(order(i)) - lo) >>> (pass * width)).toInt & ((1 << width) - 1)
      }._1)
    }
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

  /** Folds the round's messages over `part` into `into`, whose buffers are
    * `part`'s slots: every out-edge of a sender in `senders` updates its
    * destination's buffer with the sender's row of `fields` fields, joined
    * with the edge's weight when `weighted`. Each partition picks its
    * direction by size (Beamer et al., SC 2012): when the senders are no
    * more than its source ids, each sender looks up its own out-edges;
    * otherwise it walks its source ids and probes the senders. Both visit
    * the matches in id order, so each buffer folds its messages in the same
    * order either way. Returns the count of messages folded.
    */
  def fold(part: Part, senders: Frontier.Senders, fields: Int, weighted: Boolean,
           into: Fold.Buffers): Long = {
    val sender = new UnsafeRow(fields)
    val weight = new SpecificInternalRow(Seq(DoubleType))
    val message = if (weighted) new JoinedRow(sender, weight) else sender
    val sparse = senders.size <= part.keys.length
    val steps = if (sparse) senders.size else part.keys.length
    var probe = 0 // dense: the first sender a later key can match
    var count = 0L
    var step = 0
    while (step < steps) {
      var s, k = -1
      if (sparse) {
        s = step
        k = part.keys.indexOf(senders.ids(step))
      } else {
        val key = part.keys(step)
        while (probe < senders.size && senders.ids(probe) < key) probe += 1
        if (probe < senders.size && senders.ids(probe) == key) { s = probe; k = step }
      }
      if (k >= 0) {
        senders.read(s, sender)
        var e = part.offsets(k)
        val end = part.offsets(k + 1)
        count += end - e
        while (e < end) {
          if (weighted) {
            if (part.nullWeight != null && part.nullWeight.get(e)) weight.setNullAt(0)
            else weight.setDouble(0, part.weight(e))
          }
          into.update(part.slot(e), message)
          e += 1
        }
      }
      step += 1
    }
    count
  }
}
