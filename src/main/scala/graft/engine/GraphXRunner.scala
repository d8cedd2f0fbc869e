package graft.engine

import org.apache.spark.graphx.{Edge, Graph, TripletFields, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** GraphX executor for [[GmrAlgorithm]] — the same superstep algebra run
  * through `aggregateMessages`/`outerJoinVertices`. GraphX's replicated
  * vertex views play the role of the reference's predecessor mirror cache
  * (`pre*` arrays, partition.h:32-37): vertex values are shipped to the
  * edge partitions that need them, exactly like the Edge-quadruple shuffle
  * into `updateGraph` (gmr.h:128-167).
  *
  * Exists (a) as the cross-check oracle for SqlRunner — the dual-runner
  * equivalence spec mirrors the reference authors benchmarking GMR against
  * GraphX — and (b) because for high-iteration-count algorithms a
  * specialized vertex-cut engine beats repeated DataFrame joins.
  */
object GraphXRunner {

  private final case class VAttr(value: Double, changed: Boolean, outdeg: Int)

  /** Run `alg` over `edges(src, dst, weight)`; returns (id, value).
    * `numEdges` < 0 means unknown (the |E|-derived partition bound below
    * is then skipped — callers at anchor scale pass the generator count).
    */
  def run(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
          alg: GmrAlgorithm, meta: GraphMeta, numEdges: Long = -1L): DataFrame = {
    import spark.implicits._

    // Cap the edge-partition count: GraphX replicates vertex attributes
    // per EDGE PARTITION (the ShippableVertexPartition mirror views), so
    // on a dense random graph the replicated-view footprint is roughly
    // parts × (distinct vertices per partition) × attr overhead — at 64M
    // edges over 4M vertices, 32 partitions hold ~1.6M mirrors each
    // (~4 GB per graph generation, two generations live during an update)
    // where 8 partitions hold ~3.5M each (~2.2 GB total). Measured: the
    // b06 anchor OOMs a 16g driver at 32 partitions and completes in 8g
    // at low partition counts (264 s at the OOM-adjacent setting vs 109 s
    // capped). This runner is the cross-check tier, not the throughput
    // path (SqlRunner is) — trading scan parallelism for a bounded mirror
    // footprint is the right default.
    //
    // The cap is MEMORY-DERIVED, not hardcoded (r8 item): on a dense graph
    // mirrors saturate toward |V| per edge partition, so the replicated-
    // view budget is ≈ parts × |V| × MirrorBytes across the two live
    // generations — inverting: parts ≈ heap / (|V| × MirrorBytes), clamped
    // to [4, defaultParallelism]. MirrorBytes = 640 calibrates to the
    // measurements above (20 GiB heap / 4M vertices → 8 parts, the proven
    // sandbox setting). r9 measured b06 at two derived settings, both
    // OOM-free: 20g → 8 parts, 75.8 s wall, 1264 MB shuffle; 32g → 13
    // parts, 100.1 s, 1977 MB — more partitions ship more mirrors, so the
    // derivation is a SAFETY bound that widens with memory (a real-cluster
    // executor fleet needs the parallelism), not a speed optimum for this
    // single-JVM cross-check tier.
    // r12: the heap term alone is a one-sided bound — it WIDENS with heap,
    // and on a large-heap driver (the r11 gate box ran 89 GB) it stops
    // binding at all: min(parallelism=32, heap-derived=37) = 32 edge
    // partitions, and b06 measured 268.5 s there vs ~96 s at the proven
    // 8-partition layout (more partitions ⇒ more vertex-mirror replication
    // ⇒ more shuffle and GC; the same r9 A/B saw 8 parts beat 13).
    // Mirrors saturate toward |V| per DENSE-graph partition, so the right
    // partition count grows with |E|, not with heap: add an |E|-derived
    // bound (one partition per ~TargetEdgesPerPart edges — 64M edges ⇒ 8,
    // the measured optimum; a 100 TB graph still gets thousands of
    // partitions). Heap stays as the OOM-safety bound; it can only shrink
    // the count below the |E| target, never inflate it.
    val MirrorBytes = 640L
    val TargetEdgesPerPart = 8_000_000L
    val edgeDerived =
      if (numEdges > 0) ((numEdges + TargetEdgesPerPart - 1) /
        TargetEdgesPerPart).toInt
      else Int.MaxValue
    val maxEdgeParts = math.max(4, math.min(edgeDerived, math.min(
      spark.sparkContext.defaultParallelism,
      (Runtime.getRuntime.maxMemory() /
        (math.max(1L, meta.numVertices) * MirrorBytes)).toInt)))
    val sel = edges.select("src", "dst", "weight")
    val rawParts = sel.rdd.getNumPartitions
    val cappedSel =
      if (rawParts > maxEdgeParts) {
        System.err.println(s"[graphx] edge partitions capped at $maxEdgeParts " +
          s"(heap ${Runtime.getRuntime.maxMemory() >> 30}g, " +
          s"|V|=${meta.numVertices})")
        // coalesce, not a shuffle: r11 measured both ways down to the cap
        // on b06 (OPTIMIZATION_r11.md) and kept coalesce.
        sel.coalesce(maxEdgeParts)
      } else sel
    val edgeRdd = cappedSel.rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vertRdd = vertices.select("id").rdd.map(r => (r.getLong(0), ()))
    // Default vertex-cut placement: r11 measured EdgePartition2D on b06
    // and rejected it (OPTIMIZATION_r11.md).
    val base = Graph(vertRdd, edgeRdd, (),
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
    // The out-degree pass (a full aggregateMessages sweep over every edge
    // plus a vertex join) only runs when the algorithm's message hook reads
    // the degree — the same elision SqlRunner applies (guide §1.2: don't
    // compute things you throw away). SSSP/WCC/max-color ship a constant 0.
    var g: Graph[VAttr, Double] =
      if (alg.usesOutDegree) {
        val degrees = base.outDegrees
        base.outerJoinVertices(degrees) { (id, _, d) =>
          VAttr(alg.initFn(id, meta), changed = true, d.getOrElse(0))
        }.cache()
      } else base.mapVertices { (id, _) =>
        VAttr(alg.initFn(id, meta), changed = true, 0)
      }.cache()

    var iter = 0
    var changedCount = 1L
    while (iter < alg.maxIter && changedCount > 0) {
      iter += 1
      // TripletFields.Src: the send closure reads only ctx.srcAttr and the
      // edge attr, so dst attributes are declared unused — GraphX then
      // ships only SRC attrs to the edge-partition mirror views each round
      // (guide §2.3: shuffle fewer bytes; the default TripletFields.All
      // replicates both endpoints' attrs).
      val msgs = g.aggregateMessages[Double](
        ctx => {
          val a = ctx.srcAttr
          if ((!alg.activeMessaging || a.changed) && alg.sendCondFn(a.value))
            ctx.sendToDst(alg.msgFn(a.value, ctx.attr, a.outdeg))
        },
        alg.mergeFn,
        TripletFields.Src)
      val prev = g
      g = g.outerJoinVertices(msgs) { (id, attr, m) =>
        val nv = alg.updateFn(id, attr.value, m, meta)
        val delta = math.abs(nv - attr.value)
        VAttr(nv, delta > alg.epsilon, attr.outdeg) // NaN (inf-inf) => false
      }.cache()
      // Materialize BOTH views of the new graph before releasing the old
      // one: counting only the vertices leaves the edge/replicated-vertex
      // structures lazy, and unpersisting their parents then forces a full
      // recursive recompute of every prior iteration on the next
      // aggregateMessages — quadratic work that looks like a hang.
      g.edges.foreachPartition(_ => ())
      changedCount = g.vertices.filter(_._2.changed).count()
      prev.unpersistVertices(blocking = false)
      prev.edges.unpersist(blocking = false)
    }
    // Pin the (vertex-count-sized) result and release the multi-GB graph
    // state NOW instead of leaking it until session teardown: at 64M edges
    // the cached edge partitions + replicated vertex views are most of a
    // default driver heap, and the gate runs this runner back-to-back with
    // the other synthetic anchors. `base` holds its OWN cached VertexRDD
    // (the () attrs before the outerJoinVertices) — g's unpersist does not
    // reach it, only the EdgeRDD is shared.
    val out = g.vertices.map { case (id, a) => (id, a.value) }
      .toDF("id", "value").localCheckpoint(true)
    g.unpersistVertices(blocking = false)
    g.edges.unpersist(blocking = false)
    base.unpersistVertices(blocking = false)
    out
  }
}
