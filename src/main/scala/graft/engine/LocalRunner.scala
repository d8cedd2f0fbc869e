package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Single-task executor for [[GmrAlgorithm]] — the stats-driven small-graph
  * fast path.
  *
  * Iterative vertex programs are latency-bound in any distributed engine: a
  * 69-round BFS costs 69 scheduling round-trips no matter how small the
  * graph. The reference runs such graphs in one process and wins on latency
  * (4elt SSSP: 0.28 s, BASELINE.md). This runner restores that: when the
  * edge set fits one executor's memory, the whole superstep loop runs as ONE
  * `mapPartitions` task over a local CSR, using the exact same scalar hooks
  * as GraphXRunner — so results are bit-identical across all three runners.
  *
  * This is the same physical-strategy philosophy as broadcast-hash-join
  * selection: statistics pick the local plan for small inputs, the shuffle
  * plan ([[SqlRunner]]/[[GraphXRunner]]) at scale. [[GmrRunner.auto]] makes
  * the choice on |E|.
  */
object LocalRunner {

  /** Run `alg` in a single task; returns materialized (id, value) rows. */
  def run(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
          alg: GmrAlgorithm, meta: GraphMeta): DataFrame =
    runWithStats(spark, vertices, edges, alg, meta)._1

  /** [[run]] plus this call's own [[SqlRunner.RunStats]] (CSR build and
    * input packing excluded from its seconds), carried out of the loop task
    * by an accumulator registered for this call alone and recorded for the
    * caller's [[graft.obs.RunLog.capture]].
    */
  def runWithStats(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
                   alg: GmrAlgorithm, meta: GraphMeta)
      : (DataFrame, SqlRunner.RunStats) = {
    import spark.implicits._
    val stats = spark.sparkContext.collectionAccumulator[SqlRunner.RunStats](
      s"${alg.name} loop stats")
    // coalesce(1) deliberately collapses the upstream scan into the loop
    // task: at the graph sizes that reach this runner a single-task parse
    // beats a repartition(1) exchange (measured 1.0 s vs 2.4 s warm on
    // 4elt) — the exchange's 32-task scan + shuffle overhead exceeds the
    // parse itself. The eager checkpoint runs that task, once.
    val out = packed(vertices, edges).coalesce(1).mapPartitions { rows =>
      val (vertIds, srcs, dsts, wgts) = unpack(rows)
      val (values, st) = csrLoop(vertIds, srcs, dsts, wgts, alg, meta)
      stats.add(st)
      values
    }.toDF("id", "value").localCheckpoint()
    // No partition, no task: the empty graph ran no round.
    val st = if (stats.value.isEmpty) SqlRunner.RunStats(0, 0.0, 0, 1, Nil)
      else stats.value.get(0)
    (out, graft.obs.RunLog.run(st))
  }

  /** Vertices and edges as ONE relation (kind 0 = vertex row, kind 1 =
    * edge row), so a single scan feeds the CSR build — in the loop task
    * here, or through one collect in [[GmrRunner]]'s driver tier.
    */
  private[engine] def packed(vertices: DataFrame, edges: DataFrame): DataFrame =
    vertices.select(lit(0).as("kind"), col("id").as("a"), lit(0L).as("b"),
        lit(0.0).as("w"))
      .union(edges.select(lit(1).as("kind"), col("src").as("a"),
        col("dst").as("b"), col("weight").as("w")))

  /** [[packed]] rows back into the CSR loop's input arrays. */
  private[engine] def unpack(rows: Iterator[Row])
      : (Array[Long], Array[Long], Array[Long], Array[Double]) = {
    val vertIds = mutable.ArrayBuffer.empty[Long]
    val srcs = mutable.ArrayBuffer.empty[Long]
    val dsts = mutable.ArrayBuffer.empty[Long]
    val wgts = mutable.ArrayBuffer.empty[Double]
    rows.foreach { r =>
      if (r.getInt(0) == 0) vertIds += r.getLong(1)
      else { srcs += r.getLong(1); dsts += r.getLong(2); wgts += r.getDouble(3) }
    }
    (vertIds.toArray, srcs.toArray, dsts.toArray, wgts.toArray)
  }

  /** The CSR build + superstep loop — same scalar algebra as the distributed
    * runners (active-set send, merge, update, |Δ|>ε), shared by the
    * single-task path above and [[GmrRunner]]'s driver tier. Returns the
    * (id, value) rows and the loop's [[SqlRunner.RunStats]] (CSR build
    * excluded from its seconds).
    */
  private[engine] def csrLoop(vertIds: Array[Long], srcs: Array[Long],
                              dsts: Array[Long], wgts: Array[Double],
                              alg: GmrAlgorithm, meta: GraphMeta)
      : (Iterator[(Long, Double)], SqlRunner.RunStats) = {
    val n = vertIds.length
    val idx = new mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx(vertIds(i)) = i; i += 1 }

    // CSR over local indices.
    val outdeg = new Array[Int](n)
    val m = srcs.length
    i = 0
    while (i < m) { outdeg(idx(srcs(i))) += 1; i += 1 }
    val xadj = new Array[Int](n + 1)
    i = 0
    while (i < n) { xadj(i + 1) = xadj(i) + outdeg(i); i += 1 }
    val adj = new Array[Int](m)
    val w = new Array[Double](m)
    val fill = xadj.clone()
    i = 0
    while (i < m) {
      val s = idx(srcs(i))
      adj(fill(s)) = idx(dsts(i)); w(fill(s)) = wgts(i); fill(s) += 1
      i += 1
    }

    val value = Array.tabulate(n)(j => alg.initFn(vertIds(j), meta))
    val loopT0 = System.nanoTime()
    val trace = Seq.newBuilder[Long]
    def result(iterations: Int) =
      ((0 until n).iterator.map(j => (vertIds(j), value(j))),
        SqlRunner.RunStats(iterations, (System.nanoTime() - loopT0) / 1e9,
          0, 1, trace.result()))

    // Frontier path: when a no-message update is the identity, only last
    // round's changed vertices can send and only actual receivers can
    // change — iterate those, not all n. A ~150-round mesh BFS touches
    // O(|V|+|E|) vertex-rounds total instead of 150·|V| (measured 71 ms →
    // <10 ms on 4elt); results are bit-identical to the full-scan path
    // (non-receivers keep their value by definition of idleNoOp).
    if (alg.idleNoOp && alg.activeMessaging) {
      val msg = new Array[Double](n)
      val hasMsg = new Array[Boolean](n)
      var frontier = new Array[Int](n)
      var spare = new Array[Int](n)
      val receivers = new Array[Int](n)
      var fLen = n
      var i2 = 0
      while (i2 < n) { frontier(i2) = i2; i2 += 1 }
      var iter = 0
      while (iter < alg.maxIter && fLen > 0) {
        iter += 1
        var rLen = 0
        var fi = 0
        while (fi < fLen) {
          val u = frontier(fi)
          if (alg.sendCondFn(value(u))) {
            var e = xadj(u)
            val end = xadj(u + 1)
            while (e < end) {
              val v = adj(e)
              val mv = alg.msgFn(value(u), w(e), outdeg(u))
              if (hasMsg(v)) msg(v) = alg.mergeFn(msg(v), mv)
              else { msg(v) = mv; hasMsg(v) = true; receivers(rLen) = v; rLen += 1 }
              e += 1
            }
          }
          fi += 1
        }
        var nf = 0
        var ri = 0
        while (ri < rLen) {
          val v = receivers(ri)
          val old = value(v)
          val nv = alg.updateFn(vertIds(v), old, Some(msg(v)), meta)
          value(v) = nv
          // Java NaN compares false (|inf-inf| from an unreachable merge
          // stays "unchanged"), matching the SQL path's isnan guard.
          if (math.abs(nv - old) > alg.epsilon) { spare(nf) = v; nf += 1 }
          hasMsg(v) = false
          ri += 1
        }
        val t = frontier; frontier = spare; spare = t
        fLen = nf
        trace += nf
      }
      return result(iter)
    }

    var changed = Array.fill(n)(true)
    val msg = new Array[Double](n)
    val hasMsg = new Array[Boolean](n)
    var iter = 0
    var changedCount = n.toLong
    while (iter < alg.maxIter && changedCount > 0) {
      iter += 1
      java.util.Arrays.fill(hasMsg, false)
      var u = 0
      while (u < n) {
        if ((!alg.activeMessaging || changed(u)) && alg.sendCondFn(value(u))) {
          var e = xadj(u)
          val end = xadj(u + 1)
          while (e < end) {
            val v = adj(e)
            val mv = alg.msgFn(value(u), w(e), outdeg(u))
            if (hasMsg(v)) msg(v) = alg.mergeFn(msg(v), mv)
            else { msg(v) = mv; hasMsg(v) = true }
            e += 1
          }
        }
        u += 1
      }
      val nextChanged = new Array[Boolean](n)
      changedCount = 0
      var u2 = 0
      while (u2 < n) {
        val nv = alg.updateFn(vertIds(u2), value(u2),
          if (hasMsg(u2)) Some(msg(u2)) else None, meta)
        val delta = math.abs(nv - value(u2))
        if (delta > alg.epsilon) { nextChanged(u2) = true; changedCount += 1 }
        value(u2) = nv
        u2 += 1
      }
      changed = nextChanged
      trace += changedCount
    }
    result(iter)
  }
}

/** The one place that decides where a [[GmrAlgorithm]] runs. [[auto]]
  * picks a tier from |E|, the same statistics-driven physical choice as
  * broadcast-join selection:
  *
  *  - driver (|E| ≤ [[DriverEdgeThreshold]]): one collect job pulls the
  *    graph, [[LocalRunner.csrLoop]] runs on the driver, and the result
  *    comes back as a local Dataset — no job per superstep at all;
  *  - single task (|E| ≤ [[LocalEdgeThreshold]]): [[LocalRunner.run]], the
  *    same loop in one executor task over a local CSR;
  *  - distributed: [[SqlRunner.run]]'s shuffle supersteps.
  *
  * All three run the same superstep algebra (EngineSpec pins them equal),
  * so the tier never shows in the answer, and all three return
  * materialized rows: a caller may release its inputs as soon as the call
  * returns. Each tier also returns the call's own [[SqlRunner.RunStats]]
  * (the local tiers report no salting and no round plan) and records it,
  * once, for the caller's [[graft.obs.RunLog.capture]]. `meta.numVertices`
  * ≤ 0 means unknown: the driver tier takes it from the collected vertex
  * set, the others count it.
  */
object GmrRunner {
  /** Up to this many edges the whole run stays on the driver: a graph this
    * small pays more in job scheduling than in work, so one collect beats
    * even the single-task tier's one job (g05's 15k-edge SSSP, noop-write
    * median on a 4-core local[4] box: 0.14 s single-task, 0.10 s driver).
    * 100k edge rows are ~10 MB of driver objects.
    */
  val DriverEdgeThreshold: Long = 100_000L

  /** Below this many edges the single-task local loop wins on latency AND
    * throughput: at 8M edges the measured gap is 3.4 s local vs 35 s
    * distributed (11-round SSSP, warm) — superstep shuffles only pay once
    * the CSR stops fitting one executor. 32M edges ≈ 512 MB of CSR +
    * build buffers, comfortable in an 8 GB executor; the reference itself
    * holds ~23M edges RAM-resident per MPI process on its largest graph
    * (log.txt:2-6). A deployment with bigger executors raises this the way
    * it raises the broadcast-join threshold.
    */
  val LocalEdgeThreshold: Long = 32_000_000L

  /** Below this file size a LOCAL graph file never touches the cluster:
    * parse and loop on the driver (one tiny job materializes the result).
    * The reference baseline is itself a single-node run — this tier is what
    * makes the latency comparison apples-to-apples.
    */
  val DriverFileBytesThreshold: Long = 64L * 1024 * 1024

  def auto(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
           alg: GmrAlgorithm, meta: GraphMeta, numEdges: Long): DataFrame =
    (if (numEdges <= DriverEdgeThreshold) onDriver(spark, vertices, edges, alg, meta)
    else offDriver(spark, vertices, edges, alg, meta, numEdges))._1

  /** [[auto]] over the graph whose vertex set is the endpoints of
    * `edges(src, dst, weight)` plus `extraVertices` — the shape of every
    * GraphOps vertex program. It sizes the run by counting `edges`, cached
    * so the count and the run share one computation of the upstream (and
    * released before returning); the driver tier derives the vertex set
    * from the collected edges, so it costs one collect and no vertex job.
    * Count first, then collect: a limit+collect probe instead re-ran the
    * upstream at every executeTake escalation step (measured inside l57:
    * six ~3.3 s jobs of the near-dup pair pipeline).
    */
  def autoEdges(spark: SparkSession, edges: DataFrame, alg: GmrAlgorithm,
                meta: GraphMeta, extraVertices: Seq[Long] = Nil): DataFrame =
    autoEdgesWithStats(spark, edges, alg, meta, extraVertices)._1

  /** [[autoEdges]] plus this call's own [[SqlRunner.RunStats]]. */
  def autoEdgesWithStats(spark: SparkSession, edges: DataFrame,
                         alg: GmrAlgorithm, meta: GraphMeta,
                         extraVertices: Seq[Long] = Nil)
      : (DataFrame, SqlRunner.RunStats) = {
    import spark.implicits._
    val e = edges.select($"src".cast("long").as("src"),
      $"dst".cast("long").as("dst"), $"weight").cache()
    try {
      val numEdges = e.count()
      if (numEdges <= DriverEdgeThreshold) {
        val rows = e.collect()
        val srcs = rows.map(_.getLong(0))
        val dsts = rows.map(_.getLong(1))
        loopOnDriver(spark, (srcs ++ dsts ++ extraVertices).distinct, srcs,
          dsts, rows.map(_.getDouble(2)), alg, meta)
      } else {
        val v = e.select($"src".as("id")).union(e.select($"dst".as("id")))
          .union(extraVertices.toDF("id")).distinct()
        offDriver(spark, v, e, alg, meta, numEdges)
      }
    } finally e.unpersist()
  }

  /** The driver tier of [[auto]]: collect, loop, return local rows. */
  private def onDriver(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
               alg: GmrAlgorithm, meta: GraphMeta): (DataFrame, SqlRunner.RunStats) = {
    val (vertIds, srcs, dsts, wgts) =
      LocalRunner.unpack(LocalRunner.packed(vertices, edges).collect().iterator)
    loopOnDriver(spark, vertIds, srcs, dsts, wgts, alg, meta)
  }

  /** The single-task and distributed tiers of [[auto]]. */
  private def offDriver(spark: SparkSession, vertices: DataFrame,
                        edges: DataFrame, alg: GmrAlgorithm, meta: GraphMeta,
                        numEdges: Long): (DataFrame, SqlRunner.RunStats) = {
    val m = if (meta.numVertices > 0) meta
      else meta.copy(numVertices = vertices.count())
    if (numEdges <= LocalEdgeThreshold)
      LocalRunner.runWithStats(spark, vertices, edges, alg, m)
    else SqlRunner.runWithStats(spark, vertices, edges, alg, m, numEdges)
  }

  private def loopOnDriver(spark: SparkSession, vertIds: Array[Long],
                           srcs: Array[Long], dsts: Array[Long],
                           wgts: Array[Double], alg: GmrAlgorithm,
                           meta: GraphMeta): (DataFrame, SqlRunner.RunStats) = {
    import spark.implicits._
    val m = if (meta.numVertices > 0) meta
      else meta.copy(numVertices = vertIds.length.toLong)
    val (values, stats) = LocalRunner.csrLoop(vertIds, srcs, dsts, wgts, alg, m)
    (spark.createDataset(values.toSeq).toDF("id", "value"), graft.obs.RunLog.run(stats))
  }

  /** File-backed auto-dispatch: a small local file runs wholly driver-side
    * (GMR text semantics: header, comments, 0-based shift, gap-fill — same
    * contract as [[graft.sources.GraphSource.readGmrText]], pinned equal by
    * FourEltSpec); anything larger or remote takes the distributed read +
    * [[auto]]. `metaFor` receives |V| from the header.
    */
  def autoFile(spark: SparkSession, path: String, alg: GmrAlgorithm,
               metaFor: Long => GraphMeta): DataFrame = {
    val p = if (path.startsWith("file:")) path.stripPrefix("file:") else path
    val f = new java.io.File(p)
    if (!p.contains("://") && f.isFile && f.length() <= DriverFileBytesThreshold) {
      // Hand-rolled scanner (the reference's parser is one too,
      // partition.h:81-153): first two integers per meaningful line, no
      // regex, no per-line String allocations beyond the reader's.
      val rd = new java.io.BufferedReader(new java.io.FileReader(f), 1 << 16)
      try {
        val srcs = new mutable.ArrayBuffer[Long](1 << 16)
        val dsts = new mutable.ArrayBuffer[Long](1 << 16)
        var minId = Long.MaxValue
        var nV = -1L
        var headerSeen = 0
        var line = rd.readLine()
        while (line != null) {
          val len = line.length
          var i = 0
          while (i < len && (line.charAt(i) == ' ' || line.charAt(i) == '\t')) i += 1
          if (i < len && line.charAt(i) != '#') {
            // first two unsigned ints on the line
            var a = -1L; var b = -1L; var cur = -1L
            while (i < len && b < 0) {
              val c = line.charAt(i)
              if (c >= '0' && c <= '9')
                cur = (if (cur < 0) 0L else cur) * 10 + (c - '0')
              else if (cur >= 0) {
                if (a < 0) a = cur else b = cur
                cur = -1L
              }
              i += 1
            }
            if (cur >= 0) { if (a < 0) a = cur else if (b < 0) b = cur }
            if (a >= 0) {
              if (headerSeen == 0) { nV = a; headerSeen = 1 }        // |V|
              else if (headerSeen == 1) headerSeen = 2                // |E|
              else if (b >= 0) {
                srcs += a; dsts += b
                if (a < minId) minId = a
                if (b < minId) minId = b
              }
            }
          }
          line = rd.readLine()
        }
        val shift = if (minId == 0L) 1L else 0L
        val m = srcs.length
        val sArr = new Array[Long](m); val dArr = new Array[Long](m)
        var i = 0
        while (i < m) { sArr(i) = srcs(i) + shift; dArr(i) = dsts(i) + shift; i += 1 }
        val verts = Array.tabulate(nV.toInt)(j => j + 1L) // gap-fill: 1..|V|
        loopOnDriver(spark, verts, sArr, dArr, Array.fill(m)(1.0),
          alg, metaFor(nV))._1
      } finally rd.close()
    } else {
      val g = graft.sources.GraphSource.readGmrText(spark, path)
      auto(spark, g.vertices, g.edges, alg, metaFor(g.numVertices),
        numEdges = g.numEdges)
    }
  }
}
