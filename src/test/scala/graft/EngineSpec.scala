package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.Algorithms
import graft.engine.{GmrRunner, GraphMeta, GraphXRunner, LocalRunner, SqlRunner}
import graft.sources.GraphSource

/** Golden + dual-runner tests for the GMR engine on the reference fixtures.
  * Goldens are the intended semantics (SURVEY §2.2): hand-checked for
  * small.graph/3line (FIXTURES.md §1). The reference's `result` file is NOT
  * used — it is output of the broken mid-refactor binary (its distance
  * histogram is impossible for true BFS on 4elt; see FourEltSpec).
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def toMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private lazy val small = GraphSource.readGmrText(spark, Fixtures("graph/small.graph"))
  // Reconstructed from FIXTURES.md §1 (src/test/resources/graph/3line.graph).
  private lazy val threeLine = GraphSource.readGmrText(spark,
    getClass.getResource("/graph/3line.graph").getPath)

  private val smallSsspGolden: Map[Long, Double] = Map(
    1L -> 0.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0, 5L -> 1.0, 10L -> 1.0,
    6L -> 2.0, 7L -> 2.0, 8L -> 2.0, 9L -> 2.0)

  test("SSSP small.graph matches hand golden — SqlRunner") {
    val meta = GraphMeta(small.numVertices, source = 1L)
    val got = toMap(SqlRunner.run(spark, small.vertices, small.edges, Algorithms.Sssp, meta))
    assert(got == smallSsspGolden)
  }

  test("SSSP small.graph matches hand golden — GraphXRunner") {
    val meta = GraphMeta(small.numVertices, source = 1L)
    val got = toMap(GraphXRunner.run(spark, small.vertices, small.edges, Algorithms.Sssp, meta))
    assert(got == smallSsspGolden)
  }

  test("SSSP small.graph matches hand golden — LocalRunner") {
    val meta = GraphMeta(small.numVertices, source = 1L)
    val got = toMap(LocalRunner.run(spark, small.vertices, small.edges, Algorithms.Sssp, meta))
    assert(got == smallSsspGolden)
  }

  test("PageRank standard: LocalRunner agrees with SqlRunner") {
    val meta = GraphMeta(small.numVertices)
    val alg = Algorithms.PageRank(0.85)
    val sqlR = toMap(SqlRunner.run(spark, small.vertices, small.edges, alg, meta))
    val locR = toMap(LocalRunner.run(spark, small.vertices, small.edges, alg, meta))
    sqlR.foreach { case (id, v) => assert(math.abs(v - locR(id)) < 1e-9, s"vertex $id") }
  }

  test("SSSP 3line: unreachable isolated vertex stays at infinity") {
    val meta = GraphMeta(threeLine.numVertices, source = 1L)
    val (df, stats) = SqlRunner.runWithStats(spark, threeLine.vertices,
      threeLine.edges, Algorithms.Sssp, meta)
    assert(toMap(df) == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0, 4L -> Double.PositiveInfinity))
    // Convergence regression pin: the unreachable vertex's |inf - inf| = NaN
    // must NOT count as changed (Spark SQL orders NaN above everything, the
    // opposite of Java) — with the hazard present this loop runs the full
    // 120-round cap instead of ~diameter rounds.
    assert(stats.iterations <= 4,
      s"SqlRunner took ${stats.iterations} supersteps on a diameter-2 graph")
  }

  test("WCC on symmetrized 3line: {1,2,3} and isolated {4}") {
    import spark.implicits._
    val sym = threeLine.edges
      .union(threeLine.edges.select($"dst".as("src"), $"src".as("dst"), $"weight"))
      .distinct()
    val meta = GraphMeta(threeLine.numVertices)
    val got = toMap(SqlRunner.run(spark, threeLine.vertices, sym, Algorithms.Wcc, meta))
    assert(got == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 4.0))
  }

  test("PageRank standard: dual runners agree and mass sums to 1") {
    val meta = GraphMeta(small.numVertices)
    val alg = Algorithms.PageRank(0.85)
    val sqlR = toMap(SqlRunner.run(spark, small.vertices, small.edges, alg, meta))
    val gxR = toMap(GraphXRunner.run(spark, small.vertices, small.edges, alg, meta))
    assert(sqlR.keySet == gxR.keySet)
    sqlR.foreach { case (id, v) => assert(math.abs(v - gxR(id)) < 1e-9, s"vertex $id") }
    assert(math.abs(sqlR.values.sum - 1.0) < 1e-3) // no dangling vertices in small.graph
  }

  test("PageRank parity mode (d=0.5, all-ones init): dual runners agree") {
    val meta = GraphMeta(small.numVertices)
    val alg = Algorithms.PageRank(0.5, uniformInit = true)
    val sqlR = toMap(SqlRunner.run(spark, small.vertices, small.edges, alg, meta))
    val gxR = toMap(GraphXRunner.run(spark, small.vertices, small.edges, alg, meta))
    sqlR.foreach { case (id, v) => assert(math.abs(v - gxR(id)) < 1e-9, s"vertex $id") }
  }

  test("GraphXRunner survives deep iteration (100-node path WCC)") {
    // Min-label on a path needs ~99 supersteps — catches lineage/persistence
    // bugs where each iteration silently recomputes all prior ones.
    import spark.implicits._
    val n = 100
    val edges = (1 until n).flatMap(i =>
      Seq((i.toLong, (i + 1).toLong), ((i + 1).toLong, i.toLong)))
      .toDF("src", "dst").withColumn("weight", org.apache.spark.sql.functions.lit(1.0))
    val verts = (1 to n).map(_.toLong).toDF("id")
    val t0 = System.nanoTime()
    val got = toMap(GraphXRunner.run(spark, verts, edges, Algorithms.Wcc,
      GraphMeta(n.toLong)))
    info(f"path-WCC ${(System.nanoTime() - t0) / 1e9}%.1f s for ~$n supersteps")
    assert(got.values.toSet == Set(1.0))
  }

  test("pull-mode per-round broadcasts are freed across a ~100-superstep run") {
    // r11 verdict item 8: broadcast-pull creates one senders broadcast per
    // superstep; if the ContextCleaner could not reclaim them (a strong
    // reference surviving the round), a 120-round PageRank at the vertex
    // cap would retain 120 × ~heap/64 of broadcast blocks — an OOM on
    // smaller heaps. The checkpoint's markCheckpointed is what unlinks the
    // closure references; this pins that the block count stays BOUNDED
    // (not ∝ rounds) after a deep pull-mode run.
    import spark.implicits._
    val n = 100
    val edges = (1 until n).flatMap(i =>
      Seq((i.toLong, (i + 1).toLong), ((i + 1).toLong, i.toLong)))
      .toDF("src", "dst").withColumn("weight", lit(1.0))
    val verts = (1 to n).map(_.toLong).toDF("id")
    val bm = org.apache.spark.SparkEnv.get.blockManager
    def broadcastBlocks(): Int =
      bm.getMatchingBlockIds(_.isBroadcast).map(_.name).distinct.size
    // DELTA-based: the session is shared across suites, so an absolute
    // count would measure sibling tests' ambient broadcasts. A leak here
    // is ~99 rounds × ≥2 blocks ≈ 200+ ON TOP of the baseline.
    val before = broadcastBlocks()
    val (got, stats) = SqlRunner.runWithStats(spark, verts, edges,
      Algorithms.Wcc, GraphMeta(n.toLong))
    assert(toMap(got).values.toSet == Set(1.0))
    assert(stats.iterations >= 99, s"expected ~99 supersteps, got ${stats.iterations}")
    // The cleaner is GC-driven and async: nudge it and poll with a deadline.
    val deadline = System.nanoTime() + 30L * 1000000000L
    var blocks = Int.MaxValue
    while (blocks > before + 32 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
      blocks = broadcastBlocks()
    }
    assert(blocks <= before + 32, s"$blocks broadcast blocks resident " +
      s"(was $before before the run) after a ~99-superstep pull-mode run " +
      "— per-round broadcasts leak")
  }

  test("mid-size stress: tri-runner SSSP equality on a 200k-edge random graph") {
    // Beyond the toy fixtures: a deterministic pseudo-random graph big
    // enough that the distributed runners do real multi-partition work, and
    // all three physical executors must still agree bit-for-bit.
    import spark.implicits._
    val nV = 20000L
    val edges = spark.range(0, 200000)
      .select((pmod(xxhash64($"id"), lit(nV)) + 1).as("src"),
        (pmod(xxhash64($"id" + 1000000L), lit(nV)) + 1).as("dst"))
      .filter($"src" =!= $"dst")
      .withColumn("weight", lit(1.0))
      .cache()
    val verts = spark.range(1, nV + 1).select($"id")
    val meta = GraphMeta(nV, source = 1L)
    val sqlR = toMap(SqlRunner.run(spark, verts, edges, Algorithms.Sssp, meta))
    val localR = toMap(LocalRunner.run(spark, verts, edges, Algorithms.Sssp, meta))
    val gxR = toMap(GraphXRunner.run(spark, verts, edges, Algorithms.Sssp, meta))
    assert(sqlR == localR)
    assert(sqlR == gxR)
    val reached = sqlR.count(!_._2.isInfinite)
    assert(reached > 10000, s"unexpectedly sparse reachability: $reached")
    edges.unpersist()
  }

  test("classic mode on an out-degree-skewed 200k graph matches LocalRunner") {
    // b04's shape in miniature: vertex 1 owns half of all edges (a ~100k
    // out-degree hub), whose out-edges classic mode's src-partitioned edge
    // index keeps in one partition, even with the hub threshold lowered.
    // The scatter must agree bit-for-bit with the single-task LocalRunner.
    import spark.implicits._
    val nV = 20000L
    val edges = spark.range(0, 200000)
      .select(when($"id" % 2 === 0, lit(1L))
          .otherwise(pmod(xxhash64($"id"), lit(nV)) + 1).as("src"),
        (pmod(xxhash64($"id" + 1000000L), lit(nV)) + 1).as("dst"))
      .filter($"src" =!= $"dst")
      .withColumn("weight", lit(1.0))
      .cache()
    val verts = spark.range(1, nV + 1).select($"id")
    val meta = GraphMeta(nV, source = 1L)
    sys.props.put("graft.engine.hubMinDegree", "5000")
    // Force the CLASSIC (src-partitioned) path: at 20k vertices the runner
    // would otherwise pick broadcast-pull mode, whose skew story is
    // structural (src never partitions anything) — the pull-mode salting
    // twin below covers that side.
    sys.props.put("graft.engine.broadcastPullMaxVertices", "0")
    try {
      val sqlR = toMap(SqlRunner.run(spark, verts, edges, Algorithms.Sssp, meta))
      val localR = toMap(LocalRunner.run(spark, verts, edges, Algorithms.Sssp, meta))
      assert(sqlR == localR)
    } finally {
      sys.props.remove("graft.engine.hubMinDegree")
      sys.props.remove("graft.engine.broadcastPullMaxVertices")
    }
    // Uniform default threshold: the same runner on the same graph keeps
    // the unsalted plan (no false engagement on mere 2×-mean variance).
    val (again, stats) = SqlRunner.runWithStats(spark, verts, edges, Algorithms.Sssp, meta)
    assert(stats.saltedHubs == 0 && stats.saltFactor == 1)
    assert(toMap(again).count(!_._2.isInfinite) > 10000)
    edges.unpersist()
  }

  test("pull-mode salting engages on an IN-degree-skewed graph and " +
      "preserves results") {
    // Broadcast-pull partitions the cache by dst, so the straggler risk is
    // a hot IN-degree vertex: vertex 1 receives half of all edges. The
    // probe must salt ITS shards (layout-only — no sender fan-out) and the
    // result must agree bit-for-bit with the single-task LocalRunner.
    import spark.implicits._
    val nV = 20000L
    val edges = spark.range(0, 200000)
      .select((pmod(xxhash64($"id" + 1000000L), lit(nV)) + 1).as("src"),
        when($"id" % 2 === 0, lit(1L))
          .otherwise(pmod(xxhash64($"id"), lit(nV)) + 1).as("dst"))
      .filter($"src" =!= $"dst")
      .withColumn("weight", lit(1.0))
      .cache()
    val verts = spark.range(1, nV + 1).select($"id")
    val meta = GraphMeta(nV, source = 1L)
    sys.props.put("graft.engine.hubMinDegree", "5000")
    try {
      val (df, stats) = SqlRunner.runWithStats(spark, verts, edges, Algorithms.Sssp, meta)
      val sqlR = toMap(df)
      assert(stats.saltedHubs >= 1,
        s"expected the dst-hub probe to fire, saltedHubs=${stats.saltedHubs}")
      assert(stats.saltFactor >= 2)
      val localR = toMap(LocalRunner.run(spark, verts, edges, Algorithms.Sssp, meta))
      assert(sqlR == localR)
    } finally sys.props.remove("graft.engine.hubMinDegree")
    edges.unpersist()
  }

  test("mid-size stress: tri-runner FwdMaxColor equality on the 200k graph") {
    // The SCC peel's phase-1 algebra (max-label propagation): exact merges,
    // so all three executors must agree bit-for-bit like SSSP/WCC.
    import spark.implicits._
    val nV = 20000L
    val edges = spark.range(0, 200000)
      .select((pmod(xxhash64($"id"), lit(nV)) + 1).as("src"),
        (pmod(xxhash64($"id" + 1000000L), lit(nV)) + 1).as("dst"))
      .filter($"src" =!= $"dst")
      .withColumn("weight", lit(1.0))
      .cache()
    val verts = spark.range(1, nV + 1).select($"id")
    val meta = GraphMeta(nV)
    val sqlR = toMap(SqlRunner.run(spark, verts, edges, Algorithms.FwdMaxColor, meta))
    val localR = toMap(LocalRunner.run(spark, verts, edges, Algorithms.FwdMaxColor, meta))
    val gxR = toMap(GraphXRunner.run(spark, verts, edges, Algorithms.FwdMaxColor, meta))
    assert(sqlR == localR)
    assert(sqlR == gxR)
    edges.unpersist()
  }

  test("mid-size stress: tri-runner PageRank agreement on the 200k graph") {
    // Sum-merge aggregation order differs across physical executors, so
    // agreement is to relative tolerance rather than bit-equality (the min
    // merges of SSSP/WCC are exact; PageRank's float sums are not) —
    // 3 fixed iterations, every vertex messaging (activeMessaging=false
    // exercises the non-frontier path at multi-partition scale).
    import spark.implicits._
    val nV = 20000L
    val edges = spark.range(0, 200000)
      .select((pmod(xxhash64($"id"), lit(nV)) + 1).as("src"),
        (pmod(xxhash64($"id" + 1000000L), lit(nV)) + 1).as("dst"))
      .filter($"src" =!= $"dst")
      .withColumn("weight", lit(1.0))
      .cache()
    val verts = spark.range(1, nV + 1).select($"id")
    val alg = Algorithms.PageRank(0.85, fixedIters = Some(3))
    val meta = GraphMeta(nV)
    val sqlR = toMap(SqlRunner.run(spark, verts, edges, alg, meta))
    val localR = toMap(LocalRunner.run(spark, verts, edges, alg, meta))
    val gxR = toMap(GraphXRunner.run(spark, verts, edges, alg, meta))
    def close(a: Map[Long, Double], b: Map[Long, Double]): Boolean =
      a.keySet == b.keySet && a.forall { case (k, v) =>
        math.abs(v - b(k)) <= 1e-10 * math.max(math.abs(v), math.abs(b(k)))
      }
    assert(close(sqlR, localR))
    assert(close(sqlR, gxR))
    assert(math.abs(sqlR.values.sum - 1.0) < 0.2) // mass ~conserved (dangling loss)
    // Personalized mode, whose restart term reads the vertex id, and the
    // k-core peel over the graph's symmetrization (exact integer sums).
    val ppr = Algorithms.PageRank(0.85, fixedIters = Some(3), personalized = true)
    val pMeta = GraphMeta(nV, source = 1L)
    val pprR = toMap(SqlRunner.run(spark, verts, edges, ppr, pMeta))
    assert(close(pprR, toMap(LocalRunner.run(spark, verts, edges, ppr, pMeta))))
    assert(close(pprR, toMap(GraphXRunner.run(spark, verts, edges, ppr, pMeta))))
    assert(pprR(1L) >= 0.15 && pprR.count(_._2 > 0) > 100)
    val sym = edges.union(edges.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    val kcore = Algorithms.KCore(12)
    val coreR = toMap(SqlRunner.run(spark, verts, sym, kcore, meta))
    assert(coreR == toMap(LocalRunner.run(spark, verts, sym, kcore, meta)))
    assert(coreR == toMap(GraphXRunner.run(spark, verts, sym, kcore, meta)))
    val alive = coreR.count(_._2 > 0)
    assert(alive > 0 && alive < nV, s"trivial 12-core: $alive of $nV alive")
    edges.unpersist()
  }

  test("mid-size stress: tri-runner LongestPath equality on the 200k graph's " +
      "src < dst edges") {
    // The critical-path algebra (max-relaxation of layer + 1) on a random
    // DAG big enough for multi-partition supersteps: exact max merges, so
    // all three executors must agree bit-for-bit.
    import spark.implicits._
    val nV = 20000L
    val edges = spark.range(0, 200000)
      .select((pmod(xxhash64($"id"), lit(nV)) + 1).as("src"),
        (pmod(xxhash64($"id" + 1000000L), lit(nV)) + 1).as("dst"))
      .filter($"src" < $"dst")
      .withColumn("weight", lit(1.0))
      .cache()
    val verts = spark.range(1, nV + 1).select($"id")
    val meta = GraphMeta(nV)
    val alg = Algorithms.LongestPath
    val sqlR = toMap(SqlRunner.run(spark, verts, edges, alg, meta))
    val localR = toMap(LocalRunner.run(spark, verts, edges, alg, meta))
    val gxR = toMap(GraphXRunner.run(spark, verts, edges, alg, meta))
    assert(sqlR == localR)
    assert(sqlR == gxR)
    assert(sqlR.values.max >= 10, s"unexpectedly shallow DAG: ${sqlR.values.max}")
    edges.unpersist()
  }

  test("auto's driver tier, LocalRunner and SqlRunner return identical rows") {
    // A DAG with an unreachable vertex (6: no path from source 1) and an
    // isolated vertex (7). In-degree ≤ 2 everywhere, so PageRank's sums
    // have at most two terms and are exact in any merge order.
    import spark.implicits._
    val verts = (1L to 7L).toDF("id")
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (6L, 5L))
      .toDF("src", "dst").withColumn("weight", lit(1.0))
    val sym = dag.union(dag.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    val meta = GraphMeta(7L, source = 1L)
    val cases = Seq[(graft.engine.GmrAlgorithm, DataFrame)](
      Algorithms.Sssp -> dag, Algorithms.Wcc -> sym,
      Algorithms.PageRank(0.85, fixedIters = Some(2)) -> dag,
      Algorithms.LongestPath -> dag, Algorithms.KCore(2) -> sym,
      Algorithms.PageRank(0.85, fixedIters = Some(2), personalized = true) -> dag)
    cases.foreach { case (alg, e) =>
      val viaAuto = GmrRunner.auto(spark, verts, e, alg, meta, e.count())
      // |E| ≤ DriverEdgeThreshold: the result reads only driver-side rows.
      assert(viaAuto.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        alg.name)
      val driver = toMap(viaAuto)
      assert(driver == toMap(LocalRunner.run(spark, verts, e, alg, meta)), alg.name)
      assert(driver == toMap(SqlRunner.run(spark, verts, e, alg, meta)), alg.name)
      // One edge past the driver tier, auto runs (and materializes) the
      // single-task loop.
      assert(driver == toMap(GmrRunner.auto(spark, verts, e, alg, meta,
        GmrRunner.DriverEdgeThreshold + 1)), alg.name)
    }
    assert(toMap(GmrRunner.auto(spark, verts, dag, Algorithms.Sssp, meta, 6))
      .filter(_._2.isInfinite).keySet == Set(6L, 7L))
    // No edges and no extra vertices: an empty vertex set, empty rows.
    assert(GmrRunner.autoEdges(spark, dag.limit(0), Algorithms.Wcc, GraphMeta())
      .count() == 0)
  }

  test("bfs stops at maxDepth: a longer path is cut at the cap") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    def depths(maxDepth: Int): Map[Long, Long] =
      graft.graphs.GraphOps.bfs(spark, path, source = 1L, maxDepth = maxDepth)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(depths(2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(depths(20) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    assert(depths(0) == Map(1L -> 0L))
  }

  /** The 8M-edge BFS expansion vector (dist → vertex count), recorded from
    * the gate-dumped b02 parquet — shared with GraphQueries (Bench derives
    * b02's round count from it). Strictly stronger than the count/sum/max
    * triple it replaced: compensating per-depth errors cannot cancel.
    */
  private val B02DepthGolden = graft.graphs.GraphQueries.B02DepthGolden

  test("b02 anchor depth-histogram golden: the 8M-edge CSR-loop is pinned") {
    // The ≥8M-edge anchors are rows-only at the driver's gate (no DuckDB
    // oracle is feasible there — RegistrySpec documents why), so this
    // value-locks the full b02 computation end to end: generator, stats
    // dispatch, and the single-task CSR loop at its real scale. (~4 s;
    // deliberately heavy.)
    import spark.implicits._
    val got = SparkEntry.queries("b02_sssp_rand8m")(spark, "unused")
      .groupBy($"dist").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == B02DepthGolden)
  }

  test("distributed tier matches the 8M-edge depth golden (SqlRunner)") {
    // Runner equality AT the ≥8M-edge tier, not just the 200k miniature:
    // the same b02 generator forced through the distributed superstep
    // path must reproduce the identical expansion vector, in pull mode and
    // in classic mode (the mode the 64M anchors run on a heap below the
    // broadcast-pull cap), both with narrowed ids. This is the suite's
    // heavyweight — the price of a real correctness gate on the plans the
    // 64M anchors actually run.
    import spark.implicits._
    val nV = graft.graphs.GraphQueries.B02NV
    val e = graft.graphs.GraphQueries.uniformEdges8M(spark)
      .withColumn("weight", lit(1.0))
    val v = spark.range(nV).select($"id")
    Seq("pull" -> None, "classic" -> Some("0")).foreach { case (mode, cap) =>
      cap.foreach(sys.props.put("graft.engine.broadcastPullMaxVertices", _))
      val got = try SqlRunner
        .run(spark, v, e, Algorithms.Sssp, GraphMeta(nV, source = 1L),
          numEdges = 8L * nV)
        .filter($"value" =!= Double.PositiveInfinity)
        .groupBy($"value".cast("long").as("dist"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally sys.props.remove("graft.engine.broadcastPullMaxVertices")
      assert(got == B02DepthGolden, mode)
    }
  }

  test("zero-edge graph: all three runners degenerate correctly") {
    // Vertices with NO edges — the degenerate input a loop must terminate
    // on immediately: SSSP leaves everything but the source at infinity,
    // WCC gives every vertex its own component.
    import spark.implicits._
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq.empty[(Long, Long, Double)].toDF("src", "dst", "weight")
    val meta = GraphMeta(3, source = 1L)
    val wantSssp = Map(1L -> 0.0, 2L -> Double.PositiveInfinity,
      3L -> Double.PositiveInfinity)
    assert(toMap(SqlRunner.run(spark, verts, edges, Algorithms.Sssp, meta))
      == wantSssp)
    assert(toMap(LocalRunner.run(spark, verts, edges, Algorithms.Sssp, meta))
      == wantSssp)
    assert(toMap(GraphXRunner.run(spark, verts, edges, Algorithms.Sssp, meta))
      == wantSssp)
    val wantWcc = Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0)
    assert(toMap(SqlRunner.run(spark, verts, edges, Algorithms.Wcc,
      GraphMeta(3))) == wantWcc)
    assert(toMap(LocalRunner.run(spark, verts, edges, Algorithms.Wcc,
      GraphMeta(3))) == wantWcc)
    assert(toMap(GraphXRunner.run(spark, verts, edges, Algorithms.Wcc,
      GraphMeta(3))) == wantWcc)
  }

  test("WCC dual runners agree on small.graph") {
    import spark.implicits._
    val sym = small.edges
      .union(small.edges.select($"dst".as("src"), $"src".as("dst"), $"weight"))
      .distinct()
    val meta = GraphMeta(small.numVertices)
    val sqlR = toMap(SqlRunner.run(spark, small.vertices, sym, Algorithms.Wcc, meta))
    val gxR = toMap(GraphXRunner.run(spark, small.vertices, sym, Algorithms.Wcc, meta))
    assert(sqlR == gxR)
    assert(sqlR.values.toSet == Set(1.0)) // small.graph is connected
  }
}
