package graft.graphs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algos.{Algorithms, TypedAlgorithms}
import graft.engine.{GmrRunner, GraphMeta, GraphXRunner, SqlRunner, TypedRunner}
import graft.sources.GraphSource

/** Driver-facing graph query registry (SURVEY §2.4 G1–G4) over the derived
  * edge view, with recursive-CTE / self-join DuckDB oracles.
  */
object GraphQueries {

  /** The synthetic 64M-edge bench-anchor generators — ONE definition shared
    * by the b03/b04/b05 queries and Bench's exact edge-count sidecar, so a
    * generator tweak cannot silently desynchronize the throughput
    * denominators from the graph the anchors actually ran. src ≠ dst
    * filtered; weight-less (the anchor queries add their unit weight).
    */
  private[graft] val AnchorNV = 4000000L

  /** Pinned per-depth frontier-size vectors (dist → vertex count) for the
    * 64M-edge anchors — recorded once from the deterministic generators
    * and REQUIRE-checked on every gate run. Any change to the xxhash64
    * edge derivation, the dispatch, or the superstep loop's distance
    * semantics moves at least one entry; the count/sum/max summary these
    * replace could mask compensating errors.
    */
  private[graft] val B02DepthGolden: Map[Long, Long] = Map(
    0L -> 1L, 1L -> 8L, 2L -> 64L, 3L -> 512L, 4L -> 4081L, 5L -> 31981L,
    6L -> 217823L, 7L -> 615050L, 8L -> 129549L, 9L -> 608L, 10L -> 1L)
  private val B03DepthGolden: Map[Long, Long] = Map(
    0L -> 1L, 1L -> 16L, 2L -> 256L, 3L -> 4094L, 4L -> 64884L,
    5L -> 899081L, 6L -> 2948399L, 7L -> 83268L, 8L -> 1L)
  private val B04DepthGolden: Map[Long, Long] = Map(
    0L -> 1L, 1L -> 1389164L, 2L -> 2603464L, 3L -> 7370L)

  /** b07's pinned per-superstep changed-vertex counts (reference-parity
    * PageRank d=0.5, all-ones init, ε=1e-4 — README §4.1's converged-run
    * configuration) on the b03 uniform 64M-edge graph. Deltas decay
    * geometrically at rate d from the O(1) init scale, so the ε-stop
    * lands at a data-determined round count; the trace pins the whole
    * convergence trajectory, not just the final round — a damping,
    * epsilon, or update-rule regression moves entries loudly. Counts are
    * stable under shuffle-order float noise: a vertex's |Δ| sits within
    * ~1e-15 of the 1e-4 threshold with probability ~1e-7 per comparison.
    */
  private val B07ChangedGolden: Seq[Long] = Seq(
    3999417L, 4000000L, 4000000L, 4000000L, 4000000L, 4000000L, 4000000L,
    4000000L, 3999997L, 3999986L, 3999634L, 3978440L, 3001025L, 44147L, 0L)

  /** BFS/SSSP round count implied by a depth golden (max depth + 1 rounds
    * to exhaust the frontier) — Bench records b02's as a sidecar so the
    * doc-anchor generator derives throughput from the SAME source of truth
    * as the spec golden instead of a hand-synced constant.
    */
  private[graft] def goldenRounds(g: Map[Long, Long]): Int =
    g.keys.max.toInt + 1

  /** b03/b06's pinned round count (max depth + 1) — Bench derives the b06
    * GraphX-anchor throughput from the same golden the query REQUIREs.
    */
  private[graft] def b03Rounds: Int = goldenRounds(B03DepthGolden)

  private[graft] val B02NV = 1000000L

  /** The b02/b08 8M-edge generator — ONE definition shared by the registry
    * queries and the EngineSpec/TypedEngineSpec distributed-tier equality
    * tests, so an edit cannot leave the tests validating a stale copy.
    *
    * Round 10: destinations derive from md5 hex (15 chars = 60 bits →
    * mod |V|) instead of xxhash64 — bit-identical MD5 is available in
    * DuckDB ('0x'||substr(md5(...),1,15) casts to BIGINT), so the 8M-edge
    * anchors carry REAL DuckDB oracles (recursive-CTE BFS for b02, the
    * wedge-close self-join for b08) where the xxhash64 port measured ~230 s
    * for the hashes alone (r8, RegistrySpec note). Measured oracle cost:
    * edge regen 7.6 s + BFS 11.6 s + triangles 1.1 s. The 64M anchors keep
    * xxhash64 (its codegen'd long path is ~10× cheaper per edge than md5
    * string hashing, and at 64M the generator cost would leak into the
    * superstep-throughput measurement; they stay golden-pinned instead).
    */
  private[graft] def uniformEdges8M(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(8L * B02NV)
      .select(($"id" % B02NV).as("src"),
        (conv(substring(md5(concat(lit("b02:"), $"id".cast("string"))),
          1, 15), 16, 10).cast("long") % B02NV).as("dst"))
      .filter($"src" =!= $"dst")
  }

  /** The DuckDB-side rendering of [[uniformEdges8M]] — the shared FROM
    * clause of the b02/b08 oracles (md5 hex is engine-independent; both
    * sides reduce the same 60-bit prefix mod |V|).
    */
  private val edges8MSql: String =
    "SELECT (id % 1000000) AS src, " +
      "(('0x' || substr(md5('b02:' || id::VARCHAR), 1, 15))::BIGINT " +
      "% 1000000) AS dst " +
      "FROM (SELECT range AS id FROM range(8000000)) " +
      "WHERE (id % 1000000) <> " +
      "(('0x' || substr(md5('b02:' || id::VARCHAR), 1, 15))::BIGINT % 1000000)"

  /** Compute the per-depth frontier vector of an engine SSSP result and
    * REQUIRE it against the recorded golden — the shared pinning block of
    * the b03/b04 anchors (a wrong-distance regression at the real 64M
    * scale must fail the gate run loudly, not hide in a summary).
    */
  private def pinnedDepthHist(result: DataFrame, golden: Map[Long, Long],
                              tag: String): DataFrame = {
    import result.sparkSession.implicits._
    val hist = result
      .filter($"value" =!= Double.PositiveInfinity)
      .groupBy($"value".cast("long").as("dist"))
      .agg(count(lit(1)).as("n_vertices"))
      .localCheckpoint()
    val got = hist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(got == golden,
      s"$tag depth histogram drifted from the pinned golden: $got")
    hist
  }

  private[graft] def uniformEdges64M(s: SparkSession): DataFrame = {
    import s.implicits._
    s.range(16L * AnchorNV)
      .select(($"id" % AnchorNV).as("src"),
        pmod(xxhash64($"id"), lit(AnchorNV)).as("dst"))
      .filter($"src" =!= $"dst")
  }

  /** Power-law out-degree: src is log-uniform (P(src=d) ∝ 1/(d+1), a
    * Zipf-1-like law — vertex 0 owns ~4.5% of all edges).
    */
  private[graft] def skewEdges64M(s: SparkSession): DataFrame = {
    import s.implicits._
    val u = pmod(xxhash64($"id"), lit(1L << 40)).cast("double") /
      lit((1L << 40).toDouble)
    s.range(16L * AnchorNV)
      .select((pow(lit(AnchorNV.toDouble), u) - 1.0).cast("long").as("src"),
        pmod(xxhash64($"id" * 31 + 7), lit(AnchorNV)).as("dst"))
      .filter($"src" =!= $"dst")
  }

  /** The canonical derived edge view — identical text used by every oracle. */
  val edgesSql: String =
    "SELECT DISTINCT (o_custkey % 1000) AS src, (o_orderkey % 1000) AS dst " +
      "FROM orders WHERE (o_custkey % 1000) <> (o_orderkey % 1000)"

  val sparseEdgesSql: String =
    "SELECT DISTINCT (o_custkey % 1000) AS src, (o_orderkey % 1000) AS dst " +
      "FROM orders WHERE o_orderkey % 17 = 0 " +
      "AND (o_custkey % 1000) <> (o_orderkey % 1000)"

  /** The coloring view (1/171 of orders) — see [[GraphOps.colorEdges]]:
    * JP's fixpoint depth tracks density, and only this density class keeps
    * the statically-unrolled oracle feasible at every gate SF.
    */
  val colorEdgesSql: String =
    "SELECT DISTINCT (o_custkey % 1000) AS src, (o_orderkey % 1000) AS dst " +
      "FROM orders WHERE o_orderkey % 171 = 0 " +
      "AND (o_custkey % 1000) <> (o_orderkey % 1000)"

  /** The Louvain local-move CTE chain (ends at `louvainFinal`(id, label),
    * with `ue`/`dg`/`mm` in scope) — shared by the g35 and g36 oracles so
    * the partition both gates can't drift apart. Mirrors
    * [[GraphOps.louvain]]'s integer gain score term for term.
    */
  private def louvainRound(k: Int): String = {
    val parity = k % 2 // round k moves only vertices with id % 2 = parity
    s"""t$k AS (SELECT l.label AS c, CAST(sum(d.deg) AS BIGINT) AS tot
       |  FROM lv${k - 1} l JOIN dg d ON d.id = l.id GROUP BY 1),
       |k$k AS (SELECT ue.src AS id, l.label AS c, CAST(count(*) AS BIGINT) AS kin
       |  FROM ue JOIN lv${k - 1} l ON l.id = ue.dst
       |  WHERE ue.src % 2 = $parity GROUP BY 1, 2),
       |c$k AS (SELECT id, c, CAST(sum(kin) AS BIGINT) AS kin FROM (
       |    SELECT id, c, kin FROM k$k
       |    UNION ALL SELECT id, label, 0 FROM lv${k - 1}
       |    WHERE id % 2 = $parity) u GROUP BY 1, 2),
       |s$k AS MATERIALIZED (
       |  SELECT cc.id, cc.c,
       |         mm.m2 * cc.kin - d.deg *
       |           (tt.tot - CASE WHEN cc.c = l.label THEN d.deg ELSE 0 END)
       |           AS score
       |  FROM c$k cc JOIN dg d ON d.id = cc.id
       |       JOIN lv${k - 1} l ON l.id = cc.id
       |       JOIN t$k tt ON tt.c = cc.c, mm),
       |lv$k AS MATERIALIZED (
       |  SELECT id, c AS label FROM (
       |    SELECT id, c, row_number() OVER (
       |      PARTITION BY id ORDER BY score DESC, c ASC) AS rn
       |    FROM s$k) x WHERE rn = 1
       |  UNION ALL
       |  SELECT id, label FROM lv${k - 1} WHERE id % 2 <> $parity)""".stripMargin
  }

  /** Ends at `lv${GraphOps.LouvainRounds}` — the unroll depth is the SAME
    * constant the registry passes to the Spark loop, so a rounds change
    * moves both sides together.
    */
  private lazy val louvainCte: String =
    s"""e0 AS ($sparseEdgesSql),
       |ue AS MATERIALIZED (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |dg AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
       |  FROM ue GROUP BY src),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM ue),
       |lv0 AS (SELECT id, id AS label FROM dg),
       |${(1 to GraphOps.LouvainRounds).map(louvainRound).mkString(",\n")}""".stripMargin

  private val louvainFinal: String = s"lv${GraphOps.LouvainRounds}"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BFS levels from vertex 1: unit-weight SSSP capped at 20 hops through
    // GmrRunner (semantics in GraphOps.bfs).
    "g01_sssp_bfs" -> ((s, dir) =>
      GraphOps.bfs(s, GraphOps.edges(s, dir))),
    "g02_triangles" -> ((s, dir) =>
      GraphOps.triangleCount(s, GraphOps.edges(s, dir))),
    "g03_pagerank2" -> ((s, dir) => {
      import s.implicits._
      GraphOps.pagerank2(s, GraphOps.edges(s, dir))
        .select($"id", graft.Canon.sig6($"rank").as("rank"))
    }),
    // Min-label WCC over both orientations of the sparse view through
    // GmrRunner (semantics in GraphOps.wcc).
    "g04_wcc" -> ((s, dir) =>
      GraphOps.wcc(s, GraphOps.sparseEdges(s, dir))),
    // Same answers as g01 through the engine directly, without the hop cap.
    // At these edge counts GmrRunner picks its driver tier; the single-task
    // and distributed tiers stay gated by g06/b02 and the test suite.
    "g05_sssp_engine" -> ((s, dir) => {
      import s.implicits._
      val e = GraphOps.edges(s, dir).withColumn("weight", lit(1.0))
      GmrRunner.autoEdges(s, e, Algorithms.Sssp, GraphMeta(source = 1L))
        .filter($"value" =!= Double.PositiveInfinity)
        .select($"id", $"value".cast("long").as("dist"))
    }),
    "g06_wcc_engine" -> ((s, dir) => {
      import s.implicits._
      val e0 = GraphOps.sparseEdges(s, dir)
      val e = e0.union(e0.select($"dst".as("src"), $"src".as("dst"))).distinct()
        .withColumn("weight", lit(1.0))
      val v = e.select($"src".as("id")).distinct()
      SqlRunner.run(s, v, e, Algorithms.Wcc, GraphMeta(v.count()))
        .select($"id", $"value".cast("long").as("comp"))
    }),
    // Per-vertex triangle count: the reference's accu-mode output shape
    // (each triangle a<b<c credited to vertex a, algorithms.h:156-166).
    "g07_triangles_pervertex" -> ((s, dir) => {
      import s.implicits._
      val e = GraphOps.edges(s, dir)
      val ue = e.select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
        .filter($"a" =!= $"b").distinct()
      ue.as("e1")
        .join(ue.as("e2"), $"e2.a" === $"e1.b")
        .join(ue.as("e3"), $"e3.a" === $"e1.a" && $"e3.b" === $"e2.b")
        .groupBy($"e1.a".as("id"))
        .agg(count(lit(1)).as("n_tri"))
    }),
    // PageRank through the engine at a fixed 2 iterations — shares the
    // statically-unrolled g03 oracle, gating the runner's PageRank path.
    "g08_pagerank_engine" -> ((s, dir) => {
      import s.implicits._
      val e = GraphOps.edges(s, dir).withColumn("weight", lit(1.0))
      GmrRunner.autoEdges(s, e, Algorithms.PageRank(0.85, fixedIters = Some(2)),
          GraphMeta())
        .select($"id", graft.Canon.sig6($"value").as("rank"))
    }),
    // The GraphX executor of the same algebra, gated by the same oracle as
    // g04/g06 — all three runners of GmrAlgorithm are now in the gate.
    "g12_wcc_graphx" -> ((s, dir) => {
      import s.implicits._
      val e0 = GraphOps.sparseEdges(s, dir)
      val e = e0.union(e0.select($"dst".as("src"), $"src".as("dst"))).distinct()
        .withColumn("weight", lit(1.0))
      val v = e.select($"src".as("id")).distinct()
      GraphXRunner.run(s, v, e, Algorithms.Wcc, GraphMeta(v.count()))
        .select($"id", $"value".cast("long").as("comp"))
    }),
    // Weighted SSSP through the engine: true shortest paths (the reference
    // forces unit weights, algorithms.h:17-18 — this is the generalization
    // its API declares). Weights are a pure function of (src,dst) so the
    // oracle computes the identical graph.
    "g10_sssp_weighted" -> ((s, dir) => {
      import s.implicits._
      val e = GraphOps.edges(s, dir)
        .withColumn("weight",
          (($"src" * 7 + $"dst" * 13) % 9 + 1).cast("double"))
      GmrRunner.autoEdges(s, e, Algorithms.Sssp, GraphMeta(source = 1L))
        .filter($"value" =!= Double.PositiveInfinity)
        .select($"id", $"value".cast("long").as("dist"))
    }),
    // SCC — the reference's stronglyConnectedComponents stub
    // (algorithms.h:214) done via GraphX's vertex-cut SCC; labels are the
    // smallest vertex id per component, matching the closure oracle.
    "g09_scc" -> ((s, dir) => {
      import s.implicits._
      val e = GraphOps.sparseEdges(s, dir)
      val edgeRdd = e.rdd.map(r =>
        org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), ()))
      val g = org.apache.spark.graphx.Graph.fromEdges(edgeRdd, ())
      g.stronglyConnectedComponents(numIter = 50)
        .vertices.map { case (id, comp) => (id, comp) }.toDF("id", "comp")
    }),
    // SCC through the ENGINE: FW-BW coloring, two GmrAlgorithm fixpoints
    // per peel round (forward max-color + backward reach via a virtual
    // source), driver-orchestrated — same answers as g09's GraphX path,
    // same oracle.
    "g19_scc_engine" -> ((s, dir) =>
      Scc.sccEngine(s, GraphOps.sparseEdges(s, dir))),
    // Label propagation (community detection), 2 synchronous rounds with
    // deterministic ties — the companion to WCC on the stub ledger
    // (algorithms.h:210-214 declares component intent; LPA is the
    // community-structure generalization GraphX also ships).
    "g13_lpa2" -> ((s, dir) =>
      GraphOps.lpa(s, GraphOps.sparseEdges(s, dir), rounds = 2)),
    // Personalized PageRank from vertex 1 (random walk with restart): the
    // reference's PageRank generalized to a seed-similarity query — the
    // same damped-contribution round, mass teleporting to the source.
    // Zero-mass vertices dropped so the result is the source's neighborhood.
    "g17_ppr2" -> ((s, dir) => {
      import s.implicits._
      GraphOps.ppr2(s, GraphOps.edges(s, dir))
        .select($"id", graft.Canon.sig6($"rank").as("rank"))
    }),
    // Degree distribution — the reference ships a dedicated degree-analysis
    // artifact (实验数据.xlsx sheet5: the soc-LiveJournal1 in-degree
    // histogram that motivated its skew posture); this is that analysis as
    // a first-class query: per-vertex in/out degree, then the histogram.
    "g14_degree_hist" -> ((s, dir) => {
      import s.implicits._
      val e = GraphOps.edges(s, dir)
      val outDeg = e.groupBy($"src".as("id")).agg(count(lit(1)).as("deg"))
        .withColumn("side", lit("out"))
      val inDeg = e.groupBy($"dst".as("id")).agg(count(lit(1)).as("deg"))
        .withColumn("side", lit("in"))
      outDeg.union(inDeg)
        .groupBy($"side", $"deg")
        .agg(count(lit(1)).as("n_vertices"))
    }),
    // k-core decomposition (iterative peeling). Oracle-checked since round
    // 5 via a statically UNROLLED peel (the measured fixpoint is 6 rounds at
    // sf0.001 and 0 at larger SFs; 24 unrolled rounds give 4× margin and
    // converged rounds are idempotent) — see kcoreOracle. Runs on the dense
    // view: its 3-core is non-trivial at every scale factor (sf0.001 peels
    // 1000 vertices down to 120; the sparse view is a forest below sf0.1
    // and would peel to nothing). GraphAlgoSpec pins hand goldens + the
    // membership invariant.
    "g15_kcore3" -> ((s, dir) =>
      GraphOps.kcore(s, GraphOps.edges(s, dir), k = 3)),
    // Edge-cohesion mining one rung up from g15: the 3-truss (every edge
    // closes ≥1 triangle within the subgraph). Dense view, like g15 — the
    // sparse view is triangle-free below sf0.1 and would peel to nothing.
    "g21_ktruss3" -> ((s, dir) =>
      GraphOps.ktruss(s, GraphOps.edges(s, dir), k = 3)),
    // Per-vertex local clustering coefficient (true triangle
    // participation, all three corners credited) — dense view like
    // g07/g15/g21.
    "g23_clustering" -> ((s, dir) =>
      GraphOps.clusteringCoef(s, GraphOps.edges(s, dir))),
    // Degree assortativity: Pearson correlation of endpoint degrees over
    // the symmetric edge set — do hubs attach to hubs? All sums are
    // integers (exact on both engines); only the closing formula is
    // floating, rounded once on the shared grid. One number for the whole
    // graph, the structure signal the reference's degree histogram
    // (g14, 实验数据.xlsx sheet5) stops short of.
    "g24_assortativity" -> ((s, dir) =>
      GraphOps.assortativity(s, GraphOps.edges(s, dir))),
    // Deterministic MAXIMAL MATCHING (Luby-style symmetry breaking):
    // min-priority-at-both-endpoints selection per round on the shrinking
    // remainder, to the fixpoint. Oracle = the same rounds statically
    // unrolled (GraphOps.MatchRounds deep — converged rounds are
    // idempotent) with row_number argmins over identical md5 priorities.
    // The engine loops to the TRUE fixpoint, so a graph needing more than
    // the oracle's static unroll must fail HERE with a depth error, not
    // downstream as an inscrutable hash mismatch; ×2 headroom keeps the
    // guard ahead of gradual graph growth.
    "g26_matching" -> ((s, dir) => {
      val run = GraphOps.maximalMatchingRun(s, GraphOps.edges(s, dir))
      require(run.rounds * 2 <= GraphOps.MatchRounds,
        s"matching fixpoint ${run.rounds} rounds exceeds half the g26 " +
          s"oracle's static unroll (${GraphOps.MatchRounds}) — deepen " +
          "GraphOps.MatchRounds")
      run.pairs
    }),
    // Luby MIS — the vertex-side sibling of g26's matching, same depth
    // guard: the engine loops to the TRUE fixpoint, the oracle unrolls a
    // fixed 2x-headroom depth.
    "g27_mis" -> ((s, dir) => {
      val run = GraphOps.maximalIndependentSetRun(s, GraphOps.edges(s, dir))
      require(run.rounds * 2 <= GraphOps.MisRounds,
        s"MIS fixpoint ${run.rounds} rounds exceeds half the g27 " +
          s"oracle's static unroll (${GraphOps.MisRounds}) — deepen " +
          "GraphOps.MisRounds")
      run.members
    }),
    // Jones–Plassmann greedy coloring — the coloring member of the Luby
    // symmetry-breaking family (g26 matching, g27 MIS): static md5
    // priorities, each round the priority-local maxima of the uncolored
    // remainder take the greedy mex over their already-colored neighbors.
    // Same fixpoint/static-unroll contract as g26/g27: the engine loops to
    // the TRUE fixpoint, the oracle unrolls 2x-headroom deep, and a graph
    // needing more rounds fails HERE with a depth error.
    "g30_coloring" -> ((s, dir) => {
      val run = GraphOps.greedyColoringRun(s, GraphOps.colorEdges(s, dir))
      require(run.rounds * 2 <= GraphOps.ColorRounds,
        s"coloring fixpoint ${run.rounds} rounds exceeds half the g30 " +
          s"oracle's static unroll (${GraphOps.ColorRounds}) — deepen " +
          "GraphOps.ColorRounds")
      run.colors
    }),
    // HITS hubs & authorities, two unrolled full iterations — the
    // link-analysis companion to g03's PageRank: mutual reinforcement
    // (good hubs point at good authorities) instead of damped mass flow.
    // Every normalized vector lands on the shared 9-sig grid on both
    // engines (see GraphOps.hits), so the four chained matvecs stay
    // value-locked.
    "g28_hits" -> ((s, dir) =>
      GraphOps.hits(s, GraphOps.edges(s, dir))),
    // Deterministic hash-seeded random walks (node2vec-style embedding
    // corpus): per-(start, step) argmin-md5 next-hop, 3 steps — the
    // "sentences" a graph-embedding model trains on, reproducible
    // bit-for-bit on any engine (no RNG state). Oracle = the same three
    // steps unrolled with row_number argmin over the identical md5
    // bucket arithmetic.
    "g25_random_walks" -> ((s, dir) =>
      GraphOps.randomWalks(s, GraphOps.edges(s, dir))),
    // Bipartite projection: the order–part incidence graph (a REAL
    // bipartite source, not the derived edge view) projected onto parts —
    // co-purchase pair counts, the market-basket/recommender primitive.
    // Scale shape: the self-join key is the order, so pair expansion is
    // bounded by order size squared (≤7 lineitems in TPC-H shapes), never
    // by part popularity; the top-k cut is a total order (cnt desc, pair
    // asc) and plans as TakeOrdered.
    "g22_copurchase" -> ((s, dir) => {
      import s.implicits._
      val li = graft.Tables.load(s, dir, "lineitem")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      li.as("a").join(li.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
        .groupBy($"a.pk".as("part_a"), $"b.pk".as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"n_orders".desc, $"part_a".asc, $"part_b".asc)
        .limit(20)
    }),
    // Link prediction by common-neighbor count: top-20 vertex pairs sharing
    // the most neighbors (deterministic tiebreak on the pair itself). The
    // wedge join runs on the sparse view; top-k plans as TakeOrdered.
    "g16_common_neighbors" -> ((s, dir) => {
      import s.implicits._
      val sym = GraphOps.symmetrize(s, GraphOps.sparseEdges(s, dir),
        dropSelfLoops = true)
      sym.as("x").join(sym.as("y"),
          $"x.dst" === $"y.dst" && $"x.src" < $"y.src")
        .groupBy($"x.src".as("a"), $"y.src".as("b"))
        .agg(count(lit(1)).as("cn"))
        .orderBy($"cn".desc, $"a".asc, $"b".asc)
        .limit(20)
    }),
    // Adamic-Adar link prediction — g16's common-neighbor count with the
    // standard rare-neighbor weighting: AA(a,b) = Σ_{z∈N(a)∩N(b)} 1/ln(deg z)
    // (a shared obscure neighbor is stronger evidence than a shared hub).
    // Any common neighbor has symmetric degree ≥ 2, so ln(deg) ≥ ln 2 — no
    // zero-division arm is needed. Scale posture = g16's: the pair
    // expansion self-joins on the shared-neighbor key, so the blowup is
    // bounded by degree, and the top-20 is a (rounded aa, a, b) total
    // order planned as TakeOrdered. The per-pair sum is rounded on the
    // shared grid; ln's 1-ulp libm variation collapses there (the g03/g17
    // division-noise class).
    "g29_adamic_adar" -> ((s, dir) => {
      import s.implicits._
      val sym = GraphOps.symmetrize(s, GraphOps.sparseEdges(s, dir),
        dropSelfLoops = true)
      val deg = sym.groupBy($"src".as("z"))
        .agg(count(lit(1)).cast("double").as("dz"))
      sym.as("x").join(sym.as("y"),
          $"x.dst" === $"y.dst" && $"x.src" < $"y.src")
        .join(deg, $"x.dst" === $"z")
        .groupBy($"x.src".as("a"), $"y.src".as("b"))
        .agg(count(lit(1)).as("cn"),
          graft.Canon.sig6(sum(lit(1.0) / log($"dz"))).as("aa"))
        .orderBy($"aa".desc, $"a".asc, $"b".asc)
        .limit(20)
    }),
    // Hop-bounded harmonic centrality: H4(v) = Σ_{u : 0 < d(u→v) ≤ 4} 1/d
    // (semantics + scale posture in GraphOps.harmonic4's doc).
    "g20_harmonic4" -> ((s, dir) =>
      GraphOps.harmonic4(s, GraphOps.sparseEdges(s, dir))),
    // 4-cycle (square) MOTIF COUNT — the next motif up from the
    // reference's triangles (algorithms.h:117-195 counts the 3-cycle;
    // squares are the bipartite-community signal triangles cannot see):
    // #C4 = ½ Σ_{a<b} C(cn(a,b), 2) — every square is counted once by
    // each of its two diagonal pairs. Pure integer arithmetic end to end
    // (the pair sum is even by construction). Scale posture = g16's: the
    // common-neighbor expansion self-joins on the shared-neighbor key, so
    // the blowup is degree-bounded, and the result is one global
    // aggregate — no per-pair state survives the sum.
    "g32_squares" -> ((s, dir) => {
      import s.implicits._
      val sym = GraphOps.symmetrize(s, GraphOps.sparseEdges(s, dir),
        dropSelfLoops = true)
      sym.as("x").join(sym.as("y"),
          $"x.dst" === $"y.dst" && $"x.src" < $"y.src")
        .groupBy($"x.src".as("a"), $"y.src".as("b"))
        .agg(count(lit(1)).as("cn"))
        .agg(expr(
          "CAST(sum((cn * (cn - 1)) DIV 2) DIV 2 AS BIGINT) AS squares"))
    }),
    // Hop-bounded betweenness centrality (exact Brandes within the 4-hop
    // horizon): who must shortest-path traffic pass THROUGH — the flow
    // companion to g20's nearness. Forward integer path counts + backward
    // dependency accumulation over the shortest-path DAG, every δ stage
    // grid-rounded (semantics + scale posture in GraphOps.betweenness4).
    "g31_betweenness4" -> ((s, dir) =>
      GraphOps.betweenness4(s, GraphOps.sparseEdges(s, dir))),
    // HyperANF: N(h) = pairs within h hops via per-vertex HLL ball
    // sketches (one edge-keyed shuffle per round, never a pair
    // expansion); gated with the q12 device — exact N(h) + tolerance
    // verdict in the output (semantics + scale posture in GraphOps.anf3).
    "g33_anf" -> ((s, dir) =>
      GraphOps.anf3(s, GraphOps.sparseEdges(s, dir))),
    // Full k-core decomposition (coreness per vertex) by the H-index
    // iteration — g15 answers one k's membership, this the whole peeling
    // order (semantics + scale posture in GraphOps.coreness).
    "g34_coreness" -> ((s, dir) =>
      GraphOps.coreness(s, GraphOps.sparseEdges(s, dir))),
    // Louvain phase-1 (synchronous local-move, 2 rounds): the
    // modularity-gain sibling of g13's frequency-vote LPA — integer-exact
    // scoring so the oracle replays it bit-for-bit (semantics + scale
    // posture in GraphOps.louvain).
    "g35_louvain2" -> ((s, dir) =>
      GraphOps.louvain(s, GraphOps.sparseEdges(s, dir))),
    // Modularity Q of the g35 partition, integer-exact numerator over
    // (2m)² — the partition-quality scalar beside the partition itself.
    "g36_modularity" -> ((s, dir) =>
      GraphOps.modularity(s, GraphOps.sparseEdges(s, dir))),
    // Longest-path layering of the DAG view (src < dst): critical-path /
    // earliest-start scheduling ticks, Algorithms.LongestPath through
    // GmrRunner (semantics in GraphOps.criticalPath).
    "g37_critical_path" -> ((s, dir) =>
      GraphOps.criticalPath(s, GraphOps.sparseEdges(s, dir))),
    // Katz centrality truncated at length 3: integer walk counts via
    // chained edge aggregations, exact-decimal α weights (semantics in
    // GraphOps.katz3).
    "g38_katz3" -> ((s, dir) =>
      GraphOps.katz3(s, GraphOps.sparseEdges(s, dir))),
    // Bipartiteness / 2-coloring per component with odd-cycle conflict
    // counts (semantics + scale posture in GraphOps.bipartite).
    "g39_bipartite" -> ((s, dir) =>
      GraphOps.bipartite(s, GraphOps.sparseEdges(s, dir))),
    // Rich-club coefficient at three degree thresholds (semantics + scale
    // posture in GraphOps.richClub) — dense view, where the degree
    // distribution actually spans the thresholds.
    "g40_rich_club" -> ((s, dir) =>
      GraphOps.richClub(s, GraphOps.edges(s, dir))),
    // Double-sweep diameter lower bound: two chained BFS passes from a
    // canonical seed (GraphOps.doubleSweep).
    "g41_diameter2" -> ((s, dir) =>
      GraphOps.doubleSweep(s, GraphOps.sparseEdges(s, dir))),
    // SCC condensation / DAG verdict over the directed sparse view
    // (GraphOps.condensation, on Scc.sccEngine's labels).
    "g42_condense" -> ((s, dir) =>
      GraphOps.condensation(s, GraphOps.sparseEdges(s, dir))),
    // Hop-bounded effective diameter from the ANF ball sketches
    // (GraphOps.effDiameter — g33's loop with the 90%-coverage cut).
    "g43_eff_diameter" -> ((s, dir) =>
      GraphOps.effDiameter(s, GraphOps.sparseEdges(s, dir))),
    // One-row graph profile / dataset card (GraphOps.graphProfile) on the
    // dense view, where g02's triangle join already runs.
    "g44_graph_profile" -> ((s, dir) =>
      GraphOps.graphProfile(s, GraphOps.edges(s, dir))),
    // Per-vertex triangles through the TYPED engine tier — the triangle
    // credited to its MIDDLE vertex, computed by shipping adjacency lists
    // as messages (the reference's own TriangleCount shape,
    // algorithms.h:134-166) with composite (adjacency, count) state.
    // Gates TypedRunner's list-payload path behind the DuckDB oracle.
    "g18_triangles_engine" -> ((s, dir) => {
      import s.implicits._
      val sym = GraphOps.symmetrize(s, GraphOps.edges(s, dir),
          dropSelfLoops = true)
        .withColumn("weight", lit(1.0))
      val v = sym.select($"src".as("id")).distinct()
      TypedRunner.run(s, v, sym,
          TypedAlgorithms.TrianglesPerMidVertex, GraphMeta(0L))
        .map { case (id, (_, n)) => (id, n) }
        .toDF("id", "n_tri")
        .filter($"n_tri" > 0)
    }),
    // BENCH anchor: SSSP on the reference's 4elt mesh through the
    // file-backed auto runner (a sub-MB local file parses and loops wholly
    // driver-side — the native baseline is also a single-node run) —
    // directly comparable to BASELINE.md's 0.28 s. Rows-only check.
    "b01_sssp_4elt" -> ((s, dir) => {
      import s.implicits._
      GmrRunner.autoFile(s, "/root/reference/graph/4elt.graph",
          Algorithms.Sssp, n => GraphMeta(n, source = 1L))
        .select($"id", $"value".cast("long").as("dist"))
    }),
    // BENCH anchor 2: SSSP on a deterministic 8M-edge random graph (1M
    // vertices × 8 out-edges via xxhash64) — the scale-comparable for
    // BASELINE.md's soc-LiveJournal1 throughput anchor (~7-8M directed
    // edge-relaxations/s over 15 rounds on 3 RAM-resident MPI procs).
    // Auto-dispatch picks the single-task CSR loop (8M edges ≈ 128 MB,
    // far under the 32M local threshold): 11 rounds in ~3.5 s warm
    // ≈ 26M relaxations/s, ~3× the reference's like-for-like local-loop
    // throughput; the distributed superstep path measured 35 s here and
    // only wins once the CSR outgrows one executor (it stays oracle-gated
    // via g06 and stress-tested in EngineSpec). Oracle-gated since round
    // 10: DuckDB regenerates the md5-derived graph and recomputes every
    // vertex's BFS depth via a recursive CTE — the full 1M-row (id, dist)
    // relation hash-compares, retiring the depth-golden pin's weaker
    // self-reference (EngineSpec/TypedEngineSpec keep the golden as the
    // cross-runner equality pin at this tier).
    "b02_sssp_rand8m" -> ((s, dir) => {
      import s.implicits._
      // Materialize the generated edges in PARALLEL before the single-task
      // CSR loop: LocalRunner's coalesce(1) otherwise collapses the
      // upstream md5 generation into the loop task (measured ~16 s
      // single-threaded vs ~1 s across local[32]) — the anchor must
      // measure the relaxation loop, not one-core hashing. The loop task
      // then reads the checkpointed blocks; Bench/Verify sweep the
      // persisted RDD after the query like every other anchor.
      val e = uniformEdges8M(s).withColumn("weight", lit(1.0))
        .localCheckpoint()
      val v = s.range(B02NV).select($"id")
      GmrRunner.auto(s, v, e, Algorithms.Sssp,
          GraphMeta(B02NV, source = 1L), numEdges = 8L * B02NV)
        .filter($"value" =!= Double.PositiveInfinity)
        .select($"id", $"value".cast("long").as("dist"))
    }),
    // BENCH anchor 3: the DISTRIBUTED superstep tier, measured at a size
    // where it is the chosen plan. 4M vertices × 16 deterministic
    // out-edges = 64M edges — 2× the 32M local-CSR threshold, so
    // GmrRunner.auto dispatches to SqlRunner and the whole run goes
    // through the cached-pre-partitioned edge join + shuffle supersteps.
    // Total edge relaxations ≈ |E| (unit-weight SSSP activates each
    // vertex once), so edges/s ≈ 64M / seconds — comparable to
    // BASELINE.md's ~7.1M edge-relaxations/s soc-LiveJournal1 anchor
    // (log.txt:53-55). Output is the per-depth frontier-size vector
    // (deterministic graph → deterministic distances), REQUIRE-pinned
    // against the recorded golden: a wrong-distance regression at the
    // 64M-edge distributed tier fails the gate run loudly instead of
    // hiding inside a 1-row count/sum/max summary. Runner equality vs the
    // local CSR loop is additionally pinned by EngineSpec at 8M edges.
    "b03_sssp_rand64m" -> ((s, dir) => {
      import s.implicits._
      val nV = AnchorNV
      val m = 16L * nV
      val e = uniformEdges64M(s).withColumn("weight", lit(1.0))
      val v = s.range(nV).select($"id")
      // UnitWeighted: this graph IS unit-weight (the lit(1.0) above), so
      // declaring it lets the runner drop the constant weight column from
      // the per-superstep cache — identical distances by definition.
      pinnedDepthHist(GmrRunner.auto(s, v, e,
        Algorithms.UnitWeighted(Algorithms.Sssp),
        GraphMeta(nV, source = 1L), numEdges = m), B03DepthGolden, "b03")
    }),
    // BENCH anchor 4: the distributed tier under POWER-LAW OUT-DEGREE SKEW
    // — the regime the reference's own degree-histogram artifact motivates
    // (soc-LiveJournal1, 实验数据.xlsx sheet5) and the one b03's uniform
    // xxhash64 destinations cannot exercise. Same 4M×16 = 64M scale, but
    // src is log-uniform (P(src=d) ∝ 1/(d+1), a Zipf-1-like out-degree
    // law): vertex 0 owns ~4.5% of ALL edges (~2.9M out-edges ≈ 6× a mean
    // loop partition), exactly the hash-partitioning straggler shape.
    // SqlRunner's edge index holds the hub's out-edges at 4–8 B each in
    // classic mode's src layout and spreads them over the dst partitions
    // in pull mode, whose in-degree probe salts hot destinations (see the
    // SKEW PROBE block in SqlRunner) — the bench persists
    // b04_salted_hubs/b04_salt_factor beside the throughput so the
    // engagement is a recorded artifact. Like b03, the output is the
    // REQUIRE-pinned per-depth frontier vector — the skewed scatter is
    // value-locked at its real 64M scale, not just at EngineSpec's
    // 200k-edge miniature.
    "b04_sssp_skew64m" -> ((s, dir) => {
      import s.implicits._
      val nV = AnchorNV
      val m = 16L * nV
      val e = skewEdges64M(s).withColumn("weight", lit(1.0))
      val v = s.range(nV).select($"id")
      pinnedDepthHist(GmrRunner.auto(s, v, e,
        Algorithms.UnitWeighted(Algorithms.Sssp),
        GraphMeta(nV, source = 1L), numEdges = m), B04DepthGolden, "b04")
    }),
    // BENCH anchor 5: PageRank (2 fixed rounds, no convergence dependence)
    // on the SAME skewed graph — every vertex sends every round, so each
    // superstep scans the full 64M-edge relation: the pure superstep-
    // throughput measurement under skew, complementing b04's frontier-
    // driven rounds.
    "b05_pagerank_skew64m" -> ((s, dir) => {
      import s.implicits._
      val nV = AnchorNV
      val m = 16L * nV
      val e = skewEdges64M(s).withColumn("weight", lit(1.0))
      val v = s.range(nV).select($"id")
      GmrRunner.auto(s, v, e,
          Algorithms.PageRank(0.85, fixedIters = Some(2)),
          GraphMeta(nV), numEdges = m)
        .agg(count(lit(1)).as("n_v"),
          graft.Canon.sig6(sum($"value")).as("sum_rank"),
          graft.Canon.sig6(max($"value")).as("max_rank"))
    }),
    // BENCH anchor 6: CROSS-RUNNER EQUALITY AT THE 64M DISTRIBUTED TIER —
    // the same uniform graph and SSSP as b03, executed by GraphXRunner,
    // REQUIRE-pinned against the SAME depth golden. EngineSpec pins
    // GraphX-vs-Sql equality at 200k edges; this pins it at the real
    // distributed scale, mirroring the reference's own GraphX-vs-GMR
    // methodology (实验数据.xlsx sheet1) — a wrong-at-scale regression in
    // either runner now fails a gate run loudly.
    "b06_sssp_graphx64m" -> ((s, dir) => {
      import s.implicits._
      val e = uniformEdges64M(s).withColumn("weight", lit(1.0))
      val v = s.range(AnchorNV).select($"id")
      pinnedDepthHist(GraphXRunner.run(s, v, e, Algorithms.Sssp,
        GraphMeta(AnchorNV, source = 1L), numEdges = 16L * AnchorNV),
        B03DepthGolden, "b06")
    }),
    // BENCH anchor 7: PageRank TO CONVERGENCE at the 64M tier — the
    // reference's converged-run methodology (README §4.1: d=0.5, all-ones
    // init, ε=1e-4 stop, maxIter 120) on b03's uniform graph, where b05
    // measures 2 fixed rounds. Every vertex sends every round until the
    // global ε-stop, so the anchor exercises the full-relation superstep
    // N times with a DATA-determined N. Output/pin: the per-superstep
    // changed-count trace (see [[B07ChangedGolden]]) — the convergence
    // trajectory analogue of b03's depth histogram. Calls runWithStats
    // directly for the run's own trace (64M is past the auto-dispatch
    // threshold anyway, pinned by b03).
    "b07_pagerank_conv64m" -> ((s, dir) => {
      import s.implicits._
      val nV = AnchorNV
      val m = 16L * nV
      val e = uniformEdges64M(s).withColumn("weight", lit(1.0))
      val v = s.range(nV).select($"id")
      val (res, stats) = SqlRunner.runWithStats(s, v, e,
        Algorithms.PageRank(0.5, uniformInit = true), GraphMeta(nV),
        numEdges = m)
      // The superstep loop runs eagerly inside runWithStats (each round
      // is an action), so the trace is complete here; the converged ranks
      // themselves are value-pinned by the g03/g08 oracles and EngineSpec.
      // b07's output is the trace alone — free the final vertex state's
      // checkpoint instead of leaking 4M rows until session cleanup.
      graft.engine.Fixpoint.release(res)
      require(stats.changedTrace == B07ChangedGolden,
        s"b07 changed-count trace drifted from the pinned golden: " +
          s"${stats.changedTrace}")
      stats.changedTrace.zipWithIndex
        .map { case (c, i) => ((i + 1).toLong, c) }
        .toDF("round", "n_changed")
    }),
    // BENCH anchor 8: TRIANGLE COUNT at the ≥8M-edge tier — the
    // reference's biggest published win (TC G1: GraphX 16.3 s vs GMR
    // 1.0 s at 1.03M edges, 实验数据.xlsx sheet1; algorithms.h:117-195)
    // and, until this anchor, the only headline algorithm with no
    // large-scale bench row (g02/g07/g18 run at sf scale). Same
    // canonical-edge wedge-close plan as the production triangleCount
    // (GraphOps.scala): orient each undirected edge low→high, enumerate
    // wedges by the (e1.b = e2.a) join, close them against the edge set —
    // Catalyst shuffles join keys only, never adjacency lists. On the b02
    // generator's 8M directed edges the canonical relation is ~7.97M
    // edges and the wedge relation ~32M rows. The global triangle total
    // is REQUIRE-checked against the recorded golden (deterministic
    // generator) AND, since round 10, independently recomputed by the
    // DuckDB oracle from the regenerated md5 graph — a wrong-count
    // regression at scale fails both ways. Phase split (canonical-edge
    // build vs wedge close) is recorded for the bench sidecar.
    "b08_triangles_8m" -> ((s, dir) => {
      import s.implicits._
      val t0 = System.nanoTime()
      // Canonical edges PACKED at the source (generator ids < |V| = 1M,
      // far inside 31 bits): the distinct shuffles/caches ONE long per
      // edge instead of two, and the close kernel joins on it directly.
      val ue = uniformEdges8M(s)
        .select(shiftleft(least($"src", $"dst"), 32)
          .bitwiseOR(greatest($"src", $"dst")).as("ab"))
        .distinct().cache()
      val nEdges = ue.count()
      val t1 = System.nanoTime()
      // Close via the shared packed-key kernel: single-long join keys,
      // SHUFFLE_HASH on both joins (r10 verdict: the close join was 5.8
      // of 9.8 s; the packed shuffled-hash close measured 5.2 s vs 8.4 s
      // before, and vs 10.1 s for a broadcast close — driver-serial
      // 8M-row hash-relation builds lose).
      val tri = GraphOps.wedgeClosePacked(s, ue, nEdges)
      val t2 = System.nanoTime()
      ue.unpersist(blocking = false)
      graft.obs.RunLog.measure("b08.canon_sec", (t1 - t0) / 1e9)
      graft.obs.RunLog.measure("b08.close_sec", (t2 - t1) / 1e9)
      require(tri == B08TriGolden,
        s"b08 triangle total drifted from the pinned golden: $tri")
      Seq(tri).toDF("triangles")
    }),
  )

  /** Pinned global triangle total of the b02/b08 8M-edge generator graph
    * (deterministic md5-derived edges; recorded once, REQUIRE-checked every
    * run — the TC analogue of b03's depth-histogram pin, and since round 10
    * ALSO independently recomputed by the DuckDB oracle). 633 closed
    * wedges over 7,999,930 canonical undirected edges — near the
    * E[tri] ≈ d³/6 ≈ 683 of a uniform random digraph at out-degree 8.
    */
  private[graft] val B08TriGolden = 633L

  private val bfsOracle =
    s"""WITH RECURSIVE e AS ($edgesSql),
       |walk AS (
       |  SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d
       |  UNION
       |  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.id WHERE w.d < 20
       |)
       |SELECT id, min(d) AS dist FROM walk GROUP BY id""".stripMargin

  private val wccOracle =
    s"""WITH RECURSIVE e0 AS ($sparseEdgesSql),
       |ue AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |cc AS (
       |  SELECT DISTINCT src AS id, src AS comp FROM ue
       |  UNION
       |  SELECT ue.dst, cc.comp FROM cc JOIN ue ON ue.src = cc.id
       |  WHERE cc.comp < ue.dst
       |)
       |SELECT id, min(comp) AS comp FROM cc GROUP BY id""".stripMargin

  private val oraclePagerank2 =
    s"""WITH e AS ($edgesSql),
       |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM v),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT id, 1.0/nn.nn AS r FROM v, nn),
       |c1 AS (SELECT e.dst, sum(r0.r/deg.outdeg) AS c FROM e
       |       JOIN r0 ON e.src = r0.id JOIN deg ON deg.src = e.src GROUP BY e.dst),
       |r1 AS (SELECT v.id, 0.15/nn.nn + 0.85*coalesce(c1.c, 0.0) AS r
       |       FROM v LEFT JOIN c1 ON c1.dst = v.id, nn),
       |c2 AS (SELECT e.dst, sum(r1.r/deg.outdeg) AS c FROM e
       |       JOIN r1 ON e.src = r1.id JOIN deg ON deg.src = e.src GROUP BY e.dst),
       |r2 AS (SELECT v.id, 0.15/nn.nn + 0.85*coalesce(c2.c, 0.0) AS r
       |       FROM v LEFT JOIN c2 ON c2.dst = v.id, nn)
       |SELECT id, ${graft.Canon.sig6Sql("r")} AS rank FROM r2""".stripMargin

  private val oraclePpr2 =
    s"""WITH e AS ($edgesSql),
       |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT id, CASE WHEN id = 1 THEN 1.0 ELSE 0.0 END AS r FROM v),
       |c1 AS (SELECT e.dst, sum(r0.r/deg.outdeg) AS c FROM e
       |       JOIN r0 ON e.src = r0.id JOIN deg ON deg.src = e.src GROUP BY e.dst),
       |r1 AS (SELECT v.id,
       |         0.15*(CASE WHEN v.id = 1 THEN 1.0 ELSE 0.0 END)
       |           + 0.85*coalesce(c1.c, 0.0) AS r
       |       FROM v LEFT JOIN c1 ON c1.dst = v.id),
       |c2 AS (SELECT e.dst, sum(r1.r/deg.outdeg) AS c FROM e
       |       JOIN r1 ON e.src = r1.id JOIN deg ON deg.src = e.src GROUP BY e.dst),
       |r2 AS (SELECT v.id,
       |         0.15*(CASE WHEN v.id = 1 THEN 1.0 ELSE 0.0 END)
       |           + 0.85*coalesce(c2.c, 0.0) AS r
       |       FROM v LEFT JOIN c2 ON c2.dst = v.id)
       |SELECT id, ${graft.Canon.sig6Sql("r")} AS rank FROM r2 WHERE r > 0.0""".stripMargin

  val oracles: Map[String, String] = Map(
    // The reference's own 4elt benchmark graph, oracle-gated END TO END
    // including the file parse: DuckDB reads the same text file (2-line
    // header = single-number lines that the NULL-second-column filter
    // drops, exactly like the Spark parser's "fewer than 2 ints" rule;
    // 4elt is 1-based so no zero-shift arm is needed — GraphSourceSpec
    // covers the shifted/gap cases on fixtures), then walks a recursive-
    // CTE BFS from source 1 with the engine's 120-round cap. Validated
    // row-for-row against the SqlRunner result (15,606 rows, max dist 69,
    // Σdist 620,026).
    "b01_sssp_4elt" -> {
      val raw = """read_csv('/root/reference/graph/4elt.graph',
        |    header=false, sep=' ', columns={'c0': 'VARCHAR', 'c1': 'VARCHAR'},
        |    all_varchar=true, null_padding=true, auto_detect=false)""".stripMargin
      s"""WITH RECURSIVE e AS (
         |  SELECT CAST(c0 AS BIGINT) AS src, CAST(c1 AS BIGINT) AS dst
         |  FROM $raw
         |  WHERE c1 IS NOT NULL AND trim(c0) NOT LIKE '#%'),
         |walk AS (
         |  SELECT CAST(1 AS BIGINT) AS id, 0 AS d
         |  UNION
         |  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.id
         |  WHERE w.d < 120
         |)
         |SELECT id, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY id""".stripMargin
    },
    // The 8M-edge anchors, oracle-gated END TO END including the graph
    // GENERATION: DuckDB regenerates the md5-derived edge relation from
    // first principles (engine-independent md5 hex → 60-bit prefix mod
    // |V|) and independently computes BFS depths / the triangle total —
    // closing the r9-verdict item that left these two anchors rows-only.
    // Measured mirror cost: ~16 s (b02) + ~9 s (b08) — inside gate budget
    // where the xxhash64 port alone measured ~230 s. b02's hop cap (14)
    // is one-sided-safe: it sits past the graph's eccentricity from the
    // source (10), and under plain-UNION recursion every extra level costs
    // ~1M rows, so the cap is what keeps the CTE from running 120 rounds;
    // if a generator change ever pushed depths beyond it, the SPARK side
    // would emit rows the capped oracle lacks — a loud hash mismatch,
    // never a silent pass.
    "b02_sssp_rand8m" ->
      s"""WITH RECURSIVE e AS ($edges8MSql),
         |bfs(v, d) AS (
         |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION
         |  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.v
         |  WHERE bfs.d < 14
         |)
         |SELECT v AS id, CAST(min(d) AS BIGINT) AS dist
         |FROM bfs GROUP BY v""".stripMargin,
    "b08_triangles_8m" ->
      s"""WITH e AS ($edges8MSql),
         |ue AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e WHERE src <> dst
         |)
         |SELECT CAST(count(*) AS BIGINT) AS triangles
         |FROM ue e1
         |JOIN ue e2 ON e2.a = e1.b
         |JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    "g01_sssp_bfs" -> bfsOracle,
    "g17_ppr2" -> oraclePpr2,
    "g02_triangles" ->
      s"""WITH e0 AS ($edgesSql),
         |ue AS (SELECT src AS a, dst AS b FROM e0 WHERE src < dst
         |       UNION SELECT dst, src FROM e0 WHERE dst < src)
         |SELECT count(*) AS triangles
         |FROM ue e1
         |JOIN ue e2 ON e2.a = e1.b
         |JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
    "g03_pagerank2" -> oraclePagerank2,
    "g04_wcc" -> wccOracle,
    // Engine-backed variants answer the same questions — identical oracles.
    "g05_sssp_engine" -> bfsOracle,
    "g06_wcc_engine" -> wccOracle,
    "g12_wcc_graphx" -> wccOracle,
    "g07_triangles_pervertex" ->
      s"""WITH e0 AS ($edgesSql),
         |ue AS (SELECT src AS a, dst AS b FROM e0 WHERE src < dst
         |       UNION SELECT dst, src FROM e0 WHERE dst < src)
         |SELECT e1.a AS id, count(*) AS n_tri
         |FROM ue e1
         |JOIN ue e2 ON e2.a = e1.b
         |JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b
         |GROUP BY e1.a""".stripMargin,
    // Same triangle join, credited to the MIDDLE vertex (e1.b) — the typed
    // engine's natural crediting (the receiver of the candidate lists).
    "g18_triangles_engine" ->
      s"""WITH e0 AS ($edgesSql),
         |ue AS (SELECT src AS a, dst AS b FROM e0 WHERE src < dst
         |       UNION SELECT dst, src FROM e0 WHERE dst < src)
         |SELECT e1.b AS id, count(*) AS n_tri
         |FROM ue e1
         |JOIN ue e2 ON e2.a = e1.b
         |JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b
         |GROUP BY e1.b""".stripMargin,
    "g08_pagerank_engine" -> oraclePagerank2,
    // Weighted walk: min over all path lengths; any reachable node's
    // shortest distance is <= diameter(9) x max-weight(9) = 81, so the 150
    // cap never truncates a true minimum.
    "g10_sssp_weighted" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT src, dst, ((src*7 + dst*13) % 9) + 1 AS w FROM ($edgesSql)),
         |walk AS (
         |  SELECT CAST(1 AS BIGINT) AS id, CAST(0 AS BIGINT) AS d
         |  UNION
         |  SELECT e.dst, wk.d + e.w FROM walk wk JOIN e ON e.src = wk.id
         |  WHERE wk.d < 150
         |)
         |SELECT id, min(d) AS dist FROM walk GROUP BY id""".stripMargin,
    // LPA, 2 unrolled synchronous rounds; per round each vertex takes the
    // most frequent neighbor label, ties to the smallest label — the same
    // (cnt DESC, label ASC) argmax as the Spark side.
    "g13_lpa2" ->
      s"""WITH e0 AS ($sparseEdgesSql),
         |ue AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |l0 AS (SELECT DISTINCT src AS id, src AS label FROM ue),
         |c1 AS (SELECT ue.dst AS id, l0.label, count(*) AS cnt
         |       FROM ue JOIN l0 ON l0.id = ue.src GROUP BY 1, 2),
         |l1 AS (SELECT id, label FROM (
         |         SELECT id, label, row_number() OVER (
         |           PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
         |         FROM c1) x WHERE rn = 1),
         |c2 AS (SELECT ue.dst AS id, l1.label, count(*) AS cnt
         |       FROM ue JOIN l1 ON l1.id = ue.src GROUP BY 1, 2)
         |SELECT id, label FROM (
         |  SELECT id, label, row_number() OVER (
         |    PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
         |  FROM c2) x WHERE rn = 1""".stripMargin,
    "g14_degree_hist" ->
      s"""WITH e AS ($edgesSql),
         |d AS (
         |  SELECT src AS id, count(*) AS deg, 'out' AS side FROM e GROUP BY src
         |  UNION ALL
         |  SELECT dst, count(*), 'in' FROM e GROUP BY dst)
         |SELECT side, deg, count(*) AS n_vertices
         |FROM d GROUP BY side, deg""".stripMargin,
    "g16_common_neighbors" ->
      s"""WITH e0 AS ($sparseEdgesSql),
         |sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |s2 AS (SELECT src, dst FROM sym WHERE src <> dst)
         |SELECT x.src AS a, y.src AS b, count(*) AS cn
         |FROM s2 x JOIN s2 y ON x.dst = y.dst AND x.src < y.src
         |GROUP BY x.src, y.src
         |ORDER BY cn DESC, a, b LIMIT 20""".stripMargin,
    // The same wedge join as g16, closed into the diagonal-pair formula:
    // Σ C(cn,2) over ordered pairs counts each square twice (once per
    // diagonal), so the integer half is exact.
    "g32_squares" ->
      s"""WITH e0 AS ($sparseEdgesSql),
         |sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |s2 AS (SELECT src, dst FROM sym WHERE src <> dst),
         |cn AS (SELECT x.src AS a, y.src AS b, count(*) AS cn
         |       FROM s2 x JOIN s2 y ON x.dst = y.dst AND x.src < y.src
         |       GROUP BY x.src, y.src)
         |SELECT CAST(sum((cn * (cn - 1)) // 2) // 2 AS BIGINT) AS squares
         |FROM cn""".stripMargin,
    // Same pair join weighted by 1/ln(symmetric degree of the shared
    // neighbor), rounded on the shared grid before the (aa, a, b) cut.
    "g29_adamic_adar" ->
      s"""WITH e0 AS ($sparseEdgesSql),
         |sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |s2 AS (SELECT src, dst FROM sym WHERE src <> dst),
         |deg AS (SELECT src AS z, CAST(count(*) AS DOUBLE) AS dz
         |        FROM s2 GROUP BY src)
         |SELECT x.src AS a, y.src AS b, count(*) AS cn,
         |       ${graft.Canon.sig6Sql("sum(1.0 / ln(dz))")} AS aa
         |FROM s2 x JOIN s2 y ON x.dst = y.dst AND x.src < y.src
         |JOIN deg ON z = x.dst
         |GROUP BY x.src, y.src
         |ORDER BY aa DESC, a, b LIMIT 20""".stripMargin,
    // Same 4-level unroll, min() over walk revisits, integer-twelfth sum.
    "g20_harmonic4" -> {
      def lvl(k: Int) =
        s"""l$k AS (SELECT DISTINCT p.u, e0.dst AS v
           |  FROM l${k - 1} p JOIN e0 ON e0.src = p.v)""".stripMargin
      val unions = (0 to 4).map(d => s"SELECT u, v, $d AS d FROM l$d")
        .mkString("\n  UNION ALL ")
      val w12 = "CASE WHEN d = 1 THEN 12 WHEN d = 2 THEN 6 " +
        "WHEN d = 3 THEN 4 ELSE 3 END"
      s"""WITH e0 AS ($sparseEdgesSql),
         |v AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         |l0 AS (SELECT id AS u, id AS v FROM v),
         |${lvl(1)}, ${lvl(2)}, ${lvl(3)}, ${lvl(4)},
         |alld AS (
         |  $unions),
         |md AS (SELECT u, v, min(d) AS d FROM alld GROUP BY u, v)
         |SELECT v AS id, count(*) AS n_sources,
         |       ${graft.Canon.sig6Sql(s"CAST(sum($w12) AS DOUBLE) / 12.0")} AS harmonic
         |FROM md WHERE d > 0 GROUP BY v""".stripMargin
    },
    // The exact neighborhood function per hop (the g33 verdict's twin):
    // cumulative distinct (u, v) reach pairs through the same leveled
    // expansion as g20, one scalar per h; within_tol restates the
    // sketch-vs-exact bound the Spark side computed (q12's device).
    "g33_anf" -> {
      def lvl(k: Int) =
        s"""l$k AS (SELECT DISTINCT p.u, e0.dst AS v
           |  FROM l${k - 1} p JOIN e0 ON e0.src = p.v)""".stripMargin
      def ball(h: Int) =
        (0 to h).map(k => s"SELECT u, v FROM l$k").mkString(" UNION ")
      s"""WITH e0 AS ($sparseEdgesSql),
         |v AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         |l0 AS (SELECT id AS u, id AS v FROM v),
         |${lvl(1)}, ${lvl(2)}, ${lvl(3)}
         |SELECT CAST(1 AS BIGINT) AS h,
         |       CAST((SELECT count(*) FROM (${ball(1)}) t1) AS BIGINT) AS n_pairs,
         |       true AS within_tol
         |UNION ALL
         |SELECT CAST(2 AS BIGINT),
         |       CAST((SELECT count(*) FROM (${ball(2)}) t2) AS BIGINT), true
         |UNION ALL
         |SELECT CAST(3 AS BIGINT),
         |       CAST((SELECT count(*) FROM (${ball(3)}) t3) AS BIGINT), true""".stripMargin
    },
    // g33's leveled expansion extended one hop; the 90% cut in the
    // overflow-free integer form N(h) ≥ N(4) − N(4)//10 (≡ 10·N(h) ≥
    // 9·N(4) — ceil(9n/10) = n − ⌊n/10⌋), frac on the shared sig6 grid.
    "g43_eff_diameter" -> {
      def lvl(k: Int) =
        s"""l$k AS MATERIALIZED (SELECT DISTINCT p.u, e0.dst AS v
           |  FROM l${k - 1} p JOIN e0 ON e0.src = p.v)""".stripMargin
      def ball(h: Int) =
        s"""b$h AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n
           |  FROM (SELECT DISTINCT u, v FROM (${
             (0 to h).map(k => s"SELECT u, v FROM l$k")
               .mkString(" UNION ALL ")}) q) t)""".stripMargin
      def row(h: Int) =
        s"""SELECT CAST($h AS BIGINT) AS h, (SELECT n FROM b$h) AS n_pairs,
           |  ${graft.Canon.sig6Sql(
             s"CAST((SELECT n FROM b$h) AS DOUBLE) / (SELECT n FROM b4)")}
           |    AS frac,
           |  (SELECT n FROM b$h)
           |    >= (SELECT n FROM b4) - (SELECT n FROM b4) // 10
           |    AS reached90,
           |  true AS within_tol""".stripMargin
      s"""WITH e0 AS ($sparseEdgesSql),
         |v AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         |l0 AS (SELECT id AS u, id AS v FROM v),
         |${lvl(1)}, ${lvl(2)}, ${lvl(3)}, ${lvl(4)},
         |${ball(1)}, ${ball(2)}, ${ball(3)}, ${ball(4)}
         |${row(1)} UNION ALL ${row(2)} UNION ALL ${row(3)}
         |UNION ALL ${row(4)}""".stripMargin
    },
    // The g02 triangle join + a degree aggregate composed into one row;
    // integer wedge counts via // 2, ratios on the sig6 grid.
    "g44_graph_profile" ->
      s"""WITH e0 AS ($edgesSql),
         |ue AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0) u
         |  WHERE src <> dst),
         |ua AS (SELECT src AS a, dst AS b FROM ue WHERE src < dst),
         |deg AS (SELECT src AS id, count(*) AS deg FROM ue GROUP BY src),
         |tri AS (SELECT CAST(count(*) AS BIGINT) AS n
         |        FROM ua e1 JOIN ua e2 ON e2.a = e1.b
         |                   JOIN ua e3 ON e3.a = e1.a AND e3.b = e2.b),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS nv,
         |             CAST(max(deg) AS BIGINT) AS md,
         |             CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS nw
         |      FROM deg),
         |e AS (SELECT CAST(count(*) // 2 AS BIGINT) AS ne FROM ue)
         |SELECT v.nv AS n_vertices, e.ne AS n_edges,
         |       ${graft.Canon.sig6Sql(
             "2.0 * e.ne / (CAST(v.nv AS DOUBLE) * (v.nv - 1))")} AS density,
         |       v.md AS max_degree, v.nw AS n_wedges,
         |       tri.n AS n_triangles,
         |       CASE WHEN v.nw > 0 THEN ${graft.Canon.sig6Sql(
             "3.0 * tri.n / CAST(v.nw AS DOUBLE)")}
         |            ELSE 0.0 END AS clustering
         |FROM v, e, tri""".stripMargin,
    // The H-index coreness iteration, statically unrolled 32 rounds: the
    // map is monotone-decreasing and IDEMPOTENT at its fixpoint (the
    // coreness), so any unroll ≥ the data's fixpoint depth (measured
    // 2/23/7 at the three SFs) equals the Spark side's data-dependent
    // loop exactly — extra rounds are no-ops, the g30-unroll device
    // without the density coupling.
    "g34_coreness" -> {
      // Every stage MATERIALIZED (the l57/g28 inline-blowup lesson): an
      // un-materialized 32-deep CTE chain plans each round's window+join
      // nested inside the next and measured minutes where the
      // materialized chain runs in seconds.
      def round(k: Int) =
        s"""c$k AS MATERIALIZED (
           |  SELECT v, CAST(max(least(rn, nc)) AS BIGINT) AS c FROM (
           |    SELECT s.v, p.c AS nc,
           |           row_number() OVER (PARTITION BY s.v ORDER BY p.c DESC) AS rn
           |    FROM sym s JOIN c${k - 1} p ON p.v = s.nb) t
           |  GROUP BY v)""".stripMargin
      s"""WITH e0 AS ($sparseEdgesSql),
         |sym AS MATERIALIZED (SELECT DISTINCT v, nb FROM (
         |  SELECT src AS v, dst AS nb FROM e0
         |  UNION ALL SELECT dst, src FROM e0) t),
         |c0 AS MATERIALIZED (SELECT v, count(*)::BIGINT AS c FROM sym GROUP BY v),
         |${(1 to 32).map(round).mkString(",\n")}
         |SELECT v AS id, c AS coreness FROM c32""".stripMargin
    },
    // Longest path per vertex over the acyclic src<dst view: the walk
    // CTE enumerates (vertex, depth) pairs from the sources (UNION dedups,
    // so rows are bounded by |V|·depth, not path count — the g25 device);
    // max(l) per vertex = the fixpoint the Spark loop relaxes to. The
    // depth guard is safety only (measured longest chain: 18 at sf0.1)
    // and SHARED with the Spark loop's round cap so neither side can be
    // truncated past the other.
    "g37_critical_path" ->
      s"""WITH RECURSIVE e0 AS ($sparseEdgesSql),
         |d AS (SELECT src, dst FROM e0 WHERE src < dst),
         |walk AS (
         |  SELECT src AS v, 0 AS l FROM d
         |  WHERE src NOT IN (SELECT dst FROM d)
         |  UNION
         |  SELECT d.dst, w.l + 1 FROM walk w JOIN d ON d.src = w.v
         |  WHERE w.l < ${GraphOps.CriticalPathMaxRounds})
         |SELECT v AS id, CAST(max(l) AS BIGINT) AS layer
         |FROM walk GROUP BY v""".stripMargin,
    // WCC roots (the g04 min-label closure), min hop distance from each
    // root via the bounded walk CTE (the g01 device — UNION dedups (v,d)
    // pairs; 150 comfortably exceeds any eccentricity here), parity =
    // d mod 2, conflicts = equal-parity symmetric rows per component.
    // ue dedups via UNION ALL + DISTINCT, NOT bare UNION: inside a WITH
    // RECURSIVE block DuckDB does not deduplicate a non-recursive CTE's
    // UNION (measured: 17,574 rows vs 17,504 distinct at sf0.1), which
    // min-label closures absorb but a conflict COUNT cannot.
    "g39_bipartite" ->
      s"""WITH RECURSIVE e0 AS ($sparseEdgesSql),
         |ue AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0) u),
         |cc AS (
         |  SELECT DISTINCT src AS id, src AS comp FROM ue
         |  UNION
         |  SELECT ue.dst, cc.comp FROM cc JOIN ue ON ue.src = cc.id
         |  WHERE cc.comp < ue.dst
         |),
         |comp AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
         |wk AS (
         |  SELECT comp AS v, 0 AS d FROM (SELECT DISTINCT comp FROM comp) r
         |  UNION
         |  SELECT ue.dst, wk.d + 1 FROM wk JOIN ue ON ue.src = wk.v
         |  WHERE wk.d < 150
         |),
         |par AS (SELECT c.id, c.comp, min(wk.d) % 2 AS par
         |        FROM comp c JOIN wk ON wk.v = c.id GROUP BY c.id, c.comp),
         |confl AS (SELECT a.comp, CAST(count(*) AS BIGINT) AS conflict_rows
         |          FROM ue JOIN par a ON a.id = ue.src
         |                  JOIN par b ON b.id = ue.dst
         |          WHERE a.par = b.par GROUP BY a.comp)
         |SELECT p.comp, CAST(count(*) AS BIGINT) AS n_vertices,
         |       COALESCE(any_value(c.conflict_rows), 0) AS conflict_rows,
         |       COALESCE(any_value(c.conflict_rows), 0) = 0 AS bipartite
         |FROM par p LEFT JOIN confl c ON c.comp = p.comp
         |GROUP BY p.comp""".stripMargin,
    // One conditional-aggregate pass over degree-decorated half edges +
    // one over degrees, mirroring GraphOps.richClub's single-scan shape.
    "g40_rich_club" ->
      s"""WITH e0 AS ($edgesSql),
         |ue AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0) u
         |  WHERE src <> dst),
         |deg AS (SELECT src AS id, count(*) AS deg FROM ue GROUP BY src),
         |half AS (SELECT a.deg AS sdeg, b.deg AS ddeg
         |         FROM ue JOIN deg a ON a.id = ue.src
         |                 JOIN deg b ON b.id = ue.dst
         |         WHERE ue.src < ue.dst),
         |ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (4), (16), (64)) v(k)),
         |ag AS (SELECT ks.k,
         |         (SELECT CAST(count(*) AS BIGINT) FROM deg
         |            WHERE deg > ks.k) AS n_nodes,
         |         (SELECT CAST(count(*) AS BIGINT) FROM half
         |            WHERE sdeg > ks.k AND ddeg > ks.k) AS n_edges
         |       FROM ks)
         |SELECT k, n_nodes, n_edges,
         |       CASE WHEN n_nodes >= 2 THEN ${graft.Canon.sig6Sql(
             "2.0 * n_edges / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1))")}
         |            ELSE NULL END AS phi
         |FROM ag""".stripMargin,
    // Two chained BFS recursions: seed = min id, second seed = the
    // deterministic argmax (farthest, ties to the smallest id) of the
    // first sweep — the walk-enumeration UNION recursion bounded at the
    // same depth cap as the Spark loop.
    "g41_diameter2" ->
      s"""WITH RECURSIVE e0 AS ($sparseEdgesSql),
         |ue AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0) u
         |  WHERE src <> dst),
         |s1 AS (SELECT min(src) AS v FROM ue),
         |b1 AS (
         |  SELECT v AS id, 0 AS d FROM s1
         |  UNION
         |  SELECT ue.dst, b1.d + 1 FROM b1 JOIN ue ON ue.src = b1.id
         |  WHERE b1.d < 100
         |),
         |d1 AS (SELECT id, min(d) AS d FROM b1 GROUP BY id),
         |far AS (SELECT id AS v, d AS ecc1 FROM d1
         |        ORDER BY d DESC, id ASC LIMIT 1),
         |b2 AS (
         |  SELECT v AS id, 0 AS d FROM far
         |  UNION
         |  SELECT ue.dst, b2.d + 1 FROM b2 JOIN ue ON ue.src = b2.id
         |  WHERE b2.d < 100
         |),
         |d2 AS (SELECT id, min(d) AS d FROM b2 GROUP BY id)
         |SELECT (SELECT v FROM s1) AS src1,
         |       CAST((SELECT ecc1 FROM far) AS BIGINT) AS ecc1,
         |       (SELECT v FROM far) AS src2,
         |       CAST(max(d2.d) AS BIGINT) AS ecc2,
         |       CAST(greatest((SELECT ecc1 FROM far), max(d2.d)) AS BIGINT)
         |         AS diameter_lb,
         |       CAST(count(*) AS BIGINT) AS n_reached
         |FROM d2""".stripMargin,
    // The g09 reach-pair SCC labels, condensed: sizes, cycle membership,
    // distinct cross-component edges, DAG verdict.
    "g42_condense" ->
      s"""WITH RECURSIVE e0 AS ($sparseEdgesSql),
         |v AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         |reach AS (
         |  SELECT id, id AS anc FROM v
         |  UNION
         |  SELECT e0.dst, reach.anc FROM reach JOIN e0 ON e0.src = reach.id
         |),
         |scc AS (SELECT r1.id, min(r1.anc) AS comp
         |        FROM reach r1 JOIN reach r2
         |          ON r2.id = r1.anc AND r2.anc = r1.id
         |        GROUP BY r1.id),
         |sizes AS (SELECT comp, count(*) AS sz FROM scc GROUP BY comp),
         |ce AS (SELECT DISTINCT a.comp AS cs, b.comp AS cd
         |       FROM e0 JOIN scc a ON a.id = e0.src
         |               JOIN scc b ON b.id = e0.dst
         |       WHERE a.comp <> b.comp)
         |SELECT CAST((SELECT count(*) FROM sizes) AS BIGINT) AS n_scc,
         |       CAST((SELECT count(*) FROM sizes WHERE sz >= 2) AS BIGINT)
         |         AS n_nontrivial,
         |       CAST((SELECT COALESCE(sum(sz), 0) FROM sizes WHERE sz >= 2)
         |         AS BIGINT) AS n_cyclic_vertices,
         |       CAST((SELECT count(*) FROM ce) AS BIGINT)
         |         AS n_condensed_edges,
         |       (SELECT count(*) FROM sizes WHERE sz >= 2) = 0 AS is_dag""".stripMargin,
    // Three chained walk-count aggregations; BIGINT casts per the dtype
    // discipline; the α-weighted sum on the shared sig6 grid.
    "g38_katz3" ->
      s"""WITH e0 AS ($sparseEdgesSql),
         |w1 AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS w1
         |       FROM e0 GROUP BY dst),
         |w2 AS (SELECT e0.dst AS id, CAST(sum(w1.w1) AS BIGINT) AS w2
         |       FROM e0 JOIN w1 ON w1.id = e0.src GROUP BY e0.dst),
         |w3 AS (SELECT e0.dst AS id, CAST(sum(w2.w2) AS BIGINT) AS w3
         |       FROM e0 JOIN w2 ON w2.id = e0.src GROUP BY e0.dst)
         |SELECT w1.id, w1.w1,
         |       COALESCE(w2.w2, 0) AS w2, COALESCE(w3.w3, 0) AS w3,
         |       ${graft.Canon.sig6Sql(
             "0.1 * w1.w1 + 0.01 * COALESCE(w2.w2, 0) " +
               "+ 0.001 * COALESCE(w3.w3, 0)")} AS katz
         |FROM w1 LEFT JOIN w2 ON w2.id = w1.id
         |        LEFT JOIN w3 ON w3.id = w1.id""".stripMargin,
    // Louvain phase-1, 2 unrolled synchronous rounds: per vertex take the
    // candidate community (neighbor's or own) maximizing the INTEGER gain
    // score 2m·k_in − deg·(tot − [own]·deg), ties to the smallest id —
    // the exact argmax the Spark side's max(struct(score, −c)) computes.
    "g35_louvain2" ->
      s"""WITH $louvainCte
         |SELECT id, label FROM $louvainFinal""".stripMargin,
    // Modularity of the g35 partition: Q·(2m)² = 2m·intra − Σ tot² with
    // intra counting symmetric edge rows inside a community — integers
    // end to end, the double rides along on the shared sig6 grid.
    "g36_modularity" ->
      s"""WITH $louvainCte,
         |tot AS (SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS tot
         |        FROM $louvainFinal l JOIN dg d ON d.id = l.id GROUP BY 1),
         |st2 AS (SELECT CAST(sum(tot * tot) AS BIGINT) AS sum_tot2 FROM tot),
         |intra AS (SELECT CAST(count(*) AS BIGINT) AS intra
         |          FROM ue JOIN $louvainFinal a ON a.id = ue.src
         |                  JOIN $louvainFinal b ON b.id = ue.dst
         |          WHERE a.label = b.label)
         |SELECT mm.m2 AS two_m,
         |       CAST(mm.m2 * intra.intra - st2.sum_tot2 AS BIGINT) AS q_num,
         |       ${graft.Canon.sig6Sql(
               "CAST(mm.m2 * intra.intra - st2.sum_tot2 AS DOUBLE) " +
                 "/ CAST(mm.m2 * mm.m2 AS DOUBLE)")} AS q
         |FROM mm, st2, intra""".stripMargin,
    // Brandes within the 4-hop horizon, statically staged: the same
    // leveled BFS as g20 gives true distances; σ accumulates level by
    // level in BIGINT (each s_k row is depth-k by construction, so it
    // carries its own d tag — no md re-join needed); δ walks the DAG
    // depth 3 → 1 with each stage MATERIALIZED and rounded on the shared
    // grid exactly like the Spark side (the g28 chained-stage lesson).
    "g31_betweenness4" -> {
      def lvl(k: Int) =
        s"""l$k AS (SELECT DISTINCT p.u, e.dst AS v
           |  FROM l${k - 1} p JOIN e ON e.src = p.v)""".stripMargin
      def sigLvl(k: Int) =
        s"""s$k AS MATERIALIZED (SELECT p.u, e.dst AS v, CAST(sum(p.sig) AS BIGINT) AS sig
           |  FROM s${k - 1} p JOIN e ON e.src = p.v
           |  JOIN md m ON m.u = p.u AND m.v = e.dst AND m.d = $k
           |  GROUP BY p.u, e.dst)""".stripMargin
      def deltaLvl(k: Int) =
        s"""ch${k + 1} AS (SELECT s.u, s.v AS cv, s.sig AS csig,
           |  ${if (k == 3) "0.0" else s"coalesce(dl${k + 1}.delta, 0.0)"} AS dch
           |  FROM sg s${if (k == 3) ""
          else
            s" LEFT JOIN dl${k + 1} ON dl${k + 1}.u = s.u AND dl${k + 1}.v = s.v"}
           |  WHERE s.d = ${k + 1}),
           |dl$k AS MATERIALIZED (SELECT x.u, x.v,
           |  ${graft.Canon.sig6Sql(
            "sum(CAST(x.sig AS DOUBLE) / c.csig * (1.0 + c.dch))")} AS delta
           |  FROM sg x JOIN e ON e.src = x.v
           |  JOIN ch${k + 1} c ON c.u = x.u AND c.cv = e.dst
           |  WHERE x.d = $k GROUP BY x.u, x.v)""".stripMargin
      val unions = (0 to 4).map(d => s"SELECT u, v, $d AS d FROM l$d")
        .mkString("\n  UNION ALL ")
      val sgUnions = (0 to 4).map(k => s"SELECT u, v, sig, $k AS d FROM s$k")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS MATERIALIZED ($sparseEdgesSql),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |l0 AS (SELECT id AS u, id AS v FROM v),
         |${lvl(1)}, ${lvl(2)}, ${lvl(3)}, ${lvl(4)},
         |alld AS (
         |  $unions),
         |md AS MATERIALIZED (SELECT u, v, min(d) AS d FROM alld GROUP BY u, v),
         |s0 AS (SELECT u, v, CAST(1 AS BIGINT) AS sig FROM md WHERE d = 0),
         |${sigLvl(1)},
         |${sigLvl(2)},
         |${sigLvl(3)},
         |${sigLvl(4)},
         |sg AS MATERIALIZED (
         |  $sgUnions),
         |${deltaLvl(3)},
         |${deltaLvl(2)},
         |${deltaLvl(1)},
         |bc AS (SELECT v AS id,
         |  ${graft.Canon.sig6Sql("sum(delta)")} AS bc
         |  FROM (SELECT u, v, delta FROM dl3
         |        UNION ALL SELECT u, v, delta FROM dl2
         |        UNION ALL SELECT u, v, delta FROM dl1) t
         |  GROUP BY v)
         |SELECT id, bc FROM bc WHERE bc > 0.0""".stripMargin
    },
    // SCC: id's component = min vertex mutually reachable with it (the
    // directed closure joined with its transpose).
    "g09_scc" -> sccOracle,
    "g19_scc_engine" -> sccOracle,
    "g15_kcore3" -> kcoreOracle(k = 3, rounds = 24),
    "g21_ktruss3" -> ktrussOracle(k = 3, rounds = 10),
    "g23_clustering" ->
      s"""WITH e0 AS ($edgesSql),
         |ue AS (SELECT src AS a, dst AS b FROM e0 WHERE src < dst
         |       UNION SELECT dst, src FROM e0 WHERE dst < src),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM ue e1
         |        JOIN ue e2 ON e2.a = e1.b
         |        JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b),
         |part AS (SELECT id, count(*) AS n_tri FROM (
         |           SELECT x AS id FROM tri UNION ALL
         |           SELECT y FROM tri UNION ALL SELECT z FROM tri) t
         |         GROUP BY id),
         |deg AS (SELECT id, count(*) AS deg FROM (
         |          SELECT a AS id FROM ue UNION ALL SELECT b FROM ue) d
         |        GROUP BY id)
         |SELECT deg.id, CAST(deg AS BIGINT) AS deg,
         |       CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
         |       ${graft.Canon.sig6Sql("2.0 * coalesce(n_tri, 0) / (deg * (deg - 1))")} AS coef
         |FROM deg LEFT JOIN part ON part.id = deg.id
         |WHERE deg >= 2""".stripMargin,
    "g24_assortativity" ->
      s"""WITH e0 AS ($edgesSql),
         |sym AS (SELECT s, d FROM (SELECT src AS s, dst AS d FROM e0
         |                          UNION SELECT dst, src FROM e0) u
         |        WHERE s <> d),
         |deg AS (SELECT s AS id, count(*) AS deg FROM sym GROUP BY s),
         |m AS (SELECT count(*) AS n, sum(a.deg) AS sx, sum(b.deg) AS sy,
         |             sum(a.deg * b.deg) AS sxy,
         |             sum(a.deg * a.deg) AS sxx, sum(b.deg * b.deg) AS syy
         |      FROM sym JOIN deg a ON a.id = sym.s JOIN deg b ON b.id = sym.d)
         |SELECT CAST(n AS BIGINT) AS n_edges,
         |       ${graft.Canon.sig6Sql(
             "CAST(n * sxy - sx * sy AS DOUBLE) / " +
               "(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * " +
               "sqrt(CAST(n * syy - sy * sy AS DOUBLE)))")} AS assortativity
         |FROM m""".stripMargin,
    "g26_matching" -> {
      // One matching round: per-edge md5 priority, row_number argmin per
      // endpoint (ORDER BY h, a, b ≡ the Spark side's struct-min total
      // order), selection where both ranks are 1, remainder = edges
      // touching no selected endpoint. Unrolled GraphOps.MatchRounds deep
      // from the SAME constant; rounds past the fixpoint see an empty
      // remainder and are no-ops.
      def round(k: Int, prev: String) =
        // NOTE: no generated line may START with "||" — the outer
        // template stripMargins the combined text a second time and
        // would eat one pipe of the operator; keep "||" at line ends.
        s"""p$k AS MATERIALIZED (SELECT a, b,
           |  CAST(concat('0x', substr(md5('match:$k:' ||
           |    CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8))
           |    AS BIGINT) AS h
           |  FROM $prev),
           |v$k AS (SELECT a AS v, h, a, b FROM p$k
           |        UNION ALL SELECT b, h, a, b FROM p$k),
           |r$k AS (SELECT v, a, b,
           |  row_number() OVER (PARTITION BY v ORDER BY h, a, b) AS rn
           |  FROM v$k),
           |sel$k AS MATERIALIZED (SELECT a, b FROM r$k WHERE rn = 1
           |          GROUP BY a, b HAVING count(*) = 2),
           |mv$k AS MATERIALIZED (SELECT a AS v FROM sel$k UNION SELECT b FROM sel$k),
           |rem$k AS MATERIALIZED (SELECT t.a, t.b FROM $prev t
           |  WHERE t.a NOT IN (SELECT v FROM mv$k)
           |    AND t.b NOT IN (SELECT v FROM mv$k))""".stripMargin
      val n = GraphOps.MatchRounds
      val ctes = (1 to n)
        .map(k => round(k, if (k == 1) "c0" else s"rem${k - 1}"))
        .mkString(",\n")
      val sels = (1 to n).flatMap(k => Seq(
        s"SELECT a AS id, b AS mate FROM sel$k",
        s"SELECT b AS id, a AS mate FROM sel$k"))
        .mkString("\nUNION ALL ")
      s"""WITH e AS ($edgesSql),
         |c0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM e WHERE src <> dst),
         |$ctes
         |$sels""".stripMargin
    },
    "g27_mis" -> {
      // One Luby round: per-vertex md5 priority, each vertex ranked
      // against its own priority AND its remaining neighbors' (the `own`
      // flag marks which candidate row is the vertex itself — row_number
      // ORDER BY h, pv is the Spark side's struct-min total order, and a
      // vertex wins iff its OWN row ranks first). Winners + their
      // neighborhoods retire; unrolled GraphOps.MisRounds deep from the
      // SAME constant; rounds past the fixpoint see empty remainders and
      // are no-ops. Isolated survivors have only their own candidate row
      // and win automatically — same as the Spark side's null neighbor
      // minimum.
      def round(k: Int, prevV: String, prevE: String) =
        s"""p$k AS MATERIALIZED (SELECT v,
           |  CAST(concat('0x', substr(md5('mis:$k:' ||
           |    CAST(v AS VARCHAR)), 1, 8)) AS BIGINT) AS h
           |  FROM $prevV),
           |cand$k AS (SELECT v, h, v AS pv, 1 AS own FROM p$k
           |  UNION ALL
           |  SELECT e.a, p.h, p.v, 0 FROM $prevE e JOIN p$k p ON p.v = e.b
           |  UNION ALL
           |  SELECT e.b, p.h, p.v, 0 FROM $prevE e JOIN p$k p ON p.v = e.a),
           |win$k AS MATERIALIZED (SELECT v FROM (
           |    SELECT v, own,
           |           row_number() OVER (PARTITION BY v ORDER BY h, pv) AS rn
           |    FROM cand$k) t
           |  WHERE rn = 1 AND own = 1),
           |dead$k AS MATERIALIZED (SELECT v FROM win$k
           |  UNION SELECT e.b FROM $prevE e JOIN win$k w ON w.v = e.a
           |  UNION SELECT e.a FROM $prevE e JOIN win$k w ON w.v = e.b),
           |rv$k AS MATERIALIZED (SELECT v FROM $prevV
           |  WHERE v NOT IN (SELECT v FROM dead$k)),
           |re$k AS MATERIALIZED (SELECT a, b FROM $prevE
           |  WHERE a NOT IN (SELECT v FROM dead$k)
           |    AND b NOT IN (SELECT v FROM dead$k))""".stripMargin
      val n = GraphOps.MisRounds
      val ctes = (1 to n)
        .map(k => round(k,
          if (k == 1) "v0" else s"rv${k - 1}",
          if (k == 1) "c0" else s"re${k - 1}"))
        .mkString(",\n")
      val sels = (1 to n).map(k => s"SELECT v AS id FROM win$k")
        .mkString("\nUNION ALL ")
      s"""WITH e AS ($edgesSql),
         |c0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM e WHERE src <> dst),
         |v0 AS MATERIALIZED (SELECT a AS v FROM c0 UNION SELECT b FROM c0),
         |$ctes
         |$sels""".stripMargin
    },
    "g30_coloring" -> coloringOracle(GraphOps.ColorRounds),
    // HITS: the same four matvec+normalize stages as GraphOps.hits, each
    // normalized vector rounded on the shared grid so every stage starts
    // from identical doubles on both engines. A stage is (sum over the
    // joined edge direction) → (gap-fill zeros over v) → (divide by the
    // L2 norm, round). Every stage CTE is MATERIALIZED and the norm is
    // hoisted into its own one-row CTE: DuckDB inlines plain CTEs, and
    // sig6Sql's CASE repeats its argument 3× — un-materialized, each
    // stage would re-expand the previous one three times (3⁴ copies of
    // the base join by stage 4 — measured as an out-of-disk spill at
    // sf0.1).
    "g28_hits" -> {
      def stage(k: String, prev: String, joinK: String, grpK: String) =
        s"""${k}r AS MATERIALIZED (SELECT e.$grpK AS id, sum(p.x) AS x
           |  FROM e JOIN $prev p ON e.$joinK = p.id GROUP BY e.$grpK),
           |${k}f AS MATERIALIZED (SELECT v.id, coalesce(r.x, 0.0) AS x
           |  FROM v LEFT JOIN ${k}r r ON r.id = v.id),
           |${k}m AS MATERIALIZED (SELECT sqrt(sum(x*x)) AS nrm FROM ${k}f),
           |${k}n AS MATERIALIZED (SELECT id,
           |  ${graft.Canon.sig6Sql("x / nrm")} AS x
           |  FROM ${k}f, ${k}m)""".stripMargin
      s"""WITH e AS MATERIALIZED ($edgesSql),
         |v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |h0n AS (SELECT id, 1.0 AS x FROM v),
         |${stage("a1", "h0n", "src", "dst")},
         |${stage("h1", "a1n", "dst", "src")},
         |${stage("a2", "h1n", "src", "dst")},
         |${stage("h2", "a2n", "dst", "src")}
         |SELECT a2n.id AS id, a2n.x AS auth, h2n.x AS hub
         |FROM a2n JOIN h2n ON h2n.id = a2n.id""".stripMargin
    },
    "g25_random_walks" -> {
      // One walk step as a CTE: join the frontier to the edges, rank
      // neighbors by the shared md5 bucket (ties by dst), keep rank 1.
      // The chain unrolls from GraphOps.WalkSteps — the SAME constant the
      // Spark side defaults to — so a tuned walk length cannot
      // desynchronize the oracle.
      def step(k: Int, prev: String) =
        s"""s$k AS (SELECT start, cur FROM (
           |  SELECT f.start, e.dst AS cur,
           |         row_number() OVER (PARTITION BY f.start ORDER BY
           |           CAST(concat('0x', substr(md5(
           |             'walk:$k:' || CAST(f.start AS VARCHAR) || ':' ||
           |             CAST(f.cur AS VARCHAR) || ':' ||
           |             CAST(e.dst AS VARCHAR)), 1, 8)) AS BIGINT),
           |           e.dst) AS rn
           |  FROM $prev f JOIN e ON e.src = f.cur) t
           |WHERE rn = 1)""".stripMargin
      val n = GraphOps.WalkSteps
      val ctes = (1 to n)
        .map(k => step(k, if (k == 1) "f0" else s"s${k - 1}"))
        .mkString(",\n")
      val tails = (1 to n)
        .map(k => s"UNION ALL SELECT start, $k, cur FROM s$k")
        .mkString("\n")
      s"""WITH e AS ($edgesSql),
         |f0 AS (SELECT DISTINCT src AS start, src AS cur FROM e),
         |$ctes
         |SELECT start AS start_id, CAST(0 AS BIGINT) AS step, cur AS vertex FROM f0
         |$tails""".stripMargin
    },
    "g22_copurchase" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem)
        |SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders
        |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
  )

  /** DuckDB oracle for g30: Jones–Plassmann statically unrolled. The
    * priority is the SAME fixed-width string as the Spark side (8 md5 hex
    * chars ++ 12-digit zero-padded id), so lexicographic max IS the
    * (hash, id) total order in both engines; the mex ranks each winner's
    * distinct colored-neighbor colors ascending and takes the first rank
    * whose color differs from it (else the count — a gapless 0.. prefix).
    * Converged rounds see an empty remainder and are no-ops, so any unroll
    * depth past the fixpoint is exact (the g15/g26/g27 convention); the
    * registry entry REQUIREs fixpoint ≤ rounds/2 per run.
    */
  private def coloringOracle(rounds: Int): String = {
    def round(k: Int, prevV: String, prevE: String, prevC: String) =
      s"""nmax$k AS (SELECT v, max(p) AS mp FROM (
         |    SELECT e.a AS v, pr.p FROM $prevE e JOIN pr ON pr.v = e.b
         |    UNION ALL
         |    SELECT e.b, pr.p FROM $prevE e JOIN pr ON pr.v = e.a) t
         |  GROUP BY v),
         |win$k AS MATERIALIZED (SELECT r.v FROM $prevV r
         |  JOIN pr ON pr.v = r.v
         |  LEFT JOIN nmax$k nm ON nm.v = r.v
         |  WHERE nm.mp IS NULL OR pr.p > nm.mp),
         |nc$k AS (SELECT DISTINCT s.v, c.color FROM sym s
         |  JOIN win$k w ON w.v = s.v
         |  JOIN $prevC c ON c.id = s.nb),
         |mex$k AS (SELECT v,
         |    coalesce(min(CASE WHEN color <> rn THEN rn END), count(*)) AS color
         |  FROM (SELECT v, color,
         |          row_number() OVER (PARTITION BY v ORDER BY color) - 1 AS rn
         |        FROM nc$k) t
         |  GROUP BY v),
         |col$k AS MATERIALIZED (SELECT id, color FROM $prevC
         |  UNION ALL
         |  SELECT w.v, CAST(coalesce(m.color, 0) AS BIGINT)
         |  FROM win$k w LEFT JOIN mex$k m ON m.v = w.v),
         |rv$k AS MATERIALIZED (SELECT v FROM $prevV
         |  WHERE v NOT IN (SELECT v FROM win$k)),
         |re$k AS MATERIALIZED (SELECT a, b FROM $prevE
         |  WHERE a NOT IN (SELECT v FROM win$k)
         |    AND b NOT IN (SELECT v FROM win$k))""".stripMargin
    val ctes = (1 to rounds).map(k => round(k,
      if (k == 1) "v0" else s"rv${k - 1}",
      if (k == 1) "c0" else s"re${k - 1}",
      if (k == 1) "col0" else s"col${k - 1}")).mkString(",\n")
    s"""WITH e AS ($colorEdgesSql),
       |c0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM e WHERE src <> dst),
       |v0 AS MATERIALIZED (SELECT a AS v FROM c0 UNION SELECT b FROM c0),
       |sym AS MATERIALIZED (SELECT a AS v, b AS nb FROM c0
       |       UNION ALL SELECT b, a FROM c0),
       |pr AS MATERIALIZED (SELECT v,
       |       concat(substr(md5('color:' || CAST(v AS VARCHAR)), 1, 8),
       |              lpad(CAST(v AS VARCHAR), 12, '0')) AS p FROM v0),
       |col0 AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS BIGINT) AS color
       |         WHERE false),
       |$ctes
       |SELECT id, color FROM col$rounds""".stripMargin
  }

  /** DuckDB oracle for g15: the degree-peel statically unrolled. Round r
    * keeps the vertices with degree ≥ k in the round-(r-1) edge set and
    * restricts the edges to them; a converged round is a no-op, so any
    * unroll count past the fixpoint is exact. `AS MATERIALIZED` pins each
    * round's shrinking edge set (without it the optimizer inlines all 24
    * rounds into one tree of re-scans of the parquet view).
    */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val base =
      s"""e0 AS ($edgesSql),
         |sym0 AS MATERIALIZED (
         |  SELECT s, d FROM (SELECT src AS s, dst AS d FROM e0
         |                    UNION SELECT dst, src FROM e0) u
         |  WHERE s <> d)""".stripMargin
    val peels = (1 to rounds).map { r =>
      val p = r - 1
      s"""alive$r AS (SELECT s FROM sym$p GROUP BY s HAVING count(*) >= $k),
         |sym$r AS MATERIALIZED (
         |  SELECT t.s, t.d FROM sym$p t
         |  JOIN alive$r x ON t.s = x.s
         |  JOIN alive$r y ON t.d = y.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$peels
       |SELECT s AS id, count(*) AS core_deg FROM sym$rounds GROUP BY s""".stripMargin
  }

  /** k-truss peel, statically unrolled like [[kcoreOracle]] — converged
    * rounds are idempotent (the support recompute keeps every edge), so
    * `rounds` only needs to exceed the measured fixpoint; GraphAlgoSpec
    * pins `ktrussRun`'s depth ≤ rounds/2 on the gate's scale factor.
    * Each round: wedge-join support per canonical edge, keep edges with
    * support ≥ k−2, rebuild the symmetric view from the kept canon set.
    */
  private def ktrussOracle(k: Int, rounds: Int): String = {
    val base =
      s"""e0 AS ($edgesSql),
         |sym0 AS MATERIALIZED (
         |  SELECT s, d FROM (SELECT src AS s, dst AS d FROM e0
         |                    UNION SELECT dst, src FROM e0) u
         |  WHERE s <> d)""".stripMargin
    val peels = (1 to rounds).map { r =>
      val p = r - 1
      s"""keep$r AS (
         |  SELECT t.s, t.d FROM sym$p t
         |  JOIN sym$p x ON x.s = t.s
         |  JOIN sym$p y ON y.s = t.d AND y.d = x.d
         |  WHERE t.s < t.d
         |  GROUP BY t.s, t.d HAVING count(*) >= ${k - 2}),
         |sym$r AS MATERIALIZED (
         |  SELECT s, d FROM keep$r UNION ALL SELECT d, s FROM keep$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$peels
       |SELECT s AS id, count(*) AS truss_deg FROM sym$rounds GROUP BY s""".stripMargin
  }

  private lazy val sccOracle =
    s"""WITH RECURSIVE e0 AS ($sparseEdgesSql),
       |v AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
       |reach AS (
       |  SELECT id, id AS anc FROM v
       |  UNION
       |  SELECT e0.dst, reach.anc FROM reach JOIN e0 ON e0.src = reach.id
       |)
       |SELECT r1.id, min(r1.anc) AS comp
       |FROM reach r1 JOIN reach r2 ON r2.id = r1.anc AND r2.anc = r1.id
       |GROUP BY r1.id""".stripMargin
}
