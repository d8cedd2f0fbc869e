package graft

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy}
import org.scalatest.funsuite.AnyFunSuite

import graft.graphs.GraphOps
import graft.sources.GraphSource

/** Goldens for the non-iterative graph operators on reference fixtures. */
class GraphAlgoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("triangle count on small.graph = 2 (DataFrame triple join)") {
    import spark.implicits._
    val g = GraphSource.readGmrText(spark, Fixtures("graph/small.graph"))
    val n = GraphOps.triangleCount(spark, g.edges.select($"src", $"dst"))
      .collect()(0).getLong(0)
    assert(n == 2) // {1,2,3} and {1,4,5}, FIXTURES.md §1
  }

  test("wedge-close kernel: packed and wide-id paths agree, including at " +
      "the 31-bit pack boundary") {
    // The r11 close kernel packs (a<b) into one long (a<<32|b) when every
    // id fits 31 bits and falls back to the two-column join otherwise.
    // Same triangle structure rendered twice: small ids (packed path) and
    // the same graph shifted to ids ABOVE 2^31 (fallback path) — both must
    // count the same triangles, and a boundary id of exactly 2^31−1 must
    // still take the packed path correctly.
    import spark.implicits._
    val hi = (1L << 31) - 1 // max packable id
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, hi), (2L, hi),
      (1L, 4L)) // triangles {1,2,3}, {2,3,hi}; pendant edge 1-4
    def count(shift: Long): Long = {
      val df = tri.map { case (a, b) => (a + shift, b + shift) }
        .toDF("src", "dst")
      GraphOps.triangleCount(spark, df).collect()(0).getLong(0)
    }
    assert(count(0L) == 2)          // packed: hi is exactly the boundary
    assert(count(1L << 31) == 2)    // ids past 31 bits: two-column fallback
  }

  test("GraphX TriangleCount agrees (cross-engine check)") {
    val g = GraphSource.readGmrText(spark, Fixtures("graph/small.graph"))
    val edgeRdd = g.edges.rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = Graph.fromEdges(edgeRdd, ())
      .partitionBy(PartitionStrategy.RandomVertexCut)
    val perVertex = graph.triangleCount().vertices.map(_._2.toLong).sum()
    assert(perVertex / 3 == 2) // each triangle counted at its 3 corners
  }

  test("bipartite: even cycle passes, odd cycle reports its conflict edge") {
    import spark.implicits._
    // Square 1-2-3-4-1 (even cycle → 2-colorable) and triangle 5-6-7
    // (odd cycle): from root 5, vertices 6 and 7 both land at distance 1,
    // so edge 6-7 joins equal parities — 2 conflict rows (both
    // orientations of the one undirected conflict edge).
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (5L, 6L), (6L, 7L),
      (5L, 7L)).toDF("src", "dst")
    val got = GraphOps.bipartite(spark, e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got == Map(1L -> ((4L, 0L, true)), 5L -> ((3L, 2L, false))))
  }

  test("katz3: integer walk counts and exact-decimal weights on a triangle path") {
    import spark.implicits._
    // 1→2, 2→3, 1→3: w1(2)=1, w1(3)=2; length-2 walks end only at 3
    // (1→2→3); no length-3 walks. katz(2)=0.1, katz(3)=0.2+0.01.
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val got = GraphOps.katz3(spark, e).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getDouble(4))).toMap
    assert(got(2L) == ((1L, 0L, 0L), 0.1))
    assert(got(3L) == ((2L, 1L, 0L), 0.21))
    assert(!got.contains(1L)) // no in-walks
  }

  test("critical path: longest-path layers on a diamond + chain DAG") {
    import spark.implicits._
    // 1→2, 1→3, 2→4, 3→4, 4→5 (diamond into a chain): layer = longest
    // chain ending at the vertex. (7,6) is dropped by the src<dst DAG
    // filter; 6→7 remains a detached 2-chain.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (6L, 7L),
      (7L, 6L)).toDF("src", "dst")
    val got = GraphOps.criticalPath(spark, e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L,
      6L -> 0L, 7L -> 1L))
  }

  test("louvain: hand-traced parity rounds on the two-triangle bridge") {
    import spark.implicits._
    // Triangles {1,2,3} and {4,5,6} bridged by 3–4. Hand trace (deg =
    // 2,2,3,3,2,2; 2m = 14; score = 2m·k_in − deg·(tot − [own]·deg)):
    //   round 1 (odd ids move): 1→2 (14−4=10 beats c3's 8), 3→1 (tie 8
    //     between c1/c2 → smallest), 5→6 (10 beats c4's 8).
    //   round 2 (even ids move): 2 stays (own 10 beats c1's 8),
    //     4→6 (k_in=2: 28−12=16), 6 stays (own 10 beats c4's 8).
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L),
      (5L, 6L)).toDF("src", "dst")
    val got = GraphOps.louvain(spark, e, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 6L, 5L -> 6L,
      6L -> 6L))
  }

  test("modularity of the louvain partition: integer-exact on the bridge") {
    import spark.implicits._
    // Partition {1,2} | {3} | {4,5,6}: intra sym rows = 2 + 0 + 6 = 8;
    // tot = 4, 3, 7 → Σtot² = 74; q_num = 14·8 − 74 = 38; Q = 38/196.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L),
      (5L, 6L)).toDF("src", "dst")
    val r = GraphOps.modularity(spark, e, rounds = 2).collect()(0)
    assert(r.getLong(0) == 14L && r.getLong(1) == 38L)
    assert(math.abs(r.getDouble(2) - 38.0 / 196.0) < 1e-9)
  }

  test("harmonic4 on a directed 6-path: exact twelfth-sums, 4-hop cutoff") {
    import spark.implicits._
    // 0→1→2→3→4→5: vertex k is reached by the min(k, 4) nearest
    // predecessors; vertex 5 must NOT see source 0 (d=5 > bound).
    val e = (0 until 5).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    val got = GraphOps.harmonic4(spark, e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // Canon.sig6's 9-significant-digit grid; these values sit in [1, 10).
    def h(n: Int) = (Seq(12, 6, 4, 3).take(n).sum / 12.0 * 1e8).round / 1e8
    assert(got(1L) == (1L, 1.0))
    assert(got(3L) == (3L, h(3))) // 1 + 1/2 + 1/3
    assert(got(4L) == (4L, h(4))) // all four distances
    assert(got(5L) == (4L, h(4))) // source 0 cut off by the hop bound
    assert(!got.contains(0L)) // no in-edges within 4 hops
  }

  test("ppr2: two restart rounds from vertex 1, hand-traced") {
    import spark.implicits._
    // Out-degrees 1:2, 2:1, 3:1, 4:1; d = 0.85, all mass starts at 1.
    //   r1: 1 = 0.15, 2 = 0.85·(1/2) = 0.425, 3 = 0.425, 4 = 0
    //   r2: 1 = 0.15 + 0.85·0.425 = 0.51125
    //       2 = 0.85·(0.15/2) = 0.06375
    //       3 = 0.85·(0.15/2 + 0.425) = 0.425
    //       4 = 0 (nothing reaches it) — dropped
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))
      .toDF("src", "dst")
    val got = GraphOps.ppr2(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Map(1L -> 0.51125, 2L -> 0.06375, 3L -> 0.425)
    assert(got.keySet == want.keySet)
    want.foreach { case (v, r) =>
      assert(math.abs(got(v) - r) < 1e-12, s"vertex $v: ${got(v)} vs $r")
    }
  }

  test("HITS 2 iterations: hubs/authorities on a 3-fan, hand-traced") {
    import spark.implicits._
    // 1→3, 2→3, 4→3, 3→5: vertices 1,2,4 are pure hubs, 3 the dominant
    // authority (and a weak hub via 5). Hand-traced through two
    // L2-normalized iterations:
    //   a1n = (3, 5) → (3/√10, 1/√10); h1n = (1,2,4: .566947, 3: .188982)
    //   a2n = (3: .993884, 5: .110432); h2n = (1,2,4: .576166, 3: .064018)
    val e = Seq((1L, 3L), (2L, 3L), (4L, 3L), (3L, 5L)).toDF("src", "dst")
    val got = GraphOps.hits(spark, e).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def ~=(a: Double, b: Double) = math.abs(a - b) < 1e-5
    assert(~=(got(3L)._1, 0.993884) && ~=(got(3L)._2, 0.064018))
    assert(~=(got(5L)._1, 0.110432) && got(5L)._2 == 0.0)
    Seq(1L, 2L, 4L).foreach { v =>
      assert(got(v)._1 == 0.0 && ~=(got(v)._2, 0.576166))
    }
    // Both output vectors are unit-L2 (within grid rounding).
    val authN = math.sqrt(got.values.map(p => p._1 * p._1).sum)
    val hubN = math.sqrt(got.values.map(p => p._2 * p._2).sum)
    assert(~=(authN, 1.0) && ~=(hubN, 1.0))
  }

  test("SCC: cycle {1,2,3} collapses, appendage {4} is its own component") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val edgeRdd = edges.rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val scc = Graph.fromEdges(edgeRdd, ())
      .stronglyConnectedComponents(numIter = 10)
      .vertices.collect().toMap
    assert(scc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("LPA 2 rounds: triangle converges to min label, pendant pair oscillates") {
    import spark.implicits._
    // Triangle {1,2,3} + disjoint edge {4,5}. Hand-traced synchronous
    // rounds with (max count, min label) ties:
    //   r1: 1→2 (nbr labels {2,3}), 2→1, 3→1, 4→5, 5→4
    //   r2: 1→1 (both nbrs now 1), 2→1 (tie {2,1}), 3→1, 4→4, 5→5
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val got = GraphOps.lpa(spark, edges, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
  }

  test("k-core: peeling strips the tail, keeps the clique; empty core at high k") {
    import spark.implicits._
    // K4 {1,2,3,4} + a path 4-5-6 hanging off it. The 3-core is exactly the
    // K4 (every tail vertex dies with degree < 3, and removing 5 cannot
    // lower any K4 degree below 3); the 4-core is empty.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val core3 = GraphOps.kcore(spark, edges, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(GraphOps.kcore(spark, edges, k = 4).isEmpty)
  }

  test("k-core membership invariant on the derived graph: all core degrees >= k") {
    import spark.implicits._
    // Self-validating on real data: by definition every surviving vertex
    // has >= k neighbors inside the core.
    val e = GraphOps.edges(spark, "/root/testdata/sf0.001")
    val core = GraphOps.kcore(spark, e, k = 3)
    assert(core.filter($"core_deg" < 3).isEmpty)
    // Non-degenerate AND non-trivial: peeling actually removed vertices.
    val n = core.count()
    assert(n == 120, s"3-core size drifted: $n")
  }

  test("k-core: a 300-vertex path peels away in 150 rounds, past the " +
      "default iteration cap") {
    import spark.implicits._
    // k = 2 strips the path's two end vertices per round: 150 rounds with
    // a change, more than the engine's default 120-superstep cap.
    val path = (1L until 300L).map(i => (i, i + 1)).toDF("src", "dst")
    val (core, stats) = GraphOps.kcoreRun(spark, path, k = 2)
    assert(core.isEmpty)
    assert(stats.changedTrace.count(_ > 0) == 150)
  }

  test("k-core peel depth stays within half the g15 oracle's static unroll") {
    import spark.implicits._
    // The g15 oracle is a FIXED 24-round unrolled peel (kcoreOracle —
    // exact because converged rounds are idempotent). That is an
    // empirical bound, not a provable one: data needing deeper peeling
    // would make the oracle emit an unpeeled core and the gate would
    // report a bare hash mismatch with no hint at the cause. Pin the
    // margin HERE, on the gate's own sf0.01 data, with the cause in the
    // failure message: if this fires, raise kcoreOracle's `rounds`.
    val rounds = GraphOps.kcoreRun(spark,
      GraphOps.edges(spark, "/root/testdata/sf0.01"), k = 3)._2.changedTrace
      .count(_ > 0)
    assert(rounds <= 12,
      s"k-core peel took $rounds rounds at sf0.01 — the g15 DuckDB oracle " +
        s"unrolls only 24; raise kcoreOracle(rounds = ...) before trusting " +
        s"the gate")
  }

  test("k-truss: triangle survives, pendant and bridged edges peel") {
    import spark.implicits._
    // Triangle {1,2,3} + pendant 3-4 + a second triangle {4,5,6} linked
    // only through the 3-4 bridge. 3-truss: every edge must close ≥1
    // triangle WITHIN the subgraph — both triangles survive, the bridge
    // (support 0) peels in round 1, and nothing else is affected.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val got = GraphOps.ktruss(spark, edges, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      4L -> 2L, 5L -> 2L, 6L -> 2L))
    // 4-truss (every edge in ≥2 triangles): lone triangles peel to nothing.
    assert(GraphOps.ktruss(spark, edges, k = 4).isEmpty)
  }

  test("k-truss cascade: support recomputes on the shrinking edge set") {
    import spark.implicits._
    // Two triangles sharing edge 2-3, plus vertex 5 attached to BOTH 1 and
    // 4 but to nothing else: edges 1-5 and 4-5 close no triangle (5's two
    // neighbors 1,4 are non-adjacent) and peel in round 1; everything in
    // the bowtie {1,2,3,4} keeps ≥1 triangle and survives — the peel must
    // not cascade past the fixpoint.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (4L, 5L)).toDF("src", "dst")
    val got = GraphOps.ktruss(spark, edges, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 2L))
  }

  test("k-truss matches a driver-side reference peel on random graphs") {
    import spark.implicits._
    // Differential check in the BPE-spec mould: an obviously-correct
    // driver-side fixpoint peel (recompute supports from scratch each
    // round) must agree with the distributed shrinking-edge-set loop on
    // random graphs — cascades, isolated vertices, and multi-round peels
    // arise naturally where hand fixtures stay small. Seeded.
    def refTruss(edges: Set[(Long, Long)], k: Int): Map[Long, Int] = {
      var es = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .filter(p => p._1 != p._2)
      var changed = true
      while (changed) {
        val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (v, s) => v -> s.map(_._2).toSet }
        def nbrs(v: Long) = adj.getOrElse(v, Set.empty[Long])
        val bad = es.filter { case (a, b) =>
          nbrs(a).intersect(nbrs(b)).size < k - 2 }
        changed = bad.nonEmpty
        es --= bad
      }
      es.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, l) => v -> l.size }
    }
    val rnd = new scala.util.Random(20260814L)
    for (_ <- 1 to 4; k <- Seq(3, 4)) {
      val n = 8 + rnd.nextInt(5)
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.35
      } yield if (rnd.nextBoolean()) (a, b) else (b, a)).toSet
      if (edges.nonEmpty) {
        val got = GraphOps.ktruss(spark, edges.toSeq.toDF("src", "dst"), k)
          .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
        assert(got == refTruss(edges, k), s"k=$k edges=$edges")
      }
    }
  }

  test("k-truss peel depth stays within half the g21 oracle's static unroll") {
    import spark.implicits._
    // Same empirical-bound pin as g15's: the g21 oracle unrolls 10 truss
    // rounds; if the gate-scale data ever needs more than half that,
    // fail HERE with the cause instead of a bare oracle hash mismatch.
    val rounds = GraphOps.ktrussRun(spark,
      GraphOps.edges(spark, "/root/testdata/sf0.01"), k = 3).changedRounds
    assert(rounds <= 5,
      s"k-truss peel took $rounds rounds at sf0.01 — the g21 DuckDB oracle " +
        s"unrolls only 10; raise ktrussOracle(rounds = ...) before trusting " +
        s"the gate")
  }

  test("random walks match a driver-side md5 recompute on random graphs") {
    import spark.implicits._
    // Differential check: the frontier-join/argmin pipeline must pick the
    // exact (md5 bucket, dst)-minimal neighbor per (start, step) that an
    // obviously-correct driver-side walk picks — including sink stops.
    def bucket(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    def refWalks(edges: Set[(Long, Long)], steps: Int)
        : Set[(Long, Long, Long)] = {
      val adj = edges.groupBy(_._1).map { case (v, s) => v -> s.map(_._2) }
      edges.map(_._1).flatMap { start =>
        var cur = start
        var out = List((start, 0L, start))
        var k = 1
        var alive = true
        while (k <= steps && alive) {
          adj.get(cur) match {
            case Some(ns) =>
              cur = ns.minBy(w => (bucket(s"walk:$k:$start:$cur:$w"), w))
              out ::= ((start, k.toLong, cur))
              k += 1
            case None => alive = false
          }
        }
        out
      }
    }
    val rnd = new scala.util.Random(20260814L)
    for (_ <- 1 to 4) {
      val n = 6 + rnd.nextInt(5)
      val edges = (for {
        a <- 1L to n; b <- 1L to n
        if a != b && rnd.nextDouble() < 0.3
      } yield (a, b)).toSet
      if (edges.nonEmpty) {
        val got = GraphOps.randomWalks(spark,
          edges.toSeq.toDF("src", "dst"), steps = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        assert(got == refWalks(edges, 3), s"edges=$edges")
      }
    }
  }

  test("maximal matching: differential vs driver recompute; maximality holds") {
    import spark.implicits._
    def bucket(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    // Obviously-correct driver-side fixpoint with the identical priority
    // device: per round select edges min-at-both-endpoints, retire, loop.
    def refMatch(edges: Set[(Long, Long)]): Set[(Long, Long)] = {
      var rem = edges.map { case (x, y) => if (x < y) (x, y) else (y, x) }
        .filter(p => p._1 != p._2)
      var out = Set.empty[(Long, Long)]
      var k = 0
      while (rem.nonEmpty) {
        k += 1
        val pri = rem.map { case (a, b) =>
          (a, b) -> ((bucket(s"match:$k:$a:$b"), a, b)) }.toMap
        val sel = rem.filter { case e @ (a, b) =>
          rem.filter(o => o._1 == a || o._2 == a).map(pri).min == pri(e) &&
          rem.filter(o => o._1 == b || o._2 == b).map(pri).min == pri(e) }
        out ++= sel.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        val mv = sel.flatMap { case (a, b) => Seq(a, b) }
        rem = rem.filterNot { case (a, b) => mv(a) || mv(b) }
      }
      out
    }
    val rnd = new scala.util.Random(20260814L)
    for (_ <- 1 to 4) {
      val n = 6 + rnd.nextInt(6)
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.35
      } yield if (rnd.nextBoolean()) (a, b) else (b, a)).toSet
      if (edges.nonEmpty) {
        val got = GraphOps.maximalMatching(spark,
          edges.toSeq.toDF("src", "dst"))
          .as[(Long, Long)].collect().toSet
        assert(got == refMatch(edges), s"edges=$edges")
        // A matching: each vertex has at most one mate, symmetric pairs.
        val deg = got.groupBy(_._1).map(_._2.size)
        assert(deg.forall(_ == 1))
        assert(got.forall { case (a, b) => got.contains((b, a)) })
        // MAXIMAL: no remaining edge joins two unmatched vertices.
        val mv = got.map(_._1)
        assert(!edges.exists { case (a, b) =>
          a != b && !mv(a) && !mv(b) })
      }
    }
  }

  test("matching fixpoint stays within half the g26 oracle's static unroll") {
    // BOTH gate SFs: the sf0.1 derived graph needs a deeper fixpoint
    // (measured 7 rounds vs sf0.001's ~4) — headroom pinned only at the
    // small SF once let a 12-round unroll sail within 2 rounds of the
    // sf0.1 fixpoint.
    for (sf <- Seq("sf0.001", "sf0.1")) {
      val run = GraphOps.maximalMatchingRun(spark,
        GraphOps.edges(spark, s"/root/testdata/$sf"))
      run.pairs.collect()
      assert(run.rounds > 0 && run.rounds * 2 <= GraphOps.MatchRounds,
        s"$sf: rounds=${run.rounds} cap=${GraphOps.MatchRounds}")
    }
  }

  test("MIS: independent, maximal, and within half the g27 unroll at " +
      "both gate SFs") {
    import spark.implicits._
    // Small fixture first: independence and maximality are checkable
    // exhaustively.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (5L, 6L), (7L, 7L)).toDF("src", "dst")
    val got = GraphOps.maximalIndependentSet(spark, edges)
      .collect().map(_.getLong(0)).toSet
    val undirected = Set((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L),
      (5L, 6L))
    // Independent: no edge inside the set.
    undirected.foreach { case (a, b) =>
      assert(!(got(a) && got(b)), s"edge ($a,$b) inside MIS $got")
    }
    // Maximal: every non-member vertex has a neighbor in the set (the
    // self-loop 7-7 contributes no vertex — canonicalized away).
    val verts = undirected.flatMap(e => Seq(e._1, e._2))
    (verts -- got).foreach { v =>
      assert(undirected.exists(e =>
        (e._1 == v && got(e._2)) || (e._2 == v && got(e._1))),
        s"non-member $v has no MIS neighbor in $got")
    }
    // Gate graphs: the same invariants hold and the fixpoint leaves 2x
    // headroom under the oracle's static unroll (the g26 convention).
    for (sf <- Seq("sf0.001", "sf0.1")) {
      val e = GraphOps.edges(spark, s"/root/testdata/$sf").cache()
      val run = GraphOps.maximalIndependentSetRun(spark, e)
      val members = run.members.collect().map(_.getLong(0)).toSet
      assert(run.rounds > 0 && run.rounds * 2 <= GraphOps.MisRounds,
        s"$sf: rounds=${run.rounds} cap=${GraphOps.MisRounds}")
      val es = e.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 != p._2)
      es.foreach { case (a, b) =>
        assert(!(members(a) && members(b)), s"$sf: edge ($a,$b) inside MIS")
      }
      val all = es.flatMap(p => Seq(p._1, p._2)).toSet
      val nbrs = es.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
        .map { case (v, ps) => v -> ps.map(_._2).toSet }
      (all -- members).foreach { v =>
        assert(nbrs(v).exists(members), s"$sf: non-member $v uncovered")
      }
      e.unpersist()
    }
  }

  test("clustering coefficient: all three corners credited, deg-1 excluded") {
    import spark.implicits._
    // Triangle {1,2,3} + pendant 3-4. Vertex 3 has deg 3 and ONE triangle
    // → 2·1/(3·2) = 1/3 (min-corner crediting, g07's shape, would give
    // vertex 3 zero); vertices 1,2 close their only wedge → 1.0; vertex 4
    // (deg 1) is excluded, not reported as 0/0.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphOps.clusteringCoef(spark, edges)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((2L, 1L, 1.0)) && got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L)._1 == 3L && got(3L)._2 == 1L)
    assert(math.abs(got(3L)._3 - 1.0 / 3) < 1e-6)
  }

  test("assortativity: a perfect star is exactly -1") {
    import spark.implicits._
    // Star K1,3: every edge joins the deg-3 hub to a deg-1 leaf — maximal
    // disassortativity, r = −1 exactly (n=6 oriented edges; integer sums
    // 12/12/18/30/30 give (6·18−144)/(√36·√36) = −1).
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val got = GraphOps.assortativity(spark, star).collect().head
    assert(got.getLong(0) == 6L)
    assert(math.abs(got.getDouble(1) - (-1.0)) < 1e-9)
  }

  test("co-purchase projection: pair counts per order, dup lines collapse") {
    import spark.implicits._
    // Orders: 1 carries parts {10,20,30} (10 listed twice — distinct must
    // collapse it), orders 2 and 3 both carry {10,20}.
    // Pairs: (10,20)×3, (10,30)×1, (20,30)×1; total order on ties.
    val dir = TestSpark.tempDir("graft_copurchase_fx")
    Seq((1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
        (2L, 10L), (2L, 20L), (3L, 10L), (3L, 20L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("g22_copurchase")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((10L, 20L, 3L), (10L, 30L, 1L), (20L, 30L, 1L)))
  }

  test("IVF top-k: high recall vs the exact scan, exact sims, full rows") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val exact = graft.llmops.Similarity.cosineTopK(spark, sf)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.llmops.Similarity.ivfTopK(spark, sf)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.size == 50, "k rows per query (lists hold enough candidates)")
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.5, f"IVF recall $recall%.2f below floor")
  }

  test("squares: hand goldens — chorded 4-cycle counts once, K4 holds 3") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, expr, lit}
    def squares(edges: Seq[(Long, Long)]): Long = {
      val sym = GraphOps.symmetrize(spark, edges.toDF("src", "dst"),
        dropSelfLoops = true)
      sym.as("x").join(sym.as("y"),
          $"x.dst" === $"y.dst" && $"x.src" < $"y.src")
        .groupBy($"x.src".as("a"), $"y.src".as("b"))
        .agg(count(lit(1)).as("cn"))
        .agg(expr(
          "CAST(sum((cn * (cn - 1)) DIV 2) DIV 2 AS BIGINT) AS squares"))
        .head().getLong(0)
    }
    // One 4-cycle; the 1-3 chord adds triangles but no new square.
    assert(squares(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))) == 1L)
    // K4: exactly 3 distinct 4-cycles.
    assert(squares(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))) == 3L)
    // Square-free: a star has no cycle at all.
    assert(squares(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))) == 0L)
  }

  test("PCA power iteration: unit component, projections centered, and " +
      "variance dominates every coordinate axis") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val scores = graft.llmops.Similarity.pcaPowerProject(spark, sf)
      .collect().map(r => r.getDouble(1))
    val n = scores.length.toDouble
    val mean = scores.sum / n
    // Projections of centered data onto a direction are centered (up to
    // the 9-sig grid rounding of each stage).
    assert(math.abs(mean) < 1e-3, s"projection mean $mean")
    val pcVar = scores.map(x => (x - mean) * (x - mean)).sum / n
    // Rayleigh check: the component's variance must beat every coordinate
    // axis — the property that makes it the TOP component (3 power rounds
    // on a clustered corpus are far past this bar).
    val emb = graft.Tables.load(spark, sf, "embeddings")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val dim = emb.head.length
    (0 until dim).foreach { i =>
      val xs = emb.map(_(i).toDouble)
      val m = xs.sum / xs.length
      val v = xs.map(x => (x - m) * (x - m)).sum / xs.length
      assert(pcVar > v, s"axis $i variance $v >= component variance $pcVar")
    }
    // Determinism: no RNG state anywhere.
    val again = graft.llmops.Similarity.pcaPowerProject(spark, sf)
      .collect().map(r => r.getDouble(1))
    assert(again.toSeq == scores.toSeq)
  }

  test("betweenness4: hand goldens — chain interior counts, diamond splits " +
      "fractionally, hop bound cuts") {
    import spark.implicits._
    // Directed 5-chain: every interior vertex carries all pairs routing
    // through it; the 4-hop bound still admits the full 1→5 path.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val gotChain = GraphOps.betweenness4(spark, chain).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(gotChain == Map(2L -> 3.0, 3L -> 4.0, 4L -> 3.0), s"$gotChain")
    // Diamond 1→{2,3}→4: two equal shortest paths, each middle vertex
    // carries half a pair — the σ-ratio arithmetic, not just counting.
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val gotD = GraphOps.betweenness4(spark, diamond).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(gotD == Map(2L -> 0.5, 3L -> 0.5), s"$gotD")
    // Hop bound: a 6-chain's endpoint pair (1,6) is 5 hops — beyond the
    // horizon, so vertex 3 loses exactly that pair vs the unbounded count.
    val chain6 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val got6 = GraphOps.betweenness4(spark, chain6).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // Unbounded BC of v3 in a 6-chain is 2*3=6 ordered... directed: pairs
    // (1,4),(1,5),(2,4),(2,5),(2,6),(3..): through 3: (1,4),(1,5),(2,4),
    // (2,5),(2,6) = 5 within 4 hops; (1,6) is cut.
    assert(got6(3L) == 5.0, s"$got6")
  }

  test("betweenness4 sampled tier: K-pivot estimator matches an " +
      "independent driver Brandes on the md5-ranked pivot set") {
    import spark.implicits._
    val edgeSeq = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 6L), (2L, 6L), (6L, 7L), (3L, 7L), (7L, 8L))
    val edges = edgeSeq.toDF("src", "dst")
    val verts = edgeSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    // Independent reference: textbook hop-bounded Brandes on the driver,
    // with the SAME per-level 9-sig rounding the distributed passes apply
    // (Canon.sig6 semantics, via the shared test-side Sig9 grid) —
    // validates the estimator AND the passes against code that shares
    // nothing with the implementation under test.
    def sig9(x: Double): Double = Sig9(x)
    val adj = edgeSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    def depDelta(u: Long): Map[Long, Double] = {
      val dist = scala.collection.mutable.Map(u -> 0)
      val sigma = scala.collection.mutable.Map(u -> 1.0)
      var frontier = Seq(u)
      for (d <- 1 to 4) {
        val next = scala.collection.mutable.Map.empty[Long, Double]
        frontier.foreach { x =>
          adj.getOrElse(x, Nil).foreach { y =>
            if (!dist.contains(y) || dist(y) == d)
              next(y) = next.getOrElse(y, 0.0) + sigma(x)
          }
        }
        next.keys.foreach(y => dist(y) = d)
        next.foreach { case (y, s) => sigma(y) = s }
        frontier = next.keys.toSeq
      }
      val delta = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      for (d <- 3 to 1 by -1) {
        dist.filter(_._2 == d).keys.foreach { x =>
          val contrib = adj.getOrElse(x, Nil)
            .filter(y => dist.get(y).contains(d + 1))
            .map(y => sigma(x) / sigma(y) * (1.0 + delta(y))).sum
          if (contrib > 0) delta(x) = sig9(contrib)
        }
      }
      delta.toMap
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val pivots = verts.sortBy(v => md5hex(s"bc:$v")).take(3)
    val scale = verts.size.toDouble / 3
    val want = verts.flatMap { v =>
      val s = pivots.map(u => depDelta(u).getOrElse(v, 0.0)).sum
      val bc = sig9(s * scale)
      if (bc > 0.0) Some(v -> bc) else None
    }.toMap
    val got = GraphOps.betweenness4(spark, edges,
        exactVertexLimit = 0, pivotK = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == want, s"got $got want $want (pivots $pivots)")
    // pivotK >= |V| degenerates to the exact tier (scale 1): both tiers
    // must produce the identical relation.
    val exact = GraphOps.betweenness4(spark, edges).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val allPiv = GraphOps.betweenness4(spark, edges,
        exactVertexLimit = 0, pivotK = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(allPiv == exact)
  }

  test("coreness: H-index iteration lands exact peeling goldens") {
    import spark.implicits._
    // K4 (coreness 3) + a pendant off it (1) + a 2-path of triangles
    // sharing vertex 10 (all 2) + an isolated edge (1): exercises every
    // regime — clique, tree fringe, 2-core chain — with hand-checkable
    // peeling answers.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (4L, 5L),                                                   // pendant
      (10L, 11L), (10L, 12L), (11L, 12L),                         // tri 1
      (10L, 13L), (10L, 14L), (13L, 14L),                         // tri 2
      (20L, 21L)                                                  // edge
    ).toDF("src", "dst")
    val got = GraphOps.coreness(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L,
      10L -> 2L, 11L -> 2L, 12L -> 2L, 13L -> 2L, 14L -> 2L,
      20L -> 1L, 21L -> 1L)
    assert(got == want, s"$got")
    // Determinism (the window tie order must be immaterial).
    val again = GraphOps.coreness(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again == got)
  }

  test("coloring: proper, greedy-tight, deterministic, within half the " +
      "g30 unroll at both gate SFs") {
    import spark.implicits._
    // Small fixture: a 4-clique forces 4 colors; the pendant and the
    // separate edge stay low. Invariants are exhaustively checkable.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (6L, 7L), (8L, 8L)).toDF("src", "dst")
    val got = GraphOps.greedyColoring(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L),
      "every non-self-loop vertex colored exactly once")
    assert(Set(1L, 2L, 3L, 4L).map(got).size == 4,
      s"4-clique needs 4 distinct colors: $got")
    // Determinism: static md5 priorities, no RNG state.
    val again = GraphOps.greedyColoring(spark, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(again == got)
    // Gate graphs: properness and the greedy-mex witness (every color
    // below a vertex's own appears in its neighborhood — the mex never
    // skips) on the DENSE sf0.01 view, where the JP loop runs ~63 rounds
    // (the library function is depth-unbounded; only the oracle view is
    // unroll-capped). The depth pin runs on the oracle's own colorEdges
    // view at BOTH gate SFs, the g26/g27 convention.
    val eDense = GraphOps.edges(spark, "/root/testdata/sf0.01").cache()
    val dense = GraphOps.greedyColoring(spark, eDense).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val es = eDense.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 != p._2)
    es.foreach { case (a, b) =>
      assert(dense(a) != dense(b), s"edge ($a,$b) monochromatic")
    }
    val nbrs = es.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .map { case (v, ps) => v -> ps.map(_._2).toSet }
    dense.foreach { case (v, c) =>
      val nbrColors = nbrs.getOrElse(v, Set.empty).map(dense)
      (0L until c).foreach { lower =>
        assert(nbrColors(lower),
          s"vertex $v color $c skips unused color $lower — not a mex")
      }
    }
    eDense.unpersist()
    for (sf <- Seq("sf0.001", "sf0.1")) {
      val run = GraphOps.greedyColoringRun(spark,
        GraphOps.colorEdges(spark, s"/root/testdata/$sf"))
      run.colors.collect()
      assert(run.rounds > 0 && run.rounds * 2 <= GraphOps.ColorRounds,
        s"$sf: rounds=${run.rounds} cap=${GraphOps.ColorRounds}")
    }
    // Tier equality: the driver-tier sequential greedy (what the gate
    // graphs take) and the distributed JP loop (the 100 TB path) are the
    // SAME function — identical colors AND identical fixpoint depth (JP's
    // round of v = 1 + max over higher-priority neighbors' rounds).
    import org.apache.spark.sql.functions.{greatest, least}
    val ce = GraphOps.colorEdges(spark, "/root/testdata/sf0.01")
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
    val loop = GraphOps.distributedColoringRun(spark, ce)
    val loopColors = loop.colors.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val drv = GraphOps.greedyColoringRun(spark,
      GraphOps.colorEdges(spark, "/root/testdata/sf0.01"))
    val drvColors = drv.colors.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(loopColors == drvColors, "tier colors diverge")
    assert(loop.rounds == drv.rounds,
      s"tier rounds diverge: loop=${loop.rounds} driver=${drv.rounds}")
  }

  test("rich club: K4 plus a pendant — hand golden at three thresholds") {
    import spark.implicits._
    // K4 on {1,2,3,4} (degrees 3,3,3 and vertex 1 gets +1 from pendant 5).
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L)).toDF("src", "dst")
    val got = GraphOps.richClub(spark, e, ks = Seq(1, 2, 3)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_ => r.getDouble(3)))))
      .toMap
    // k=1: {1,2,3,4} qualify (degrees 4,3,3,3), all 6 K4 edges inside →
    // phi = 2*6/(4*3) = 1.0; k=2 identical; k=3: only vertex 1 (deg 4) →
    // n=1, no pairs, phi undefined (NULL).
    assert(got(1L) == ((4L, 6L, Some(1.0))))
    assert(got(2L) == ((4L, 6L, Some(1.0))))
    assert(got(3L) == ((1L, 0L, None)))
  }

  test("double sweep: path graph recovers the exact diameter") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val r = GraphOps.doubleSweep(spark, e).collect()(0)
    // Seed = min id 1 (an endpoint), ecc 4, farthest = 5, second sweep
    // ecc 4 = the true diameter; all 5 vertices reached.
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((1L, 4L, 5L, 4L, 4L, 5L)))
  }

  test("condensation: two 3-cycles bridged = 2 SCCs; a diamond is a DAG") {
    import spark.implicits._
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L)).toDF("src", "dst")
    val r1 = GraphOps.condensation(spark, cyc).collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3),
      r1.getBoolean(4)) == ((2L, 2L, 6L, 1L, false)))
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val r2 = GraphOps.condensation(spark, dag).collect()(0)
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3),
      r2.getBoolean(4)) == ((4L, 0L, 0L, 4L, true)))
  }
}
