package graft.engine

import org.scalacheck.{Gen, Prop, Properties}

import graft.algos.Algorithms

/** ScalaCheck properties for the engine's superstep algebra (the SURVEY §5
  * test plan's property slot): the CSR loop — the scalar semantics shared by
  * ALL THREE runners (EngineSpec pins runner equality, so a law proved here
  * covers the distributed paths too) — is checked against independent
  * textbook implementations on random graphs, plus the algebraic merge laws
  * that make map-side partial aggregation legal.
  *
  * Pure driver-side: no SparkSession, hundreds of cases in milliseconds.
  */
object EngineProperties extends Properties("graft.engine") {

  // Random directed multigraph: n vertices (ids 1..n), m weighted edges.
  private val genGraph: Gen[(Int, Array[Long], Array[Long], Array[Double])] =
    for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 160)
      ab <- Gen.listOfN(m, Gen.zip(Gen.choose(1, 40), Gen.choose(1, 40)))
      ws <- Gen.listOfN(m, Gen.choose(1, 9))
    } yield {
      val es = ab.map { case (a, b) => (math.min(a, n), math.min(b, n)) }
      (n, es.map(_._1.toLong).toArray, es.map(_._2.toLong).toArray,
        ws.map(_.toDouble).toArray)
    }

  /** Textbook Dijkstra over the same adjacency. */
  private def dijkstra(n: Int, srcs: Array[Long], dsts: Array[Long],
                       ws: Array[Double], source: Int): Array[Double] = {
    val dist = Array.fill(n + 1)(Double.PositiveInfinity)
    dist(source) = 0.0
    val adj = Array.fill(n + 1)(List.empty[(Int, Double)])
    for (i <- srcs.indices)
      adj(srcs(i).toInt) = (dsts(i).toInt, ws(i)) :: adj(srcs(i).toInt)
    val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), Double](_._1).reverse)
    pq.enqueue((0.0, source))
    val settled = new Array[Boolean](n + 1)
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (!settled(u)) {
        settled(u) = true
        adj(u).foreach { case (v, w) =>
          if (d + w < dist(v)) { dist(v) = d + w; pq.enqueue((dist(v), v)) }
        }
      }
    }
    dist
  }

  property("csrLoop SSSP == Dijkstra on random weighted digraphs") =
    Prop.forAll(genGraph) { case (n, srcs, dsts, ws) =>
      val verts = Array.tabulate(n)(i => (i + 1).toLong)
      val got = LocalRunner.csrLoop(verts, srcs, dsts, ws,
        Algorithms.Sssp, GraphMeta(n, source = 1L))._1.toMap
      val want = dijkstra(n, srcs, dsts, ws, 1)
      verts.forall { v =>
        val g = got(v); val w = want(v.toInt)
        (g.isPosInfinity && w.isPosInfinity) || g == w
      }
    }

  property("csrLoop WCC == union-find on random graphs (symmetrized)") =
    Prop.forAll(genGraph) { case (n, srcs, dsts, _) =>
      // Symmetrize like every WCC caller does.
      val s2 = srcs ++ dsts
      val d2 = dsts ++ srcs
      val verts = Array.tabulate(n)(i => (i + 1).toLong)
      val got = LocalRunner.csrLoop(verts, s2, d2, Array.fill(s2.length)(1.0),
        Algorithms.Wcc, GraphMeta(n))._1.toMap
      // Union-find with min-root labels.
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      for (i <- s2.indices) {
        val (ra, rb) = (find(s2(i).toInt), find(d2(i).toInt))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      verts.forall(v => got(v) == find(v.toInt).toDouble)
    }

  property("csrLoop BFS hop counts == queue BFS (unit weights)") =
    Prop.forAll(genGraph) { case (n, srcs, dsts, _) =>
      val verts = Array.tabulate(n)(i => (i + 1).toLong)
      val got = LocalRunner.csrLoop(verts, srcs, dsts,
        Array.fill(srcs.length)(1.0), Algorithms.Bfs,
        GraphMeta(n, source = 1L))._1.toMap
      // Queue BFS.
      val adj = Array.fill(n + 1)(List.empty[Int])
      for (i <- srcs.indices)
        adj(srcs(i).toInt) = dsts(i).toInt :: adj(srcs(i).toInt)
      val dist = Array.fill(n + 1)(Double.PositiveInfinity)
      dist(1) = 0.0
      val q = scala.collection.mutable.Queue(1)
      while (q.nonEmpty) {
        val u = q.dequeue()
        adj(u).foreach { v =>
          if (dist(v).isPosInfinity) { dist(v) = dist(u) + 1.0; q.enqueue(v) }
        }
      }
      verts.forall { v =>
        val g = got(v); val w = dist(v.toInt)
        (g.isPosInfinity && w.isPosInfinity) || g == w
      }
    }

  // Random DAG: genGraph's edges oriented low → high id, self-loops dropped.
  private val genDag: Gen[(Int, Array[Long], Array[Long])] =
    genGraph.map { case (n, srcs, dsts, _) =>
      val es = srcs.zip(dsts).filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      (n, es.map(_._1), es.map(_._2))
    }

  /** Kahn topological layering: layer(v) = longest chain ending at v. */
  private def kahnLayers(n: Int, srcs: Array[Long],
                         dsts: Array[Long]): Array[Long] = {
    val succ = Array.fill(n + 1)(List.empty[Int])
    val indeg = new Array[Int](n + 1)
    for (i <- srcs.indices) {
      succ(srcs(i).toInt) = dsts(i).toInt :: succ(srcs(i).toInt)
      indeg(dsts(i).toInt) += 1
    }
    val layer = new Array[Long](n + 1)
    val queue = scala.collection.mutable.Queue((1 to n).filter(indeg(_) == 0): _*)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      succ(u).foreach { w =>
        layer(w) = math.max(layer(w), layer(u) + 1)
        indeg(w) -= 1
        if (indeg(w) == 0) queue.enqueue(w)
      }
    }
    layer
  }

  property("csrLoop LongestPath == Kahn layering on random DAGs") =
    Prop.forAll(genDag) { case (n, srcs, dsts) =>
      val verts = Array.tabulate(n)(i => (i + 1).toLong)
      val got = LocalRunner.csrLoop(verts, srcs, dsts,
        Array.fill(srcs.length)(1.0), Algorithms.LongestPath, GraphMeta(n))._1.toMap
      val want = kahnLayers(n, srcs, dsts)
      verts.forall(v => got(v) == want(v.toInt).toDouble)
    }

  // Random simple undirected graph: genGraph's edges without self-loops or
  // repeats, in both orientations (the view GraphOps.kcore peels).
  private val genSym: Gen[(Int, Array[Long], Array[Long])] =
    genGraph.map { case (n, srcs, dsts, _) =>
      val es = srcs.zip(dsts).filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      (n, es.map(_._1) ++ es.map(_._2), es.map(_._2) ++ es.map(_._1))
    }

  /** Sequential peel: delete any vertex of degree < k until none is left. */
  private def peel(n: Int, srcs: Array[Long], dsts: Array[Long],
                   k: Int): Array[Boolean] = {
    val nbrs = Array.fill(n + 1)(List.empty[Int])
    for (i <- srcs.indices) nbrs(srcs(i).toInt) = dsts(i).toInt :: nbrs(srcs(i).toInt)
    val alive = Array.fill(n + 1)(true)
    var peeled = true
    while (peeled) {
      peeled = false
      for (v <- 1 to n if alive(v) && nbrs(v).count(alive) < k) {
        alive(v) = false
        peeled = true
      }
    }
    alive
  }

  property("csrLoop KCore == sequential peel on random symmetric graphs") =
    Prop.forAll(genSym, Gen.choose(0, 5)) { case ((n, srcs, dsts), k) =>
      val verts = Array.tabulate(n)(i => (i + 1).toLong)
      val got = LocalRunner.csrLoop(verts, srcs, dsts,
        Array.fill(srcs.length)(1.0), Algorithms.KCore(k), GraphMeta(n))._1.toMap
      val want = peel(n, srcs, dsts, k)
      verts.forall(v => (got(v) > 0) == want(v.toInt))
    }

  /** The same algebra with the frontier fast path disabled — csrLoop then
    * takes the original full-scan branch. Used to pin frontier ≡ bulk.
    */
  private def bulkVariant(a: graft.engine.GmrAlgorithm): graft.engine.GmrAlgorithm =
    new graft.engine.DelegatingGmrAlgorithm(a) {
      override def name = base.name + "-bulk"
      override def idleNoOp = false
    }

  property("csrLoop frontier path == bulk path (SSSP, WCC, FwdMaxColor)") =
    Prop.forAll(genGraph) { case (n, srcs, dsts, ws) =>
      val verts = Array.tabulate(n)(i => (i + 1).toLong)
      Seq[graft.engine.GmrAlgorithm](
        Algorithms.Sssp, Algorithms.Wcc, Algorithms.FwdMaxColor
      ).forall { alg =>
        val meta = GraphMeta(n, source = 1L)
        val (s2, d2, w2) =
          if (alg eq Algorithms.Wcc) (srcs ++ dsts, dsts ++ srcs,
            Array.fill(2 * ws.length)(1.0))
          else (srcs, dsts, ws)
        val frontier = LocalRunner.csrLoop(verts, s2, d2, w2, alg, meta)._1.toMap
        val bulk = LocalRunner.csrLoop(verts, s2, d2, w2,
          bulkVariant(alg), meta)._1.toMap
        // Bit-identical, including Inf at unreached vertices.
        verts.forall { v =>
          java.lang.Double.doubleToLongBits(frontier(v)) ==
            java.lang.Double.doubleToLongBits(bulk(v))
        }
      }
    }

  // The merge laws that make map-side partial aggregation legal: partials
  // may arrive in any order and grouping (shuffle nondeterminism), so the
  // reduce must be commutative + associative (exactly, for min; sum is
  // reassociated by floating point — which is why float aggregates go
  // through Canon.sig6 at the oracle boundary, not why they'd be wrong).
  property("min-merge (SSSP/WCC) is commutative, associative, idempotent") =
    Prop.forAll { (a: Double, b: Double, c: Double) =>
      val m = Algorithms.Sssp.mergeFn _
      m(a, b) == m(b, a) &&
        m(m(a, b), c) == m(a, m(b, c)) &&
        m(a, a) == a
    }

  property("sum-merge (PageRank) is commutative") =
    Prop.forAll { (a: Double, b: Double) =>
      val m = Algorithms.PageRank(0.85).mergeFn _
      val x = m(a, b); val y = m(b, a)
      x == y || (x.isNaN && y.isNaN)
    }

  // The one sort under the vertex state's seed and the driver's per-round
  // sender sort: small spans with repeated keys, negative ids, spans past
  // 2^32 up to the whole of Long, and keys that take several radix passes.
  private val genKeys: Gen[Array[Long]] = Gen.oneOf(
    Gen.listOf(Gen.choose(-5L, 5L)),
    Gen.listOf(Gen.choose(-70000L, 70000L)),
    Gen.listOf(Gen.oneOf(Long.MinValue, -(1L << 32), -1L, 0L, 1L << 32,
      (1L << 32) + 1, Long.MaxValue)),
    Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))).map(_.toArray)

  property("sortedOrder == a stable sortBy (ties in position order, empty input)") =
    Prop.forAll(genKeys) { keys =>
      EdgeIndex.sortedOrder(keys).toSeq == keys.indices.sortBy(keys(_))
    } && Prop(EdgeIndex.sortedOrder(Array.emptyLongArray).isEmpty)
}
