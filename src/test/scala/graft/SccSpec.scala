package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graphs.{GraphOps, Scc}

/** FW-BW-coloring SCC through the engine ([[graft.graphs.Scc]]): hand
  * goldens on adversarial small graphs plus equality with the GraphX SCC
  * (the g09 path) on the derived graph.
  */
class SccSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** SCC labels plus the number of FW-BW coloring rounds the peel took. */
  private def sccRun(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    import spark.implicits._
    val run = Scc.sccEngineRun(spark, edges.toDF("src", "dst"))
    (run.result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      run.changedRounds)
  }

  private def sccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    sccRun(edges)._1

  test("cycle + tail + 2-cycle hand golden") {
    // {1,2,3} is a 3-cycle, {4,5} a 2-cycle, 3→4 bridges them.
    val got = sccOf(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L, 5L -> 4L))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("reverse path peels to singletons (worst case for the peel bound)") {
    val got = sccOf(Seq(5L -> 4L, 4L -> 3L, 3L -> 2L, 2L -> 1L))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("chain condensation settles in the trim loop — zero coloring rounds") {
    // 64 singleton SCCs in a directed chain: before the trim step this shape
    // cost one FW-BW round (two engine fixpoints) PER component; the trim
    // loop peels both chain ends per iteration and the coloring never runs.
    val n = 64L
    val (got, colorRounds) = sccRun((1L until n).map(i => i -> (i + 1)))
    assert(got == (1L to n).map(i => i -> i).toMap)
    assert(colorRounds == 0,
      s"expected all-trim settle, got $colorRounds coloring rounds")
  }

  test("cycle with pendant tails: one coloring round after trim") {
    // Tails trim away, the 3-cycle needs exactly one FW-BW round.
    val (got, colorRounds) = sccRun(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L,
      3L -> 4L, 4L -> 5L, 0L -> 1L))
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
    assert(colorRounds == 1,
      s"expected 1 coloring round, got $colorRounds")
  }

  test("a 150-cycle is ONE component (propagation must outlive the 120-iter default)") {
    // Color 150 needs 149 supersteps to circle back — a fixpoint capped at
    // the engine's default 120 rounds would silently split this cycle.
    val n = 150L
    val edges = (1L until n).map(i => i -> (i + 1)) :+ (n -> 1L)
    val got = sccOf(edges)
    assert(got.size == n && got.values.forall(_ == 1L))
  }

  test("empty edge relation yields an empty result, not null") {
    assert(sccOf(Seq.empty) == Map.empty)
  }

  test("matches GraphX strongly-connected components on the derived graph") {
    import spark.implicits._
    val e = GraphOps.sparseEdges(spark, sf)
    val engine = Scc.sccEngine(spark, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edgeRdd = e.rdd.map(r =>
      org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), ()))
    val g = org.apache.spark.graphx.Graph.fromEdges(edgeRdd, ())
    val graphx = g.stronglyConnectedComponents(numIter = 50)
      .vertices.collect().toMap
    assert(engine == graphx)
  }
}
