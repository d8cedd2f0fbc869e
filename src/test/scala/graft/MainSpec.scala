package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reference-CLI facade: same algorithm names, same graph files. */
class MainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def small = Fixtures("graph/small.graph")

  test("CLI sssp on small.graph reproduces the hand golden") {
    val got = Main.run(spark, "sssp", small)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 1L, 6L -> 2L, 7L -> 2L, 8L -> 2L, 9L -> 2L))
  }

  test("CLI trianglecount on small.graph = 2") {
    assert(Main.run(spark, "trianglecount", small).head().getLong(0) == 2L)
  }

  test("CLI pagerank yields a rank per vertex") {
    val pr = Main.run(spark, "pagerank", small).collect()
    assert(pr.length == 10)
    assert(pr.forall(_.getDouble(1) > 0))
  }

  test("CLI pagerank parity mode (d=0.5) matches the value golden") {
    // Value lock for the reference-parity configuration (d = 0.5, global-N
    // damping, |Δ|<1e-4 convergence) on small.graph — pinned numbers, not
    // the formula, so any drift in damping/init/convergence fails here.
    val golden = Map(
      1L -> 0.1666382790, 2L -> 0.1555766773, 3L -> 0.1555766773,
      4L -> 0.0888900604, 5L -> 0.0888900604, 6L -> 0.0694390125,
      7L -> 0.0694390125, 8L -> 0.0694390125, 9L -> 0.0694390125,
      10L -> 0.0666721954)
    val got = Main.run(spark, "pagerank", small)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == golden.keySet)
    golden.foreach { case (id, v) =>
      assert(math.abs(got(id) - v) < 1e-9, s"vertex $id: ${got(id)} vs $v")
    }
  }

  test("unknown algorithm is rejected") {
    // Rejected before the graph is read, so the fixture need not exist.
    intercept[IllegalArgumentException](
      Main.run(spark, "bogus", s"${Fixtures.Root}/graph/small.graph"))
  }
}
