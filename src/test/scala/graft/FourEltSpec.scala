package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.algos.Algorithms
import graft.engine.{GraphMeta, LocalRunner, SqlRunner}
import graft.sources.GraphSource

/** SSSP on the 4elt mesh (15,606 v / 91,756 directed e).
  *
  * NOT checked against the reference's `result` dump: that file claims
  * 10,400 vertices at distance 1 from vertex 1 — impossible in a mesh whose
  * vertex 1 has out-degree 4 — i.e. it is output of the half-migrated broken
  * binary (SURVEY §2.2). Golden below is true BFS computed independently:
  * histogram starts 0:1, 1:4, 2:6, 3:9, 4:14, 5:18; max distance 69; all
  * 15,606 vertices reached.
  */
class FourEltSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def checkHistogram(hist: Map[Double, Int]): Unit = {
    assert(hist.getOrElse(0.0, 0) == 1)
    assert(hist.getOrElse(1.0, 0) == 4)
    assert(hist.getOrElse(2.0, 0) == 6)
    assert(hist.getOrElse(3.0, 0) == 9)
    assert(hist.getOrElse(4.0, 0) == 14)
    assert(hist.getOrElse(5.0, 0) == 18)
    assert(hist.keys.max == 69.0)
    assert(hist.values.sum == 15606) // all reached, none at infinity
  }

  private def histOf(df: org.apache.spark.sql.DataFrame): Map[Double, Int] =
    df.collect().map(_.getDouble(1)).groupBy(identity).view.mapValues(_.length).toMap

  test("SSSP on 4elt matches independently computed BFS golden — SqlRunner") {
    val g = GraphSource.readGmrText(spark, Fixtures("graph/4elt.graph"))
    assert(g.numVertices == 15606 && g.numEdges == 91756)
    val meta = GraphMeta(g.numVertices, source = 1L)
    checkHistogram(histOf(SqlRunner.run(spark, g.vertices, g.edges, Algorithms.Sssp, meta)))
  }

  test("SSSP on 4elt matches golden — LocalRunner (the auto-picked path)") {
    val g = GraphSource.readGmrText(spark, Fixtures("graph/4elt.graph"))
    val meta = GraphMeta(g.numVertices, source = 1L)
    val t0 = System.nanoTime()
    val res = LocalRunner.run(spark, g.vertices, g.edges, Algorithms.Sssp, meta)
    val hist = histOf(res)
    info(f"LocalRunner 4elt SSSP wall: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      "(BASELINE native: 0.28 s)")
    checkHistogram(hist)
  }

  test("driver-side file tier (autoFile) equals the distributed parse+run") {
    import spark.implicits._
    val t0 = System.nanoTime()
    val viaFile = graft.engine.GmrRunner
      .autoFile(spark, Fixtures("graph/4elt.graph"), Algorithms.Sssp,
        n => GraphMeta(n, source = 1L))
    checkHistogram(histOf(viaFile))
    info(f"autoFile 4elt SSSP wall: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      "(BASELINE native: 0.28 s)")
    // Row-for-row equality against the cluster path, not just the histogram.
    val g = GraphSource.readGmrText(spark, Fixtures("graph/4elt.graph"))
    val viaCluster = LocalRunner.run(spark, g.vertices, g.edges,
      Algorithms.Sssp, GraphMeta(g.numVertices, source = 1L))
    assert(viaFile.as("a").join(viaCluster.as("b"), "id")
      .filter($"a.value" =!= $"b.value").count() == 0)
  }
}
