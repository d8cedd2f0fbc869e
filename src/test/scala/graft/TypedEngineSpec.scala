package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.{Algorithms, TypedAlgorithms}
import graft.engine.{GraphMeta, SqlRunner, TypedRunner}
import graft.graphs.GraphOps
import graft.sources.GraphSource

/** The typed engine tier ([[graft.engine.TypedRunner]]): cross-tier
  * equality for scalar algorithms, and goldens + oracle-join equivalence
  * for the list-payload TriangleCount (the algorithm class the scalar tier
  * cannot express — reference algorithms.h:134-166 ships adjacency lists).
  */
class TypedEngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val small =
    GraphSource.readGmrText(spark, Fixtures("graph/small.graph"))

  test("typed SSSP == SqlRunner SSSP on small.graph") {
    import spark.implicits._
    val meta = GraphMeta(small.numVertices, source = 1L)
    val typed = TypedRunner.run(spark, small.vertices, small.edges,
        TypedAlgorithms.Sssp, meta)
      .collect().toMap
    val sql = SqlRunner.run(spark, small.vertices, small.edges,
        Algorithms.Sssp, meta)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(typed == sql)
  }

  test("typed tier matches the 8M-edge depth golden (TypedRunner)") {
    // The LAST runner pinned at a distributed tier: b06 covers GraphX at
    // 64M and EngineSpec pins SqlRunner at 8M against the same b02 depth
    // golden this test uses — the typed encoder/cogroup path must
    // reproduce the identical expansion vector at 40× its previous 200k
    // pin. Deliberately heavy (the typed tier trades codegen for
    // generality); uses the shared b02 generator so the golden can never
    // drift from the graph.
    import spark.implicits._
    val nV = graft.graphs.GraphQueries.B02NV
    val e = graft.graphs.GraphQueries.uniformEdges8M(spark)
      .withColumn("weight", lit(1.0))
    val v = spark.range(nV).select($"id")
    val got = TypedRunner
      .run(spark, v, e, TypedAlgorithms.Sssp, GraphMeta(nV, source = 1L))
      .toDF("id", "value")
      .filter($"value" =!= Double.PositiveInfinity)
      .groupBy($"value".cast("long").as("dist"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == graft.graphs.GraphQueries.B02DepthGolden)
  }

  test("typed SSSP == SqlRunner SSSP on the derived graph") {
    import spark.implicits._
    val e = GraphOps.edges(spark, sf).withColumn("weight", lit(1.0))
    val v = e.select($"src".as("id")).union(e.select($"dst".as("id"))).distinct()
    val meta = GraphMeta(v.count(), source = 1L)
    val typed = TypedRunner.run(spark, v, e, TypedAlgorithms.Sssp, meta)
      .collect().toMap
    val sql = SqlRunner.run(spark, v, e, Algorithms.Sssp, meta)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(typed == sql)
  }

  test("typed triangles on small.graph: middle-vertex golden") {
    import spark.implicits._
    // small.graph triangles: (1,2,3) middle 2, (1,4,5) middle 4.
    val sym = GraphOps.symmetrize(spark, small.edges, dropSelfLoops = true)
      .withColumn("weight", lit(1.0))
    val v = sym.select($"src".as("id")).distinct()
    val got = TypedRunner.run(spark, v, sym,
        TypedAlgorithms.TrianglesPerMidVertex, GraphMeta(0L))
      .map { case (id, (_, n)) => (id, n) }
      .filter(_._2 > 0L)
      .collect().toMap
    assert(got == Map(2L -> 1L, 4L -> 1L))
  }

  test("typed triangles == the oracle join on the derived graph") {
    import spark.implicits._
    val e = GraphOps.edges(spark, sf)
    val sym = GraphOps.symmetrize(spark, e, dropSelfLoops = true)
      .withColumn("weight", lit(1.0))
    val v = sym.select($"src".as("id")).distinct()
    val typed = TypedRunner.run(spark, v, sym,
        TypedAlgorithms.TrianglesPerMidVertex, GraphMeta(0L))
      .map { case (id, (_, n)) => (id, n) }
      .filter(_._2 > 0L)
      .collect().toMap
    // The g18 oracle's join, in DataFrame form: credit e1.b.
    val ue = e.select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
    val joined = ue.as("e1")
      .join(ue.as("e2"), $"e2.a" === $"e1.b")
      .join(ue.as("e3"), $"e3.a" === $"e1.a" && $"e3.b" === $"e2.b")
      .groupBy($"e1.b".as("id"))
      .agg(count(lit(1)).as("n_tri"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(typed == joined)
  }
}
