package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraphSource

class GraphSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("small.graph: header counts, vertex set, edge count") {
    val g = GraphSource.readGmrText(spark, Fixtures("graph/small.graph"))
    assert(g.numVertices == 10)
    assert(g.numEdges == 22)
    assert(g.vertices.count() == 10)
    assert(g.edges.count() == 22)
  }

  test("3line.graph: trailing isolated vertex gap-filled") {
    // Reconstructed from FIXTURES.md §1 (src/test/resources/graph/3line.graph).
    val g = GraphSource.readGmrText(spark,
      getClass.getResource("/graph/3line.graph").getPath)
    assert(g.numVertices == 4)
    assert(g.vertices.count() == 4) // vertex 4 has no edges but exists
    assert(g.edges.count() == 3)
  }

  test("0-based files are shifted to 1-based") {
    val f = Files.createTempFile("zerobased", ".graph")
    Files.writeString(f, "3\n2\n0 1\n1 2\n")
    val g = GraphSource.readGmrText(spark, f.toString)
    val edges = g.edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((1L, 2L), (2L, 3L)))
  }

  test("comments and blank lines are skipped") {
    val f = Files.createTempFile("comments", ".graph")
    Files.writeString(f, "# a comment\n2\n1\n\n1 2\n")
    val g = GraphSource.readGmrText(spark, f.toString)
    assert(g.numVertices == 2 && g.edges.count() == 1)
  }

  test("raw edge list without header") {
    val f = Files.createTempFile("rawlist", ".txt")
    Files.writeString(f, "5 6\n6 7\n")
    val g = GraphSource.readEdgeList(spark, f.toString)
    assert(g.numVertices == 3 && g.numEdges == 2)
  }
}
