package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.Algorithms
import graft.engine.{GraphMeta, SqlRunner}

class ReferenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  // 0→1→2→0 is a cycle, 2→3 and 4→3 lead into 3, which has no out-edges;
  // 4 has no in-edges and 5 no edges at all, so neither is reachable from 0.
  private val pairs = Seq(0 -> 1, 1 -> 2, 2 -> 0, 2 -> 3, 4 -> 3)
  private val n = 6
  private val csr = Inputs.Csr.fromPairs(n, pairs.map(_._1).toArray,
    pairs.map(_._2).toArray, pairs.length)

  private lazy val spark = {
    val s = graft.GraftSession.builder("local[2]", 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def engine(alg: graft.engine.GmrAlgorithm): (Array[Long], Array[Double], Seq[Long]) = {
    val s = spark
    import s.implicits._
    val edges = pairs.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
    val vertices = (0L until n).toDF("id")
    val (df, stats) = SqlRunner.runWithStats(spark, vertices, edges, alg, GraphMeta(n, 0L))
    val rows = df.as[(Long, Double)].collect()
    (rows.map(_._1), rows.map(_._2), stats.changedTrace)
  }

  test("queue BFS agrees with the engine, unreachable and dangling vertices included") {
    val ref = Reference.bfs(csr, 0)
    assert(ref.values.toSeq == Seq(0.0, 1.0, 2.0, 3.0,
      Double.PositiveInfinity, Double.PositiveInfinity))
    assert(ref.changedTrace == Seq(1L, 1L, 1L, 0L))
    assert(ref.edgeWork == 4L)
    val (ids, values, trace) = engine(Algorithms.UnitWeighted(Algorithms.Sssp))
    assert(Reference.firstMismatch(ref.values, ids, values, 0.0).isEmpty)
    assert(trace == ref.changedTrace)
  }

  test("power iteration agrees with the engine: rounds, changed counts and values") {
    val ref = Reference.pageRank(csr, 0.5, init = 1.0)
    val (ids, values, trace) = engine(Algorithms.PageRank(0.5, uniformInit = true))
    assert(Reference.firstMismatch(ref.values, ids, values, 1e-9).isEmpty)
    assert(trace == ref.changedTrace)
    assert(ref.edgeWork == ref.changedTrace.length.toLong * pairs.length)
  }

  test("a corrupted result fails the check") {
    val ref = Reference.bfs(csr, 0)
    val ids = (0L until n).toArray
    assert(Reference.firstMismatch(ref.values, ids, ref.values.clone(), 0.0).isEmpty)
    val off = ref.values.clone(); off(3) = 2.0
    assert(Reference.firstMismatch(ref.values, ids, off, 0.0).exists(_.contains("vertex 3")))
    val reached = ref.values.clone(); reached(5) = 4.0
    assert(Reference.firstMismatch(ref.values, ids, reached, 0.0).isDefined)
    assert(Reference.firstMismatch(ref.values, ids.take(5), ref.values.take(5), 0.0).isDefined)
    val dup = ids.clone(); dup(5) = 4L
    assert(Reference.firstMismatch(ref.values, dup, ref.values, 0.0).isDefined)
    val pr = Reference.pageRank(csr, 0.5, init = 1.0)
    val nudged = pr.values.clone(); nudged(0) += 1e-6
    assert(Reference.firstMismatch(pr.values, ids, nudged, 1e-9).isDefined)
  }

  test("generated edges are the same in Spark and in the plain-array reference") {
    val s = spark
    import s.implicits._
    val g = Inputs.Digraph(50L, 4, seed = 9L)
    val fromSpark = g.edges(spark).as[(Long, Long)].collect().toSeq.sorted
    val c = g.csr()
    val fromArrays = (0 until c.n).flatMap(u =>
      (c.off(u) until c.off(u + 1)).map(j => (u.toLong, c.adj(j).toLong))).sorted
    assert(fromSpark == fromArrays)
    assert(fromSpark.nonEmpty && fromSpark.forall { case (a, b) => a != b })
  }
}
