package graft.engine

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType,
  StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The chunked edge index against what it replaces: Spark's `repartition`
  * on the same keys. Partition p of the index must hold exactly the edges
  * `repartition` puts in partition p, each source's out-edges in input
  * order and the edges with a null endpoint left out, whatever order its
  * chunks arrive in.
  */
class EdgeIndexSpec extends AnyFunSuite {
  import EdgeIndexSpec._

  private lazy val spark = TestSpark.spark

  /** `n` edges over `slices` input partitions: ids of `idType`, int-sized
    * and clustered when INT, spread over the whole of Long when LONG
    * (negative ids both ways); a few null endpoints and null weights.
    */
  private def edges(idType: DataType, n: Int, slices: Int, seed: Int): DataFrame = {
    val r = new Random(seed)
    val ids = Array.fill(math.max(2, n / 4))(
      if (idType == LongType) r.nextLong() else (r.nextInt(400) - 100).toLong)
    def pick(): Any = {
      val v = ids(r.nextInt(ids.length))
      if (idType == LongType) v else v.toInt
    }
    val rows = (0 until n).map { i =>
      Row(if (i % 97 == 13) null else pick(), if (i % 89 == 7) null else pick(),
        if (i % 5 == 0) null else r.nextInt(9).toDouble)
    }
    val schema = StructType(Seq(StructField("src", idType), StructField("dst", idType),
      StructField("weight", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  /** The three layouts SqlRunner builds: keys, and the columns it adds. */
  private val layouts: Seq[(String, Seq[String], DataFrame => DataFrame)] = Seq(
    ("pull", Seq("dst"), identity),
    ("salted pull", Seq("dst", "salt"),
      _.withColumn("salt", pmod(xxhash64(col("src")), lit(4L)).cast("int"))),
    ("classic", Seq("src"), identity))

  /** A partition's CSR as (source, its out-edges in order), sources ascending. */
  private def groups(p: EdgeIndex.Part): Seq[(Long, Seq[Edge])] =
    (0 until p.keys.length).map { k =>
      p.keys(k) -> (p.offsets(k) until p.offsets(k + 1)).map { e =>
        val w = Option(p.weight).filterNot(_ => p.nullWeight != null && p.nullWeight.get(e))
        (p.keys(k), p.dsts(p.slot(e)), w.map(_(e)))
      }
    }

  private def check(keyed: DataFrame, keys: Seq[String], parts: Int, weighted: Boolean,
                    what: String): Unit = {
    val index = EdgeIndex.build(keyed, keys, parts, weighted)
    val got = try index.collect().map(groups) finally index.unpersist()
    assert(got.length == parts, what)
    val live = keyed.filter(col("src").isNotNull && col("dst").isNotNull)
    // The edges `repartition` puts in each partition.
    val spark = this.spark
    import spark.implicits._
    val moved = live.repartition(parts, keys.map(col): _*).select("src", "dst", "weight")
      .rdd.mapPartitionsWithIndex((p, rows) => rows.map(r => (p, edge(r, weighted))))
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    // Input order, with each edge's partition by the layout's own hash:
    // pmod(hash(keys), parts) is the partition id expression of
    // HashPartitioning(keys, parts).
    val input = live.select($"src", $"dst", $"weight",
        pmod(hash(keys.map(col): _*), lit(parts)).as("p")).collect()
    got.indices.foreach { p =>
      val edges = got(p).flatMap(_._2)
      assert(edges.sorted == moved.getOrElse(p, Nil), s"$what: partition $p")
      val inOrder = input.filter(_.getInt(3) == p).map(edge(_, weighted))
      val want = inOrder.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (s, es) => s -> es.toSeq }
      assert(got(p) == want, s"$what: partition $p, in input order")
    }
  }

  for ((layout, keys, addKeys) <- layouts; idType <- Seq(IntegerType, LongType);
       weighted <- Seq(true, false)) {
    test(s"$layout, $idType ids, ${if (weighted) "weighted" else "unweighted"}: " +
        "each partition holds repartition's edges, each source's in input order") {
      val what = s"$layout/$idType/$weighted"
      check(addKeys(edges(idType, 3000, 5, 11)), keys, 7, weighted, what)
      // More partitions than edges: most partitions are empty.
      check(addKeys(edges(idType, 6, 2, 12)), keys, 16, weighted, s"$what, 6 edges")
      check(addKeys(edges(idType, 0, 3, 13)), keys, 4, weighted, s"$what, no edges")
    }
  }

  test("every key in classic mode and every dst in pull mode hashes to its partition") {
    val spark = this.spark
    import spark.implicits._
    Seq(IntegerType, LongType).foreach { idType =>
      val e = edges(idType, 2000, 3, 21)
      Seq("dst" -> ((p: EdgeIndex.Part) => (0 until p.dsts.length).map(p.dsts(_))),
          "src" -> ((p: EdgeIndex.Part) => (0 until p.keys.length).map(p.keys(_))))
        .foreach { case (key, held) =>
          val index = EdgeIndex.build(e, Seq(key), 6, weighted = false)
          val parts = try index.collect().map(held) finally index.unpersist()
          val hashed = e.filter(col(key).isNotNull)
            .select(col(key).cast(LongType), pmod(hash(col(key)), lit(6))).as[(Long, Int)]
            .collect().toMap
          parts.zipWithIndex.foreach { case (ids, p) =>
            ids.foreach(v => assert(hashed(v) == p, s"$idType $key $v in partition $p"))
          }
        }
    }
  }

  test("each edge's slot names its destination among the partition's sorted distinct " +
      "destinations, past 2^16 of them too") {
    val spark = this.spark
    import spark.implicits._
    Seq(5000L, 70001L).foreach { distinct =>
      val e = spark.range(0, 140000, 1, 2)
        .select(($"id" % 1000).as("src"), (($"id" * 7) % distinct).as("dst"))
      val index = EdgeIndex.build(e, Seq("dst"), 1, weighted = false)
      val Array(p) = try index.collect() finally index.unpersist()
      val dsts = (0 until p.dsts.length).map(p.dsts(_))
      assert(dsts == (0L until distinct), s"$distinct destinations")
      assert((0 until p.offsets.last).map(e => p.dsts(p.slot(e))).sorted ==
        e.select($"dst").as[Long].collect().toSeq.sorted, s"$distinct destinations")
    }
  }

  test("the merge gives the same partition whatever order its chunks arrive in, " +
      "across map tasks and flushes") {
    val spark = this.spark
    import spark.implicits._
    // Two map tasks of 300k edges each: each flushes twice.
    val e = spark.range(0, 600000, 1, 2)
      .select(($"id" % 5000).as("src"), pmod(xxhash64($"id"), lit(5000L)).as("dst"),
        when($"id" % 7 === 0, lit(null)).otherwise(($"id" % 9).cast("double")).as("weight"))
    val shipped = EdgeIndex.shipped(e, Seq("dst"), 3, weighted = true).collect()
    assert(shipped.map(c => (c._2.map, c._2.seq)).distinct.length == 4)
    shipped.groupBy(_._1).foreach { case (p, cs) =>
      val chunks = cs.map(_._2)
      val (a, b) = (EdgeIndex.merge(chunks.iterator, weighted = true),
        EdgeIndex.merge(chunks.reverseIterator, weighted = true))
      assert(groups(a) == groups(b), s"partition $p")
      assert(a.offsets.toSeq == b.offsets.toSeq && a.nullWeight == b.nullWeight &&
        a.weight.toSeq == b.weight.toSeq, s"partition $p")
    }
    val empty = EdgeIndex.merge(Iterator.empty, weighted = true)
    assert(empty.keys.length == 0 && empty.offsets.toSeq == Seq(0) && empty.dsts.length == 0)
  }
}

object EdgeIndexSpec {
  /** One edge as the index keeps it: (src, dst, weight); the weight is
    * None when null or when the index keeps no weights.
    */
  type Edge = (Long, Long, Option[Double])

  def id(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  def edge(r: Row, weighted: Boolean): Edge =
    (id(r, 0), id(r, 1), if (weighted && !r.isNullAt(2)) Some(r.getDouble(2)) else None)
}
