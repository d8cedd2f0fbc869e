package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.algos.Algorithms

/** The round's reduce against what it replaces: Spark's
  * `groupBy(dst).agg(reduceAgg)` over the same messages. A destination's
  * reduced value must be the one Spark's aggregate gives, bit for bit —
  * NaN, ±∞ and −0.0 included — whether one task folds its messages or
  * several tasks' partials merge, and through SqlRunner in pull, salted
  * pull and classic mode.
  */
class FoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every member of [[Algorithms]] SqlRunner can run. */
  private val algorithms: Seq[GmrAlgorithm] = Seq(Algorithms.Sssp,
    Algorithms.UnitWeighted(Algorithms.Sssp), Algorithms.PageRank(0.85),
    Algorithms.PageRank(0.5, uniformInit = true),
    Algorithms.PageRank(0.85, personalized = true, fixedIters = Some(2)),
    Algorithms.KCore(2), Algorithms.FwdMaxColor, Algorithms.Wcc, Algorithms.LongestPath)

  private def withProps[T](props: (String, String)*)(body: => T): T = {
    props.foreach { case (k, v) => sys.props.put(k, v) }
    try body finally props.foreach { case (k, _) => sys.props.remove(k) }
  }

  private def bits(v: Double): Long = java.lang.Double.doubleToRawLongBits(v)

  /** `alg` whose update keeps the reduced value itself, or `Sentinel`
    * where none arrived: the state then holds the reduce's results.
    */
  private val Sentinel = 1e300
  private def reducedOnly(alg: GmrAlgorithm): GmrAlgorithm = new DelegatingGmrAlgorithm(alg) {
    override def updateCol(id: Column, oldVal: Column, agg: Column, meta: GraphMeta): Column =
      when(agg.isNull, oldVal).otherwise(agg)
  }

  test("the fold equals Spark's groupBy(dst).agg(reduceAgg) bit for bit: NaN, ±∞ and " +
      "−0.0 under min, max and sum, in one task and across tasks") {
    val specials = Seq[java.lang.Double](Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, null, 1.5, -2.25, 1e-300, 3.0)
    // Destinations 0–11 in a fixed order; 10 and 11 receive only nulls.
    val messages: Seq[(Long, java.lang.Double)] =
      (0 until 90).map(i => ((i * 7L) % 10, specials((i * 3 + i / 10) % specials.size))) ++
        Seq((10L, null), (11L, null), (10L, null))
    val schema = StructType(Seq(StructField("dst", LongType), StructField("msg", DoubleType)))
    val ids = (0L to 12L).toArray
    algorithms.map(a => reducedOnly(a)).foreach { alg =>
      Seq(1, 3).foreach { tasks =>
        val rdd = spark.sparkContext.parallelize(messages.map { case (d, m) => Row(d, m) }, tasks)
        val want = LoopConf.withConfs(spark, Map("spark.sql.adaptive.enabled" -> "false")) {
          spark.createDataFrame(rdd, schema).groupBy("dst")
            .agg(alg.reduceAgg(col("msg")).cast(DoubleType)).collect()
            .map(r => r.getLong(0) -> (if (r.isNullAt(1)) bits(Sentinel) else bits(r.getDouble(1))))
            .toMap
        }
        // The same slices, each folded by its own task into one buffer per
        // distinct destination, and merged into the state in map order.
        val reduce = Fold.reduce(spark, alg, Seq(AttributeReference("msg", DoubleType)()),
          col("msg"))
        val partials = rdd.glom().collect().zipWithIndex.reverse.map { case (rows, task) =>
          val dsts = rows.map(_.getLong(0)).distinct.sorted
          val buffers = reduce.task(task).buffers(dsts.length)
          rows.foreach(r => buffers.update(dsts.indexOf(r.getLong(0)), InternalRow(r.get(1))))
          buffers.partials(EdgeIndex.ids(dsts), task)
        }
        val state = VertexState.seed(ids.iterator.map(i => InternalRow(i, 0, Sentinel)), LongType)
        val update = VertexState.update(spark, alg, GraphMeta(ids.length.toLong), LongType)
        val got = VertexState.merge(state, partials.iterator, reduce.task(0), update, 0, LongType,
          receiversOnly = false)
        val at = s"${alg.name}, $tasks tasks"
        (0 until got.size).foreach { i =>
          assert(bits(got.value(i)) == want.getOrElse(got.ids(i), bits(Sentinel)),
            s"$at: destination ${got.ids(i)} = ${got.value(i)}, Spark " +
              s"${want.get(got.ids(i)).map(java.lang.Double.longBitsToDouble)}")
        }
        assert(want(10L) == bits(Sentinel) && want(11L) == bits(Sentinel), at)
      }
    }
  }

  /** 65,536 vertices (a power of two, so PageRank's 1/n is exact), vertex v
    * of out-degree 2, 4 or 8, one of its edges to hub 5: every PageRank,
    * SSSP and label message of the first round is a dyadic number, whose
    * sums do not depend on their order. 3's out-edges carry the weights
    * SSSP's messages turn into NaN, ±∞ and 0.0: NaN, ±∞, −0.0 and null,
    * with 9 reached from 3 by a null-weight edge alone.
    */
  private lazy val graph: (DataFrame, DataFrame, GraphMeta) = {
    val s = spark
    import s.implicits._
    val n = 65536L
    val fanout = s.range(0, n).select($"id".as("src"),
        explode(sequence(lit(0), expr("shiftleft(2, cast(id % 3 as int)) - 1"))).as("j"))
      .select($"src", when($"j" === 0, lit(5L))
          .otherwise(pmod(xxhash64($"src", $"j"), lit(n))).as("dst"),
        (pmod(xxhash64($"j", $"src"), lit(9L)) + 1).cast("double").as("weight"))
      .filter($"src" =!= 3L)
    val source = Seq[(Long, Long, java.lang.Double)]((3L, 5L, 1.0), (3L, 100L, Double.NaN),
      (3L, 101L, Double.PositiveInfinity), (3L, 102L, Double.NegativeInfinity),
      (3L, 103L, -0.0), (3L, 9L, null), (3L, 104L, null), (3L, 104L, 2.0))
      .toDF("src", "dst", "weight")
    (s.range(0, n).select($"id"), fanout.unionByName(source), GraphMeta(n, source = 3L))
  }

  test("SqlRunner's first round equals Spark's groupBy(dst).agg(reduceAgg) over the same " +
      "messages, bit for bit, for every algorithm in pull, salted pull and classic mode") {
    val s = spark
    import s.implicits._
    val (verts, edges, meta) = graph
    val modes = Seq("pull" -> Nil, "salted pull" -> Seq("graft.engine.hubMinDegree" -> "100"),
      "classic" -> Seq("graft.engine.broadcastPullMaxVertices" -> "0"))
    val outdeg = edges.groupBy($"src").agg(count(lit(1)).cast("int").as("outdeg"))
    algorithms.foreach { alg =>
      val oneRound = new DelegatingGmrAlgorithm(alg) { override def maxIter: Int = 1 }
      // Round 1 by hand: every seed vertex that passes the send condition
      // sends along each out-edge, and the messages reduce per destination.
      val seed = verts.join(outdeg, $"id" === $"src", "left")
        .select($"id", coalesce($"outdeg", lit(0)).as("outdeg"),
          alg.initCol($"id", meta).cast(DoubleType).as("value"))
      val aggs = edges.join(seed.filter(alg.sendCondCol($"value")), $"src" === $"id")
        .select($"dst", alg.msgCol($"value", if (alg.usesWeight) $"weight" else lit(1.0),
          $"outdeg").as("msg"))
        .groupBy($"dst").agg(alg.reduceAgg($"msg").cast(DoubleType).as("agg"))
      val want = seed.join(aggs, $"id" === $"dst", "left")
        .select($"id", alg.updateCol($"id", $"value", $"agg", meta).cast(DoubleType))
        .as[(Long, Double)].collect().map { case (id, v) => id -> bits(v) }.toMap
      modes.foreach { case (mode, props) =>
        val (got, stats) = withProps(props: _*) {
          SqlRunner.runWithStats(spark, verts, edges, oneRound, meta)
        }
        val at = s"${alg.name}, $mode"
        assert((stats.saltedHubs > 0) == (mode == "salted pull"), s"$at: $stats")
        assert(stats.iterations == 1, at)
        val rows = got.as[(Long, Double)].collect()
        assert(rows.length == want.size, at)
        rows.foreach { case (id, v) =>
          assert(bits(v) == want(id), s"$at: vertex $id = $v, Spark " +
            java.lang.Double.longBitsToDouble(want(id)))
        }
        if (alg eq Algorithms.Sssp) {
          val values = rows.toMap
          // NaN orders above ∞ in SQL, so least(∞, NaN) keeps ∞; 0 + −0.0
          // is 0.0; min(null, 2.0) is 2.0.
          assert(values(100L) == Double.PositiveInfinity &&
            values(102L) == Double.NegativeInfinity && bits(values(103L)) == bits(0.0) &&
            values(104L) == 2.0, s"$at: $values")
          // Its only message is null: no message, so it keeps its value.
          assert(values(9L) == Double.PositiveInfinity, at)
        }
      }
    }
  }

  test("a reduceAgg without a fixed-width declarative buffer fails at setup, naming " +
      "the algorithm and leaving no block behind") {
    val s = spark
    import s.implicits._
    val median = new DelegatingGmrAlgorithm(Algorithms.Wcc) {
      override def name = "wcc-median"
      override def reduceAgg(msg: Column): Column = percentile_approx(msg, lit(0.5), lit(100))
    }
    val (verts, edges) = (s.range(0, 4).select($"id"),
      Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "weight"))
    Seq(Nil, Seq("graft.engine.broadcastPullMaxVertices" -> "0")).foreach { props =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[IllegalArgumentException] {
        withProps(props: _*)(SqlRunner.runWithStats(spark, verts, edges, median, GraphMeta(4L)))
      }
      assert(e.getMessage.contains("wcc-median") && e.getMessage.contains("percentile_approx"),
        e.getMessage)
      // The failed setup still releases the edge index and the sizing cache.
      assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    }
  }
}
