package graft.obs

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.algos.Algorithms
import graft.engine.{DelegatingGmrAlgorithm, GmrAlgorithm, GmrRunner, GraphMeta,
  LocalRunner, SqlRunner}

/** Run statistics belong to the thread that made the run: a capture holds
  * exactly the runs made on its thread while it was open, concurrent
  * captures never see each other's runs, and a run outside any capture
  * leaves nothing behind.
  */
class RunLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Path 0 → 1 → … → len−1 as (vertices, edges). */
  private def path(s: SparkSession, len: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    (s.range(0, len).select($"id"),
      (0 until len - 1).map(i => (i.toLong, i + 1L, 1.0)).toDF("src", "dst", "weight"))
  }

  private val sssp = Algorithms.UnitWeighted(Algorithms.Sssp)

  test("concurrent captures each hold their own thread's one run") {
    // Each thread plans its round inside the superstep loop; the latch
    // holds both there until the other arrives, so the two loops overlap.
    val root = spark // the shared session starts on this thread, as in every spec
    val inLoop = new CountDownLatch(2)
    def meeting(alg: GmrAlgorithm): GmrAlgorithm = new DelegatingGmrAlgorithm(alg) {
      override def updateCol(id: Column, oldVal: Column, agg: Column,
                             meta: GraphMeta): Column = {
        inLoop.countDown()
        assert(inLoop.await(60, TimeUnit.SECONDS), "the other loop never started")
        base.updateCol(id, oldVal, agg, meta)
      }
    }
    val lens = Seq(6, 14)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[Int,
      Either[Throwable, (SqlRunner.RunStats, RunLog.Records)]]()
    val threads = lens.map { len =>
      new Thread(() => {
        val s = root.newSession()
        val (v, e) = path(s, len)
        val out = try Right {
          val ((_, stats), records) = RunLog.capture {
            SqlRunner.runWithStats(s, v, e, meeting(sssp), GraphMeta(len.toLong, source = 0L))
          }
          (stats, records)
        } catch { case t: Throwable => Left(t) }
        outcomes.put(len, out)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    lens.foreach { len =>
      val (stats, records) = Option(outcomes.get(len))
        .getOrElse(fail(s"path of $len never finished")).fold(throw _, identity)
      assert(records.runs == Seq(stats), s"path of $len")
      assert(stats.iterations == len, s"path of $len: ${stats.iterations} rounds")
      assert(stats.changedTrace == Seq.fill(len - 1)(1L) :+ 0L, s"path of $len")
    }
  }

  test("a run outside any capture leaves nothing for the next capture") {
    val (v, e) = path(spark, 4)
    SqlRunner.runWithStats(spark, v, e, sssp, GraphMeta(4L, source = 0L))
    RunLog.measure("outside", 1.0)
    val ((), records) = RunLog.capture(())
    assert(records == RunLog.Records(Nil, Nil))
  }

  test("every tier records exactly the one RunStats it returns") {
    val (v, e) = path(spark, 600)
    val alg = Algorithms.PageRank(0.85, fixedIters = Some(3))
    val meta = GraphMeta(600L)
    val tiers = Seq[(String, () => (DataFrame, SqlRunner.RunStats))](
      "driver" -> (() => GmrRunner.autoEdgesWithStats(spark, e, alg, meta)),
      "local" -> (() => LocalRunner.runWithStats(spark, v, e, alg, meta)),
      "sql" -> (() => SqlRunner.runWithStats(spark, v, e, alg, meta)))
    tiers.foreach { case (tier, call) =>
      val ((_, stats), records) = RunLog.capture(call())
      assert(records.runs == Seq(stats), tier)
      assert(stats.iterations == 3, tier)
    }
  }
}
