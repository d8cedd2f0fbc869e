package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The loop skeleton's contract: round cap, zero-change stop, per-round
  * records, and which checkpoints it releases.
  */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def checkpoint(n: Long): DataFrame =
    spark.range(n).toDF("id").localCheckpoint()

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }.get

  private def persisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId(df))

  test("stops at maxRounds") {
    val run = Fixpoint(0, maxRounds = 5)((n, _) => Fixpoint.Step(n + 1, 1))(identity)
    assert(run.result == 5 && run.rounds.map(_.round) == (1 to 5))
  }

  test("stops after a 0-change round; records match the step's counts") {
    val counts = Seq(7L, 3L, 0L, 4L)
    val run = Fixpoint(0)((n, round) => Fixpoint.Step(n + 1, counts(round - 1)))(identity)
    assert(run.result == 3)
    assert(run.rounds.map(r => (r.round, r.changed)) == Seq((1, 7L), (2, 3L), (3, 0L)))
    assert(run.rounds.forall(_.seconds >= 0) && run.changedRounds == 2)
  }

  test("superseded and scratch checkpoints are released after the round") {
    val init = checkpoint(3)
    val made = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, DataFrame)]
    val run = Fixpoint(init) { (st, round) =>
      val next = checkpoint(3 + round)
      val scratch = checkpoint(1)
      made += ((next, scratch))
      Fixpoint.Step(next, if (round < 3) 1 else 0, Seq(scratch))
    }(st => st)
    assert(!persisted(init))
    made.foreach { case (_, scratch) => assert(!persisted(scratch)) }
    made.init.foreach { case (next, _) => assert(!persisted(next)) }
    assert(persisted(run.result) && run.result.count() == 6)
  }

  test("a step that returns its input state does not get it freed") {
    val init = checkpoint(4)
    val run = Fixpoint(init) { (st, round) =>
      assert(persisted(st), s"round $round got a released state")
      Fixpoint.Step(st, if (round < 3) 1 else 0)
    }(st => st)
    assert(run.rounds.length == 3 && persisted(init) && init.count() == 4)
  }

  test("at the end, the final state is kept only where the result reads it") {
    val (a, b) = (checkpoint(2), checkpoint(3))
    val run = Fixpoint((a, b))((st, _) => Fixpoint.Step(st, 0))(_._2)
    assert(!persisted(a) && persisted(b) && run.result.count() == 3)
  }
}
