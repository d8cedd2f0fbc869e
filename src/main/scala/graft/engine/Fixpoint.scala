package graft.engine

import org.apache.spark.NarrowDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one loop skeleton of the Spark-side fixpoints — the reference's
  * iteration driver (igmr.cpp:116-247) minus the round body, which is the
  * caller's `step(state, round)`: it builds the next state and runs the
  * round's one action, its change count. The skeleton owns the round
  * counter and `maxRounds` cap, stops after a round that reports 0, keeps
  * a [[Round]] record per round (≙ the per-iteration log line,
  * gmr.h:317-334) and runs no Spark job. After each round it frees the
  * checkpoints of the superseded state and the round's scratch frames
  * that the next state does not read; at the end, those of the final
  * state that the caller's result does not read.
  *
  * A state, scratch entry or result is a Dataset, an RDD, or any tuple,
  * case class or Seq of them. Its checkpoints are the persisted RDDs
  * nearest each RDD and each RDD its plans scan, through narrow
  * dependencies: a state built lazily over earlier checkpoints (Mst's union
  * of per-round nominations) keeps them all, and a frame that scans a row
  * view of one (SqlRunner's result over its final vertex state) keeps the
  * checkpoint behind the view. They must all belong to the loop.
  */
object Fixpoint {

  /** One round: its number, its step's change count, its wall seconds. */
  final case class Round(round: Int, changed: Long, seconds: Double)

  /** A round's output: the next state, its change count, and frames it
    * checkpointed for itself alone.
    */
  final case class Step[S](next: S, changed: Long,
                           scratch: Seq[Dataset[_]] = Nil)

  /** A finished loop: the caller's result and one record per round. */
  final case class Run[R](result: R, rounds: Seq[Round]) {
    /** Rounds that changed something — a converged loop's depth. */
    def changedRounds: Int = rounds.count(_.changed > 0)
  }

  def apply[S, R](init: S, maxRounds: Int = Int.MaxValue)
                 (step: (S, Int) => Step[S])(result: S => R): Run[R] = {
    val rounds = Seq.newBuilder[Round]
    var state = init
    var changed = 1L
    var round = 0
    while (round < maxRounds && changed > 0) {
      round += 1
      val t0 = System.nanoTime()
      val s = step(state, round)
      release(Seq(state, s.scratch), keep = s.next)
      state = s.next
      changed = s.changed
      rounds += Round(round, changed, (System.nanoTime() - t0) / 1e9)
    }
    val out = result(state)
    release(state, keep = out)
    Run(out, rounds.result())
  }

  /** Rows of a checkpointed frame in one job — on a lazy checkpoint, the
    * job that materializes it. `Dataset.count` would plan an aggregate,
    * which adaptive execution runs as two jobs.
    */
  def rows(checkpoint: Dataset[_]): Long = checkpoint.queryExecution.toRdd.count()

  /** Unpersists every local checkpoint the Datasets in `of` read that the
    * Datasets in `keep` do not — the one way graft frees a checkpoint.
    */
  def release(of: Any, keep: Any = Nil): Unit = {
    val kept = rdds(keep).map(_.id).toSet
    rdds(of).filterNot(r => kept(r.id)).foreach(_.unpersist(blocking = false))
  }

  private def rdds(x: Any): Seq[RDD[_]] = x match {
    case d: Dataset[_] =>
      d.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.flatMap(persisted)
    case r: RDD[_] => persisted(r)
    case xs: Iterable[_] => xs.toSeq.flatMap(rdds)
    case p: Product => p.productIterator.toSeq.flatMap(rdds)
    case _ => Nil
  }

  /** The persisted RDDs nearest `r` through narrow dependencies: `r`
    * itself when it is persisted.
    */
  private def persisted(r: RDD[_]): Seq[RDD[_]] =
    if (r.getStorageLevel != StorageLevel.NONE) Seq(r)
    else r.dependencies.collect { case d: NarrowDependency[_] => d.rdd }.flatMap(persisted)
}
