package org.apache.spark.sql

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/** The few lines of graft that need Spark's `private[sql]` API: wrapping
  * rows as a DataFrame without planning them again, and freeing a
  * broadcast before a call returns.
  */
object GraftFrames {

  private def classicSession(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** A DataFrame scanning `rdd`, whose rows are `output`, laid out by
    * `partitioning` and estimated by `stats` — a checkpoint as
    * `Dataset.localCheckpoint` would wrap it. The attributes are fresh, so
    * the frame shares no ids with the plan that produced the rows.
    */
  def ofRdd(spark: SparkSession, output: Seq[Attribute], rdd: RDD[InternalRow],
            partitioning: Partitioning, stats: Statistics): DataFrame = {
    val s = classicSession(spark)
    classic.Dataset.ofRows(s, LogicalRDD(output, rdd, partitioning, Nil,
      isStreaming = false)(s, Some(stats)).newInstance())
  }

  /** `f` over every partition of `rows` in one job, as `RDD.count` runs
    * it, returning each partition's result. The name is the job's call
    * site, `count at <caller>`: traces find a loop's round ends by it.
    */
  def count[T, U: ClassTag](rows: RDD[T])(f: Iterator[T] => U): Array[U] =
    rows.sparkContext.runJob(rows, f)

  /** Frees `relation`'s blocks everywhere before returning. */
  def destroy(relation: Broadcast[_]): Unit = relation.destroy(blocking = true)
}
