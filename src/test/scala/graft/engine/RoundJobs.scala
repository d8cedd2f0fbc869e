package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a piece of code runs, as the listener bus reports them:
  * each job's call site and the stages that completed in it. A job also
  * lists the skipped stages of inputs computed earlier (the edge index);
  * only stages that complete did work in it.
  */
object RoundJobs {

  /** A completed stage: its tasks and the shuffle records and bytes they
    * wrote and read.
    */
  final case class Stage(tasks: Int, recordsWritten: Long, bytesWritten: Long, recordsRead: Long)

  final case class Job(id: Int, site: String, stages: Seq[Stage])

  /** `body`'s value and the jobs it ran, in order. */
  def record[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val jobOf = new ConcurrentHashMap[Int, Int]
    val sites = new ConcurrentHashMap[Int, String]
    val stages = new ConcurrentHashMap[Int, Vector[(Int, Stage)]]
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        e.stageIds.foreach(jobOf.put(_, e.jobId))
        sites.put(e.jobId, e.stageInfos.maxBy(_.stageId).name)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val stage = Stage(i.numTasks, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.recordsRead)
        stages.merge(jobOf.get(i.stageId), Vector(i.stageId -> stage), _ ++ _)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val out = body
      // The bus delivers in order: once a later job's end arrives, every
      // event of `body` has.
      spark.sparkContext.parallelize(Seq(1), 1).count()
      def marked = sites.asScala.exists { case (job, site) =>
        site.startsWith("count at RoundJobs") && ended.contains(job)
      }
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (!marked && System.nanoTime() < deadline) Thread.sleep(20)
      out
    } finally spark.sparkContext.removeSparkListener(listener)
    (out, sites.asScala.toSeq.sortBy(_._1).collect {
      case (job, site) if !site.startsWith("count at RoundJobs") =>
        Job(job, site, stages.getOrDefault(job, Vector.empty).sortBy(_._1).map(_._2))
    })
  }

  /** The jobs of a run's `iterations` rounds: the last as many state
    * jobs, which count each round's changed vertices.
    */
  def rounds(jobs: Seq[Job], iterations: Int): Seq[Job] =
    jobs.filter(_.site.startsWith("count at SqlRunner")).takeRight(iterations)
}
