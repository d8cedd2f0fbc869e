package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine, kept in memory and
  * written as JSONL at the end. Disabled, it records nothing and only times
  * the body; the end-to-end numbers come from disabled runs.
  */
final class Tracer(@volatile var enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)

  /** Runs `body` inside a span named `name`, child of the innermost open
    * span; returns its result and wall seconds. Spark jobs it starts
    * become its children (see [[JobListener]]).
    */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) { val r = body; return (r, (System.nanoTime() - t0) / 1e9) }
    val s = Span(spans.length + 1, stack.head, name, System.currentTimeMillis(), t0,
      mutable.Map(attrs.toSeq: _*))
    spans += s
    stack = s.id :: stack
    bindJobs(s.id)
    try {
      val r = body
      s.endNs = System.nanoTime()
      (r, (s.endNs - t0) / 1e9)
    } finally {
      if (s.endNs == 0L) s.endNs = System.nanoTime()
      stack = stack.tail
      bindJobs(stack.head)
    }
  }

  /** Makes the calling thread's Spark jobs children of span `id`. */
  private def bindJobs(id: Int): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(
      _.sparkContext.setLocalProperty(SpanProperty, if (id > 0) id.toString else null))

  def current: Int = stack.head

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startMs: Long,
                        startNs: Long, attrs: mutable.Map[String, Any]) {
    var endNs: Long = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Task metrics of one completed stage. */
  final case class StageRec(stageId: Int, tasks: Int, runS: Double, cpuS: Double,
                            gcS: Double, shuffleWriteBytes: Long,
                            shuffleRecords: Long, fetchWaitS: Double,
                            spillBytes: Long)

  /** One Spark job: its parent span, its call site (`count at X.scala:12`),
    * its wall interval and the metrics of its completed stages.
    */
  final case class JobRec(jobId: Int, span: Int, callSite: String,
                          startMs: Long, stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
    val stages = new ConcurrentLinkedQueue[StageRec]()
  }

  val SpanProperty = "perfbench.span"

  /** Records every job and stage, and the planning time of every query
    * execution, for the traced run.
    */
  final class JobListener extends SparkListener with QueryExecutionListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    /** (end wall ms, seconds of analysis + optimization + planning). */
    val plans = new ConcurrentLinkedQueue[(Long, Double)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(0)
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val j = JobRec(e.jobId, span, site, e.time, e.stageIds)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageJob.get(i.stageId)).foreach { j =>
        val m = i.taskMetrics
        if (m != null) j.stages.add(StageRec(i.stageId, i.numTasks,
          m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.fetchWaitTime / 1e3,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        plans.add((ph.values.map(_.endTimeMs).max,
          ph.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3))
    }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
  }
}
