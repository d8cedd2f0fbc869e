package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-metrics totals for the session it is added to — the O17
  * instrumentation analogue (the reference logs per-phase ticks and
  * cumulative shuffle bytes, gmr.h:317-334, igmr.cpp:158). With `jobLines`
  * it also prints one line per finished job: its wall milliseconds and the
  * call site of its last stage, enough to map a slow job back to the
  * operator without the (disabled) UI.
  */
final class MetricsListener(jobLines: Boolean = false) extends SparkListener {
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spilled = new AtomicLong
  /** Cumulative task CPU nanoseconds (executorCpuTime) — the
    * host-neutral work measure: wall-derived eips swing 2-3× with the
    * driver VM while cpu-seconds-per-edge moves only with the code, so
    * cross-round adjudication reads the *_eips_cpu ratios against a
    * tight ±1.5× band instead of excusing everything inside the wall
    * band (r10 verdict item 3).
    */
  val taskCpuNs = new AtomicLong
  /** Task-end event count — part of the boundary-stability check: a
    * shuffle-LIGHT query's final tasks move none of the byte counters, so
    * polling bytes alone can declare "settled" while its task-end events
    * (and their max-task durations) are still on the async bus, getting
    * misattributed to the next query.
    */
  val taskEnds = new AtomicLong
  /** Longest single task since the last [[resetMaxTask]] — the straggler
    * signal: a skew-serialized stage shows up here as one task spanning
    * most of the query's wall time (reset per query by the bench loop).
    */
  val maxTaskMs = new AtomicLong
  /** Every task duration since the last reset — feeds the per-query
    * max/median CONTENTION ratio: on an otherwise-idle box the 64M
    * anchors' tasks are uniform (ratio ~1-3), while a contended/stolen
    * host shows one 13x-median task at identical shuffle volume (the
    * r8 gate-box signature). Bounded: the heaviest anchor ends ~20k
    * tasks, a few hundred KB of longs.
    */
  val taskDurMs = new ConcurrentLinkedQueue[java.lang.Long]
  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()

  def resetMaxTask(): Unit = { maxTaskMs.set(0); taskDurMs.clear() }

  /** (max, median) task seconds since the last reset; (0,0) if no tasks. */
  def taskSpread(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val ds = taskDurMs.asScala.map(_.longValue).toArray.sorted
    if (ds.isEmpty) (0.0, 0.0)
    else (ds.last / 1000.0, ds(ds.length / 2) / 1000.0)
  }

  /** (shuffle read, shuffle write, spilled bytes, task CPU ns) once the
    * totals stop moving. Task-end events arrive on an async listener bus:
    * an action returning does not mean its last wave was delivered, and
    * sampling mid-drain misattributes bytes to the NEXT query. Polls until
    * nothing moves (typically one 25 ms beat), for at most a second.
    */
  def settled(): (Long, Long, Long, Long) = {
    def snap() = (shuffleRead.get, shuffleWrite.get, spilled.get,
      taskCpuNs.get, taskEnds.get)
    var cur = snap()
    var tries = 0
    while (tries < 40) {
      Thread.sleep(25)
      val nxt = snap()
      if (nxt == cur) return (cur._1, cur._2, cur._3, cur._4)
      cur = nxt; tries += 1
    }
    (cur._1, cur._2, cur._3, cur._4)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      taskCpuNs.addAndGet(m.executorCpuTime)
    }
    if (t.taskInfo != null) {
      maxTaskMs.getAndUpdate(cur => math.max(cur, t.taskInfo.duration))
      taskDurMs.add(t.taskInfo.duration)
    }
    taskEnds.incrementAndGet()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit =
    if (jobLines)
      jobStarts.put(j.jobId,
        (System.nanoTime(), j.stageInfos.lastOption.map(_.name).getOrElse("?")))

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(j.jobId)).foreach { case (t0, site) =>
      println(f"[job] ${j.jobId}: ${(System.nanoTime() - t0) / 1e6}%.0f ms  $site")
    }
}
