package perfbench

import scala.collection.mutable

import Tracer.{JobListener, JobRec, Span}

/** Per-layer numbers of a traced run, from the spans around each public
  * call and the Spark jobs attributed to them. Each figure is the median
  * over the traced warm solves unless its comment says otherwise.
  */
object Layers {

  /** Milliseconds of `[lo, hi]` during which at least one job ran. */
  def covered(jobs: Seq[JobRec], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    jobs.map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  private def endMs(s: Span): Long = s.startMs + math.round(s.seconds * 1000)

  /** The engine-call figures of one solve. On engine workloads the loop is
    * SqlRunner's own `loopSeconds` and a round ends at each changed-count
    * job; on graph-small a call's loop starts at its first job and every job
    * ends a round.
    */
  private def engineFigures(s: Main.Solve, spans: Map[Int, Span],
                            bySpan: Map[Int, Seq[JobRec]]): (Map[String, Double], Seq[Double]) = {
    var setup, loop, gap = 0.0
    val rounds = mutable.ArrayBuffer.empty[Double]
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    for (sp <- s.callSpans.flatMap(spans.get)) {
      val js = bySpan.getOrElse(sp.id, Nil).sortBy(_.jobId)
      jobs ++= js
      val end = endMs(sp)
      val (loopS, loopStart, roundEnds) = s.info.get("loop_s") match {
        case Some(ls) =>
          val counts = js.filter(_.callSite.startsWith("count at SqlRunner"))
            .takeRight(s.info("iterations").toInt)
          (ls, end - math.round(ls * 1000), counts.map(_.endMs))
        case None if js.nonEmpty =>
          val start = js.map(_.startMs).min
          ((end - start) / 1e3, start, js.map(_.endMs).sorted)
        case None => (0.0, end, Nil)
      }
      setup += sp.seconds - loopS
      loop += loopS
      val bounds = loopStart +: roundEnds
      rounds ++= bounds.zip(bounds.tail).map { case (a, b) => (b - a) / 1e3 }
      gap += (end - loopStart - covered(js.toSeq, loopStart, end)) / 1e3
    }
    val stages = jobs.flatMap(j => j.stages.toArray(Array.empty[Tracer.StageRec]))
    (Map(
      "engine.build_s" -> s.buildS,
      "engine.setup_s" -> setup,
      "engine.loop_s" -> loop,
      "engine.driver_gap_s" -> gap,
      "engine.jobs" -> jobs.length.toDouble,
      "engine.stages" -> stages.length.toDouble,
      "engine.tasks" -> stages.map(_.tasks).sum.toDouble,
      "engine.task_cpu_s" -> stages.map(_.cpuS).sum,
      "engine.gc_s" -> stages.map(_.gcS).sum,
      "engine.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / 1048576.0,
      "engine.shuffle_records" -> stages.map(_.shuffleRecords).sum.toDouble,
      "engine.fetch_wait_s" -> stages.map(_.fetchWaitS).sum,
      "engine.spill_mb" -> stages.map(_.spillBytes).sum / 1048576.0,
      "engine.iterations" -> s.info.getOrElse("iterations", 0.0),
      "engine.active_vertices" -> s.info.getOrElse("active_vertices", 0.0),
      "result.write_s" -> s.writeS), rounds.toSeq)
  }

  /** Whole-session figures of one solve: every job it ran, checks excluded. */
  private def sparkFigures(s: Main.Solve, jobs: Seq[JobRec], spans: Map[Int, Span],
                           plans: Seq[(Long, Double)]): Map[String, Double] = {
    val js = jobs.filter(j => j.startMs >= s.startMs && j.endMs <= s.endMs &&
      !spans.get(j.span).exists(_.name == "check"))
    val wallMs = math.max(1L, s.endMs - s.startMs)
    Map(
      "spark.jobs" -> js.length.toDouble,
      "spark.ms_per_job" -> s.seconds * 1000 / math.max(1, js.length),
      "spark.driver_idle_frac" -> (1.0 - covered(js, s.startMs, s.endMs).toDouble / wallMs),
      "spark.plan_s" -> plans.filter { case (t, _) => t >= s.startMs && t <= s.endMs }
        .map(_._2).sum)
  }

  def summarize(tracer: Tracer, l: JobListener, r: RunResult,
                sessionStartS: Double): mutable.LinkedHashMap[String, Double] = {
    val spans = tracer.all.map(s => s.id -> s).toMap
    val jobs = l.allJobs.filter(_.endMs >= 0)
    val bySpan = jobs.groupBy(_.span)
    val plans = l.plans.toArray(Array.empty[(Long, Double)]).toSeq
    val traced = r.warm.filter(_.callSpans.nonEmpty)
    val untraced = r.warm.filter(_.callSpans.isEmpty)
    val figures = traced.map { s =>
      val (e, rounds) = engineFigures(s, spans, bySpan)
      (e ++ sparkFigures(s, jobs, spans, plans), rounds)
    }
    val rounds = figures.flatMap(_._2)
    val out = mutable.LinkedHashMap[String, Double]("session.start_s" -> sessionStartS)
    figures.head._1.keys.toSeq.sorted.foreach { k =>
      out(k) = Stats.median(figures.map(_._1(k)))
    }
    out("engine.round_s_p50") = if (rounds.isEmpty) 0.0 else Stats.median(rounds)
    out("engine.round_s_max") = if (rounds.isEmpty) 0.0 else rounds.max
    // Compilation happens in the first solve; warm solves hit the cache.
    out("spark.codegen_s") = r.first.codegen.seconds
    out("spark.codegen_classes") = r.first.codegen.classes.toDouble
    // What the first call left persisted, as a user's session would see it.
    out("retained.rdds") = r.first.retainedRdds.toDouble
    out("retained.mb") = r.first.retainedMb
    r.extra.get("reference_solve_s").foreach(v => out("reference.solve_s") = v.asInstanceOf[Double])
    r.extra.get("graphx_solve_s").foreach(v => out("graphx.solve_s") = v.asInstanceOf[Double])
    if (untraced.nonEmpty)
      out("trace.overhead_s") = Stats.median(traced.map(_.seconds)) -
        Stats.median(untraced.map(_.seconds))
    out
  }

  def spanRecord(s: Span): Map[String, Any] = Map(
    "type" -> "span", "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ms" -> s.startMs, "seconds" -> s.seconds) ++ s.attrs

  def jobRecord(j: JobRec): Map[String, Any] = Map(
    "type" -> "job", "job" -> j.jobId, "parent" -> j.span, "call_site" -> j.callSite,
    "start_ms" -> j.startMs, "end_ms" -> j.endMs,
    "stages" -> j.stages.toArray(Array.empty[Tracer.StageRec]).toSeq.map(st => Map(
      "stage" -> st.stageId, "tasks" -> st.tasks, "run_s" -> st.runS, "cpu_s" -> st.cpuS,
      "gc_s" -> st.gcS, "shuffle_write_bytes" -> st.shuffleWriteBytes,
      "shuffle_records" -> st.shuffleRecords, "fetch_wait_s" -> st.fetchWaitS,
      "spill_bytes" -> st.spillBytes)))
}
