package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.BlockId

import graft.GraftSession

/** One benchmark run of one workload, in a fresh JVM: start the session,
  * generate the seeded input, time the first call and then warm calls for
  * the requested seconds, check every output, and write the result JSON.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {

  /** Sessions started per run; `setup_s` is their median. */
  val SessionStarts = 5

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String)

  /** One timed solve: an engine call (or one registry sweep) and the write
    * of its result, with the storage it needed and left behind, the code it
    * compiled, and the engine.call spans it opened. `info` holds
    * workload-specific figures (the engine's RunStats).
    */
  final case class Solve(buildS: Double, writeS: Double, peakMb: Double,
                         retainedRdds: Int, retainedMb: Double,
                         startMs: Long, endMs: Long, callSpans: Seq[Int],
                         codegen: Codegen.Delta, info: Map[String, Double]) {
    def seconds: Double = buildS + writeS
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
  }

  def main(args: Array[String]): Unit = {
    val ok = try { run(parse(args)); true } catch {
      case NonFatal(e) => e.printStackTrace(); false
    }
    System.exit(if (ok) 0 else 1)
  }

  def run(o: Opts): Unit = {
    val workload = Workloads.byName.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; known: ${Workloads.byName.keys.mkString(", ")}"))
    Files.createDirectories(Paths.get(o.work))
    val tracer = new Tracer(o.trace)
    val listener = new Tracer.JobListener

    // Set-up: the first start is timed from JVM start; the median over
    // several starts is the set-up time a later change may not move work into.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val starts = (1 to SessionStarts).map { i =>
      if (spark != null) spark.stop()
      val (s, dt) = tracer.span("session.start") {
        val s = GraftSession.builder()
          .config("spark.local.dir", s"${o.work}/spark-local")
          .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
          .getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        s.range(1).collect()
        s
      }
      spark = s
      if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3 else dt
    }
    val storage = new StorageListener(spark)
    val ctx = Ctx(spark, o, tracer, storage, listener)
    ctx.setTracing(o.trace)

    val result = workload.run(ctx)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed,
      "cores" -> spark.sparkContext.defaultParallelism,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "attempted" -> result.attempted, "failed" -> result.failed,
      "errors" -> result.errors.take(20))
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> Stats.median(starts),
      "solve_s" -> Stats.median(result.warm.map(_.seconds)),
      "first_solve_s" -> result.first.seconds,
      "teps" -> result.work / Stats.median(result.warm.map(_.seconds)),
      "query_p50_s" -> Stats.median(result.querySeconds),
      "query_p75_s" -> Stats.percentile(result.querySeconds, 0.75),
      "peak_storage_mb" -> Stats.median((result.first +: result.warm).map(_.peakMb)))
    out("end_to_end") = e2e
    out("session_starts_s") = starts
    out("solves_s") = (result.first +: result.warm).map(_.seconds)
    out("extra") = result.extra
    if (o.trace) {
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val layers = Layers.summarize(tracer, listener, result, starts.head)
      out("per_layer") = layers
      val lines = tracer.all.map(Layers.spanRecord) ++
        listener.allJobs.map(Layers.jobRecord) ++
        result.traceRecords ++
        Seq(Map("type" -> "summary", "workload" -> o.workload, "seed" -> o.seed,
          "end_to_end" -> e2e, "per_layer" -> layers))
      Files.write(Paths.get(o.work, s"trace-${o.workload}-${o.seed}.jsonl"),
        lines.map(Stats.json).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Files.write(Paths.get(o.work, "result.json"), Stats.json(out).getBytes(UTF_8))
    spark.stop()
  }
}

/** What a workload run hands back to [[Main]]. `work` is the reference's
  * count of edge work per solve; `querySeconds` are the per-query (or
  * per-call) wall times.
  */
final case class RunResult(first: Main.Solve, warm: Seq[Main.Solve],
                           querySeconds: Seq[Double], work: Double,
                           attempted: Int, failed: Int, errors: Seq[String],
                           extra: Map[String, Any],
                           traceRecords: Seq[Map[String, Any]] = Nil)

final case class Ctx(spark: SparkSession, opts: Main.Opts, tracer: Tracer,
                     storage: StorageListener, listener: Tracer.JobListener) {
  private var listening = false

  /** Switches spans and the tracing listeners on or off between solves. */
  def setTracing(on: Boolean): Unit = {
    tracer.enabled = on
    if (on != listening) {
      listening = on
      if (on) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      } else {
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
      }
    }
  }

  /** Persisted RDDs and their storage MB, as a user's session would see
    * them after a call returns.
    */
  def retained(): (Int, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}

/** Storage held by the blocks a solve creates (cached partitions,
  * checkpoints, broadcast pieces), from the block updates Spark posts. The
  * peak is what the solve needed; blocks of earlier solves, and when the
  * cleaner frees them, do not count.
  */
final class StorageListener(spark: SparkSession) extends SparkListener {
  private val sizes = mutable.HashMap.empty[BlockId, Long]
  private var current = 0L
  private var peak = 0L
  private var tracking = false
  spark.sparkContext.addSparkListener(this)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val size = b.memSize + b.diskSize
    if (b.storageLevel.isValid && size > 0) {
      if (tracking) {
        current += size - sizes.getOrElse(b.blockId, 0L)
        sizes(b.blockId) = size
        peak = math.max(peak, current)
      }
    } else sizes.remove(b.blockId).foreach(current -= _)
  }

  /** Runs `body`; returns its value and the peak MB of the blocks it created. */
  def measure[T](body: => T): (T, Double) = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized { sizes.clear(); current = 0L; peak = 0L; tracking = true }
    val r = body
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    synchronized { tracking = false; (r, peak / 1048576.0) }
  }
}

/** Whole-stage-codegen compilation counters of the JVM (Spark keeps them
  * process-wide); a solve records the difference across it.
  */
object Codegen {
  final case class Delta(seconds: Double, classes: Long)

  def snapshot(): Delta = Delta(
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def since(s: Delta): Delta = {
    val now = snapshot()
    Delta(now.seconds - s.seconds, now.classes - s.classes)
  }
}
