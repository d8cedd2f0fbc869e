package graft

import graft.obs.MetricsListener

/** Dev utility: run named queries one after another and print, for each,
  * its rows, wall time and shuffle read/write/spill totals, then a second
  * (warm) run's time. `--plan` adds the formatted physical plan, `--jobs`
  * one line per Spark job, `--warm <dir>` an untimed run on another scale
  * factor first (isolates codegen/JIT compilation cost from data cost).
  *
  *   runMain graft.Explain <query>... [sfDir] [--plan] [--jobs] [--warm <dir>]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val warmIdx = args.indexOf("--warm")
    require(warmIdx < 0 || (warmIdx + 1 < args.length &&
      !args(warmIdx + 1).startsWith("--")), "--warm requires a directory operand")
    val warmDir = Option.when(warmIdx >= 0)(args(warmIdx + 1))
    val (names, dirs) = args.indices
      .filterNot(i => args(i).startsWith("--") || (warmIdx >= 0 && i == warmIdx + 1))
      .map(args(_)).partition(SparkEntry.queries.contains)
    require(names.nonEmpty && dirs.size <= 1 &&
      dirs.forall(new java.io.File(_).isDirectory),
      s"usage: Explain <query>... [sfDir] [--plan] [--jobs] [--warm <dir>]; " +
        s"not a query or a directory: ${dirs.mkString(" ")}")
    val sfDir = if (dirs.nonEmpty) dirs.head
      else "/root/testdata/sf0.1"
    val showPlan = args.contains("--plan")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      GraftSession.defaultCores.toString).toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new MetricsListener(jobLines = args.contains("--jobs"))
    spark.sparkContext.addSparkListener(listener)
    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
    }
    val mb = 1024.0 * 1024.0
    names.foreach { name =>
      warmDir.foreach { d => SparkEntry.queries(name)(spark, d).count(); sweep() }
      // Construction is inside the timer: iterative queries (engine loops,
      // Borůvka) run their supersteps while BUILDING the result DataFrame.
      val (r0, w0, s0, _) = listener.settled()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val (r1, w1, s1, _) = listener.settled()
      println(f"[explain] $name: $n rows in $dt%.2f s (shuffle r/w " +
        f"${(r1 - r0) / mb}%.0f/${(w1 - w0) / mb}%.0f MB, spill ${(s1 - s0) / mb}%.0f MB)")
      if (showPlan) df.explain("formatted")
      val t1 = System.nanoTime()
      val n2 = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[explain] $name (2nd run): $n2 rows in ${(System.nanoTime() - t1) / 1e9}%.2f s")
      sweep()
    }
    spark.stop()
  }
}
