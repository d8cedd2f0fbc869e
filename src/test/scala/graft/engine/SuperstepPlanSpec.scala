package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.algos.Algorithms

/** SqlRunner's rounds: no plan per round, each round one job that folds
  * the senders' messages into per-destination buffers and merges them
  * into the vertex state. Pins that the rounds compute exactly what
  * LocalRunner's in-memory loop does, that planning does not grow with the
  * round count, that each round is one job of one stage, or of two around
  * one shuffle of partials where the index does not share the state's
  * layout, and that the loop's partitions follow the graph's size.
  */
class SuperstepPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 600 vertices on a ring with one random chord each (≈ 10 SSSP rounds
    * from 0), plus vertex 600 — reached from 3 — whose 10,000 out-edges
    * into a 100-vertex cluster make each cluster vertex an in-degree hub
    * (~100 in-edges) once the threshold is lowered. Weights 1–9.
    */
  private lazy val graph: (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val n = 600L
    val ring = s.range(0, n).select($"id".as("src"), (($"id" + 1) % n).as("dst"))
    val chords = s.range(0, n)
      .select($"id".as("src"), pmod(xxhash64($"id", lit(7)), lit(n)).as("dst"))
    val hub = s.range(0, 10000)
      .select(lit(n).as("src"), (pmod(xxhash64($"id"), lit(100L)) + n + 1).as("dst"))
    val cluster = s.range(n + 1, n + 101)
      .select($"id".as("src"), pmod(xxhash64($"id", lit(11)), lit(n)).as("dst"))
    val edges = ring.union(chords).union(hub).union(cluster)
      .union(Seq((3L, n)).toDF("src", "dst"))
      .filter($"src" =!= $"dst")
      .withColumn("weight", (pmod(xxhash64($"src", $"dst"), lit(9L)) + 1).cast("double"))
    (s.range(0, n + 101).select($"id"), edges)
  }
  private val meta = GraphMeta(701L, source = 0L)

  /** 600k random edges over 20k vertices: the edge index and the classic
    * loop take one partition per core while the vertex state alone would
    * take 1, so the seed must follow the larger side. Vertex 1 is an
    * out-degree hub (which classic mode does not salt) and vertex 2 an
    * in-degree hub (pull salting).
    */
  private lazy val wide: (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val nV = wideMeta.numVertices
    (s.range(0, nV).select($"id"),
      s.range(0, 600000)
        .select(when($"id" % 64 === 0, lit(1L))
            .otherwise(pmod(xxhash64($"id"), lit(nV))).as("src"),
          when($"id" % 64 === 1, lit(2L))
            .otherwise(pmod(xxhash64($"id" + 1000000L), lit(nV))).as("dst"))
        .filter($"src" =!= $"dst")
        .withColumn("weight", lit(1.0)))
  }
  private val wideMeta = GraphMeta(20000L, source = 3L)

  private def values(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** The changed-vertex count of every round of LocalRunner's loop: round
    * k's states are LocalRunner's results capped at k − 1 and k rounds.
    */
  private def localTrace(alg: GmrAlgorithm, rounds: Int,
                         g: (DataFrame, DataFrame) = graph,
                         m: GraphMeta = meta): Seq[Long] =
    changedSets(alg, localStates(alg, rounds, g, m)).tail.map(_.size.toLong)

  /** LocalRunner's states after 0, 1, …, `rounds` rounds. */
  private def localStates(alg: GmrAlgorithm, rounds: Int, g: (DataFrame, DataFrame),
                          m: GraphMeta): Seq[Map[Long, Double]] = {
    val (verts, edges) = g
    (0 to rounds).map { k =>
      values(LocalRunner.run(spark, verts, edges,
        new DelegatingGmrAlgorithm(alg) { override def maxIter: Int = k }, m))
    }
  }

  /** The vertices each state changed: every vertex for the seed, then
    * those round k moved by more than ε.
    */
  private def changedSets(alg: GmrAlgorithm, states: Seq[Map[Long, Double]]): Seq[Set[Long]] =
    states.head.keySet +: states.zip(states.tail).map { case (before, after) =>
      before.collect { case (id, old) if {
        val d = after(id) - old
        !d.isNaN && math.abs(d) > alg.epsilon
      } => id }.toSet
    }

  private def withProps[T](props: (String, String)*)(body: => T): T = {
    props.foreach { case (k, v) => sys.props.put(k, v) }
    try body finally props.foreach { case (k, _) => sys.props.remove(k) }
  }

  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "pull" -> Nil,
    "classic" -> Seq("graft.engine.broadcastPullMaxVertices" -> "0"),
    "salted" -> Seq("graft.engine.hubMinDegree" -> "100"))

  private val algorithms: Seq[(String, GmrAlgorithm)] = Seq(
    "SSSP" -> Algorithms.UnitWeighted(Algorithms.Sssp),
    "weighted SSSP" -> Algorithms.Sssp,
    "PageRank" -> Algorithms.PageRank(0.85),
    "WCC" -> Algorithms.Wcc)

  algorithms.foreach { case (algName, alg) =>
    test(s"$algName: rebound rounds match LocalRunner's rows and changed " +
        "trace in pull, classic and salted mode") {
      val (verts, edges) = graph
      val local = values(LocalRunner.run(spark, verts, edges, alg, meta))
      var trace: Seq[Long] = Nil
      modes.foreach { case (mode, props) =>
        val (got, stats) = withProps(props: _*) {
          SqlRunner.runWithStats(spark, verts, edges, alg, meta)
        }
        val rows = values(got)
        assert(stats.iterations >= 5, s"$mode: only ${stats.iterations} rounds")
        assert((stats.saltedHubs > 0) == (mode == "salted"),
          s"$mode: ${stats.saltedHubs} salted hubs")
        assert(rows.keySet == local.keySet, mode)
        rows.foreach { case (id, v) =>
          val want = local(id)
          assert(v == want || math.abs(v - want) <= 1e-9 * math.max(1.0, math.abs(want)),
            s"$mode: vertex $id = $v, LocalRunner $want")
        }
        if (trace.isEmpty) trace = localTrace(alg, stats.iterations)
        assert(stats.changedTrace == trace, s"$mode changed trace")
      }
    }
  }

  /** `alg` with its `idleNoOp` flag off: every round then updates every
    * vertex, with a null aggregate where no message arrived.
    */
  private def everyVertex(alg: GmrAlgorithm): GmrAlgorithm =
    new DelegatingGmrAlgorithm(alg) {
      override def name = base.name + "-every-vertex"
      override def idleNoOp = false
    }

  private def bits(df: DataFrame): Map[Long, Long] =
    values(df).map { case (id, v) => id -> java.lang.Double.doubleToRawLongBits(v) }

  test("receivers-only update == every-vertex update: rows and traces in " +
      "pull, salted and classic mode") {
    val (verts, edges) = graph
    // LongestPath layers a DAG: keep the edges that climb id mod 8, at most
    // 8 layers, hubs included.
    val dag = (verts, edges.filter(pmod(col("src"), lit(8L)) < pmod(col("dst"), lit(8L))))
    Seq("SSSP" -> Algorithms.UnitWeighted(Algorithms.Sssp), "weighted SSSP" -> Algorithms.Sssp,
        "WCC" -> Algorithms.Wcc, "FwdMaxColor" -> Algorithms.FwdMaxColor,
        "LongestPath" -> Algorithms.LongestPath).foreach { case (algName, alg) =>
      assert(alg.idleNoOp, algName)
      val (v, e) = if (alg eq Algorithms.LongestPath) dag else graph
      modes.foreach { case (mode, props) =>
        val ((sparse, a), (dense, b)) = withProps(props: _*) {
          (SqlRunner.runWithStats(spark, v, e, alg, meta),
            SqlRunner.runWithStats(spark, v, e, everyVertex(alg), meta))
        }
        val at = s"$algName, $mode"
        assert(a.iterations >= 3 && (a.saltedHubs > 0) == (mode == "salted"), s"$at: $a")
        assert(bits(sparse) == bits(dense), at)
        assert(a.changedTrace == b.changedTrace, s"$at changed trace")
        assert(a.sendersTrace == b.sendersTrace, s"$at senders trace")
        assert(a.messagesTrace == b.messagesTrace, s"$at messages trace")
      }
    }
  }

  test("idleNoOp algorithms: an update with no message keeps the value, in " +
      "updateCol and updateFn") {
    // SqlRunner's receivers-only update skips every vertex without a
    // message on this flag, so each algorithm that declares it must mean it.
    // Algorithms' members: its objects and its algorithm-typed vals.
    val objects = Class.forName("graft.algos.Algorithms").getDeclaredClasses.toSeq
      .flatMap(c => scala.util.Try(c.getField("MODULE$").get(null)).toOption)
    val vals = Algorithms.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 &&
        classOf[GmrAlgorithm].isAssignableFrom(m.getReturnType))
      .map(_.invoke(Algorithms))
    val declared = (objects ++ vals).collect { case a: GmrAlgorithm if a.idleNoOp => a }.distinct
    assert(Set("sssp", "wcc", "fwd-max-color", "longest-path").subsetOf(declared.map(_.name).toSet),
      declared.map(_.name))
    val vs = Seq(0.0, 1.5, -3.0, Double.PositiveInfinity, Double.NegativeInfinity)
    (declared :+ Algorithms.UnitWeighted(Algorithms.Sssp)).foreach { alg =>
      val row = spark.range(1).select(vs.map(v =>
        alg.updateCol(lit(7L), lit(v), lit(null).cast("double"), meta)): _*).head()
      vs.zipWithIndex.foreach { case (v, i) =>
        assert(!row.isNullAt(i) && row.getDouble(i).equals(v), s"${alg.name}: updateCol($v, null)")
        assert(alg.updateFn(7L, v, None, meta).equals(v), s"${alg.name}: updateFn($v, None)")
      }
    }
  }

  test("multi-partition layouts: SSSP rows and trace match LocalRunner in " +
      "every mode, and unsalted rounds run exchange-free on the vertex side") {
    val (verts, edges) = wide
    val alg = Algorithms.UnitWeighted(Algorithms.Sssp)
    val local = values(LocalRunner.run(spark, verts, edges, alg, wideMeta))
    val hubs = "graft.engine.hubMinDegree" -> "5000"
    val classic = "graft.engine.broadcastPullMaxVertices" -> "0"
    // Classic mode never salts, even with the hub threshold lowered.
    val traces = Seq("pull" -> Nil, "pull salted" -> Seq(hubs),
        "classic" -> Seq(classic), "classic, hub threshold set" -> Seq(classic, hubs))
      .map { case (mode, props) =>
        val ((got, stats), jobs) = RoundJobs.record(spark) {
          withProps(props: _*)(SqlRunner.runWithStats(spark, verts, edges, alg, wideMeta))
        }
        assert((stats.saltedHubs > 0) == (mode == "pull salted"), mode)
        val stateParts = got.queryExecution.toRdd.getNumPartitions
        val rounds = RoundJobs.rounds(jobs, stats.iterations)
        assert(rounds.size == stats.iterations, s"$mode: $jobs")
        rounds.zip(stats.messagesTrace).foreach { case (job, messages) =>
          // Every round ends in a stage over the state's partitions, whose
          // count no round changes.
          assert(job.stages.last.tasks == stateParts, s"$mode: $job")
          if (mode == "pull") {
            // The index shares the state's layout: each task merges its own
            // buffers, so a round is one stage and shuffles nothing.
            assert(job.stages.size == 1 && job.stages.head.recordsWritten == 0, s"$mode: $job")
          } else {
            // One shuffle, of partials: at most one record per (task,
            // state partition), each destination once in it, never a
            // record per message.
            val Seq(fold, _) = job.stages
            assert(fold.recordsWritten <= math.min(messages, fold.tasks.toLong * stateParts),
              s"$mode: $job, $messages messages")
          }
        }
        if (stats.saltedHubs == 0)
          assert(rounds.head.stages.head.tasks == stateParts &&
            stateParts > LoopConf.sizedParallelism(spark, wideMeta.numVertices, 24), mode)
        assert(values(got) == local, mode)
        stats.changedTrace
      }
    assert(traces.forall(_ == traces.head), traces)
    assert(traces.head == localTrace(alg, traces.head.size, wide, wideMeta))
  }

  test("the loop fills the cores from 64K edges per core, and a small graph " +
      "keeps one partition") {
    val s = spark
    import s.implicits._
    val cores = s.sparkContext.defaultParallelism
    assert(cores == 4, "TestSpark runs local[4]")
    val nV = 50000L
    val big = (s.range(0, nV).select($"id"),
      s.range(0, 1000000).select(($"id" % nV).as("src"),
        pmod(xxhash64($"id"), lit(nV)).as("dst")).withColumn("weight", lit(1.0)))
    val oneRound = new DelegatingGmrAlgorithm(Algorithms.UnitWeighted(Algorithms.Sssp)) {
      override def maxIter: Int = 1
    }
    Seq("pull" -> Nil, "classic" -> Seq("graft.engine.broadcastPullMaxVertices" -> "0"))
      .foreach { case (mode, props) =>
        // (state partitions, index partitions): the round's first stage
        // folds over the index.
        def laidOut(g: (DataFrame, DataFrame), m: GraphMeta): (Int, Int) = {
          val ((got, _), jobs) = RoundJobs.record(s) {
            withProps(props: _*)(SqlRunner.runWithStats(s, g._1, g._2, oneRound, m))
          }
          (got.queryExecution.toRdd.getNumPartitions,
            RoundJobs.rounds(jobs, 1).head.stages.head.tasks)
        }
        assert(laidOut(big, GraphMeta(nV, source = 0L)) == (cores, cores), s"$mode, 1M edges")
        assert(laidOut(graph, meta) == (1, 1), s"$mode, ${meta.numVertices} vertices")
      }
  }

  test("sendersTrace: each pull-mode round's sender count — the previous " +
      "round's changed vertices for SSSP") {
    val (pv, pe) = path(6)
    val onPath = SqlRunner.runWithStats(spark, pv, pe,
      Algorithms.UnitWeighted(Algorithms.Sssp), GraphMeta(6L, source = 0L))._2
    assert(onPath.sendersTrace == Seq.fill(6)(1L), onPath)
    val (verts, edges) = graph
    val stats = SqlRunner.runWithStats(spark, verts, edges, Algorithms.Sssp, meta)._2
    assert(stats.sendersTrace == 1L +: stats.changedTrace.init, stats)
    val classic = withProps("graft.engine.broadcastPullMaxVertices" -> "0") {
      SqlRunner.runWithStats(spark, verts, edges, Algorithms.Sssp, meta)._2
    }
    assert(classic.sendersTrace.isEmpty, classic)
  }

  test("messagesTrace: each round's scatter rows in pull and classic mode") {
    // Round k's senders are the vertices round k − 1 changed that pass the
    // send condition; each sends one message per out-edge, its scatter
    // rows the senders' summed out-degree. WCC on the path starts with
    // every vertex sending, more senders than the index holds source ids,
    // so its first pull-mode scatter walks the ids and probes the senders.
    def check(alg: GmrAlgorithm, g: (DataFrame, DataFrame), m: GraphMeta): Seq[Long] = {
      val (got, stats) = SqlRunner.runWithStats(spark, g._1, g._2, alg, m)
      val states = localStates(alg, stats.iterations, g, m)
      assert(values(got) == states.last, alg.name)
      val outDeg = g._2.groupBy("src").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val want = changedSets(alg, states).zip(states).take(stats.iterations).map {
        case (changed, state) =>
          changed.toSeq.filter(v => alg.sendCondFn(state(v))).map(outDeg).sum
      }
      assert(stats.messagesTrace == want, s"${alg.name}: $stats")
      stats.messagesTrace
    }
    modes.take(2).foreach { case (mode, props) =>
      withProps(props: _*) {
        val onPath = check(Algorithms.UnitWeighted(Algorithms.Sssp), path(6),
          GraphMeta(6L, source = 0L))
        assert(onPath == Seq(1L, 1L, 1L, 1L, 1L, 0L), s"$mode: the path's end sends along no edge")
        check(Algorithms.Wcc, path(6), GraphMeta(6L))
        check(Algorithms.Sssp, graph, meta)
      }
    }
  }

  /** Path 0 → 1 → … → len−1 as (vertices, edges). */
  private def path(len: Int): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    (s.range(0, len).select($"id"),
      (0 until len - 1).map(i => (i.toLong, i + 1L, 1.0)).toDF("src", "dst", "weight"))
  }

  test("the round is planned once: optimizer runs do not grow with rounds") {
    val runs = new AtomicInteger
    object CountRuns extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = { runs.incrementAndGet(); plan }
    }
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    val prev = exp.extraOptimizations
    exp.extraOptimizations = prev :+ CountRuns
    def optimizerRuns(len: Int): Int = {
      val (verts, edges) = path(len)
      runs.set(0)
      val (got, stats) = SqlRunner.runWithStats(spark, verts, edges,
        Algorithms.UnitWeighted(Algorithms.Sssp), GraphMeta(len.toLong, source = 0L))
      val n = runs.get
      assert(stats.iterations == len, s"path of $len: ${stats.iterations} rounds")
      assert(values(got) == (0 until len).map(i => i.toLong -> i.toDouble).toMap)
      n
    }
    try {
      val (short, long) = (optimizerRuns(4), optimizerRuns(12))
      assert(short > 0, "the counting rule never ran")
      assert(short == long, s"4 rounds ran the optimizer $short times, 12 rounds $long")
    } finally exp.extraOptimizations = prev
  }

  test("rounds run on a thread with no active session") {
    // Setup plans the sender selection, the reduce and the update, and an
    // operator takes its session from the thread's active one when it is
    // built: the loop must run whatever thread calls it.
    val (verts, edges) = path(5)
    var got: Either[Throwable, Int] = Left(new IllegalStateException("not run"))
    val t = new Thread(() => {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      got = try Right(SqlRunner.runWithStats(spark, verts, edges,
        Algorithms.UnitWeighted(Algorithms.Sssp), GraphMeta(5L, source = 0L))._2.iterations)
      catch { case e: Throwable => Left(e) }
    })
    t.start()
    t.join(120000)
    assert(got.fold(throw _, identity) == 5)
  }

  test("pull mode: every round's changed count is a one-stage job") {
    // On a multi-partition state, so no round can pass by skipping a merge
    // of partial counts.
    val (verts, edges) = wide
    val ((_, stats), jobs) = RoundJobs.record(spark) {
      SqlRunner.runWithStats(spark, verts, edges, Algorithms.UnitWeighted(Algorithms.Sssp),
        wideMeta)
    }
    // Setup counts share the call site; the seed's and the rounds' are the
    // last ones.
    val seeded = jobs.filter(_.site.startsWith("count at SqlRunner"))
      .takeRight(stats.iterations + 1)
    val stages = seeded.tail.map(j => j.id -> j.stages.size)
    assert(stages.size == stats.iterations && stages.forall(_._2 == 1), stages)
    // Nothing else runs from the seed's count to the last round's: the
    // senders come back with each count, so no round collects them itself.
    val between = jobs.filter { j =>
      j.id > seeded.head.id && j.id < seeded.last.id && !seeded.contains(j)
    }
    assert(between.isEmpty, s"jobs between the counts $seeded: $between")
  }
}
