package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.{Algorithms, TypedAlgorithms}
import graft.engine.{GraphMeta, SqlRunner, TypedRunner}
import graft.graphs.{GraphOps, Mst, Scc}

/** Block ownership of the fixpoint loops: once a call's result is
  * materialized, every RDD the call persisted must be one the result's
  * plan still reads (directly or through lineage). Anything else is a
  * block the call leaked into the session.
  */
class LeakSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A 300-vertex random digraph: cycles, multi-round peels, hubs. */
  private def edges: DataFrame = {
    import spark.implicits._
    spark.range(0, 1500)
      .select(pmod(xxhash64($"id"), lit(300L)).as("src"),
        pmod(xxhash64($"id" + 7919L), lit(300L)).as("dst"))
      .filter($"src" =!= $"dst")
  }

  private def canon: DataFrame = {
    import spark.implicits._
    edges.select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .distinct()
  }

  private def lineage(r: RDD[_]): Seq[RDD[_]] =
    r +: r.dependencies.flatMap(d => lineage(d.rdd))

  /** Persisted RDDs `call` leaves behind that its result does not read. */
  private def leaked(call: => Dataset[_]): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val result = call
    result.write.format("noop").mode("overwrite").save()
    val read = result.queryExecution.analyzed
      .collect { case l: LogicalRDD => l.rdd }.flatMap(lineage).map(_.id).toSet
    sc.getPersistentRDDs.keySet.toSet -- before -- read
  }

  /** SqlRunner's SSSP over [[edges]] under `props`, at least 3 rounds: the
    * rounds checkpoint a rebound plan's rows outside
    * `Dataset.localCheckpoint`, so each round's release is pinned here.
    */
  private def sssp(props: (String, String)*): Dataset[_] = {
    import spark.implicits._
    props.foreach { case (k, v) => sys.props.put(k, v) }
    val (got, stats) = try {
      SqlRunner.runWithStats(spark, spark.range(0, 300).select($"id"),
        edges.withColumn("weight", lit(1.0)), Algorithms.Sssp,
        GraphMeta(300L, source = 0L))
    } finally props.foreach { case (k, _) => sys.props.remove(k) }
    assert(stats.iterations >= 3, s"only ${stats.iterations} rounds")
    got
  }

  private val calls: Seq[(String, () => Dataset[_])] = Seq(
    "SqlRunner.runWithStats" -> (() => sssp()),
    "SqlRunner.runWithStats (classic mode)" ->
      (() => sssp("graft.engine.broadcastPullMaxVertices" -> "0")),
    "TypedRunner.run (g18's shape)" -> (() => {
      import spark.implicits._
      val sym = GraphOps.symmetrize(spark, edges, dropSelfLoops = true)
        .withColumn("weight", lit(1.0))
      TypedRunner.run(spark, sym.select($"src".as("id")).distinct(), sym,
        TypedAlgorithms.TrianglesPerMidVertex, GraphMeta(0L))
    }),
    "GraphOps.coreness" -> (() => GraphOps.coreness(spark, edges)),
    "GraphOps.kcore" -> (() => GraphOps.kcore(spark, edges, k = 3)),
    "GraphOps.ppr2" -> (() => GraphOps.ppr2(spark, edges)),
    "GraphOps.ktruss" -> (() => GraphOps.ktruss(spark, edges, k = 3)),
    "GraphOps.maximalMatchingRun" ->
      (() => GraphOps.maximalMatchingRun(spark, edges).pairs),
    "GraphOps.maximalIndependentSetRun" ->
      (() => GraphOps.maximalIndependentSetRun(spark, edges).members),
    "GraphOps.distributedColoringRun" ->
      (() => GraphOps.distributedColoringRun(spark, canon).colors),
    "Mst.boruvka" -> (() => {
      import spark.implicits._
      Mst.boruvka(spark, canon.withColumn("w",
        $"a".cast("double") + $"b".cast("double") / 1000.0))
    }),
    "Scc.sccEngine" -> (() => Scc.sccEngine(spark, edges)),
  )

  calls.foreach { case (name, call) =>
    test(s"$name leaves only blocks its result reads") {
      val left = leaked(call())
      assert(left.isEmpty, s"$name leaked persisted RDDs ${left.toSeq.sorted}")
    }
  }

  /** Ids of the broadcasts resident in the block manager that carry a
    * join's hash relation or a round's senders: serialized-only ones
    * (pieces, no value block on the driver) and those whose value is a
    * relation or the senders. Task binaries are broadcast too, with their
    * bytes as the value; the cleaner frees those.
    */
  private def relationBroadcasts(): Set[Long] = {
    val bm = org.apache.spark.SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast)
      .collect { case b: org.apache.spark.storage.BroadcastBlockId => b }
      .groupBy(_.broadcastId).collect {
        case (id, blocks) if blocks.forall(_.field.nonEmpty) ||
            blocks.filter(_.field.isEmpty).exists(b => bm.getLocalValues(b)
              .exists(_.data.toList.exists(v => v.getClass.getName.contains("HashedRelation") ||
                v.getClass.getName == "graft.engine.Frontier$Senders"))) =>
          id
      }.toSet
  }

  test("SqlRunner.runWithStats releases its rounds' broadcasts before it returns") {
    val before = relationBroadcasts()
    sssp()
    val left = relationBroadcasts() -- before
    assert(left.isEmpty, s"broadcasts ${left.toSeq.sorted} outlive the run")
  }
}
