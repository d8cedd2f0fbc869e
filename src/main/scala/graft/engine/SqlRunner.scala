package graft.engine

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftFrames, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType}

/** DataFrame executor for [[GmrAlgorithm]] — the reference's iteration driver
  * (igmr.cpp:116-247) collapsed to a fold → partition-local merge per
  * superstep:
  *
  *   fold   = the senders' out-edges reduced  (O4+O6+O10: map, then
  *            into one buffer per destination  reduce over each run of the
  *            ([[Fold]], [[EdgeIndex.fold]])   grouped KV stream, gmr.h:300-313)
  *   update = the reduced values merged into   (O11: merge + convergence,
  *            each state partition's arrays    ≙ updateGraph, gmr.h:170-219)
  *
  * The vertex state is what the reference keeps per process: per partition,
  * one [[VertexState]] of primitive arrays (ids ascending, out-degrees,
  * values, a changed bit set), hash-partitioned on id, so the update is a
  * merge inside each partition with no join. A round copies the values and
  * evaluates the algorithm's update on the vertices that received a
  * message: O(receivers) when a vertex without a message keeps its value
  * ([[GmrAlgorithm.idleNoOp]]), every vertex otherwise (PageRank's
  * re-mix), as LocalRunner's frontier loop chooses.
  *
  * The edges live in one representation: each partition indexed as a CSR
  * over src ([[EdgeIndex]], ≙ the reference's per-process subgraph), so a
  * round's fold visits only its senders' out-edges. Setup builds it in
  * one job that ships the edges to their partitions as primitive-array
  * chunks, not rows, as the reference ships each process its sub-CSR
  * whole, and fills each partition's CSR with a radix sort. The two
  * modes differ only in the index's partition key and where a task finds
  * its senders.
  * PULL mode, whenever the vertex state fits a broadcast
  * ([[broadcastPullMaxVertices]]), partitions the edges by dst: the driver
  * broadcasts each round's senders to every partition. CLASSIC mode
  * partitions them by src at the vertex state's own layout: each task
  * folds the senders of its own state partition (≙ the reference's map
  * over each process's own vertices, gmr.h computing()).
  *
  * The reduce is the algorithm's own `reduceAgg`, bound once as the
  * expressions of a declarative aggregate: each task folds every message
  * straight into a dense buffer per destination slot of its index
  * partition, with no hash table and no message row kept. Where the
  * unsalted pull-mode index shares the state's layout, a task then merges
  * its buffers into its own state partition; otherwise it ships its
  * touched buffers to their destinations' state partitions as
  * primitive-array partials through one shuffle, which merges them in map
  * order. No round is analyzed, optimized or planned: the sender selection
  * and the update are planned once too and bound for tasks
  * ([[Frontier.select]]). The rounds run through [[Fixpoint]]; each marks
  * its state for local checkpoint (lineage stays one round deep) and runs
  * ONE job, a count of the changed vertices that also materializes the
  * checkpoint (≙ the reference's piggybacked Allgather convergence
  * exchange, igmr.cpp:137-149). In pull mode the same job returns the next
  * round's senders ([[Frontier]]), so no round runs a job to gather them.
  */
object SqlRunner {

  /** A run's own observability, returned by [[runWithStats]] and
    * recorded for the caller's [[graft.obs.RunLog.capture]].
    * `changedTrace(i)` is superstep i+1's changed-vertex count; the final
    * entry is 0 for an ε-converged run and nonzero when a fixed iteration
    * cap stopped the loop. `saltedHubs`/`saltFactor` record whether pull
    * mode's in-degree hub salting engaged (1 = uniform path, no salting;
    * classic mode never salts). `sendersTrace(i)` is superstep i+1's
    * sender count in pull mode, the rows its broadcast carried (classic
    * mode broadcasts none and leaves it empty), and `messagesTrace(i)` the
    * messages its fold reduced in either mode (a retried task counts
    * again). The local tiers leave both empty.
    */
  final case class RunStats(iterations: Int, loopSeconds: Double,
                            saltedHubs: Int, saltFactor: Int,
                            changedTrace: Seq[Long],
                            sendersTrace: Seq[Long] = Nil,
                            messagesTrace: Seq[Long] = Nil)

  /** A vertex qualifies as a salted hub when its in-degree exceeds this
    * multiple of the mean per-partition edge count (i.e. its edge list
    * alone outweighs a whole average partition by 2×).
    */
  private val HubDegreePartitionFactor = 2L

  /** Hub salting only engages once a single edge list is big enough for
    * the straggler to matter; below this the wave structure absorbs it.
    * Tests lower it via -Dgraft.engine.hubMinDegree to force the path.
    */
  private val HubMinDegreeFloor = 65536L

  /** At most this many distinct hub vertices are salted (the top by
    * degree). A power-law graph concentrates the mass in the first few
    * hubs, so a small cap captures the straggler risk with a bounded
    * `IN (...)` literal set on the hot path.
    */
  private val MaxSaltedHubs = 1024

  /** The hub probe samples this fraction of the edges — a hub past the
    * degree floor contributes ≥ ~650 sampled rows, detection is not
    * borderline. Seeded: the probe is deterministic run-to-run.
    */
  private val HubSampleFraction = 0.01

  /** Below this edge count the probe is skipped outright (unless a test
    * forces the threshold): with sub-8M-edge graphs a whole straggler
    * partition is sub-second work, and tight driver loops (the SCC peel)
    * run this method many times — a probe job per run would cost more than
    * any skew it could find.
    */
  private val HubProbeMinEdges = 8_000_000L

  /** BROADCAST-PULL mode cap (guide §8: broadcast the plan, move heavy
    * rows once — here, never). When the vertex state fits a per-round
    * broadcast (≤ this many vertices), the edges are partitioned by DST and
    * indexed per partition ([[EdgeIndex]]), and each superstep broadcasts
    * its senders to every index partition: the fold shuffles nothing, and
    * because an index partition then holds whole in-edge lists, it reduces
    * each destination's messages in place — a round ships at most the
    * partials of a salted layout, and merges into the state partition it
    * lands in. Above
    * the cap (a 100 TB graph's vertex state does not broadcast) CLASSIC mode
    * indexes the edges by SRC at the vertex state's layout: a task folds
    * its own state partition's senders over its own index partition, with
    * no broadcast and no sender shuffle, and each round pays one shuffle of
    * the partials to their destinations' state partitions — at most one
    * buffer per (task, destination). Override with
    * -Dgraft.engine.broadcastPullMaxVertices for deployment sizing.
    */
  private def broadcastPullMaxVertices: Long =
    // MEMORY-DERIVED default (r11 verdict item 8, replacing the flat 8M
    // tuned to one box), sized when a generation was a ~48 B/vertex hash
    // relation. One generation now is a round's sorted senders — each its
    // packed row (~28 B) plus an 8 B id and two 4 B offsets, ~44 B — held
    // on the driver next to the packed bytes it was built from; the vertex
    // state itself never reaches the driver (it stays in the executors'
    // per-partition arrays, ~20 B/vertex per live round). Each round
    // destroys its broadcast once its job has finished, so one generation
    // is live at a time. heap/(64·48) caps one
    // generation at ~heap/64: a 20 GiB driver derives ~6.5M vertices (the
    // 4M anchors stay in pull mode), an 8 GiB one ~2.6M (the anchors
    // correctly fall back to classic). Broadcast blocks are
    // storage-managed (MEMORY_AND_DISK) so the executor side evicts under
    // pressure; the derivation bounds the driver-side build.
    sys.props.get("graft.engine.broadcastPullMaxVertices").map(_.toLong)
      .getOrElse(math.max(1_000_000L,
        Runtime.getRuntime.maxMemory() / (64L * 48L)))

  /** Run `alg` over `edges(src, dst, weight)`; returns (id, value).
    * `numEdges` < 0 means unknown — one counting pass sizes the loop.
    */
  def run(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
          alg: GmrAlgorithm, meta: GraphMeta, numEdges: Long = -1L): DataFrame =
    runWithStats(spark, vertices, edges, alg, meta, numEdges)._1

  /** [[run]] plus this call's own [[RunStats]]. */
  def runWithStats(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
                   alg: GmrAlgorithm, meta: GraphMeta,
                   numEdges: Long = -1L): (DataFrame, RunStats) = {
    import spark.implicits._

    // NARROW ROWS (guide §2.3) — the edge index's chunks (its build
    // shuffles primitive arrays, int-width wherever a chunk's ids fit) and
    // the message rows every superstep emits shrink with the id width and
    // the weight column:
    //  - weight is dropped outright when the algorithm's msg hook never
    //    reads it (alg.usesWeight=false — label propagations, PageRank,
    //    unit-weight anchors): at 64M edges that is 512 MB of constant
    //    doubles per superstep scan.
    //  - src/dst/id narrow from LONG to INT when every vertex id fits —
    //    probed with one vertex-sized agg (the engine contract is that
    //    edges reference declared vertices), gated on the same ≥8M-edge
    //    floor as the hub probe so tight driver loops (the SCC peel) never
    //    pay an extra job on small graphs, where the index is tiny anyway.
    // Values stay DOUBLE throughout — results are bit-identical; the
    // output re-widens ids to LONG so the surface schema is unchanged.
    val usesWeight = alg.usesWeight
    val sel0 =
      if (usesWeight) edges.select($"src", $"dst", $"weight")
      else edges.select($"src", $"dst")
    // Unknown size: cache BEFORE counting so the sizing pass and the
    // index build below share one computation of the edge derivation.
    val needCount = numEdges < 0
    val sel = if (needCount) sel0.cache() else sel0
    val m = if (needCount) sel.count() else numEdges
    // Id-width probe, gated on the same ≥8M-edge floor as the hub probe so
    // tight driver loops (the SCC peel) never pay an extra job on small
    // graphs, where the index is tiny anyway. One vertex-sized agg; the
    // engine contract is that edges reference declared vertices.
    val narrowIds = m >= HubProbeMinEdges && {
      val b = vertices.agg(min($"id"), max($"id")).head()
      !b.isNullAt(0) && b.getLong(0) >= 0L &&
        b.getLong(1) < Int.MaxValue.toLong
    }
    // Every id column takes one type, so the edge index's partition key
    // hashes as the messages scan (pull) or the vertex state (classic)
    // declares it.
    val idType = if (narrowIds) IntegerType else LongType
    def nid(c: org.apache.spark.sql.Column) = c.cast(idType)
    // Mode selection (see [[broadcastPullMaxVertices]]): pull mode
    // partitions the edge index by DST and broadcasts the senders per round,
    // whose dst-clustered messages reduce in place; classic mode
    // partitions it by SRC, beside the senders' own state partition.
    val pullMode = meta.numVertices > 0 &&
      meta.numVertices <= broadcastPullMaxVertices
    // PARTITION SIZING BY RELATION (guide §2.2/§2.3: size partitions to
    // the bytes that actually flow, not one count for every relation).
    // The loop moves two very differently sized relations:
    //  - the edge index, shipped once as chunks and read once per
    //    superstep: 8 B/edge once ids are narrowed and the weight elided
    //    (24 B legacy width);
    //  - per-round VERTEX-sized state: the senders, the (salted pull-mode)
    //    partials' shuffle and the state they merge into — ~24 B/row over
    //    |V| rows.
    // The old single edge-derived count (128 at 64M edges) split each
    // 80 MB vertex pass into 128 ~0.07 s tasks — three waves of mostly
    // scheduling overhead per round. Pull mode therefore sizes the vertex
    // state (and with it the partials' shuffle) from the VERTEX bytes,
    // with a defaultParallelism floor once the vertex state is big enough
    // to want the whole box, and partitions the edge index explicitly from
    // the EDGE bytes. Classic mode's index shares the vertex state's
    // layout and its partials' shuffle is edge-sized, so both take the
    // edge-derived count.
    //
    // CORE FLOOR for the edge-sized layouts: every round's fold runs
    // per edge partition, so a graph of 1M edges at 8 MB per partition (2
    // partitions) ran every round on 2 of 4 cores. Once a graph has
    // ≥ 64K edges per core, its edge index and classic mode's `parts`
    // take at least one partition per core; smaller graphs keep the
    // sized count (1 below 64K edges), where dispatch outweighs the work.
    val coreFloor = math.min(spark.sparkContext.defaultParallelism.toLong,
      m / 65536).toInt
    val edgeRowBytes = (if (usesWeight) 8 else 0) + (if (narrowIds) 8 else 16)
    val edgeParts = math.max(coreFloor,
      LoopConf.sizedParallelism(spark, m, edgeRowBytes.toLong))
    val vertexParts = {
      val sized = LoopConf.sizedParallelism(
        spark, math.max(1L, meta.numVertices), 24)
      // Floor of 4 task WAVES per core once the state is big enough to
      // want the whole box. 1 wave makes a straggling core cost a whole
      // round tail; measured on the 64M anchors (b03/b07 A/B,
      // OPTIMIZATION_r11.md) small multiples win.
      if (meta.numVertices * 24L >= 8L * 1024 * 1024)
        math.max(4 * spark.sparkContext.defaultParallelism, sized)
      else sized
    }
    val parts =
      if (pullMode) vertexParts
      else math.max(coreFloor, LoopConf.loopParallelism(spark, m))
    // The partition count the edges are actually laid out at — the
    // denominator of the hub-straggler threshold below.
    val indexParts = if (pullMode) edgeParts else parts
    // AQE OFF for the loop's own queries (r12, guide §1.2 config-last):
    // every superstep replans its stages through the adaptive executor —
    // a driver-side latency per stage per round — yet nothing here is
    // adaptive: a round plans nothing (the fold reads the index, the update
    // merges arrays), the partition counts are pre-computed
    // from |V|/|E| (the sizing above), and the edge index is an RDD AQE's
    // skew/coalesce machinery cannot see anyway. Measured on the b03 64M
    // anchor (this round, same box): loop 17.2 → 14.4 s and 805 → 625 MB
    // shuffled. Results are execution-identical.
    // The edge index and the sizing cache are released however the call
    // ends, a setup that throws included (an unsupported `reduceAgg`).
    var index: RDD[EdgeIndex.Part] = null
    try LoopConf.withConfs(spark, Map("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> parts.toString)) {
      // SKEW PROBE + HUB SALTING (pull mode). Hash partitioning sends a
      // vertex's whole in-edge list to ONE index partition, so a power-law
      // hub whose in-degree rivals a full partition serializes its fold
      // into a straggling task, and AQE's skew splitting cannot engage on
      // an RDD leaf. A seeded 1% SAMPLE of the edges therefore estimates
      // in-degrees BEFORE the index's one shuffle, and the top hub vertices
      // (degree > 2× the mean partition's edge count) get their edge lists
      // spread across `saltF` sub-partitions keyed by
      // (dst, salt = hash(src) % saltF). The salt is pure layout: the fold
      // never reads it, and the state merges the split partials back after
      // their small shuffle. Uniform graphs pay
      // one 1% scan and keep the unsalted layout; sub-8M-edge graphs skip
      // even that. Classic mode never salts: its index is keyed by src, and
      // a hub's shard there is its out-edges at 4–8 B each plus one key
      // (on the b04 anchor, 64M edges with a ≈ 2.9M out-degree hub, the
      // salted and unsalted classic rounds measured equal wall times).
      val meanPartEdges = math.max(1L, m / indexParts)
      val hubMinDegreeOverride = sys.props.get("graft.engine.hubMinDegree")
        .map(_.toLong)
      val hubMinDegree = hubMinDegreeOverride
        .getOrElse(math.max(HubDegreePartitionFactor * meanPartEdges,
          HubMinDegreeFloor))
      val hubs: Array[(Long, Long)] =
        if (!pullMode || (m < HubProbeMinEdges && hubMinDegreeOverride.isEmpty))
          Array.empty
        else
          sel.sample(withReplacement = false, HubSampleFraction, seed = 42)
            .groupBy($"dst")
            .agg(count(lit(1)).as("c"))
            .filter($"c" >= math.max(1L,
              (hubMinDegree * HubSampleFraction).toLong))
            .orderBy($"c".desc).limit(MaxSaltedHubs)
            .collect()
            .map(r => (r.getLong(0), (r.getLong(1) / HubSampleFraction).toLong))
      val salted = hubs.nonEmpty
      val saltF =
        if (!salted) 1
        else {
          // Fan-out sized to the worst hub: enough sub-partitions that its
          // largest shard is about one mean partition, capped at 32.
          val worst = hubs.map(_._2).max
          Iterator.iterate(2)(_ * 2)
            .find(f => f >= 32 || f.toLong * meanPartEdges >= worst).get
        }
      // Literal type matches the (possibly narrowed) id columns so the
      // IN-set probe stays a same-type comparison inside codegen.
      val hubLits: Seq[Any] =
        if (narrowIds) hubs.map(_._1.toInt).toSeq else hubs.map(_._1).toSeq
      // Keyed — the reference's precomputed adjloc routing table
      // (partition.h:276-279) — on dst in pull mode, the aggregation key,
      // and on src in classic mode, the key of the vertex state each task
      // scatters from: the index puts each edge in the partition
      // `repartition(indexParts, keys)` would. Narrowing applies HERE, to
      // the relation the index holds — the sizing cache above keeps the
      // caller's width.
      val eBase =
        if (usesWeight) sel.select(nid($"src").as("src"),
          nid($"dst").as("dst"), $"weight")
        else sel.select(nid($"src").as("src"), nid($"dst").as("dst"))
      val (keyed, keys) =
        if (!pullMode) (eBase, Seq("src"))
        else if (!salted) (eBase, Seq("dst"))
        else (eBase.withColumn("salt",
            when($"dst".isInCollection(hubLits),
              pmod(xxhash64($"src"), lit(saltF.toLong)).cast("int"))
              .otherwise(lit(0))), Seq("dst", "salt"))
      // Each partition indexed as a CSR over src, so a round reads only its
      // senders' out-edges.
      index = EdgeIndex.build(keyed, keys, indexParts, usesWeight)
      // The out-degree aggregate + vertex join only run for algorithms
      // whose message hook reads the degree (PageRank): at 64M edges it is
      // a full-width partial aggregate plus a vertex-sized join for a
      // column SSSP/WCC/max-color never evaluate. When skipped, an
      // explicit count keeps the edges' materialization in SETUP (deg used
      // to force it), so loop seconds stay a loop measurement.
      //
      // The vertex state is seeded HASH-PARTITIONED on id, the layout the
      // partials are routed by. In unsalted pull mode it takes the larger
      // count of the two sides: the dst-partitioned index's (each task then
      // merges its own buffers, with no shuffle) unless the state wants
      // more partitions, otherwise `parts`. In classic mode
      // the state thereby shares the src-partitioned index's layout: state
      // partition p holds exactly the sources whose out-edges index
      // partition p holds.
      val stateParts = if (pullMode && !salted) math.max(parts, indexParts) else parts
      val init = {
        val v = vertices.select(nid($"id").as("id"))
        if (alg.usesOutDegree) {
          // A source's out-edges may spread over several partitions (pull
          // mode's dst layout): sum the index's per-partition key counts.
          val out = Seq(AttributeReference("src", idType, nullable = false)(),
            AttributeReference("n", IntegerType, nullable = false)())
          val deg = GraftFrames.ofRdd(spark, out, EdgeIndex.degrees(index, idType),
              UnknownPartitioning(indexParts), Statistics(BigInt(m) * 12))
            .groupBy($"src").agg(sum($"n").cast("int").as("outdeg"))
          v.join(deg, $"id" === deg("src"), "left")
            .select($"id", coalesce($"outdeg", lit(0)).as("outdeg"),
              alg.initCol($"id", meta).cast(DoubleType).as("value"))
        } else {
          index.count()
          v.select($"id", lit(0).as("outdeg"),
            alg.initCol($"id", meta).cast(DoubleType).as("value"))
        }
      }.repartition(stateParts, $"id")
      // Every state holds one row per vertex: the seed's estimate serves
      // the result.
      val stateStats = {
        val st = init.queryExecution.optimizedPlan.stats
        Statistics(st.sizeInBytes, st.rowCount)
      }
      val changedOnly = alg.activeMessaging

      // THE SENDERS of a state, planned over its (id, outdeg, value,
      // changed) rows as [[VertexState.rows]] views them.
      val viewRows = spark.sparkContext.emptyRDD[InternalRow]
      val senders = {
        val view = GraftFrames.ofRdd(spark, init.queryExecution.analyzed.output :+
            AttributeReference("changed", BooleanType, nullable = false)(), viewRows,
          UnknownPartitioning(0), stateStats)
        val senders0 = if (changedOnly) view.filter($"changed") else view
        val senders1 = senders0.filter(alg.sendCondCol($"value"))
        // SENDER-SIDE MESSAGE PRECOMPUTE (guide §2.3: shuffle fewer bytes,
        // aggregate before you shuffle — applied to the fold's input). When
        // the message never reads the edge weight (usesWeight=false:
        // PageRank's value/outdeg, label propagations, the unit-weight
        // anchors), msg is a pure function of the SENDER row — so evaluate
        // it ONCE per sender here instead of once per edge in the fold
        // (|senders| divisions instead of |messages|: 4M vs 64M/round on
        // the PageRank anchors), and pack only (id, msg) — the
        // value/outdeg/changed columns never enter the fold. Identical
        // results: the same expression over the same operands, evaluated
        // earlier.
        if (usesWeight) senders1.select($"id", $"outdeg", $"value") else {
          // A sender with no out-edges matches no edge, so dropping it is
          // result-identical and shrinks the packed senders — and it is
          // REQUIRED here: the precomputed expression now evaluates on
          // every sender row, and PageRank's value/outdeg would hit
          // DIVIDE_BY_ZERO (ANSI) on dangling vertices that the fold
          // used to filter out before the expression ever ran.
          val live =
            if (alg.usesOutDegree) senders1.filter($"outdeg" > 0)
            else senders1
          live.select($"id", alg.msgCol($"value", lit(1.0), $"outdeg").as("msg"))
        }
      }
      // The sender selection, planned on its own once and bound for tasks
      // ([[Frontier]]): pull mode's state jobs pack the rows it selects for
      // the driver to broadcast; classic mode's fold packs them from its
      // own state partition.
      val selection = senders.queryExecution.executedPlan
      val senderSide = Frontier.select(selection, viewRows)
      val senderFields = selection.output
      // THE REDUCE, bound once ([[Fold]]): a message is a sender's row,
      // joined with its edge's weight when the message reads it, and each
      // destination's buffer folds the algorithm's `reduceAgg` over them.
      val fields = senderFields.size
      val reduce = {
        val input = senderFields.map(a => AttributeReference(a.name, a.dataType, a.nullable)()) ++
          (if (usesWeight) Seq(AttributeReference("weight", DoubleType)()) else Nil)
        Fold.reduce(spark, alg, input,
          if (usesWeight) alg.msgCol($"value", $"weight", $"outdeg") else $"msg")
      }
      // THE UPDATE, a partition-local merge of the reduced values into the
      // state ([[VertexState.merge]]). When a vertex that receives no
      // message keeps its value and counts as unchanged (`idleNoOp`, with
      // ε ≥ 0 so that an unchanged value is not a change), it touches only
      // the receivers: O(messages) plus one copy of the values.
      val update = VertexState.update(spark, alg, meta, idType)
      val receiversOnly = alg.idleNoOp && alg.epsilon >= 0
      // Where the unsalted pull-mode index shares the state's layout, index
      // partition p holds exactly the in-edges of state partition p's
      // vertices: a task folds its messages and merges them into its own
      // state partition, with no exchange. Otherwise each task ships its
      // touched buffers to their destinations' state partitions as
      // primitive-array partials, one shuffle per round.
      val coLocated = pullMode && !salted && indexParts == stateParts
      val route = new Fold.Route(idType, stateParts)
      val emitted = spark.sparkContext.longAccumulator
      def fold(part: EdgeIndex.Part, senders: Frontier.Senders, task: Fold.Task): Fold.Buffers = {
        val into = task.buffers(part.dsts.length)
        emitted.add(EdgeIndex.fold(part, senders, fields, usesWeight, into))
        into
      }
      def merge(prev: VertexState, partials: Iterator[Fold.Partials],
                task: Fold.Task): VertexState =
        VertexState.merge(prev, partials, task, update, TaskContext.getPartitionId(),
          idType, receiversOnly)
      // ONE job over a state: it materializes its checkpoint, counts the
      // changed vertices and, in pull mode, packs the senders when a later
      // round reads them. It stays in this file: tracers mark round ends by
      // its call site.
      def stateJob(states: RDD[VertexState], pack: Boolean): (Long, Option[Frontier.Packed]) = {
        val side = Option.when(pack)(senderSide)
        val parts = GraftFrames.count(states) { it =>
          val state = it.next()
          (state.changedCount.toLong, side.map(_.pack(TaskContext.getPartitionId(),
            state.rows(idType, changedOnly))))
        }
        val packed = parts.flatMap(_._2)
        (parts.map(_._1).sum,
          side.map(_ => Frontier.Packed(packed.map(_._1).sum, packed.map(_._2).toSeq)))
      }
      // The seed, one [[VertexState]] per partition, marked for local
      // checkpoint like every round's state: the block store then holds one
      // object of a few primitive arrays per partition, not a row per
      // vertex. Its job is the loop's input, materialized in setup.
      val states0 = init.queryExecution.toRdd
        .mapPartitions(rows => Iterator.single(VertexState.seed(rows, idType)))
      states0.localCheckpoint()
      val seedSenders = stateJob(states0, pack = pullMode)._2
      val sendersTrace = Seq.newBuilder[Long]
      val messagesTrace = Seq.newBuilder[Long]

      val tLoop = System.nanoTime()
      val run = Fixpoint((states0, seedSenders), alg.maxIter) {
          case ((states, frontier), round) =>
        // Pull mode: the driver sorts and broadcasts the senders the
        // previous job packed (only the cap's job skips its pack, and no
        // round follows it), and destroys the broadcast once this round's
        // job is done: the checkpoint it feeds is materialized by then.
        val sent = Option.when(pullMode) {
          val f = frontier.get
          sendersTrace += f.count
          spark.sparkContext.broadcast(f.senders(senderFields))
        }
        try {
          val emitted0 = emitted.sum
          // Lazy: the state job materializes the checkpoint. Fixpoint then
          // frees the superseded round's checkpoint.
          val next = sent match {
            case Some(s) if coLocated =>
              index.zipPartitions(states) { (parts, prev) =>
                val (part, p) = (parts.next(), TaskContext.getPartitionId())
                val task = reduce.task(p)
                Iterator.single(merge(prev.next(),
                  Iterator.single(fold(part, s.value, task).partials(part.dsts, p)), task))
              }
            case _ =>
              val partials = sent match {
                case Some(s) =>
                  index.mapPartitionsWithIndex { (p, parts) =>
                    val task = reduce.task(p)
                    parts.flatMap(part => fold(part, s.value, task).partials(part.dsts, p, route))
                  }
                // Classic mode: each task folds the senders of its own
                // state partition over its own index partition.
                case None =>
                  index.zipPartitions(states) { (parts, prev) =>
                    val p = TaskContext.getPartitionId()
                    val (n, bytes) = senderSide.pack(p, prev.next().rows(idType, changedOnly))
                    val senders = Frontier.Packed(n, Seq(bytes)).senders(senderFields)
                    val task = reduce.task(p)
                    parts.flatMap(part => fold(part, senders, task).partials(part.dsts, p, route))
                  }
              }
              // The keys are state partition ids, which a HashPartitioner of
              // `stateParts` leaves where they are.
              partials.partitionBy(new HashPartitioner(stateParts)).values
                .zipPartitions(states) { (ps, prev) =>
                  Iterator.single(merge(prev.next(), ps, reduce.task(TaskContext.getPartitionId())))
                }
          }
          next.localCheckpoint()
          // The last round's senders would go unread: no round follows the
          // cap. An ε-stop is decided by this job's own count, so its last
          // pack stays.
          val (changed, nextSenders) = stateJob(next, pack = pullMode && round < alg.maxIter)
          messagesTrace += emitted.sum - emitted0
          Fixpoint.Step((next, nextSenders), changed)
        } finally sent.foreach(GraftFrames.destroy)
      } { case (states, _) =>
        // The surface schema, (id LONG, value), over a row view of the
        // final state; narrowed ids re-widen, so their hash layout is lost.
        val out = Seq(AttributeReference("id", LongType, nullable = false)(),
          AttributeReference("value", DoubleType, nullable = false)())
        GraftFrames.ofRdd(spark, out, states.mapPartitions(_.flatMap(_.values)),
          if (narrowIds) UnknownPartitioning(stateParts)
          else HashPartitioning(out.take(1), stateParts), stateStats)
      }
      val loopSecs = (System.nanoTime() - tLoop) / 1e9
      (run.result, graft.obs.RunLog.run(RunStats(run.rounds.length, loopSecs,
        hubs.length, saltF, run.rounds.map(_.changed), sendersTrace.result(),
        messagesTrace.result())))
    } finally {
      if (index != null) index.unpersist()
      if (needCount) sel.unpersist()
    }
  }
}
