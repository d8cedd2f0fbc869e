package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties the 100 TB posture depends on,
  * pinned as assertions so a regression in plan shape fails CI, not a
  * cluster run. Each query is executed first so AQE's final plan (the one
  * that actually ran) is inspected.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def ranPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    // AQE prints the final plan followed by "== Initial Plan ==" — audit
    // only what actually ran, or every node double-counts.
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  // AQE wraps executed stages in QueryStageExec nodes that plain collect()
  // does not descend into — expand them manually.
  private def expand(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(expand)
  }

  test("q01 pushes both predicates and prunes columns at the parquet scan") {
    val plan = ranPlan("q01_filter_project")
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("LessThan(l_shipdate"), plan)
    assert(plan.contains("GreaterThan"), plan) // l_quantity > 24 (string may truncate)
    // Pruned read schema: the 16-column lineitem scan reads only what the
    // query needs (keys + filter + projection inputs) — audited via the
    // FileScan output attribute list (the ReadSchema string truncates).
    val scanCols = "FileScan parquet \\[[^\\]]+\\]".r.findFirstIn(plan).getOrElse("")
    assert(scanCols.nonEmpty && !scanCols.contains("l_comment"), scanCols)
  }

  test("q04 dimension chain joins are broadcast, not shuffled") {
    val plan = ranPlan("q04_broadcast_join")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q06/q07 plan semi/anti joins (no materialized inner result)") {
    assert(ranPlan("q06_semi_join").contains("LeftSemi"))
    assert(ranPlan("q07_anti_join").contains("LeftAnti"))
  }

  test("top-k queries use TakeOrdered, never a full global sort") {
    assert(ranPlan("q08_topk").contains("TakeOrderedAndProject"))
    assert(ranPlan("l17_top_ngrams").contains("TakeOrderedAndProject"))
  }

  test("q02 aggregates partially map-side before the shuffle") {
    val plan = ranPlan("q02_group_agg")
    assert(plan.contains("partial_sum") || plan.contains("partial_avg"), plan)
  }

  test("whole-stage codegen covers the q01 scan-filter-project pipeline") {
    // In tree-string form codegen stages are the "*(n)" prefixes.
    val plan = ranPlan("q01_filter_project")
    assert(plan.contains("*(1)"), plan)
  }

  test("l20 split assignment is a pure projection — zero exchanges") {
    val plan = ranPlan("l20_split_assign")
    assert(!plan.contains("Exchange"), plan)
    // And it stays one codegen stage over the scan.
    assert(plan.contains("*(1)"), plan)
  }

  test("l21 stratified sampling filters map-side — zero exchanges") {
    val plan = ranPlan("l21_stratified_sample")
    assert(!plan.contains("Exchange"), plan)
  }

  test("l22 sequence packing: sharded window, bounded shuffles") {
    val plan = ranPlan("l22_pack_sequences")
    // One exchange for the (lang, shard) window, at most one more for the
    // (lang, shard, chunk_id) aggregation (chunk_id is window-derived, so
    // the window partitioning can't serve the agg); never a global
    // single-partition window.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, plan)
    assert(!plan.contains("SinglePartition"), plan)
    // EVERY lang-keyed exchange must include the md5 shard — a bare `lang`
    // key is one task per language at ANY scale. (All of them, not the
    // first match: the agg exchange prints before the window exchange and
    // always carries shard as a groupBy key, which would mask a window
    // regression.)
    val langExchanges = "Exchange hashpartitioning\\(lang#\\d+[^)]*".r
      .findAllIn(plan).toList
    assert(langExchanges.nonEmpty, plan)
    langExchanges.foreach { ex =>
      assert(ex.contains("shard"), s"lang-keyed exchange lacks shard key: $ex\n$plan")
    }
  }

  test("l66 cluster-quota sampling: the draw window is cluster-partitioned, " +
      "never global") {
    val plan = ranPlan("l66_cluster_sample")
    // The quota cut must run per cluster — a global row_number would
    // serialize the corpus through one task at any scale.
    assert("windowspecdefinition\\(cluster".r.findFirstIn(plan).nonEmpty, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q84 heavy hitters: the frequent-items sketch partial-aggregates " +
      "map-side") {
    val plan = ranPlan("q84_heavy_hitters")
    // The sketch must combine per partition and shuffle one blob per
    // partition — a final-only aggregate would ship every raw key row to
    // one reducer.
    assert(plan.contains("partial_freq_items_agg"), plan)
  }

  test("q33 ntile windows are partitioned, never global") {
    val plan = ranPlan("q33_ntile")
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q63 gap fill: the forward-fill window is partitioned, never global") {
    // The ffill must run per event_type — a global window would serialize
    // the whole spine through one task.
    val plan = ranPlan("q63_gap_fill")
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("l24 mix rates broadcasts the one-row totals") {
    val plan = ranPlan("l24_mix_rates")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("l04 minhash: banded candidates, no cartesian, one sketch agg") {
    // The md5-based rework must not change the plan shape: signatures come
    // from ONE ObjectHashAggregate over the shingle relation (the
    // TypedImperativeAggregate), candidates join on the (band_id, raw
    // slice) key — never a cartesian pair scan.
    val plan = ranPlan("l04_minhash_pairs")
    assert(!plan.contains("CartesianProduct"), plan)
    // Exactly one logical signature aggregation = exactly two plan
    // occurrences (the partial and final halves of ONE aggregate); a
    // regression that rebuilds signatures in a second aggregation (e.g. a
    // separate counts pass re-shuffling the shingle relation) doubles it.
    val sigAggs = plan.linesIterator
      .count(l => l.contains("Aggregate") && l.contains("minhash_sig"))
    assert(sigAggs == 2, s"$sigAggs minhash_sig aggregate nodes:\n$plan")
  }

  test("l34 semantic dedup: pair join keys on cluster, never a cartesian") {
    // The kmeans blocker's whole value is confining the quadratic verify
    // to cells: the self-join must hash/merge on `cluster` (+ the vec_id
    // inequality as a post-condition), not degrade to a cartesian scan.
    val plan = ranPlan("l34_semantic_dedup")
    assert(!plan.contains("CartesianProduct"), plan)
    // Lloyd's assign phase broadcasts the tiny centroid side every round.
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q23 as-of join is single-shuffle (the union+window formulation)") {
    // The whole point of the union+window as-of rendering: both sides
    // shuffle ONCE on the key, versus the join+filter+argmax rendering's
    // two join shuffles plus a window shuffle.
    val plan = ranPlan("q23_asof_join")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges:\n$plan")
  }

  test("g16 common-neighbor top-k is a TakeOrdered, never a global sort") {
    assert(ranPlan("g16_common_neighbors").contains("TakeOrderedAndProject"))
  }

  test("q37 decorrelates to ONE window shuffle (no per-row re-scan)") {
    // The oracle states a correlated scalar subquery; the Spark plan must be
    // its decorrelated window form: exactly one exchange (on o_custkey),
    // shared by the avg window and the filter.
    val plan = ranPlan("q37_above_cust_avg")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges:\n$plan")
    assert(!plan.toLowerCase.contains("cartesian"), plan)
  }

  test("q38 interval RANGE frame runs in one partitioned window pass") {
    val plan = ranPlan("q38_range_frame")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"$exchanges exchanges:\n$plan")
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q39 co-moment statistics aggregate partially map-side") {
    val plan = ranPlan("q39_stats_agg")
    assert(plan.contains("partial_corr") || plan.contains("partial_"), plan)
  }

  test("q41 higher-order array functions stay inside codegen") {
    val plan = ranPlan("q41_hof_arrays")
    assert(plan.contains("*(1)"), plan)
    assert(!plan.contains("Exchange"), plan) // pure projection
  }

  test("l28 int8 quantization is a pure projection — zero exchanges") {
    val plan = ranPlan("l28_quantize_int8")
    assert(!plan.contains("Exchange"), plan)
  }

  test("l02 exact dedup: no exchange carries document text") {
    // The survivor pick must shuffle only (digest, doc_id)-shaped rows;
    // a window over md5(text) would ship the whole corpus byte-for-byte
    // through one exchange.
    val df = SparkEntry.queries("l02_exact_dedup")(spark, sf)
    df.collect()
    val shuffles = expand(df.queryExecution.executedPlan).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    shuffles.foreach { ex =>
      assert(!ex.output.exists(_.name == "text"),
        s"exchange carries text: ${ex.output.map(_.name)}")
    }
  }

  test("q59 bucketed join: with broadcast off, the join plans no exchange") {
    // The query's claim is the at-rest co-location lever: once both fact
    // tables are bucketed on the join key, the join itself needs no
    // shuffle. Disable broadcast (at fact⋈fact scale neither side
    // broadcasts) and assert the only exchange left is the final
    // low-cardinality aggregation, with both scans bucketed.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = ranPlan("q59_bucketed_join")
      assert(plan.contains("Bucketed: true"), plan)
      val exchanges =
        "Exchange hashpartitioning\\([^)]*".r.findAllIn(plan).toSeq
      assert(exchanges.size == 1,
        s"expected only the final agg exchange, got ${exchanges.size}:\n$plan")
      assert(exchanges.head.contains("o_orderpriority"), exchanges.head)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("l43 bigram LM: corpus pass aggregates partially map-side, no text in any exchange") {
    // The only corpus-scale pass is the doc-level (doc_id, w1, w2) count —
    // it must combine map-side, and no exchange may carry raw document
    // text (the bigram explode projects it away pre-shuffle).
    val df = SparkEntry.queries("l43_bigram_logprob")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("partial_"), plan)
    assert(!plan.toLowerCase.contains("cartesian"), plan)
    val shuffles = expand(df.queryExecution.executedPlan).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    shuffles.foreach { ex =>
      assert(!ex.output.exists(_.name == "text"),
        s"exchange carries text: ${ex.output.map(_.name)}")
    }
  }

  test("l32 BM25: query-term filter precedes the postings shuffle; top-k is TakeOrdered") {
    val plan = ranPlan("l32_bm25_topk")
    // Only postings for the 3 query terms may reach the tf aggregation —
    // the isin filter must be in the plan (below it, the whole corpus
    // would shuffle per term).
    assert(plan.contains("IN (spark,join,window)"), plan)
    // Per-doc stats ride in as a broadcast one-row frame.
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    // The final cut is a per-partition top-k, never a global sort.
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("l33 hybrid RRF: pool cuts are TakeOrdered; no cartesian product") {
    val plan = ranPlan("l33_hybrid_rrf")
    // Three cuts (lexical pool, vector pool, fused top-k) — all TakeOrdered.
    val cuts = "TakeOrderedAndProject".r.findAllIn(plan).size
    assert(cuts >= 3, s"$cuts TakeOrdered cuts:\n$plan")
    // The query vector joins in as a 1-row broadcast, not a cartesian.
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("classic scatter: the messages scan feeds a partial aggregate " +
      "exchanged on mdst, and the vertex side stays unshuffled") {
    // Above the broadcast-pull cap each task folds its own state
    // partition's senders over the src-partitioned edge index into one
    // buffer per destination, so a round shuffles no sender and no message
    // row: ONE shuffle carries the partials, at most one record per (task,
    // state partition), to their destinations' state partitions, which
    // merge them at the state's own layout, round after round.
    import org.apache.spark.sql.functions._
    import graft.engine.{GraphMeta, RoundJobs, SqlRunner}
    import graft.algos.Algorithms
    val s = spark
    import s.implicits._
    val nV = 20000L
    val edges = s.range(0, 200000)
      .select(when($"id" % 2 === 0, lit(1L))
          .otherwise(pmod(xxhash64($"id"), lit(nV)) + 1).as("src"),
        (pmod(xxhash64($"id" + 1000000L), lit(nV)) + 1).as("dst"))
      .filter($"src" =!= $"dst")
      .withColumn("weight", lit(1.0))
    val verts = s.range(1, nV + 1).select($"id")
    sys.props.put("graft.engine.broadcastPullMaxVertices", "0")
    try {
      val ((res, stats), jobs) = RoundJobs.record(s) {
        SqlRunner.runWithStats(s, verts, edges, Algorithms.Sssp,
          GraphMeta(nV, source = 1L), numEdges = 200000L)
      }
      res.count()
      val stateParts = res.queryExecution.toRdd.getNumPartitions
      val rounds = RoundJobs.rounds(jobs, stats.iterations)
      assert(rounds.size == stats.iterations && stats.iterations > 2, jobs)
      rounds.zip(stats.messagesTrace).foreach { case (job, messages) =>
        assert(job.stages.size == 2, s"a classic round is a fold and a merge: $job")
        val Seq(fold, merge) = job.stages
        assert(fold.recordsWritten <= math.min(messages, fold.tasks.toLong * stateParts),
          s"the fold must ship partials, not messages ($messages): $job")
        assert(merge.recordsRead == fold.recordsWritten && merge.recordsWritten == 0, job)
        assert(merge.tasks == stateParts, s"the state keeps its layout: $job")
      }
    } finally sys.props.remove("graft.engine.broadcastPullMaxVertices")
  }

  test("broadcast-pull scatter: the messages scan reaches the aggregate unshuffled") {
    // The default mode below BroadcastPullMaxVertices: the senders
    // broadcast to the dst-partitioned edge index, whose partition p holds
    // the in-edges of state partition p's vertices, so a task folds its
    // messages and merges them into its own state partition: each round is
    // one stage and moves no row over the wire.
    import org.apache.spark.sql.functions._
    import graft.engine.{GraphMeta, RoundJobs, SqlRunner}
    import graft.algos.Algorithms
    val s = spark
    import s.implicits._
    val nV = 20000L
    val edges = s.range(0, 200000)
      .select((pmod(xxhash64($"id"), lit(nV)) + 1).as("src"),
        (pmod(xxhash64($"id" + 1000000L), lit(nV)) + 1).as("dst"))
      .filter($"src" =!= $"dst")
      .withColumn("weight", lit(1.0))
    val verts = s.range(1, nV + 1).select($"id")
    val ((res, stats), jobs) = RoundJobs.record(s) {
      SqlRunner.runWithStats(s, verts, edges, Algorithms.Sssp,
        GraphMeta(nV, source = 1L), numEdges = 200000L)
    }
    res.count()
    val rounds = RoundJobs.rounds(jobs, stats.iterations)
    assert(rounds.size == stats.iterations && stats.iterations > 2, jobs)
    rounds.foreach { job =>
      assert(job.stages.size == 1, s"a pull round is one stage: $job")
      assert(job.stages.head.recordsWritten == 0 && job.stages.head.recordsRead == 0,
        s"the messages must not shuffle: $job")
      assert(job.stages.head.tasks == res.queryExecution.toRdd.getNumPartitions, job)
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // GraftSession enables skewJoin handling for the reference's own skew
    // profile (98% of soc-LiveJournal1 vertices in the lowest degree
    // bucket). This pins that the mechanism actually ENGAGES: one hot key
    // holding ~75% of the big side must come out of AQE as
    // SortMergeJoin(skew=true). Thresholds are lowered only because the
    // fixture is small; at real scale the defaults trip on the same shape.
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // The shipped config must carry the flag (TestSpark's session is a
    // minimal builder, so pin GraftSession's map directly)...
    assert(GraftSession.baseConfs(1)("spark.sql.adaptive.skewJoin.enabled")
      == "true")
    val keys = Seq("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled")
    val prev = keys.map(k => k -> s.conf.getOption(k)).toMap
    try {
      s.conf.set(keys(0), "65536")
      s.conf.set(keys(1), "32768")
      s.conf.set(keys(2), "2")
      s.conf.set(keys(3), "-1") // force the shuffled sort-merge path
      // ...and the mechanism must engage under it.
      s.conf.set(keys(4), "true")
      val big = s.range(200000)
        .select(when($"id" < 150000, 0L).otherwise($"id").as("k"),
          $"id".as("payload"))
      val small = s.range(1000).select($"id".as("k"), ($"id" * 2).as("v"))
      val j = big.join(small, "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("skew=true"), plan)
    } finally prev.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }

  test("l36 bpe pairs: vocab agg is partial map-side, cut is TakeOrdered") {
    val plan = ranPlan("l36_bpe_pair_counts")
    // Corpus → vocabulary collapses with a map-side combine, and the
    // final top-k is per-partition TakeOrdered, never a global sort.
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("l37 chunking and l38 entropy are pure projections — zero exchanges") {
    // Chunk boundaries and the entropy sum are row-local by construction;
    // a shuffle appearing here means someone re-expressed them as
    // aggregations and broke the embarrassing parallelism.
    assert(!ranPlan("l37_chunk_stride").contains("Exchange"))
    assert(!ranPlan("l38_char_entropy").contains("Exchange"))
  }

  test("l39 dup spans: digests shuffle, text does not; no cartesian") {
    val plan = ranPlan("l39_dup_span_frac")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    // Every exchange carries only (doc_id, digest)-shaped rows — the raw
    // shingle string is collapsed to its strHash60 long before the first
    // shuffle, so no exchange output schema mentions the shingle or token
    // columns.
    val df = SparkEntry.queries("l39_dup_span_frac")(spark, sf)
    df.collect()
    val shuffles = expand(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(shuffles.nonEmpty)
    val leaky = shuffles.filter(_.output.exists(a =>
      a.name == "s" || a.name == "sg" || a.name == "ws" || a.name == "text"))
    assert(leaky.isEmpty, shuffles.map(_.output.mkString(",")).mkString("; "))
  }

  test("l41 source overlap: only digests shuffle; no cartesian pair blowup") {
    val plan = ranPlan("l41_source_overlap")
    assert(!plan.contains("CartesianProduct"), plan)
    // Shingle strings collapse to strHash60 digests before the first
    // exchange, and pairs come from in-row posting-list expansion (bounded
    // by the source count) — never a self-join of the shingle relation.
    val df = SparkEntry.queries("l41_source_overlap")(spark, sf)
    df.collect()
    val shuffles = expand(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(shuffles.nonEmpty)
    val leaky = shuffles.filter(_.output.exists(a =>
      a.name == "sg" || a.name == "ws" || a.name == "text"))
    assert(leaky.isEmpty, shuffles.map(_.output.mkString(",")).mkString("; "))
  }

  test("q58 skew join: the salt column reaches the join keys") {
    // The operator's contract is structural: the join must key on
    // (l_orderkey, _salt) — if a refactor drops the salt from the keys the
    // query still returns correct rows but the hot-key fan-out is gone.
    val df = SparkEntry.queries("q58_skew_join")(spark, sf)
    df.collect()
    val joins = expand(df.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
    }
    assert(joins.exists(_.exists(_.toString.contains("_salt"))),
      joins.map(_.mkString(",")).mkString("; "))
  }

  test("l26 decontamination: corpus probes the broadcast join unshuffled") {
    val df = SparkEntry.queries("l26_decontaminate")(spark, sf)
    df.collect()
    val all = expand(df.queryExecution.executedPlan)
    val bhj = all.collectFirst {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.isDefined, all.head.toString)
    // The corpus (probe/left) subtree must reach the scan with no shuffle:
    // scan → project/explode → join. Dedup happens AFTER the join, so only
    // matched shingles shuffle; the benchmark side broadcasts.
    val probeShuffles = expand(bhj.get.left).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(probeShuffles.isEmpty, bhj.get.left.toString)
  }

  test("q61 merge: changes broadcast, the snapshot side never shuffles") {
    val df = SparkEntry.queries("q61_merge_upsert")(spark, sf)
    df.collect()
    val all = expand(df.queryExecution.executedPlan)
    val bhj = all.collectFirst {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.isDefined, all.head.toString)
    // MERGE's scale posture: the (small) change batch broadcasts, the
    // snapshot streams through the outer join with no exchange.
    val streamShuffles = expand(bhj.get.left).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(streamShuffles.isEmpty, bhj.get.left.toString)
  }

  test("q62 profile: one scan, Expand-planned multi-distinct, partial aggs") {
    val plan = ranPlan("q62_profile")
    // Four exact per-column distincts in ONE pass: Spark plans them as an
    // Expand (one duplicated stream per distinct) over a single scan with
    // map-side partial aggregation — not four scans.
    assert(plan.contains("Expand"), plan)
    assert(plan.contains("partial_"), plan)
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("q69: semi/anti/inner compose on one orderkey partitioning; dim broadcasts") {
    // The Q21-shape claim at fact scale: all three fact⋈fact joins key on
    // l_orderkey, so each INPUT exchanges once and the accumulating left
    // side is never re-exchanged between the semi, anti, and orders joins
    // (semi/anti preserve the left partitioning). Broadcast is disabled so
    // the fixture plans the fact joins the way a 100 TB run would; the
    // supplier dim still broadcasts through its explicit hint.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = ranPlan("q69_late_sole_supplier")
      assert(plan.contains("LeftSemi"), plan)
      assert(plan.contains("LeftAnti"), plan)
      assert(plan.contains("BroadcastHashJoin"), plan) // supplier hint
      assert(plan.contains("TakeOrderedAndProject"), plan)
      // 4 inputs × one orderkey exchange each (l1, l2, l3, orders) + the
      // final s_name aggregation = 5; a 6th would mean a re-exchange crept
      // between the composed joins.
      val exchanges =
        "Exchange hashpartitioning\\([^)]*".r.findAllIn(plan).toSeq
      assert(exchanges.size == 5,
        s"expected 5 exchanges (4 orderkey inputs + agg), got ${exchanges.size}:\n$plan")
      // The four inputs key on the SAME order key under their per-input
      // aliases (l_orderkey, k2, k3, o_orderkey).
      assert(exchanges.count(e => Seq("l_orderkey", "k2#", "k3#",
          "o_orderkey").exists(e.contains)) == 4,
        s"expected 4 order-key exchanges:\n${exchanges.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("l47 source quota: partial topk agg map-side, no window sort") {
    val plan = ranPlan("l47_source_quota")
    // The quota must be the bounded aggregate folding map-side (constant
    // 2k-long state per source per task), not row_number's
    // shuffle-everything-then-sort-each-source window.
    assert(plan.contains("partial_topk_agg"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("row_number"), plan)
  }

  test("q70: semi-joined fact caches once; brand dim broadcasts; one partkey exchange") {
    // Q17's shape claim: the per-part threshold aggregate runs over the
    // brand-semi-joined fact (not the whole lineitem), the semi-joined
    // frame materializes ONCE for its two consumers (threshold agg +
    // probe — before the cache the scan + semi join planned twice), and
    // l_partkey is the only hash exchange (the agg's partitioning serves
    // the threshold join; the closing single-row agg is a SinglePartition
    // exchange, not a hash).
    val plan = ranPlan("q70_small_qty_revenue")
    assert(plan.contains("InMemoryTableScan"), plan)
    // Exactly ONE LeftSemi — the cache build, rendered inline by the
    // InMemoryRelation; both consumers read the InMemoryTableScan.
    assert("LeftSemi".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // The real double-execution claim: the lineitem fact is scanned ONCE
    // (the cache build) — uncached, the scan + semi join planned and ran
    // twice. (The probe-side subtree renders past the cached relation's
    // nested AQE marker, so exchange-counting the truncated string would
    // under-count; the single-scan assertion is the load-bearing one.)
    assert("lineitem.parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("q76: one fact-fact orderkey join; every dimension path broadcasts") {
    // Q7's shape claim: lineitem⋈orders is the ONLY non-broadcast join
    // (keyed on the orderkey), and the region-filtered supplier/customer
    // nation-name reductions enter as broadcast builds — the fact is
    // never sort-merge-joined against a dimension.
    val plan = ranPlan("q76_volume_shipping")
    assert("lineitem.parquet".r.findAllIn(plan).size == 1, plan)
    assert("orders.parquet".r.findAllIn(plan).size == 1, plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    // Any hash exchange in the final plan is orderkey- or group-keyed,
    // never a dimension shuffle.
    val hashEx = "Exchange hashpartitioning\\([^)]*".r.findAllIn(plan).toSeq
    assert(hashEx.forall(e =>
      e.contains("orderkey") || e.contains("supp_nation")),
      s"unexpected exchange keys:\n${hashEx.mkString("\n")}")
  }

  test("q81: the HAVING threshold aggregates BEFORE joining back; " +
      "customer broadcasts") {
    // Q18's shape claim: lineitem is scanned once, reduced to
    // order-cardinality by the groupBy-HAVING, and only qualifying
    // orderkeys join orders — the raw fact never joins anything.
    val plan = ranPlan("q81_large_orders")
    assert("lineitem.parquet".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    val hashEx = "Exchange hashpartitioning\\([^)]*".r.findAllIn(plan).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("orderkey")),
      s"expected only orderkey exchanges:\n${hashEx.mkString("\n")}")
  }

  test("q83: shipped quantities cache once for cut + probe; dims broadcast") {
    // Q20's shape claim (q70's device): the per-(part,supplier) shipped
    // relation has two consumers — the 1.5×mean per-part cut and the
    // probe — and must materialize ONCE; the brand filter and the
    // supplier name join both broadcast.
    val plan = ranPlan("q83_excess_suppliers")
    assert(plan.contains("InMemoryTableScan"), plan)
    assert("lineitem.parquet".r.findAllIn(plan).size == 1, plan)
    assert("LeftSemi".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q71: the revenue view materializes ONCE; max + dim broadcast") {
    // Q15's view has two consumers (argmax scalar, equality probe) —
    // uncached, the lineitem scan + suppkey shuffle plan twice. The
    // cached view must serve both: no bare l_suppkey hash exchange left
    // in the final plan, both joins broadcast.
    val plan = ranPlan("q71_top_supplier")
    assert(plan.contains("InMemoryTableScan"), plan)
    // Exactly ONE suppkey exchange — the cache build (rendered inline by
    // the InMemoryRelation); before the cache the plan held two.
    val hashEx = "Exchange hashpartitioning\\([^)]*".r.findAllIn(plan).toSeq
    assert(hashEx.size == 1 && hashEx.head.contains("l_suppkey"),
      s"expected only the cached view's build exchange:\n${hashEx.mkString("\n")}")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2, plan)
  }

  test("q73: anti join against the distinct hot set; scalar floor broadcasts") {
    val plan = ranPlan("q73_idle_balance")
    assert(plan.contains("LeftAnti"), plan)
    // The one-row threshold enters via a broadcast nested-loop cross join
    // (no join key), never a shuffle.
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q74: both dims semi-join broadcast; fact scanned once; every hash " +
      "exchange is partkey-keyed aggregation") {
    // Q2's shape claim: the part filter and the region's supplier set both
    // reduce the fact through BROADCAST semi joins before the
    // (partkey, suppkey) cost aggregate — the fact is scanned once and
    // never sort-merge-joined — and the only hash exchanges are the two
    // partkey-rooted aggregate partitionings (cost, then argmin).
    val plan = ranPlan("q74_min_cost_supplier")
    assert("LeftSemi".r.findAllIn(plan).size == 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert("lineitem.parquet".r.findAllIn(plan).size == 1, plan)
    val hashEx = "Exchange hashpartitioning\\([^)]*".r.findAllIn(plan).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("l_partkey")),
      s"expected only partkey aggregate exchanges:\n${hashEx.mkString("\n")}")
  }

  test("l59 hard negatives: broadcast anti probe, TakeOrdered cut, no SMJ") {
    // The mined-negative set must come off the scored relation through a
    // BROADCAST anti join (the positive + its dup set is tiny) and the
    // k-cut must plan as TakeOrdered, never a global sort of the corpus.
    val plan = ranPlan("l59_hard_negatives")
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("l60 ppl buckets: every window is language-partitioned, none global") {
    // CCNet's rank is per-language by definition; a corpus-global window
    // would serialize the whole corpus through one task at scale.
    val df = SparkEntry.queries("l60_ppl_buckets")(spark, sf)
    df.collect()
    val wins = expand(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected window nodes")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"global window in plan: $w"))
  }

  test("m10 pair manifest: no exchange carries image payload bytes") {
    // The cross-modality join must move only (doc_id, hash, counts) rows;
    // the PNG payloads stay inside the partition-local phash pass.
    val df = SparkEntry.queries("m10_pair_manifest")(spark, sf)
    df.collect()
    val shuffles = expand(df.queryExecution.executedPlan).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(shuffles.nonEmpty)
    shuffles.foreach { ex =>
      val names = ex.output.map(_.name)
      assert(!names.exists(Set("payload", "text")),
        s"exchange carries payload/text: $names")
    }
  }

  test("g31 betweenness: equi-joins only — no cartesian, no nested loop") {
    val plan = ranPlan("g31_betweenness4")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("l52 span scrub: no exchange carries text or token arrays") {
    // The scrub's scale claim: every corpus-keyed exchange carries
    // (doc_id, position, digest) rows; the token arrays meet the covered-
    // position sets through a join whose build side is the (small,
    // dup-flagged-docs-only) cover relation — broadcast adaptively by AQE
    // here, a doc_id co-partition at sizes past the threshold — and the
    // scrubbed text is assembled doc-locally after it.
    val df = SparkEntry.queries("l52_span_scrub")(spark, sf)
    df.collect()
    val shuffles = expand(df.queryExecution.executedPlan).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    shuffles.foreach { ex =>
      val names = ex.output.map(_.name)
      assert(!names.exists(Set("text", "ws", "scrubbed")),
        s"exchange carries document text: $names")
    }
  }

  test("triangle count: wedge-close joins, no cartesian, key-only shuffles") {
    // The g02/b08 shape claim: canonical low→high edges, wedges from the
    // (e1.b = e2.a) join, closure against the edge set — every exchange
    // carries (a, b) long keys only (never adjacency lists; g18's typed
    // tier ships those deliberately, as the reference's own shape), and
    // no stage degenerates to a cartesian product. Scale-invariant: the
    // b08 anchor runs this identical plan at 8M edges.
    val df = graphs.GraphOps.triangleCount(spark,
      graphs.GraphOps.edges(spark, sf))
    df.collect()
    val nodes = expand(df.queryExecution.executedPlan)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "triangle closure must join on keys, not enumerate pairs")
    nodes.collect {
      case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => ex
    }.foreach { ex =>
      assert(ex.output.forall(_.dataType ==
          org.apache.spark.sql.types.LongType),
        s"non-key column in a triangle shuffle: ${ex.output}")
    }
  }

  test("l52 span scrub: past the broadcast threshold, text co-partitions ONCE on doc_id") {
    // The BOUNDED form of the previous pin (r8 item): with broadcasts
    // disabled — the case where the covered-positions relation outgrows
    // the driver at 100 TB — the token arrays may relocate AT MOST once,
    // as a single hash(doc_id) co-partition of the corpus (at rest that
    // is bucketed storage and free), while every shingle-cardinality
    // exchange (the ×n_tokens pos/dup/cover relations) still carries
    // (doc_id, position, digest) rows only. What must never happen is
    // text riding a shingle- or candidate-cardinality exchange.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("l52_span_scrub")(spark, sf)
      df.collect()
      val shuffles = expand(df.queryExecution.executedPlan).collect {
        case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => ex
      }
      val textBearing = shuffles.filter(_.output.map(_.name)
        .exists(Set("text", "ws", "scrubbed")))
      assert(textBearing.size == 1,
        s"expected exactly one co-partition exchange of the token arrays, " +
          s"got ${textBearing.size}:\n${textBearing.mkString("\n")}")
      val part = textBearing.head.outputPartitioning.toString
      assert(part.contains("doc_id"),
        s"the one text-bearing exchange must hash-partition on doc_id: $part")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("l54 dsir: bucket model joins back as broadcast; text never shuffles") {
    val df = SparkEntry.queries("l54_dsir_weights")(spark, sf)
    df.collect()
    val nodes = expand(df.queryExecution.executedPlan)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      nodes.head.toString)
    nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      .foreach { ex =>
        val names = ex.output.map(_.name)
        assert(!names.exists(Set("text", "tok")),
          s"exchange carries token text: $names")
      }
  }
}
