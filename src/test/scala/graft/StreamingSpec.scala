package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.RunLog
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev

/** Streaming/batch agreement: the incremental pipelines must produce the
  * same answers as their batch twins on the same data.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minutes: Long) = new java.sql.Timestamp(minutes * 60000L)

  private val evs = Seq(
    Ev(1, ts(5), 10, "click", 1.0),
    Ev(2, ts(20), 10, "click", 2.0),
    Ev(3, ts(70), 10, "purchase", 5.0),
    Ev(4, ts(10), 11, "click", 3.0),
    Ev(5, ts(200), 10, "click", 7.0), // new session for user 10 (gap > 30m)
    Ev(6, ts(65), 11, "purchase", 4.0))

  test("tumbling window agg: stream == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = EventStreams.tumblingAgg(
      mem.toDF().withColumnRenamed("ev_ts", "ev_ts"))
    val q = out.writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    val streamed = spark.table("tumbling_test")
      .select($"wstart", $"event_type", $"cnt", $"total")
      .collect().map(_.toSeq).toSet
    q.stop()

    val batch = EventStreams.tumblingAgg(evs.toDF()) // same plan, batch input
    // tumblingAgg on a batch DF: watermark is a no-op, so this is the
    // batch twin directly.
    val expected = batch.collect().map(_.toSeq).toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("sliding window agg: stream == batch, 4 windows per event") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.slidingAgg(mem.toDF())
      .writeStream.format("memory").queryName("sliding_test")
      .outputMode("complete").start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    val streamed = spark.table("sliding_test")
      .select($"wstart", $"event_type", $"cnt", $"total")
      .collect().map(_.toSeq).toSet
    q.stop()
    val expected = EventStreams.slidingAgg(evs.toDF()).collect().map(_.toSeq).toSet
    assert(streamed == expected)
    // Every event lands in exactly 4 overlapping windows.
    val totalCnt = spark.table("sliding_test")
      .agg(sum($"cnt")).collect()(0).getLong(0)
    assert(totalCnt == 4L * evs.size)
  }

  test("streaming dedup drops replayed event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.dedupEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    mem.addData(evs: _*)
    mem.addData(evs.take(3): _*) // replay
    q.processAllAvailable()
    val ids = spark.table("dedup_test").select($"event_id")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L)) // each exactly once
  }

  test("chained dedup → tumbling agg: two stateful operators in one query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.dedupThenTumbling(mem.toDF())
      .writeStream.format("memory").queryName("chain_test")
      .outputMode("append").start()
    // Replays arrive in the SAME batch as the originals (watermark still
    // 0), so only the dedup state — not the late-row filter — can drop
    // them: a dedup failure would double the counts.
    mem.addData((evs ++ evs.take(4)): _*)
    q.processAllAvailable()
    // Sentinel advances the watermark past every real window end; its own
    // window stays held (end always trails the watermark it set).
    mem.addData(Ev(99, ts(10000), 12, "flush", 0.0))
    q.processAllAvailable()
    // The feature under test: BOTH state machines live in one query.
    assert(q.lastProgress.stateOperators.length == 2)
    val streamed = spark.table("chain_test")
      .select($"wstart", $"event_type", $"cnt", $"total")
      .collect().map(_.toSeq).toSet
    q.stop()
    val expected = EventStreams.tumblingAgg(evs.toDF())
      .collect().map(_.toSeq).toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("s10 CDC merge: two micro-batches compose; end state matches batch merge") {
    import spark.implicits._
    // The registry query replays two change files with
    // maxFilesPerTrigger=1 — state produced by batch 1 must feed batch 2
    // (delta updates compose to +200). Run it end-to-end and pin BOTH the
    // batch count (a single-batch drain would pass the oracle only if the
    // runtime coalesced files, hiding the cross-batch composition) and
    // the +200 composition on a twice-updated key.
    val (out, records) = RunLog.capture(graft.SparkEntry.queries("s10_stream_cdc_merge")(
      spark, "/root/testdata/sf0.001")
      .as[(Long, String, Double)].collect())
    assert(graft.streaming.EventQueries.drains(records)("s10")._1 == 2)
    val snap = Tables.load(spark, "/root/testdata/sf0.001", "customer")
      .select($"c_custkey", $"c_acctbal").as[(Long, Double)].collect().toMap
    val k0 = snap.keys.filter(_ % 7 == 0).min
    val got = out.find(_._1 == k0).get._3
    // Output balances are Canon-rounded (9 significant digits — ~1e-5
    // grid at this magnitude); 0.02 is comfortably above it.
    assert(math.abs(got - (snap(k0) + 200.0)) < 0.02, s"key=$k0 got=$got")
    // Deletes gone (snapshot-range keys only — insert keys live past mx
    // and may land on any residue), inserts present.
    val mxKey = snap.keys.max
    assert(!out.exists(r => r._1 <= mxKey && r._1 % 7 == 1))
    assert(out.exists(_._2.startsWith("New#")))
  }

  test("s11 streaming SCD2: two micro-batches compose to the batch merge") {
    // The per-micro-batch apply must rebuild affected entities' chains
    // so that applying batch 1 then batch 2 lands exactly on q68's
    // one-shot result — pin the batch count (coalesced files would hide
    // the composition) and row-set equality with the batch query.
    val sf = "/root/testdata/sf0.001"
    val (s11, records) = RunLog.capture(graft.SparkEntry.queries("s11_stream_scd2")(spark, sf)
      .collect().map(_.toSeq).toSet)
    assert(graft.streaming.EventQueries.drains(records)("s11")._1 == 2)
    val q68 = graft.SparkEntry.queries("q68_scd2_merge")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(s11 == q68,
      s"only in s11: ${(s11 -- q68).take(3)}; only in q68: ${
        (q68 -- s11).take(3)}")
  }

  test("stream-stream interval join attributes purchases to prior clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.purchaseAttribution(mem.toDF())
      .writeStream.format("memory").queryName("attr_test")
      .outputMode("append").start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    val pairs = spark.table("attr_test")
      .select($"purchase_id", $"click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // Purchase 3 (t=70, user 10): click 1 (t=5) is >1h before => excluded,
    // click 2 (t=20) attributed; click 5 (t=200) is after => excluded.
    // Purchase 6 (t=65, user 11): click 4 (t=10) within the hour.
    assert(pairs == Set((3L, 2L), (6L, 4L)))
  }

  test("left-outer interval join keeps clickless purchases after watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.purchaseAttributionOuter(mem.toDF())
      .writeStream.format("memory").queryName("attr_outer_test")
      .outputMode("append").start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    // Advance the watermark far past every purchase so the unmatched side
    // can be emitted with NULL click columns.
    mem.addData(Ev(99, ts(10000), 12, "click", 0.0))
    q.processAllAvailable()
    val rows = spark.table("attr_outer_test")
      .select($"purchase_id", $"click_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    q.stop()
    // Purchase 3 (user 10, t=70) matches click 2; purchase 6 (user 11,
    // t=65) matches click 4. A matched purchase also gets no null row.
    // Every purchase appears; none is lost for lacking a click.
    assert(rows == Set((3L, 2L), (6L, 4L)))

    // And a genuinely clickless purchase survives as a null-side row:
    val mem2 = MemoryStream[Ev]
    val q2 = EventStreams.purchaseAttributionOuter(mem2.toDF())
      .writeStream.format("memory").queryName("attr_outer_test2")
      .outputMode("append").start()
    mem2.addData(Ev(1, ts(5), 20, "purchase", 9.0))
    q2.processAllAvailable()
    // The global watermark is the MIN across both (filtered) sides and a
    // batch's watermark takes effect in the NEXT batch — so push BOTH sides
    // (disjoint users so the pushers can't join) and run one more batch to
    // flush the null-side row. The pusher purchase itself stays pending in
    // state (nothing later than it arrives), so it is NOT emitted.
    mem2.addData(Ev(2, ts(10000), 21, "click", 0.0),
      Ev(3, ts(10000), 22, "purchase", 1.0))
    q2.processAllAvailable()
    mem2.addData(Ev(4, ts(10002), 21, "click", 0.0),
      Ev(5, ts(10002), 22, "purchase", 1.0))
    q2.processAllAvailable()
    val rows2 = spark.table("attr_outer_test2")
      .select($"purchase_id", $"click_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    q2.stop()
    assert(rows2 == Set((1L, -1L)))
  }

  test("sessionization closes sessions on gap and final flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    val closed = spark.table("sessions_test").as[EventStreams.Session]
      .collect().toSet
    q.stop()
    // Sessions closed by in-stream gaps (>30 min); each user's trailing
    // session stays open in state. User 10: [5,20] closed by the 50-min gap
    // to 70, [70] closed by the gap to 200. User 11: [10] closed by the gap
    // to 65.
    assert(closed == Set(
      EventStreams.Session(10, 5 * 60000L, 20 * 60000L, 2, 3.0),
      EventStreams.Session(10, 70 * 60000L, 70 * 60000L, 1, 5.0),
      EventStreams.Session(11, 10 * 60000L, 10 * 60000L, 1, 3.0)))
  }

  test("transformWithState hwm: ValueState survives across two micro-batches") {
    import spark.implicits._
    // The registry query stages the replay as TWO files and drains with
    // maxFilesPerTrigger=1 — correctness REQUIRES the per-user ValueState
    // to persist across batches (a reset state under-counts n_events).
    // The drain stats must therefore record >= 2 micro-batches with data.
    val (got, records) = RunLog.capture(SparkEntry.queries("s08_stream_hwm")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2))))
      .toMap)
    val exp = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .groupBy($"user_id")
      .agg(graft.Canon.sig6(max($"value")).as("mx"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2))))
      .toMap
    assert(got == exp)
    val (batches, _) = graft.streaming.EventQueries.drains(records)("s08")
    assert(batches >= 2,
      s"expected >=2 micro-batches (two staged files), got $batches")
  }

  test("transformWithState lastN: ListState merges (not appends) across " +
      "two micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // The s12 replay splits by event_id PARITY, so the second batch holds
    // events EARLIER than the first's — the persisted list must be
    // displaced/re-ranked, not appended to. Equality with the batch top-3
    // window proves the merge; the drain stats pin the two batches.
    val (got, records) = RunLog.capture(SparkEntry.queries("s12_stream_lastn")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap)
    val w = Window.partitionBy($"user_id")
      .orderBy(unix_millis($"ts".cast("timestamp")).desc, $"event_id".desc)
    val exp = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("pos", row_number().over(w).cast("long"))
      .filter($"pos" <= 3)
      .select($"user_id", $"pos", $"event_id",
        unix_millis($"ts".cast("timestamp")).as("ms"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == exp)
    val (batches, _) = graft.streaming.EventQueries.drains(records)("s12")
    assert(batches >= 2,
      s"expected >=2 micro-batches (two staged files), got $batches")
  }

  test("transformWithState typeCounts: MapState merges per-type counters " +
      "across two micro-batches") {
    import spark.implicits._
    // The s14 replay splits by event_id parity, so batch 2 must MERGE its
    // per-type partials into map entries persisted by batch 1 — an
    // overwrite (or counts bleeding across types) breaks equality with
    // the plain batch per-(user, type) aggregate.
    val (got, records) = RunLog.capture(SparkEntry.queries("s14_stream_typecounts")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3))))
      .toMap)
    val exp = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("cnt"), graft.Canon.exactSum($"value", 2).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == exp)
    val (batches, _) = graft.streaming.EventQueries.drains(records)("s14")
    assert(batches >= 2,
      s"expected >=2 micro-batches (two staged files), got $batches")
  }

  test("transformWithState timers: every user fires exactly once across " +
      "the watermark-advancing batches") {
    import spark.implicits._
    // Batch 1 holds every real event; batch 2 only the sentinel that
    // advances the watermark — so each firing consumes state written in a
    // PRIOR batch (a lost ValueState would fire with nothing to emit, a
    // lost timer would never fire).
    val (got, records) = RunLog.capture(SparkEntry.queries("s13_stream_timeout")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))))
    assert(got.map(_._1).distinct.length == got.length,
      "a user timed out more than once")
    val exp = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .groupBy($"user_id")
      .agg(max(unix_millis($"ts".cast("timestamp"))).as("last_ms"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
    assert(got.toMap == exp.toMap)
    val (batches, _) = graft.streaming.EventQueries.drains(records)("s13")
    assert(batches >= 2,
      s"expected >=2 micro-batches (data, then sentinel), got $batches")
  }

  test("checkpointed restart: file source → file sink is exactly-once") {
    import spark.implicits._
    val base = TestSpark.tempDir("graft-restart")
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("event_id LONG, value DOUBLE")
        .parquet(inDir)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", outDir)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    // Batch 1 → run → stop; batch 2 → RESTART from the same checkpoint.
    Seq((1L, 1.0), (2L, 2.0)).toDF("event_id", "value")
      .write.mode("append").parquet(inDir)
    runOnce()
    Seq((3L, 3.0), (4L, 4.0)).toDF("event_id", "value")
      .write.mode("append").parquet(inDir)
    runOnce()
    // The restarted query must pick up ONLY the new files (checkpointed
    // source offsets) and the sink must not duplicate batch 1 (sink log).
    val ids = spark.read.parquet(outDir)
      .select($"event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("stream-static enrichment: stream == batch, left-join semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 11 is missing from the dimension → null label (left join).
    val dim = Seq((10L, "gold")).toDF("dim_key", "dim_label")
    val mem = MemoryStream[Ev]
    val q = EventStreams.enrich(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    mem.addData(evs: _*)
    q.processAllAvailable()
    val streamed = spark.table("enrich_test").collect().map(_.toSeq).toSet
    q.stop()
    val batch = EventStreams.enrich(evs.toDF(), dim).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.exists(r => r.last == "gold"))
    assert(streamed.exists(r => r.last == null)) // user 11 rows survive
  }
}
