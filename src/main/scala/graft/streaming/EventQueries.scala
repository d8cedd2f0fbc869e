package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Canon.{sig6, sig6Sql}
import graft.Tables
import graft.operators.AsOfJoin

/** Batch queries over the time-ordered `events` table: the as-of join and
  * tumbling-window shapes that the streaming module runs incrementally.
  * `events.ts` is a micros TIMESTAMP_NTZ in parquet; the session TZ is UTC,
  * so `ts.cast("timestamp")` is the same wall-clock→instant mapping DuckDB's
  * `epoch_ms` applies, and all time math here is integer epoch-ms on the
  * Spark side and `epoch_ms` on the DuckDB side — no float/zone boundary
  * can disagree.
  */
object EventQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // As-of join: each event matched to the user's latest order at-or-before
    // the event (backward inner as-of; ties to the largest o_orderkey).
    "q23_asof_join" -> ((s, dir) => {
      import s.implicits._
      val left = Tables.load(s, dir, "events")
        .select($"event_id", $"user_id", unix_millis($"ts".cast("timestamp")).as("ev_ms"))
      val right = Tables.load(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey",
          // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is
          // the same wall-clock→epoch mapping DuckDB's epoch_ms applies.
          unix_millis($"o_orderdate".cast("timestamp")).as("order_ms"))
      AsOfJoin.backward(left, right,
        leftKey = left("user_id"), rightKey = right("o_custkey"),
        leftTime = left("ev_ms"), rightTime = right("order_ms"),
        rightTieBreak = right("o_orderkey"),
        rightCols = Seq("o_orderkey", "order_ms"))
    }),

    // Tumbling 1-hour windows per event type (the batch twin of the
    // streaming watermarked aggregation in EventStreams).
    "q24_tumbling_window" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .select($"ts".cast("timestamp").as("ev_ts"),
          $"event_type", $"value")
        .groupBy(window($"ev_ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("cnt"), sig6(sum($"value")).as("total"))
        .select($"w.start".as("wstart"), $"event_type", $"cnt", $"total")
    }),

    // SCD TYPE-2 MERGE — dimension-HISTORY maintenance (q61 is the
    // overwrite-merge; this keeps every version): the at-rest dimension
    // holds one row per (entity, version) with [valid_from, valid_to)
    // validity and an is_current flag. Applying a change batch must CLOSE
    // each affected entity's current row at the batch's first change and
    // append the new versions — touching no other row. The oracle states
    // the invariant: incremental apply ≡ full rebuild from all events
    // (one window over the union), so a lost close, a double-applied
    // batch, or an interval off-by-one breaks the hash. Scale shape: the
    // dimension is probed only for the batch's (tiny, broadcast) entity
    // set; batch volume drives every shuffle — q66/l50's
    // incremental-maintenance posture applied to dimension history.
    "q68_scd2_merge" -> ((s, dir) => {
      import s.implicits._
      val cutoff = lit("2024-01-24").cast("timestamp")
      val ev = scd2Events(s, dir)
      // One-time dimension build from history, stored at rest.
      val dimPath = graft.sources.FormatRoundtrip.scratch(dir, "scd68")
      scd2Version(ev.filter($"ts" < cutoff))
        .write.mode("overwrite").parquet(dimPath)
      val dim = s.read.parquet(dimPath)
      val batch = ev.filter($"ts" >= cutoff)
      // Each affected entity's first new change closes its current row —
      // the minimal-write apply, valid because the batch is wholly AFTER
      // the dimension's history (s11's per-micro-batch apply drops that
      // ordering assumption in exchange for rewriting affected entities).
      val firstNew = batch.groupBy($"user_id")
        .agg(min(struct($"ts", $"event_id")).as("f"))
        .select($"user_id", $"f.ts".as("new_from"))
      val closed = dim.filter($"is_current")
        .join(broadcast(firstNew), Seq("user_id"))
        .select($"user_id", $"event_id", $"valid_from",
          $"new_from".as("valid_to"), $"event_type", $"value",
          lit(false).as("is_current"))
      val untouched = dim.filter(!$"is_current")
        .unionByName(dim.filter($"is_current")
          .join(broadcast(firstNew.select($"user_id")),
            Seq("user_id"), "left_anti"))
      untouched.unionByName(closed).unionByName(scd2Version(batch))
    }),

    // Streaming SCD2 apply through a foreachBatch sink — s10's
    // "MERGE per micro-batch" pattern for dimension HISTORY. The change
    // stream replays in two staged files with maxFilesPerTrigger=1, so
    // the apply runs twice and must COMPOSE. Unlike q68's close/append
    // (which assumes each batch is wholly after the dimension), the
    // per-batch apply here REBUILDS the affected entities' version chains
    // from their existing rows' raw fields plus the incoming changes —
    // order-insensitive and idempotent-in-composition, because the file
    // source does not guarantee batch arrival order (the same reason
    // s10's deltas are commutative). Untouched entities are never read
    // beyond the broadcast anti-join. The oracle is q68's: the composed
    // end state must equal the full one-window rebuild.
    "s11_stream_scd2" -> ((s, dir) => {
      import s.implicits._
      val cutoff = lit("2024-01-24").cast("timestamp")
      val cut2 = lit("2024-01-28").cast("timestamp")
      val ev = scd2Events(s, dir)
      val dimPath = graft.sources.FormatRoundtrip.scratch(dir, "scd11")
      scd2Version(ev.filter($"ts" < cutoff))
        .write.mode("overwrite").parquet(dimPath)
      val b1 = ev.filter($"ts" >= cutoff && $"ts" < cut2)
      val b2 = ev.filter($"ts" >= cut2)
      val staged = stage(b1, "s11", dir)
      b2.coalesce(1).write.mode("append").parquet(staged)
      // Atomics for cross-thread visibility — same reasoning as s10.
      val state = new java.util.concurrent.atomic.AtomicReference(
        s.read.parquet(dimPath).localCheckpoint())
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .writeStream
        .foreachBatch { (ch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          batches.incrementAndGet()
          state.set(scd2Apply(state.get(), ch.localCheckpoint())
            .localCheckpoint())
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      recordDrain("s11", batches.get(), 0L)
      unstage(staged)
      state.get()
    }),

    // Time-series GAP FILL / resample — the standard warehouse
    // densification: bucket events to an hourly grid per type, generate
    // the full per-type time SPINE (sequence over [min, max] — the grid
    // is span-bounded, never data-bounded), left-join the aggregates
    // onto it, and FORWARD-FILL the holes with a partitioned
    // last-ignoreNulls window. Scale shape: the spine is types × hours
    // rows regardless of event volume, the join keys on (type, bucket)
    // so the window partitions stay span-sized, and nothing is ever
    // globally ordered. is_gap flags the filled rows for auditing.
    "q63_gap_fill" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val agg = Tables.load(s, dir, "events")
        .select($"event_type",
          date_trunc("hour", $"ts".cast("timestamp")).as("b"), $"value")
        .groupBy($"event_type", $"b").agg(avg($"value").as("v"))
      val spine = agg.groupBy($"event_type")
        .agg(min($"b").as("mn"), max($"b").as("mx"))
        .select($"event_type",
          explode(sequence($"mn", $"mx", expr("INTERVAL 1 HOUR"))).as("b"))
      val w = Window.partitionBy($"event_type").orderBy($"b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(agg, Seq("event_type", "b"), "left")
        .select($"event_type", $"b".as("wstart"),
          $"v".isNull.cast("long").as("is_gap"),
          sig6(last($"v", ignoreNulls = true).over(w)).as("filled"))
    }),

    // Sliding 1-hour windows every 15 minutes (the batch twin of
    // EventStreams.slidingAgg): each event belongs to 4 overlapping
    // windows. Spark's window() generates the assignment; the oracle
    // enumerates the 4 candidate starts explicitly.
    "q51_sliding_window" -> ((s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .select($"ts".cast("timestamp").as("ev_ts"),
          $"event_type", $"value")
        .groupBy(window($"ev_ts", "1 hour", "15 minutes").as("w"), $"event_type")
        .agg(count(lit(1)).as("cnt"), sig6(sum($"value")).as("total"))
        .select($"w.start".as("wstart"), $"event_type", $"cnt", $"total")
    }),

    // Bucketed range join: each purchase joined to the same user's clicks
    // in the preceding hour — the batch twin of the streaming interval
    // join (EventStreams.purchaseAttribution). A bare range predicate
    // would plan a nested loop over every same-user pair; bucketing time
    // into hours and equi-joining on (user, bucket) — with each purchase
    // exploded into its two candidate buckets — makes it a hash join whose
    // work is proportional to matches. The oracle states the plain range
    // join; equality of results IS the correctness of the bucketing.
    "q35_range_join" -> ((s, dir) => {
      import s.implicits._
      val hourMs = 3600000L
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), unix_millis($"ts".cast("timestamp")).as("c_ms"))
        .withColumn("bucket", expr(s"c_ms div $hourMs"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id".as("p_user"),
          unix_millis($"ts".cast("timestamp")).as("p_ms"))
      val pb = purchases.withColumn("bucket",
        explode(array(expr(s"p_ms div $hourMs"), expr(s"p_ms div $hourMs") - 1L)))
      pb.join(clicks,
          pb("p_user") === clicks("c_user") && pb("bucket") === clicks("bucket") &&
            clicks("c_ms") <= pb("p_ms") && clicks("c_ms") >= pb("p_ms") - hourMs)
        .groupBy($"event_id")
        .agg(count(lit(1)).as("n_clicks"), min($"c_ms").as("first_ms"))
    }),

    // The tumbling aggregation EXECUTED THROUGH Structured Streaming:
    // readStream over the same events parquet, Trigger.AvailableNow (drain
    // everything then stop), complete-mode memory sink, result returned as
    // a DataFrame — so the streaming runtime itself sits behind q24's
    // DuckDB oracle, not just its batch twin. Complete mode (no watermark)
    // because a finite replay has no late data and append mode would hold
    // back the final windows past the last watermark advance. At scale the
    // same plan runs unbounded with EventStreams.tumblingAgg's watermark;
    // StreamingSpec certifies that variant's stream≡batch agreement.
    "s01_stream_tumbling" -> ((s, dir) => {
      import s.implicits._
      val schema = Tables.load(s, dir, "events").schema
      // The file source wants a directory; the sf dir holds one parquet
      // file per table, so glob-filter down to the events file.
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val agg = src
        .select($"ts".cast("timestamp").as("ev_ts"),
          $"event_type", $"value")
        .groupBy(window($"ev_ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("cnt"), sig6(sum($"value")).as("total"))
        .select($"w.start".as("wstart"), $"event_type", $"cnt", $"total")
      drain(s, agg, "s01", "complete", dir)
    }),

    // The SLIDING aggregation through the streaming runtime — s01's pattern
    // over the overlapping-window state machine (each event lands in 4
    // windows), behind q51's oracle. Exercises the multi-assignment window
    // path of the state store, not just single-bucket tumbling.
    "s02_stream_sliding" -> ((s, dir) => {
      import s.implicits._
      val schema = Tables.load(s, dir, "events").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val agg = src
        .select($"ts".cast("timestamp").as("ev_ts"),
          $"event_type", $"value")
        .groupBy(window($"ev_ts", "1 hour", "15 minutes").as("w"), $"event_type")
        .agg(count(lit(1)).as("cnt"), sig6(sum($"value")).as("total"))
        .select($"w.start".as("wstart"), $"event_type", $"cnt", $"total")
      drain(s, agg, "s02", "complete", dir)
    }),

    // Gap-sessionization through the streaming runtime: the
    // flatMapGroupsWithState sessionizer (EventStreams.sessionize) drained
    // over a finite replay, behind q31's oracle. Append-mode fMGWS only
    // emits CLOSED sessions, so each user's final open session would be
    // held in state forever on a finite stream; a per-user sentinel event
    // one gap past their last real event forces every real session closed
    // (the sentinel's own 1-event session stays in state, unreported —
    // event ids are nonnegative so no real row is ever a sentinel).
    // sess_idx is assigned after the drain: sessions of a user are
    // disjoint in time, so ordering by start_ms reproduces q31's running
    // new-session count.
    "s03_stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"ts".cast("timestamp").as("ev_ts"),
          $"user_id", $"event_type", $"value")
      val sentinels = ev.groupBy($"user_id").agg(max($"ev_ts").as("mx"))
        .select(lit(-1L).as("event_id"),
          ($"mx" + expr("INTERVAL 31 MINUTES")).as("ev_ts"),
          $"user_id", lit("flush").as("event_type"), lit(0.0).as("value"))
      val staged = stage(ev.unionByName(sentinels), "s03", dir)
      val src = s.readStream.schema(ev.schema).parquet(staged)
        .as[EventStreams.Ev]
      val sessions = EventStreams.sessionize(src).toDF()
      val drained = drain(s, sessions, "s03", "append", dir)
      unstage(staged)
      drained
        .withColumn("sess_idx", row_number().over(
          Window.partitionBy($"user_id").orderBy($"start_ms")).cast("long"))
        .select($"user_id", $"sess_idx", $"start_ms", $"end_ms",
          $"n_events".cast("long").as("n_events"),
          sig6($"total_value").as("total_value"))
    }),

    // Streaming dedup of a REPLAYED corpus: the events table doubled
    // (every row arrives twice), streamed through
    // dropDuplicatesWithinWatermark — the runtime must emit each event
    // exactly once, so the oracle is simply the original table. Gates the
    // stateful dedup operator end-to-end (state keyed on event_id, evicted
    // by the watermark; the replay lands inside it by construction).
    "s04_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"ts".cast("timestamp").as("ev_ts"),
          $"user_id", $"event_type", $"value")
      val staged = stage(ev.unionByName(ev), "s04", dir)
      val src = s.readStream.schema(ev.schema).parquet(staged)
      val drained = drain(s, EventStreams.dedupEvents(src), "s04", "append", dir)
      unstage(staged)
      drained
        .select($"event_id", $"user_id", $"event_type", $"value",
          unix_millis($"ev_ts").as("ms"))
    }),

    // Stream-stream INTERVAL JOIN through the runtime: purchases ⋈ the same
    // user's clicks in the preceding hour (EventStreams.purchaseAttribution,
    // both sides watermarked so join state is evictable), drained and
    // re-aggregated to q35's oracle shape. Inner joins emit matches as they
    // are found — no watermark hold-back — so a finite one-batch replay
    // drains the complete result. The aggregation happens batch-side on the
    // drained pairs: the operator under test is the join state machine.
    "s05_stream_interval_join" -> ((s, dir) => {
      import s.implicits._
      val schema = Tables.load(s, dir, "events").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .select($"event_id", $"ts".cast("timestamp").as("ev_ts"),
          $"user_id", $"event_type", $"value")
      drain(s, EventStreams.purchaseAttribution(src), "s05", "append", dir)
        .groupBy($"purchase_id".as("event_id"))
        .agg(count(lit(1)).as("n_clicks"),
          min(unix_millis($"c_ts")).as("first_ms"))
    }),

    // LEFT OUTER stream-stream interval join: unmatched purchases must ALSO
    // be emitted (with NULL click columns) — but only once the watermark
    // proves no matching click can still arrive. On a finite replay the
    // watermark stalls at max(ev_ts) - delay, which never passes the last
    // purchases' join windows, so two sentinel rows (a click and a purchase,
    // users -1/-2 so they match nothing; event-time 2 h past the real data)
    // push both sides' watermarks past every real purchase; the runtime's
    // closing no-data micro-batch then flushes the held null-side rows
    // before AvailableNow stops. Oracle: the left-join twin of q35
    // (count(click) so unmatched purchases report 0).
    "s06_stream_outer_join" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"ts".cast("timestamp").as("ev_ts"),
          $"user_id", $"event_type", $"value")
      val mx = ev.agg(max($"ev_ts")).as[java.sql.Timestamp].head()
      val far = new java.sql.Timestamp(mx.getTime + 2L * 3600 * 1000)
      val sentinels = Seq(
        (-1L, far, -1L, "click", 0.0),
        (-2L, far, -2L, "purchase", 0.0))
        .toDF("event_id", "ev_ts", "user_id", "event_type", "value")
      val staged = stage(ev.unionByName(sentinels), "s06", dir)
      val src = s.readStream.schema(ev.schema).parquet(staged)
      val drained = drain(s, EventStreams.purchaseAttributionOuter(src), "s06", "append", dir)
      unstage(staged)
      drained
        .filter($"purchase_id" >= 0L)
        .groupBy($"purchase_id".as("event_id"))
        // first_ms kept NON-NULL (-1 for unmatched): a nullable int column
        // goes through the gate's pandas canonicalizer as float64 at 6
        // significant digits — ~1e7 ms of slack on an epoch — while a
        // non-null int64 column compares exactly.
        .agg(count($"click_id").as("n_clicks"),
          coalesce(min(unix_millis($"c_ts")), lit(-1L)).as("first_ms"))
    }),

    // Stream-static broadcast enrichment through the runtime: the event
    // stream left-joined to the customer dimension (EventStreams.enrich —
    // stateless; the static side is re-planned and broadcast per
    // micro-batch, so no watermark or state store is involved). Gates the
    // stream-static join path behind a plain SQL left-join oracle.
    "s07_stream_enrich" -> ((s, dir) => {
      import s.implicits._
      val schema = Tables.load(s, dir, "events").schema
      val src = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
      val dim = Tables.load(s, dir, "customer")
        .select($"c_custkey".as("dim_key"), $"c_name".as("dim_label"))
      drain(s, EventStreams.enrich(src, dim), "s07", "append", dir)
    }),

    // The transformWithState arbitrary-state API (the mapGroupsWithState
    // successor) through the runtime: per-user ValueState tracks (running
    // max, running count) ACROSS micro-batches — the replay is staged as
    // TWO parquet files and drained with maxFilesPerTrigger=1, so the
    // second batch's correctness depends on state persisted from the
    // first (a lost ValueState would under-count). Emissions are monotone
    // per user, so the per-key max over the drained relation equals the
    // final state regardless of file arrival order, and the oracle is a
    // plain per-user aggregate. transformWithState requires the RocksDB
    // state store; the conf is scoped to a child session of this query.
    "s08_stream_hwm" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"ts".cast("timestamp").as("ev_ts"),
          $"user_id", $"event_type", $"value")
      val staged = stage(ev.filter($"event_id" % 2 === 0), "s08", dir)
      ev.filter($"event_id" % 2 =!= 0)
        .coalesce(1).write.mode("append").parquet(staged)
      // The RocksDB provider conf lives on a CHILD session: setting it on
      // the shared session would race any concurrently-planned streaming
      // query (Verify's pool overlaps queries), silently switching its
      // state store. newSession() shares the context but isolates SQLConf,
      // so the provider choice is scoped to this query by construction.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
      val src = s2.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .as[EventStreams.Ev]
      val drained =
        drain(s2, EventStreams.highWatermark(src).toDF(), "s08", "append", dir)
      unstage(staged)
      drained.groupBy($"user_id")
        .agg(sig6(max($"max_value")).as("max_value"),
          max($"n_events").as("n_events"))
    }),

    // transformWithState with LIST-VALUED state (s08 gates ValueState):
    // per-user last-3 events via a ListState that each batch MERGES into
    // and re-ranks. The replay splits by event_id PARITY into two
    // maxFilesPerTrigger=1 batches, so batch 2 carries events EARLIER
    // than batch 1's — correctness requires the persisted list to be
    // displaced, not appended to. The monotone n_seen counter picks each
    // user's final emission out of the append-mode drain; the oracle is
    // the plain per-user top-3 window over the batch table.
    "s12_stream_lastn" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"ts".cast("timestamp").as("ev_ts"),
          $"user_id", $"event_type", $"value")
      val staged = stage(ev.filter($"event_id" % 2 === 0), "s12", dir)
      ev.filter($"event_id" % 2 =!= 0)
        .coalesce(1).write.mode("append").parquet(staged)
      // RocksDB provider on a child session (the s08 scoping rationale).
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
      val src = s2.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .as[EventStreams.Ev]
      val drained =
        drain(s2, EventStreams.lastN(src).toDF(), "s12", "append", dir)
      unstage(staged)
      val w = Window.partitionBy($"user_id")
      drained.withColumn("mx", max($"n_seen").over(w))
        .filter($"n_seen" === $"mx")
        .select($"user_id", $"pos".cast("long").as("pos"), $"event_id",
          $"ms", $"value")
    }),

    // transformWithState EVENT-TIME TIMERS (s08: ValueState, s12:
    // ListState — this gates the timer API): per-user inactivity
    // timeouts. Two staged batches: the real events, then one sentinel
    // 2h past the corpus max — the watermark advances BETWEEN batches,
    // so users quiet for >30min before the corpus end fire after batch 1
    // (their state must survive to the firing) and the rest fire when
    // the sentinel advances the watermark. Every real user times out
    // exactly once, so the oracle is the plain per-user (max ts, count).
    "s13_stream_timeout" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"ts".cast("timestamp").as("ev_ts"),
          $"user_id", $"event_type", $"value")
      val sentinel = ev.agg(max($"ev_ts").as("mx"))
        .select(lit(-1L).as("event_id"),
          ($"mx" + expr("INTERVAL 2 HOURS")).as("ev_ts"),
          lit(-1L).as("user_id"), lit("flush").as("event_type"),
          lit(0.0).as("value"))
      val staged = stage(ev, "s13", dir)
      sentinel.coalesce(1).write.mode("append").parquet(staged)
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
      val src = s2.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .withWatermark("ev_ts", "0 seconds")
        .as[EventStreams.Ev]
      val drained = drain(s2,
        EventStreams.inactivityTimeouts(src).toDF(), "s13", "append", dir)
      unstage(staged)
      drained.filter($"user_id" >= 0L)
        .select($"user_id", $"last_ms", $"n_events")
    }),

    // transformWithState MAPSTATE (completing the arbitrary-state quartet:
    // s08 ValueState, s12 ListState, s13 timers): per-user per-event-type
    // running (count, total) counters. The parity split forces batch 2 to
    // MERGE into map entries persisted by batch 1 (point lookups, not a
    // map rewrite); the final emission per user is selected by the s12
    // monotone-n_seen device; oracle = the plain batch per-(user, type)
    // aggregate.
    "s14_stream_typecounts" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"ts".cast("timestamp").as("ev_ts"),
          $"user_id", $"event_type", $"value")
      val staged = stage(ev.filter($"event_id" % 2 === 0), "s14", dir)
      ev.filter($"event_id" % 2 =!= 0)
        .coalesce(1).write.mode("append").parquet(staged)
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
      val src = s2.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .as[EventStreams.Ev]
      val drained = drain(s2,
        EventStreams.typeCounts(src).toDF(), "s14", "append", dir)
      unstage(staged)
      val w = Window.partitionBy($"user_id")
      // `total` is exact (integer cents accumulated in MapState, divided
      // once at emission) — no grid rounding needed or wanted.
      drained.withColumn("mx", max($"n_seen").over(w))
        .filter($"n_seen" === $"mx")
        .select($"user_id", $"event_type", $"cnt", $"total")
    }),

    // CHAINED STATEFUL OPERATORS in one streaming query: watermarked dedup
    // of a doubled replay feeding a tumbling event-time aggregation — the
    // multi-stateful-operator pipeline (dedup state AND window state in
    // the same query). Append mode is mandatory (the dedup cannot run
    // under complete), so windows emit only once the watermark passes
    // them: a single sentinel two hours past the last real event advances
    // the watermark in the closing no-data batch, flushing every real
    // window, while the sentinel's own window (whose end always trails
    // the watermark it set) stays held in state, unreported. Oracle =
    // s01's tumbling aggregate: the chain must collapse the doubled
    // corpus exactly AND aggregate each event exactly once.
    "s09_stream_dedup_agg" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"ts".cast("timestamp").as("ev_ts"),
          $"user_id", $"event_type", $"value")
      val sentinel = ev.agg(max($"ev_ts").as("mx"))
        .select(lit(-1L).as("event_id"),
          ($"mx" + expr("INTERVAL 2 HOURS")).as("ev_ts"),
          lit(-1L).as("user_id"), lit("flush").as("event_type"),
          lit(0.0).as("value"))
      val staged = stage(ev.unionByName(ev).unionByName(sentinel), "s09", dir)
      val src = s.readStream.schema(ev.schema).parquet(staged)
      val drained =
        drain(s, EventStreams.dedupThenTumbling(src), "s09", "append", dir)
      unstage(staged)
      drained.filter($"event_type" =!= "flush")
        .select($"wstart", $"event_type", $"cnt", sig6($"total").as("total"))
    }),

    // Streaming CDC apply through a foreachBatch sink — the lakehouse
    // "MERGE per micro-batch" pattern (q61's merge primitive driven by
    // the streaming runtime). Two staged change files replay with
    // maxFilesPerTrigger=1, so the merge applies TWICE and the second
    // batch must compose with state produced by the first: updates are
    // DELTAS (+100 each batch → +200 total, commutative so the file
    // arrival order cannot matter), deletes drop, inserts (disjoint
    // keys past the snapshot max) append. The snapshot side stays a
    // broadcast LEFT join inside every batch exactly as in q61; the
    // oracle states the composed end state, so a lost batch, a
    // double-applied batch, or a non-composing merge all hash-mismatch.
    "s10_stream_cdc_merge" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.CdcMerge
      val snap = Tables.load(s, dir, "customer")
        .select($"c_custkey".as("key"), $"c_name", $"c_acctbal")
      val mx = snap.agg(max($"key")).as[Long].head()
      // Change batches from the SHARED CdcMerge builders (q61's
      // primitive): +100 delta per batch for key%7==0 (composing to
      // +200), deletes in batch 1, inserts in batch 2.
      def upd = CdcMerge.updates(snap.filter($"key" % 7 === 0), 100.0)
      val b1 = upd.unionByName(CdcMerge.deletes(snap.filter($"key" % 7 === 1)))
      val b2 = upd.unionByName(
        CdcMerge.inserts(snap.filter($"key" % 7 === 2), mx + 1L))
      val staged = stage(b1, "s10", dir)
      b2.coalesce(1).write.mode("append").parquet(staged)
      // Atomics, not plain vars: foreachBatch runs on the stream-execution
      // thread and the post-awaitTermination reads are on the caller's —
      // visibility must not hinge on incidental happens-before edges
      // inside the streaming runtime.
      val state = new java.util.concurrent.atomic.AtomicReference(
        snap.localCheckpoint())
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .writeStream
        .foreachBatch { (ch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batches.incrementAndGet()
          state.set(CdcMerge.apply(state.get(), ch.localCheckpoint())
            .localCheckpoint())
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      recordDrain("s10", batches.get(), 0L)
      unstage(staged)
      state.get()
        .select($"key", $"c_name".as("name"), sig6($"c_acctbal").as("acctbal"))
    }),

    // Gap-based sessionization in batch: a session breaks when >30 min of
    // event time passes between a user's consecutive events. lag → running
    // sum of session starts → group; the exact batch twin of the
    // flatMapGroupsWithState streaming sessionizer (EventStreams.sessionize),
    // putting those semantics behind the SQL oracle gate.
    "q31_sessionize" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val gapMs = 30 * 60 * 1000L
      val w = Window.partitionBy($"user_id").orderBy($"ms", $"event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .select($"user_id", $"event_id", unix_millis($"ts".cast("timestamp")).as("ms"), $"value")
        .withColumn("new_sess",
          when(lag($"ms", 1).over(w).isNull ||
            ($"ms" - lag($"ms", 1).over(w)) > gapMs, 1L).otherwise(0L))
        .withColumn("sess_idx", sum($"new_sess").over(wRun))
        .groupBy($"user_id", $"sess_idx")
        .agg(min($"ms").as("start_ms"), max($"ms").as("end_ms"),
          count(lit(1)).as("n_events"), sig6(sum($"value")).as("total_value"))
    }),
  )

  /** Records a drain's micro-batches run and peak state-store rows under
    * its tag — O17-style observability beyond wall time: a watermark
    * regression shows up as unbounded state rows long before memory dies.
    * Bench persists these per streaming query.
    */
  private def recordDrain(tag: String, batches: Int, stateRows: Long): Unit = {
    graft.obs.RunLog.measure(s"$tag.batches", batches)
    graft.obs.RunLog.measure(s"$tag.state_rows", stateRows.toDouble)
  }

  /** The drains `records` holds: tag → (micro-batches run, peak state-store
    * rows).
    */
  def drains(records: graft.obs.RunLog.Records): Map[String, (Int, Long)] =
    records.measures.collect { case (n, b) if n.endsWith(".batches") =>
      val tag = n.stripSuffix(".batches")
      tag -> ((b.toInt, records.measure(s"$tag.state_rows").toLong))
    }.toMap

  /** The SCD2 change-event projection q68 and s11 share. */
  private def scd2Events(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "events")
      .select($"user_id", $"event_id", $"ts".cast("timestamp").as("ts"),
        $"event_type", $"value")
  }

  /** Version a change set into SCD2 rows: per entity, each change opens a
    * [valid_from, valid_to) interval closed by the next change; the last
    * is current (open interval).
    */
  private def scd2Version(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    df.select($"user_id", $"event_id", $"ts".as("valid_from"),
        lead($"ts", 1).over(w).as("valid_to"), $"event_type", $"value")
      .withColumn("is_current", $"valid_to".isNull)
  }

  /** Order-insensitive SCD2 apply: rebuild the AFFECTED entities' version
    * chains from their existing rows' raw event fields plus the incoming
    * changes; untouched entities pass through an anti-join untouched.
    * Commutative across batches of the same entity (each apply re-windows
    * the full accumulated change set), which is what a file-source
    * micro-batch replay needs — arrival order is not guaranteed.
    */
  private def scd2Apply(dim: DataFrame, batch: DataFrame): DataFrame = {
    import dim.sparkSession.implicits._
    val affected = batch.select($"user_id").distinct()
    val touchedRaw = dim
      .join(broadcast(affected), Seq("user_id"), "left_semi")
      .select($"user_id", $"event_id", $"valid_from".as("ts"),
        $"event_type", $"value")
    val untouched = dim
      .join(broadcast(affected), Seq("user_id"), "left_anti")
    untouched.unionByName(scd2Version(touchedRaw.unionByName(batch)))
  }

  /** Shuffle/state parallelism for a replayed stream, sized to its input
    * like the engine loops (LoopConf): every stateful operator commits one
    * state-store delta per shuffle partition per micro-batch, so the fixed
    * session-wide 32 turns a few hundred state rows into 32 × operators ×
    * batches file commits of pure overhead (measured: the sf0.1 interval
    * join spends ~12 s draining 2 MB of events). Sized at one partition
    * per ~2 MB of source parquet (≈8 MB decoded — the loop target), the
    * state parallelism scales back up with the corpus: a 100 TB replay
    * sizes to the same 4×-session-cap ceiling as the superstep loops, so
    * this is a data-proportional knob, not a hardcoded small number.
    */
  private def streamParts(s: SparkSession, dir: String): Int =
    graft.engine.LoopConf.sizedParallelism(s,
      math.max(1L, new java.io.File(s"$dir/events.parquet").length()), 4)

  /** Run a finite streaming plan to a memory sink (AvailableNow drains the
    * source then stops) and return the drained result. The uniquely-named
    * sink keeps Verify's concurrent sessions from colliding; the result is
    * local-checkpointed off the sink and the temp view dropped immediately —
    * unique names mean the sinks are never overwritten, so without the drop
    * every run would pin its full drained output in driver memory for the
    * session's lifetime (the checkpoint blocks are freed by the standard
    * per-query unpersist sweep).
    */
  private def drain(s: SparkSession, df: DataFrame, tag: String,
                    mode: String, dir: String): DataFrame = {
    val sink = s"${tag}_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // The conf is scoped around start(): a streaming query locks in its
    // shuffle partitioning at planning time, and AvailableNow drains to
    // completion inside the scope. The batch-side reread below runs at
    // session parallelism as usual.
    graft.engine.LoopConf.withShuffleParts(s, streamParts(s, dir)) {
      val q = df.writeStream.format("memory").queryName(sink)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val prog = q.recentProgress
      recordDrain(tag, prog.length,
        prog.flatMap(p => Option(p.stateOperators).toSeq.flatten)
          .map(_.numRowsTotal).foldLeft(0L)(math.max))
    }
    val out = s.table(sink).localCheckpoint()
    s.catalog.dropTempView(sink)
    out
  }

  /** Materialize a prepared replay as ONE parquet file so the file source
    * delivers it in one micro-batch. The path carries a fresh UUID per
    * call, matching drain()'s uniquely-named memory sinks: with only a
    * (pid, sf, tag) key, two concurrent same-process runs of the same
    * query (Verify's thread pool runs queries concurrently) could
    * overwrite each other's staged file mid-stream. Callers delete the
    * directory after the drain — see [[unstage]].
    */
  private def stage(df: DataFrame, tag: String, sfDir: String): String = {
    val pid = ProcessHandle.current().pid()
    val sf = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val run = java.util.UUID.randomUUID().toString.replace("-", "")
    val path = s"${sys.props("java.io.tmpdir")}/graft_stream/p$pid/$sf/${tag}_$run"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  /** Best-effort removal of a staged replay once its stream has drained —
    * run-unique paths would otherwise accumulate across bench/Verify runs.
    */
  private def unstage(path: String): Unit = {
    val dir = new java.io.File(path)
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    dir.delete(): Unit
  }

  private lazy val tumblingOracle =
    s"""SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS wstart,
       |       event_type, count(*) AS cnt, ${sig6Sql("sum(value)")} AS total
       |FROM events GROUP BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    "q23_asof_join" ->
      """WITH r AS (SELECT o_custkey AS k, o_orderkey,
        |                  epoch_ms(o_orderdate) AS order_ms FROM orders),
        |cand AS (
        |  SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ev_ms,
        |         r.o_orderkey, r.order_ms,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY r.order_ms DESC, r.o_orderkey DESC) AS rn
        |  FROM events e JOIN r ON r.k = e.user_id AND r.order_ms <= epoch_ms(e.ts))
        |SELECT event_id, user_id, ev_ms, o_orderkey, order_ms
        |FROM cand WHERE rn = 1""".stripMargin,
    "q24_tumbling_window" -> tumblingOracle,
    // Same spine/ffill in DuckDB: generate_series for the grid,
    // last_value IGNORE NULLS over the identical partitioned frame.
    // The invariant itself: the stitched dimension must equal the SCD2
    // history rebuilt in ONE window over all events.
    "q68_scd2_merge" ->
      """SELECT user_id, event_id,
        |       CAST(ts AS TIMESTAMP) AS valid_from,
        |       lead(CAST(ts AS TIMESTAMP)) OVER w AS valid_to,
        |       lead(ts) OVER w IS NULL AS is_current,
        |       event_type, value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    // The streaming apply composes to the SAME full-rebuild end state —
    // a lost batch, a double-applied batch, or an order-sensitive merge
    // all hash-mismatch.
    "s11_stream_scd2" ->
      """SELECT user_id, event_id,
        |       CAST(ts AS TIMESTAMP) AS valid_from,
        |       lead(CAST(ts AS TIMESTAMP)) OVER w AS valid_to,
        |       lead(ts) OVER w IS NULL AS is_current,
        |       event_type, value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "q63_gap_fill" -> {
      val ffill = "last_value(v IGNORE NULLS) OVER (PARTITION BY event_type " +
        "ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      s"""WITH agg AS (
         |  SELECT event_type,
         |         time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS b,
         |         avg(value) AS v
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT event_type, min(b) AS mn, max(b) AS mx
         |           FROM agg GROUP BY 1),
         |spine AS (SELECT event_type,
         |                 unnest(generate_series(mn, mx, INTERVAL 1 hour)) AS b
         |          FROM bounds),
         |j AS (SELECT s.event_type, s.b, a.v FROM spine s
         |      LEFT JOIN agg a ON a.event_type = s.event_type AND a.b = s.b)
         |SELECT event_type, b AS wstart,
         |       CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
         |       ${sig6Sql(ffill)} AS filled
         |FROM j""".stripMargin
    },
    "s01_stream_tumbling" -> tumblingOracle,
    "q51_sliding_window" -> slidingOracle,
    "s02_stream_sliding" -> slidingOracle,
    "s03_stream_sessionize" -> sessionizeOracle,
    "s04_stream_dedup" ->
      """SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ms
        |FROM events""".stripMargin,
    // Every real user's timer fires exactly once (the sentinel advances
    // the closing watermark), so the timeout record is the plain per-user
    // last-seen + volume aggregate.
    "s13_stream_timeout" ->
      """SELECT user_id, max(epoch_ms(ts)) AS last_ms,
        |       count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin,
    // The final ListState per user must equal the plain top-3 window over
    // the batch table — a lost list entry, an append instead of a merge,
    // or a wrong displacement order all hash-mismatch. Millis because the
    // processor ranks on Timestamp.getTime (the s04 epoch_ms convention).
    "s12_stream_lastn" ->
      """SELECT user_id, CAST(rn AS BIGINT) AS pos, event_id,
        |       epoch_ms(ts) AS ms, value
        |FROM (SELECT user_id, event_id, ts, value,
        |             row_number() OVER (PARTITION BY user_id
        |               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn <= 3""".stripMargin,
    // The final MapState per user must equal the plain per-(user, type)
    // batch aggregate — a lost entry, an overwrite instead of a merge, or
    // counts bleeding across types all hash-mismatch.
    "s14_stream_typecounts" ->
      s"""SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
         |       ${graft.Canon.exactSumSql("value", 2)} AS total
         |FROM events GROUP BY user_id, event_type""".stripMargin,
    "q35_range_join" -> rangeJoinOracle,
    "s05_stream_interval_join" -> rangeJoinOracle,
    "s06_stream_outer_join" ->
      """WITH c AS (SELECT user_id, epoch_ms(ts) AS c_ms FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, epoch_ms(ts) AS p_ms FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, count(c.user_id) AS n_clicks,
        |       coalesce(min(c.c_ms), -1) AS first_ms
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |             AND c.c_ms <= p.p_ms AND c.c_ms >= p.p_ms - 3600000
        |GROUP BY p.event_id""".stripMargin,
    "q31_sessionize" -> sessionizeOracle,
    "s07_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
        |       c.c_name AS dim_label
        |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id""".stripMargin,
    // The final per-user state must equal the plain batch aggregate — a
    // ValueState lost between the two staged micro-batches would
    // under-count n_events / under-max max_value and hash-mismatch.
    "s08_stream_hwm" ->
      s"""SELECT user_id, ${sig6Sql("max(value)")} AS max_value,
         |       count(*) AS n_events
         |FROM events GROUP BY user_id""".stripMargin,
    // The chained dedup→agg must land exactly on the plain tumbling
    // aggregate: any duplicate surviving the dedup doubles a cnt; any
    // window lost to the watermark hold-back drops rows.
    "s09_stream_dedup_agg" -> tumblingOracle,
    // The COMPOSED end state after both change batches: +200 for the
    // twice-updated keys, deletes gone, inserts present. A lost or
    // double-applied micro-batch shifts the balances and breaks the hash.
    "s10_stream_cdc_merge" ->
      s"""WITH snap AS (SELECT c_custkey AS key, c_name, c_acctbal FROM customer),
         |mx AS (SELECT max(key) + 1 AS off FROM snap)
         |SELECT key, c_name AS name,
         |       ${sig6Sql("c_acctbal + 200.0")} AS acctbal
         |FROM snap WHERE key % 7 = 0
         |UNION ALL
         |SELECT key, c_name AS name, ${sig6Sql("c_acctbal")} AS acctbal
         |FROM snap WHERE key % 7 NOT IN (0, 1)
         |UNION ALL
         |SELECT key + off AS key,
         |       'New#' || CAST(key + off AS VARCHAR) AS name,
         |       ${sig6Sql("0.0")} AS acctbal
         |FROM snap, mx WHERE key % 7 = 2""".stripMargin,
  )

  private lazy val rangeJoinOracle =
    """WITH c AS (SELECT user_id, epoch_ms(ts) AS c_ms FROM events
      |           WHERE event_type = 'click'),
      |p AS (SELECT event_id, user_id, epoch_ms(ts) AS p_ms FROM events
      |      WHERE event_type = 'purchase')
      |SELECT p.event_id, count(*) AS n_clicks, min(c.c_ms) AS first_ms
      |FROM p JOIN c ON c.user_id = p.user_id
      |             AND c.c_ms <= p.p_ms AND c.c_ms >= p.p_ms - 3600000
      |GROUP BY p.event_id""".stripMargin

  private lazy val slidingOracle =
    s"""SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
       |         - k * INTERVAL '15 minutes' AS wstart,
       |       event_type, count(*) AS cnt, ${sig6Sql("sum(value)")} AS total
       |FROM events, unnest([0, 1, 2, 3]) t(k)
       |GROUP BY 1, 2""".stripMargin

  private lazy val sessionizeOracle =
      s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
         |m AS (
         |  SELECT *, CASE WHEN lag(ms) OVER w IS NULL
         |                   OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         |x AS (
         |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
         |                                ROWS UNBOUNDED PRECEDING) AS sess_idx
         |  FROM m)
         |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
         |       min(ms) AS start_ms, max(ms) AS end_ms,
         |       count(*) AS n_events, ${sig6Sql("sum(value)")} AS total_value
         |FROM x GROUP BY user_id, sess_idx""".stripMargin
}
