package graft.streaming

import graft.QueryModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming surface — SURVEY.md §2.10. The reference is daily
  * micro-batch (Airflow cron, dags/currency_etl.py:117); the faithful
  * Spark analog is a file-source stream with Trigger.AvailableNow: same
  * code as batch, incremental file discovery, exactly-once per file.
  *
  * `stream_tumbling_daily` runs a REAL streaming query (file source →
  * event-time tumbling window agg → memory sink, complete mode) and
  * returns its result; the oracle is the equivalent batch SQL — streaming
  * and batch agree because event-time windows are deterministic.
  *
  * Scale notes: at 100 TB/day the same topology runs with a watermark +
  * append mode into a partitioned sink; state is bounded by
  * (windows × event_types), not input size. Late/duplicate handling for
  * the upsert path is `dropDuplicatesWithinWatermark` on the natural key
  * (SURVEY §2.10) — demonstrated in StreamingSpec.
  */
object StreamingOps extends QueryModule {

  /** File-source stream over the events table. `readStream` needs a
    * user-supplied schema, and the physical `ts` encoding has differed
    * across testdata generations (TIMESTAMP(NANOS) → long under the
    * legacy flag; TIMESTAMP(MICROS, NTZ) → TimestampNTZ). Pin the
    * streaming schema to whatever a batch footer read infers — a
    * metadata-only probe — then normalize to TimestampType exactly like
    * the batch path (Tables.normalizeTs), so batch and stream agree. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsStored = graft.Tables.schemaOf(spark, dir, "events")("ts").dataType
    val rawSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsStored),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    // the file source requires a directory: point it at the sf dir and
    // glob-select the events file
    graft.Tables.normalizeTs(
      spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Run a streaming DataFrame to completion into a memory sink and
    * return the materialized result.
    *
    * Stateful streaming cost is dominated by a FIXED per-micro-batch
    * state-store charge: every shuffle partition opens/commits/snapshots
    * its store each batch regardless of data volume. The partition count
    * is therefore pinned LOW for the query's lifetime (first checkpoint
    * wins) and restored afterwards — state partitioning should track
    * state SIZE (bounded here by watermark × keys), not the batch
    * engine's scan parallelism. At cluster scale the same knob is sized
    * to state-store bytes per partition, still far below the batch
    * shuffle width.
    *
    * The pins live on a PRIVATE session clone ([[graft.Sessions]]), so
    * a query planning concurrently against the shared session can never
    * inherit the stream's low width or its extraConf, and the memory
    * sink's view registers in the clone — two concurrent runs of the
    * same query name no longer collide on the shared catalog. */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
                  mode: String = "complete",
                  statePartitions: Int = 4,
                  extraConf: Map[String, String] = Map.empty): DataFrame = {
    val scoped = graft.Sessions.pinned(spark,
      (Map("spark.sql.shuffle.partitions" -> statePartitions.toString) ++
        extraConf).toSeq: _*)
    val bound = graft.Sessions.rebind(streamed, scoped)
    val q = bound.writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
      // batch-level cost observability (opt-in): one line per micro-batch
      // with the engine's own duration breakdown — the first place to
      // look when a streaming query's FIXED cost (planning, state-store
      // commit, offset log) needs explaining.
    if (sys.env.contains("SPARK_GRAFT_STREAM_DEBUG"))
      q.recentProgress.foreach(p => Console.err.println(
        s"[stream-debug] $name batch=${p.batchId} rows=${p.numInputRows} " +
        s"durationMs=${p.durationMs}"))
    // Zero-output watchdog (VERDICT r5 item 6): round 5's broken
    // events reader made stream_tumbling_append dump an EMPTY table
    // silently — input rows flowed, the watermark closed nothing, and
    // Verify recorded 0 rows as if that were the answer. Consuming
    // input while emitting nothing is legal mid-stream but is a red
    // flag for a bounded AvailableNow replay, so it's reported loudly
    // on stderr always, and escalated to a hard failure under
    // SPARK_GRAFT_STREAM_STRICT (set it to allowlist via
    // "name1,name2" when a query legitimately emits nothing).
    val inputRows = q.recentProgress.map(_.numInputRows).sum
    if (inputRows > 0 && scoped.table(name).isEmpty) {
      val msg = s"[stream-watchdog] $name consumed $inputRows input rows " +
        s"across ${q.recentProgress.length} micro-batches but emitted 0 " +
        "output rows (mode=" + mode + ") — watermark/time-unit bug?"
      Console.err.println(msg)
      val strict = sys.env.get("SPARK_GRAFT_STREAM_STRICT")
      if (strict.exists(v => !v.split(",").map(_.trim).contains(name)))
        throw new IllegalStateException(msg)
    }
    scoped.table(name)
  }

  /** Exactly-once file sink through foreachBatch — the custom-sink
    * escape hatch §2.10 leaves open (JDBC upserts, MERGEs, multi-table
    * writes all ride this hook). Structured Streaming guarantees
    * at-least-once foreachBatch invocation: after a crash between
    * "batch written" and "offsets committed", the SAME batchId re-fires
    * with the SAME data. Exactly-once therefore = idempotent write keyed
    * on batchId — here `mode(overwrite)` into a `batch=<id>` directory,
    * so a replay REPLACES its own partial output instead of appending a
    * duplicate. This composes with the checkpoint's offset tracking: a
    * restart with the same checkpoint resumes after the last committed
    * batch and never reprocesses completed input files.
    * (The same batchId-keyed discipline makes a JDBC/MERGE sink
    * exactly-once: `DELETE WHERE batch_id = ?` + insert, in one txn.) */
  def foreachBatchExactlyOnce(streamed: DataFrame, path: String,
                              checkpoint: String): Unit = {
    streamed.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$path/batch=$batchId"); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_tumbling_daily" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "1 day").getField("start").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          graft.Sql.dsum(col("value")).as("sum_value"))
      runToMemory(s, agg, "graft_stream_daily")
        .orderBy("day", "event_type")
    }),

    // APPEND-mode watermarked tumbling windows — the production
    // emit-on-close contract (complete mode re-emits everything per
    // micro-batch; append emits each window ONCE, when the watermark
    // passes its end, and then frees its state). On a finite replay the
    // watermark advances past every window at end-of-input, so the
    // appended stream must equal the batch aggregation — which is the
    // oracle. State held at any moment: only windows newer than
    // (max event time − 1 hour), the bound that lets this topology run
    // forever.
    "stream_tumbling_append" -> ((s, d) => {
      // group by the raw window() of the watermarked column — extracting
      // .start inside the groupBy hides the event-time column and the
      // planner rejects append mode (no watermark it can attribute)
      val agg = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          graft.Sql.dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("day"), col("event_type"),
          col("n_events"), col("sum_value"))
      runToMemory(s, agg, "graft_stream_tumbling_append", mode = "append")
        .orderBy("day", "event_type")
    }),

    // SLIDING event-time windows (2-day window, 1-day slide): every
    // event lands in TWO overlapping windows — the hopping-aggregation
    // shape behind trailing-48h dashboards. Same bounded state story as
    // tumbling (|windows in flight| × |event types|), each input row
    // just fans into window-count buckets; the batch oracle makes the
    // overlap explicit by exploding each event to its two window
    // starts.
    "stream_sliding_daily" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .groupBy(window(col("ts"), "2 days", "1 day")
          .getField("start").as("win_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          graft.Sql.dsum(col("value")).as("sum_value"))
      runToMemory(s, agg, "graft_stream_sliding")
        .orderBy("win_start", "event_type")
    }),

    // stream-stream INNER JOIN with watermarks + event-time range: each
    // purchase joined to the same user's clicks in the preceding hour.
    // Both watermarks plus the time-range condition bound the join state
    // (Spark drops click state older than purchase watermark - 1h), so
    // state is O(recent window), not O(stream) — the only stream-stream
    // join shape that runs forever. Event-time semantics make the final
    // result deterministic and equal to the batch theta-join (oracle).
    "stream_join_interval" -> ((s, d) => {
      val clicks = eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("purchase_ts"))
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          col("click_value"))
      // ONE state partition: a stream-stream join opens FOUR stores per
      // partition per micro-batch (left/right × two index maps), so the
      // fixed open/commit/snapshot charge scales with partitions × 4
      // while the watermark-bounded state here is KB-sized — the
      // partition count tracks state bytes, not scan width (the
      // runToMemory scaladoc rule, applied at its floor)
      runToMemory(s, joined, "graft_stream_join", mode = "append",
          statePartitions = 1)
        .orderBy("user_id", "purchase_id", "click_id")
    }),

    // ARBITRARY STATEFUL PROCESSING on the transformWithState API
    // (Spark 4): a typed StatefulProcessor keeps one ValueState of
    // (count, exact cents) per user in a RocksDB-backed store and emits
    // running totals per micro-batch — the custom-state tier BELOW
    // declarative aggregation (per-key TTL, timers, multiple state
    // variables live here). On the finite replay the running totals
    // equal the batch aggregate; StreamingSessionSpec drives the same
    // processor across multiple micro-batches to prove cross-batch
    // accumulation through the store.
    "stream_tws_totals" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[(Long, Long)]
      val out = purchases.groupByKey(_._1)
        .transformWithState(new RunningTotalProcessor,
          TimeMode.None(), OutputMode.Update())
      runToMemory(s, out.toDF(), "graft_stream_tws", mode = "update",
          extraConf = Map(
            "spark.sql.streaming.stateStore.providerClass" ->
              ("org.apache.spark.sql.execution.streaming." +
                "state.RocksDBStateStoreProvider")))
        .select(col("user_id"), col("n_purchases"),
          round(col("sum_cents") / 100.0, 2).as("sum_value"))
        .orderBy("user_id")
    }),

    // MODAL EVENT TYPE over MapState (transformWithState) — per-user
    // per-type counters bumped pointwise; the user's leader re-emits
    // each batch (see TypeLeaderProcessor). Finite replay ⇒ final
    // leaders equal the batch mode-with-tiebreak — the oracle.
    "stream_type_leader" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val ev = eventsStream(s, d)
        .select(col("user_id"), col("event_type"))
        .as[(Long, String)]
      val out = ev.groupByKey(_._1)
        .transformWithState(new TypeLeaderProcessor,
          TimeMode.None(), OutputMode.Update())
      runToMemory(s, out.toDF(), "graft_stream_leader", mode = "update",
          extraConf = Map(
            "spark.sql.streaming.stateStore.providerClass" ->
              ("org.apache.spark.sql.execution.streaming." +
                "state.RocksDBStateStoreProvider")))
        .select(col("user_id"), col("top_type"), col("n_top"),
          col("n_events"))
        .orderBy("user_id")
    }),

    // PATTERN DETECTION over ListState (transformWithState) — per
    // purchase, the same user's click count in the trailing 30 minutes
    // (the CEP click-burst primitive; see ClickBurstProcessor for the
    // state/ordering/GC contract). On the finite replay the output
    // equals the batch correlated count — the oracle.
    "stream_pattern_burst" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val ev = eventsStream(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), expr("unix_millis(ts)").as("ts_ms"),
          col("event_type"), col("event_id"))
        .as[(Long, Long, String, Long)]
      val out = ev.groupByKey(_._1)
        .transformWithState(new ClickBurstProcessor(30L * 60 * 1000),
          TimeMode.None(), OutputMode.Update())
      runToMemory(s, out.toDF(), "graft_stream_burst", mode = "update",
          extraConf = Map(
            "spark.sql.streaming.stateStore.providerClass" ->
              ("org.apache.spark.sql.execution.streaming." +
                "state.RocksDBStateStoreProvider")))
        .select(col("user_id"), col("purchase_id"), col("n_recent_clicks"))
        .orderBy("purchase_id")
    }),

    // Stream-stream LEFT OUTER interval join — the hard part of outer
    // streaming joins is the NULL side: an unmatched purchase may only
    // emit its NULL row once the watermark proves no matching click can
    // still arrive (match window fully below the watermark); matched
    // pairs emit eagerly. On the finite replay the final watermark is
    // (max event time − 1 h), so purchases later than that which never
    // matched are STILL OPEN and must not appear — the oracle encodes
    // exactly that contract, like stream_tumbling_append does for
    // windows. State stays bounded by the 1-hour range on both sides.
    "stream_join_left_outer" -> ((s, d) => {
      val clicks = eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = purchases.join(clicks,
          col("p_user") === col("user_id") &&
            col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
            col("click_ts") <= col("purchase_ts"),
          "left_outer")
        .select(col("p_user").as("uid"), col("purchase_id"),
          col("click_id"), col("click_value"))
      // statePartitions = 1: see stream_join_interval — 4 stores per
      // partition per batch, KB-scale watermarked state
      runToMemory(s, joined, "graft_stream_join_lo", mode = "append",
          statePartitions = 1)
        .orderBy(col("uid"), col("purchase_id"),
          col("click_id").asc_nulls_first)
        .withColumnRenamed("uid", "user_id")
    }),

    // Stream-stream FULL OUTER interval join — completes the join
    // matrix (inner: stream_join_interval; left: stream_join_left_outer).
    // Both NULL sides are watermark-gated: an unmatched purchase emits
    // its NULL-click row once the watermark passes its match window
    // [pts − 1 h, pts] (pts ≤ W), an unmatched click emits its
    // NULL-purchase row once no future purchase can reach back to it
    // (its forward match window [cts, cts + 1 h] closed: cts < W − 1 h,
    // the state-eviction bound derived from the join's time range). On
    // the finite replay W = min over inputs of (max event time − 1 h);
    // rows above their gate stay open and must NOT appear — the oracle
    // encodes both gates explicitly. State on each side stays bounded by
    // the 1-hour range exactly as in the inner join.
    "stream_join_full_outer" -> ((s, d) => {
      val clicks = eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("purchase_ts", "1 hour")
      val joined = purchases.join(clicks,
          col("p_user") === col("user_id") &&
            col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
            col("click_ts") <= col("purchase_ts"),
          "full_outer")
        .select(coalesce(col("p_user"), col("user_id")).as("uid"),
          col("purchase_id"), col("click_id"), col("click_value"))
      // statePartitions = 1: see stream_join_interval
      runToMemory(s, joined, "graft_stream_join_fo", mode = "append",
          statePartitions = 1)
        .orderBy(col("uid"), col("purchase_id").asc_nulls_first,
          col("click_id").asc_nulls_first)
        .withColumnRenamed("uid", "user_id")
    }),

    // event-time SESSION windows via the built-in session_window: state
    // is a per-key set of open sessions that MERGE when a new event
    // bridges two of them — the dynamic-gap shape flatMapGroupsWithState
    // (Sessionize) hand-rolls, here as one declarative aggregate.
    // Complete mode (no watermark) because the file source replays a
    // finite table; the long-running variant adds a watermark + append.
    // Sessions close after 30 idle minutes; [start, start+gap) half-open
    // merge semantics match the batch gap-islands oracle (break at
    // diff >= gap).
    "stream_session_window" -> ((s, d) => {
      val sess = eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          graft.Sql.dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
      runToMemory(s, sess, "graft_stream_session")
        .orderBy("user_id", "session_start")
    }),

    // late-duplicate handling (§2.10 upsert contract), oracle-verified:
    // every event is delivered TWICE (the source unioned with itself —
    // the at-least-once re-delivery case), and
    // dropDuplicatesWithinWatermark on the natural key collapses the
    // re-deliveries with state bounded by the 1-hour watermark, not the
    // stream length. The deduped stream must equal the original table.
    "stream_dedup_late" -> ((s, d) => {
      val deduped = eventsStream(s, d)
        .unionByName(eventsStream(s, d))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"), col("value"))
      runToMemory(s, deduped, "graft_stream_dedup", mode = "append")
        .orderBy("event_id")
    }),

    // CHAINED STATEFUL OPERATORS in one streaming query — watermarked
    // dedup feeding a watermarked windowed aggregation (the real ingest
    // topology: at-least-once delivery collapsed BEFORE metrics). Until
    // Spark 3.5 multiple stateful operators in append mode were
    // rejected; this pins that the engine runs the fused pipeline and
    // that its output equals dedup-then-aggregate run as batch, with the
    // same emit-on-close window contract as stream_tumbling_append.
    // State: dedup keys inside the watermark PLUS open windows — both
    // bounded.
    "stream_chained_stateful" -> ((s, d) => {
      val agg = eventsStream(s, d)
        .unionByName(eventsStream(s, d)) // doubled delivery
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          graft.Sql.dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("day"), col("event_type"),
          col("n_events"), col("sum_value"))
      runToMemory(s, agg, "graft_stream_chained", mode = "append")
        .orderBy("day", "event_type")
    }),

    // stream-STATIC enrichment join: the streaming fact joined to a
    // batch dimension (the canonical enrich-then-aggregate topology).
    // The static side is broadcast, so the stream side never shuffles
    // for the join and NO join state is kept (unlike stream-stream) —
    // the dimension is simply re-resolved per micro-batch, which is also
    // what makes dimension updates visible mid-stream at cluster scale.
    // Aggregate state is bounded by |segments|.
    // GDX CHANGEFEED → streaming aggregate: the connector's numbered
    // manifests double as stream offsets (GdxMicroBatchStream), so the
    // same directory batch jobs commit into is consumed incrementally —
    // each micro-batch plans exactly the files the new snapshots added,
    // no listing diff, no notification service. Here: a base overwrite
    // commit + an append commit, then the feed aggregates both (first
    // batch = full snapshot, later batches = added files only; the
    // GdxSourceSpec changefeed test pins the per-commit batching).
    "stream_gdx_changefeed" -> ((s, d) => {
      // per-run unique mutable root (graft.Scratch): a concurrent run
      // of this query must never truncate the table this run's
      // changefeed is mid-drain on
      val dir = graft.Scratch.tablePath("graft_gdxfeed_")
      val fmt = "graft.sources.GdxSource"
      def kv(lo: Long, hi: Long) = graft.Tables.orders(s, d)
        .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("v"))
      kv(0, 1000).write.format(fmt).option("path", dir)
        .mode("overwrite").save()
      kv(1000, 2000).write.format(fmt).option("path", dir)
        .mode("append").save()
      val feed = s.readStream.format(fmt).option("path", dir).load()
        .filter(col("k") < 1800)
        .groupBy("v")
        .agg(count(lit(1)).as("n"),
          min("k").as("min_k"), max("k").as("max_k"))
      runToMemory(s, feed, "graft_gdx_feed").orderBy("v")
    }),

    // GDX CHANGEFEED THROUGH THE CATALOG FRONT DOOR:
    // `readStream.table("cat.ns.t")` — the CDC surface at the SAME
    // address as the batch catalog surface (no path plumbing), plus
    // `option("startingVersion", n)`: the stream tails exactly `SHOW
    // CHANGES t FROM n`'s window (n, latest] instead of replaying the
    // world — a consumer that already processed the base snapshot
    // subscribes to the delta only. The `catalog_stream_ok` claim
    // pins the streamed aggregate row-equal to the batch changefeed
    // of the same window. At 100 TB: downstream pipelines subscribe
    // by TABLE NAME and retention (not a notification service)
    // governs how far back a lagging consumer can restart.
    "stream_gdx_catalog_feed" -> ((s, d) => {
      val wh = graft.Scratch.tablePath("graft_gdxcf_")
      val cat = "gdx_scf"
      val c = graft.Sessions.pinned(s,
        s"spark.sql.catalog.$cat" -> "graft.sources.GdxCatalog",
        s"spark.sql.catalog.$cat.warehouse" -> wh)
      c.sql(s"CREATE NAMESPACE $cat.lab")
      c.sql(s"CREATE TABLE $cat.lab.feed (k BIGINT, v STRING)") // v1
      def kv(lo: Long, hi: Long) = graft.Tables.orders(c, d)
        .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("v"))
      graft.Sessions.insertInto(c, kv(0, 1000), s"$cat.lab.feed")    // v2
      graft.Sessions.insertInto(c, kv(1000, 2000), s"$cat.lab.feed") // v3
      val dir = s"$wh/lab/feed"
      // the CDC tail: base snapshot v2 already consumed, stream (2, 3]
      val feed = c.readStream.option("startingVersion", "2")
        .table(s"$cat.lab.feed")
        .groupBy("v")
        .agg(count(lit(1)).as("n"),
          min("k").as("min_k"), max("k").as("max_k"))
      val got = runToMemory(c, feed, "graft_gdx_catfeed")
      // the batch changefeed of the same window must agree row-for-row
      val want = graft.sources.GdxSource.tableChanges(c, dir, 2, 3)
        .filter(col("change_type") === "insert")
        .groupBy("v")
        .agg(count(lit(1)).as("n"),
          min("k").as("min_k"), max("k").as("max_k"))
      val equiv = got.collect().toSet == want.collect().toSet
      got.withColumn("catalog_stream_ok", lit(equiv)).orderBy("v")
    }),

    // GDX EXACTLY-ONCE STREAMING SINK — the other half of the
    // changefeed: the events stream lands in a GDX directory through
    // the native StreamingWrite (one idempotent append commit per
    // micro-batch, epoch-marker-deduplicated on replay; GdxSourceSpec
    // proves the replay path), then a BATCH read aggregates what the
    // stream committed. The table dir is wiped per invocation so the
    // result is the events table exactly once, run after run.
    "stream_gdx_sink" -> ((s, d) => {
      // per-run unique root: sink table + checkpoint are mutable state
      val root = graft.Scratch.dir("graft_gdxsink_")
      val dir = new java.io.File(root, "table").getPath
      val ck = new java.io.File(root, "ck").getPath
      val q = eventsStream(s, d)
        .select(col("event_id").as("k"), col("event_type").as("v"))
        .writeStream.format("graft.sources.GdxSource")
        .option("path", dir).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.format("graft.sources.GdxSource").option("path", dir).load()
        .groupBy("v")
        .agg(count(lit(1)).as("n"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("v")
    }),

    // STREAMING WRITE-AUDIT-PUBLISH — the WAP flow with a STREAM as
    // the writer: the exactly-once GDX sink lands every micro-batch on
    // a BRANCH (`option("branch", ...)` routes the streaming write the
    // same way it routes batch ones), main's snapshot and version are
    // PINNED untouched through the whole ingest, the audit reads the
    // branch (base ∪ streamed block), and one `publishBranch` metadata
    // commit fast-forwards main to the audited head. At 100 TB this is
    // the production shape for continuous ingestion with a quality
    // gate: the pipeline streams all day into the branch, the audit
    // runs on the real table layout, and publish is O(manifest) —
    // readers of main never see a row the audit didn't pass.
    "stream_gdx_wap" -> ((s, d) => {
      val root = graft.Scratch.dir("graft_gdxswap_")
      val dir = new java.io.File(root, "table").getPath
      val ck = new java.io.File(root, "ck").getPath
      val fmt = "graft.sources.GdxSource"
      val gdx = graft.sources.GdxSource
      def kv(df: org.apache.spark.sql.DataFrame) =
        df.select(col("event_id").as("k"), col("event_type").as("v"))
      // base snapshot on MAIN: the odd event ids (v1)
      kv(graft.Tables.events(s, d).filter(col("event_id") % 2 === 1))
        .write.format(fmt).option("path", dir).mode("overwrite").save()
      val conf = gdx.driverConf()
      val mainV1 = gdx.listVersions(dir, conf).max
      val baseCount = s.read.format(fmt).option("path", dir).load().count()
      gdx.createBranch(dir, "ingest")
      // WRITE: stream the even ids into the branch (exactly-once sink,
      // one idempotent append commit per micro-batch — on the branch)
      val q = kv(eventsStream(s, d).filter(col("event_id") % 2 === 0))
        .writeStream.format(fmt)
        .option("path", dir).option("branch", "ingest")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // AUDIT: main untouched (rows AND version); the branch holds
      // exactly base ∪ streamed block. Plain counts stay metadata-only
      // via the GDX aggregate pushdown and the null probe's limit-1
      // short-circuits — folding these into a tagged union scan was
      // measured slower (it forces full data scans; reverted r14
      // experiment).
      val mainUntouched =
        s.read.format(fmt).option("path", dir).load()
          .count() == baseCount &&
        gdx.listVersions(dir, conf).max == mainV1
      val branch = s.read.format(fmt).option("path", dir)
        .option("branch", "ingest").load()
      val streamed = graft.Tables.events(s, d)
        .filter(col("event_id") % 2 === 0).count()
      val auditOk = branch.count() == baseCount + streamed &&
        branch.filter(col("k").isNull || col("v").isNull).isEmpty
      // PUBLISH: one CAS'd metadata commit fast-forwards main
      gdx.publishBranch(dir, "ingest")
      s.read.format(fmt).option("path", dir).load()
        .groupBy("v")
        .agg(count(lit(1)).as("n"),
          min("k").as("min_k"), max("k").as("max_k"))
        .withColumn("main_untouched", lit(mainUntouched))
        .withColumn("audit_ok", lit(auditOk))
        .orderBy("v")
    }),

    // STREAMING CDC APPLY — changefeed in, MERGE out: the GDX
    // changefeed of a source table is applied per micro-batch as a
    // last-writer-wins MERGE into a second GDX table (foreachBatch +
    // GdxSource.mergeGeneral, the Delta "apply CDC with MERGE"
    // topology). Each batch is first reduced to max(v) per key (user_id
    // collides within a batch), then merged with `WHEN MATCHED AND
    // s.v > t.v THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`; the
    // first batch creates the table. Values embed the zero-padded
    // event_id, so LWW-by-max-v is batching-invariant — whether the
    // feed arrives as one micro-batch or one per commit, the final
    // state equals the oracle's plain max(v) per key. The merge's
    // publish-race retry loop (GdxSourceSpec) keeps each per-batch
    // commit safe against any concurrent writer on the target.
    "stream_gdx_upsert" -> ((s, d) => {
      // per-run unique root: feed, target table, and checkpoint are
      // all mutable — concurrent self-invocations stay disjoint
      val root = graft.Scratch.dir("graft_gdxups_")
      val src = new java.io.File(root, "feed").getPath
      val tgt = new java.io.File(root, "table").getPath
      val ck = new java.io.File(root, "ck").getPath
      val fmt = "graft.sources.GdxSource"
      val maxId = graft.Tables.events(s, d)
        .agg(max("event_id")).head.getLong(0)
      // three ascending-commit CDC slices; user_id collides across them
      def slice(lo: Long, hi: Long) = graft.Tables.events(s, d)
        .filter(col("event_id") >= lo && col("event_id") < hi)
        .select(col("user_id").as("k"),
          concat(lpad(col("event_id").cast("string"), 20, "0"),
            lit("_"), col("event_type")).as("v"))
      val cut1 = maxId / 3; val cut2 = 2 * maxId / 3
      slice(0, cut1).write.format(fmt).option("path", src)
        .mode("overwrite").save()
      slice(cut1, cut2).write.format(fmt).option("path", src)
        .mode("append").save()
      slice(cut2, maxId + 1).write.format(fmt).option("path", src)
        .mode("append").save()
      val q = s.readStream.format(fmt).option("path", src).load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          if (!batch.isEmpty) {
            val gdx = graft.sources.GdxSource
            val top = batch.groupBy(col("k").cast("long").as("k"))
              .agg(max(col("v").cast("string")).as("v"))
            if (gdx.listVersions(tgt, gdx.driverConf()).isEmpty)
              top.write.format(fmt).option("path", tgt)
                .mode("overwrite").save()
            else {
              val all = Some(Seq("k" -> "__s_k", "v" -> "__s_v"))
              gdx.mergeGeneral(s, tgt, top.toDF("__s_k", "__s_v"),
                "__t_k = __s_k",
                matched = Seq(graft.sources.GdxMergeClause(
                  Some("__s_v > __t_v"), all)),
                notMatched = Seq(graft.sources.GdxMergeClause(None, all)),
                notMatchedBySource = Nil, pruneKeySql = Some("__s_k"))
            }
          }
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.format(fmt).option("path", tgt).load()
        .select(col("k"), col("v")).orderBy("k")
    }),

    // STREAMING CORPUS INGESTION WITH NEAR-DUP FILTERING — the
    // production shape when documents arrive continuously: a file
    // stream of the incoming batch is classified per micro-batch
    // against the frozen survivor index (Dedup.frozenIndexSig) PLUS
    // everything accepted so far, through the exact same
    // Dedup.classifyIncrement the batch incremental query runs — so
    // the streaming replay provably equals the batch answer (they
    // share one oracle). Growing state = accepted signatures only
    // (64 longs/doc, no text), extended per batch and re-checkpointed;
    // at cluster scale that state is the persisted banded index the
    // batch variant's scaladoc describes. Classifications land in an
    // idempotent batchId-keyed sink and the result is read back from
    // it. Single-file source ⇒ one micro-batch here; with multiple
    // arrivals the same loop classifies each batch against
    // index ∪ accepted — the cross-batch drift (a doc dup-of a
    // REJECTED earlier arrival re-attaches to that dup's survivor) is
    // the standard incremental-dedup contract.
    "stream_dedup_ingest" -> ((s, d) => {
      val all = graft.Tables.documents(s, d)
      val maxId = all.agg(max("doc_id")).head.getLong(0)
      val b = (maxId + 1) * 4 / 5
      var accepted = graft.operators.Dedup.frozenIndexSig(s, d, b)
      // classifications land in an idempotent batchId-keyed sink (the
      // foreachBatchExactlyOnce discipline: a replayed batch OVERWRITES
      // its own directory, so at-least-once foreachBatch delivery still
      // yields exactly-once output) — no driver-side accumulation; the
      // result is read back from the sink like any downstream consumer
      // would.
      // per-run unique sink root (Files.createTempDirectory): two
      // concurrent runs over the same dataset (parallel suites, bench
      // passes) must never clobber each other's batches mid-stream
      val root = java.nio.file.Files.createTempDirectory(
        "graft_dedup_ingest_").toFile
      root.deleteOnExit()
      val out = new java.io.File(root, "out").getPath
      val docSchema = graft.Tables.schemaOf(s, d, "documents")
      s.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
        .filter(col("doc_id") >= b)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            val classified = graft.operators.Dedup
              .classifyIncrement(accepted, batch, all, b)
              .localCheckpoint()
            classified.write.mode("overwrite")
              .parquet(s"$out/batch=$batchId")
            // only KEPT docs join the probe index — same growth rule as
            // the persisted production index
            accepted = accepted.unionByName(
              graft.operators.Dedup.minhashSignatures(batch)
                .join(classified.filter(col("status") === "kept")
                  .select("doc_id"), Seq("doc_id"), "left_semi"))
              .localCheckpoint()
          }
          ()
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.option("basePath", out).parquet(out)
        .select("doc_id", "attach_to", "status")
        .orderBy("doc_id")
    }),

    // STREAMING ANN INDEX MAINTENANCE — the serving-layer counterpart
    // of stream_dedup_ingest: new vectors arrive as a stream and the
    // write-once LSH bucket layout (sim_lsh_ann_bucketed) stays fresh
    // WITHOUT a rebuild. Per micro-batch, arrivals are hashed through
    // the same 8×4 hyperplane tables and appended as a batchId-keyed
    // delta root of the same (tbl, bucket) partitioning — the overwrite
    // of `batch=N` makes at-least-once replays idempotent (the
    // foreachBatchExactlyOnce discipline), and probes serve from
    // base ∪ deltas with per-root partition pruning intact. The output
    // is the EQUIVALENCE CLAIM the oracle pins: for every probe, the
    // streaming-maintained index answers exactly what a batch rebuild
    // over the full corpus answers (null-safe top-k list equality),
    // plus the delta-batch count so a silently-empty stream can't pass.
    // At scale the deltas are periodically folded into the base by the
    // same compaction contract as GDX ([[graft.sources.GdxSource
    // .compact]]) — probe cost grows with delta COUNT, not corpus size.
    "stream_lsh_index_ingest" -> ((s, d) => {
      import graft.operators.Similarity
      import graft.functions.VectorFunctions.asDouble
      val e = graft.Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      val maxId = e.agg(max("vec_id")).head.getLong(0)
      val b = (maxId + 1) * 4 / 5
      // per-run unique roots for the DELTAS: concurrent runs must not
      // share them. The base layout is deterministic for (corpus, b),
      // so it rides the same write-once contract as the full layout —
      // bench re-runs pay its ×L explode exactly once, which is also
      // the production shape (the serving layout is persisted state,
      // only the streamed deltas are per-ingest).
      val root = java.nio.file.Files.createTempDirectory(
        "graft_lsh_ingest_").toFile
      root.deleteOnExit()
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_lsh_base_" + d.replaceAll("[^A-Za-z0-9.]", "_")).getPath
      val delta = new java.io.File(root, "delta").getPath
      Similarity.writeLshLayoutOnce(e.filter(col("vec_id") < b), base,
        tag = s"$d:base<$b")
      val embSchema = graft.Tables.schemaOf(s, d, "embeddings")
      s.readStream.schema(embSchema)
        .option("pathGlobFilter", "embeddings.parquet").parquet(d)
        .filter(col("vec_id") >= b)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty)
            batch.select(col("vec_id"),
                asDouble(col("embedding")).as("emb"))
              .select(col("vec_id"), col("emb"),
                explode(Similarity.lshTableBuckets(col("emb"))).as("tb"))
              .select(col("vec_id"), col("emb"),
                col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
              .write.mode("overwrite").partitionBy("tbl", "bucket")
              .parquet(s"$delta/batch=$batchId")
          ()
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val nDelta = s.read.option("basePath", delta).parquet(delta)
        .select("batch").distinct().count()
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
        .localCheckpoint()
      val streamed = Similarity.lshProbePaths(s, Seq(base, delta), q)
      // reference: the batch-built layout over the FULL corpus — the
      // very one sim_lsh_ann_bucketed serves (shared write-once path,
      // so bench re-runs pay the rebuild exactly once per corpus)
      val full = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_lsh_layout_" + d.replaceAll("[^A-Za-z0-9.]", "_"))
        .getAbsolutePath
      Similarity.writeLshLayoutOnce(e, full,
        tag = Similarity.corpusTag(d))
      val batchRes = Similarity.lshProbe(s, full, q)
      def packed(r: DataFrame, out: String) = r.groupBy("q_id")
        .agg(sort_array(collect_list(
          struct(col("rk"), col("c_id"), col("cos")))).as(out))
      q.select(col("q_id"))
        .join(packed(streamed, "res_s"), Seq("q_id"), "left")
        .join(packed(batchRes, "res_b"), Seq("q_id"), "left")
        .select(col("q_id"),
          (col("res_s") <=> col("res_b")).as("stream_matches_batch"),
          lit(nDelta).as("n_delta_batches"))
        .orderBy("q_id")
    }),

    "stream_static_enrich" -> ((s, d) => {
      val dim = broadcast(graft.Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment")))
      val enriched = eventsStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_events"),
          graft.Sql.dsum(col("value")).as("sum_value"))
      runToMemory(s, enriched, "graft_stream_enrich")
        .orderBy("segment")
    }))

  def oracles: Map[String, String] = Map(
    // the equivalence statement itself: the streaming replay must
    // hash-match the BATCH incremental pipeline's brute-force oracle
    "stream_dedup_ingest" ->
      graft.operators.Dedup.oracles("dedup_pipeline_incremental"),
    // the equivalence claim: every probe answered from the
    // streaming-maintained index must match the batch-rebuilt index,
    // and exactly one delta batch must have landed (AvailableNow over
    // the single source file) — a silently-empty stream can't pass
    "stream_lsh_index_ingest" ->
      """SELECT vec_id AS q_id, TRUE AS stream_matches_batch,
        |  CAST(1 AS BIGINT) AS n_delta_batches
        |FROM embeddings WHERE vec_id < 10 ORDER BY vec_id""".stripMargin,
    // batch mode-with-tiebreak: max count, ties to the smallest type
    "stream_type_leader" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n,
        |    sum(n) OVER (PARTITION BY user_id) AS n_events,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type ASC) AS rk
        |  FROM c)
        |SELECT user_id, event_type AS top_type, n AS n_top,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin,
    // correlated trailing-window count; (pts − 30 min, pts] with
    // same-instant clicks counting (the processor's sort contract)
    "stream_pattern_burst" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        |  CAST((SELECT count(*) FROM events c
        |    WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |      AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |      AND CAST(c.ts AS TIMESTAMP) >
        |        CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE)
        |    AS BIGINT) AS n_recent_clicks
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,
    "stream_tws_totals" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0, 2) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // The oracle encodes the append-mode CONTRACT, not the full batch agg:
    // a window is emitted iff its END has been passed by the final
    // watermark (max event time − 1 hour). On this data the last day's
    // window stays open forever — the oracle excludes it too.
    "stream_tumbling_append" ->
      s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
         |  FROM events),
         |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e)
         |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
         |  count(*) AS n_events, ${graft.Sql.oSum("value")} AS sum_value
         |FROM e WHERE date_trunc('day', ts) + INTERVAL 1 DAY <=
         |  (SELECT w FROM wm)
         |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "stream_sliding_daily" ->
      s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
         |  FROM events),
         |x AS (SELECT event_type, value,
         |  unnest([date_trunc('day', ts),
         |          date_trunc('day', ts) - INTERVAL 1 DAY]) AS win_start
         |  FROM e)
         |SELECT win_start, event_type, count(*) AS n_events,
         |  ${graft.Sql.oSum("value")} AS sum_value
         |FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "stream_tumbling_daily" ->
      s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
         |  count(*) AS n_events, ${graft.Sql.oSum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "stream_dedup_late" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    // dedup collapses the doubled delivery to the original table, so the
    // oracle is stream_tumbling_append's: batch agg over ORIGINAL
    // events, windows closed by the final watermark only
    "stream_chained_stateful" ->
      s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
         |  FROM events),
         |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM e)
         |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
         |  count(*) AS n_events, ${graft.Sql.oSum("value")} AS sum_value
         |FROM e WHERE date_trunc('day', ts) + INTERVAL 1 DAY <=
         |  (SELECT w FROM wm)
         |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "stream_gdx_sink" ->
      """SELECT event_type AS v, count(*) AS n,
        |  min(event_id) AS min_k, max(event_id) AS max_k
        |FROM events GROUP BY v ORDER BY v""".stripMargin,
    // published main = odd base ∪ streamed even block = ALL events;
    // the audit-time claims are pinned TRUE
    "stream_gdx_wap" ->
      """SELECT event_type AS v, count(*) AS n,
        |  min(event_id) AS min_k, max(event_id) AS max_k,
        |  TRUE AS main_untouched, TRUE AS audit_ok
        |FROM events GROUP BY v ORDER BY v""".stripMargin,
    // the CDC-applied target state, batching-invariant: LWW by the
    // zero-padded-event_id value = plain max(v) per key
    "stream_gdx_upsert" ->
      """SELECT user_id AS k,
        |  max(lpad(CAST(event_id AS VARCHAR), 20, '0') || '_' ||
        |    event_type) AS v
        |FROM events GROUP BY user_id ORDER BY k""".stripMargin,
    "stream_gdx_changefeed" ->
      """SELECT o_orderstatus AS v, count(*) AS n,
        |  min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
        |FROM orders WHERE o_orderkey < 1800
        |GROUP BY v ORDER BY v""".stripMargin,
    // the CDC tail's window is only the SECOND insert commit; the
    // stream≡batch-changefeed claim is pinned TRUE
    "stream_gdx_catalog_feed" ->
      """SELECT o_orderstatus AS v, count(*) AS n,
        |  min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
        |  TRUE AS catalog_stream_ok
        |FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
        |GROUP BY v ORDER BY v""".stripMargin,
    "stream_static_enrich" ->
      s"""SELECT c.c_mktsegment AS segment, count(*) AS n_events,
         |  ${graft.Sql.oSum("e.value")} AS sum_value
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1 ORDER BY segment""".stripMargin,
    // batch gap-islands formulation of the same sessions: a session
    // breaks when the gap to the previous event is >= 30 min (Spark's
    // [ts, ts+gap) merge interval is half-open)
    "stream_session_window" ->
      s"""WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
         |  FROM events WHERE event_type = 'purchase'),
         |m AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
         |    OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
         |    THEN 1 ELSE 0 END AS brk
         |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
         |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
         |  ${graft.Sql.oSum("value")} AS sum_value
         |FROM g GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin,
    // Matched pairs = the batch interval join; NULL rows = purchases
    // with no match whose window the FINAL watermark closed. The query
    // watermark is the MIN across the two watermarked inputs (each
    // max event time − 1 h) — verified empirically: purchases between
    // the per-stream boundaries stay open. Unmatched purchases above it
    // are still state and excluded on both sides.
    "stream_join_left_outer" ->
      """WITH wm AS (SELECT least(
        |    (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
        |      WHERE event_type = 'click'),
        |    (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
        |      WHERE event_type = 'purchase')) - INTERVAL 1 HOUR AS w),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |    CAST(ts AS TIMESTAMP) AS pts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, value AS click_value,
        |    CAST(ts AS TIMESTAMP) AS cts FROM events
        |  WHERE event_type = 'click'),
        |m AS (SELECT p.user_id, purchase_id, click_id, click_value
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND cts BETWEEN pts - INTERVAL 1 HOUR AND pts),
        |um AS (SELECT p.user_id, purchase_id,
        |    CAST(NULL AS BIGINT) AS click_id,
        |    CAST(NULL AS DOUBLE) AS click_value
        |  FROM p WHERE pts <= (SELECT w FROM wm) AND NOT EXISTS (
        |    SELECT 1 FROM c WHERE c.user_id = p.user_id
        |      AND c.cts BETWEEN p.pts - INTERVAL 1 HOUR AND p.pts))
        |SELECT user_id, purchase_id, click_id, click_value
        |FROM (SELECT * FROM m UNION ALL SELECT * FROM um)
        |ORDER BY user_id, purchase_id, click_id NULLS FIRST""".stripMargin,
    // Full outer = matched pairs ∪ watermark-closed unmatched purchases
    // (pts ≤ W, as in left outer) ∪ watermark-evicted unmatched clicks
    // (cts < W − 1 h: a click's forward match window is [cts, cts+1h];
    // only when that is entirely below W can no purchase still reach it)
    "stream_join_full_outer" ->
      """WITH wm AS (SELECT least(
        |    (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
        |      WHERE event_type = 'click'),
        |    (SELECT max(CAST(ts AS TIMESTAMP)) FROM events
        |      WHERE event_type = 'purchase')) - INTERVAL 1 HOUR AS w),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |    CAST(ts AS TIMESTAMP) AS pts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, value AS click_value,
        |    CAST(ts AS TIMESTAMP) AS cts FROM events
        |  WHERE event_type = 'click'),
        |m AS (SELECT p.user_id, purchase_id, click_id, click_value
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND cts BETWEEN pts - INTERVAL 1 HOUR AND pts),
        |up AS (SELECT p.user_id, purchase_id,
        |    CAST(NULL AS BIGINT) AS click_id,
        |    CAST(NULL AS DOUBLE) AS click_value
        |  FROM p WHERE pts <= (SELECT w FROM wm) AND NOT EXISTS (
        |    SELECT 1 FROM c WHERE c.user_id = p.user_id
        |      AND c.cts BETWEEN p.pts - INTERVAL 1 HOUR AND p.pts)),
        |uc AS (SELECT c.user_id, CAST(NULL AS BIGINT) AS purchase_id,
        |    click_id, click_value
        |  FROM c WHERE cts < (SELECT w FROM wm) - INTERVAL 1 HOUR
        |    AND NOT EXISTS (
        |    SELECT 1 FROM p WHERE p.user_id = c.user_id
        |      AND c.cts BETWEEN p.pts - INTERVAL 1 HOUR AND p.pts))
        |SELECT user_id, purchase_id, click_id, click_value
        |FROM (SELECT * FROM m UNION ALL SELECT * FROM up
        |      UNION ALL SELECT * FROM uc)
        |ORDER BY user_id, purchase_id NULLS FIRST,
        |  click_id NULLS FIRST""".stripMargin,
    "stream_join_interval" ->
      """SELECT c.user_id AS user_id, p.event_id AS purchase_id,
        |  c.event_id AS click_id, c.value AS click_value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND CAST(c.ts AS TIMESTAMP)
        |    BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
        |    AND CAST(p.ts AS TIMESTAMP)
        |ORDER BY user_id, purchase_id, click_id""".stripMargin)
}
