package graft

import graft.streaming.Sessionize
import graft.streaming.Sessionize.{Event, Session}

import scala.jdk.CollectionConverters._

/** Stateful streaming sessionization vs the batch gap-island semantics. */
class StreamingSessionSpec extends SparkSuite {
  import spark.implicits._

  test("flatMapGroupsWithState closes sessions on gap > 30 min") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Sessionize.run(spark, input.toDS())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    val s = 1000000L // µs per second
    input.addData(
      Event(1, 1, 0), Event(1, 2, 10 * s),          // session A
      Event(1, 3, 4000 * s), Event(1, 4, 4010 * s), // closes A, opens B
      Event(1, 5, 9000 * s),                        // closes B, opens C
      Event(2, 6, 0))                               // user 2, stays open
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions_out").as[Session].collect()
      .sortBy(_.session_start_us)
    assert(closed.toSeq === Seq(
      Session(1, 0, 10 * s, 2),
      Session(1, 4000 * s, 4010 * s, 2)))
  }

  test("watermark drops late rows and reports them in progress metrics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (id, event ms)
    val agg = input.toDS().toDF("id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("late_metrics")
      .outputMode("append").start()
    input.addData((1L, 100_000L)) // advances the watermark to 90 s
    q.processAllAvailable()
    input.addData((2L, 10_000L))  // 10 s << 90 s: dropped, not aggregated
    q.processAllAvailable()
    q.stop()
    // the ops contract: lateness is OBSERVABLE per micro-batch, the
    // alert a production pipeline pages on before data goes missing
    val dropped = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    assert(dropped >= 1L, s"expected a recorded late-row drop; progress: " +
      q.recentProgress.map(_.json).mkString("\n").take(1000))
  }

  test("ListState pattern detector counts clicks across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.streaming.{BurstHit, ClickBurstProcessor}
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val min = 60L * 1000
      // (user_id, ts_ms, event_type, event_id)
      val input = MemoryStream[(Long, Long, String, Long)]
      val out = input.toDS().groupByKey(_._1)
        .transformWithState(new ClickBurstProcessor(windowMs = 30 * min),
          TimeMode.None(), OutputMode.Update())
      val q = out.toDF().writeStream.format("memory").queryName("burst_out")
        .outputMode("update").start()
      // batch 1: two in-window clicks, one stale (35 min before the
      // purchase), for user 1; a lone click for user 2
      input.addData((1L, 0L, "click", 1L), (1L, 25 * min, "click", 2L),
        (1L, 30 * min, "click", 3L), (2L, 0L, "click", 4L))
      q.processAllAvailable()
      // batch 2: the purchase counts batch-1 clicks FROM STATE; the
      // t=0 click is outside (35−30) and must not count; a same-batch
      // same-instant click counts too
      input.addData((1L, 35 * min, "purchase", 5L),
        (1L, 35 * min, "click", 6L))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("burst_out").as[BurstHit].collect().toSet
      assert(rows === Set(BurstHit(1L, 5L, 3L)), rows.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState accumulates across micro-batches (RocksDB)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.streaming.{RunningTotalProcessor, UserTotal}
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Long)]
      val out = input.toDS().groupByKey(_._1)
        .transformWithState(new RunningTotalProcessor,
          TimeMode.None(), OutputMode.Update())
      val q = out.toDF().writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      input.addData((1L, 100L), (1L, 50L), (2L, 10L))
      q.processAllAvailable()
      input.addData((1L, 25L), (3L, 7L))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws_out").as[UserTotal].collect().toSet
      // batch 1 emits users 1 and 2; batch 2 re-emits user 1 with the
      // state CARRIED FORWARD (3 purchases, 175 cents) plus new user 3
      assert(rows === Set(UserTotal(1, 2, 150), UserTotal(2, 1, 10),
        UserTotal(1, 3, 175), UserTotal(3, 1, 7)), rows.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState event-time timer closes idle sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.streaming.{ClosedSession, SessionTimeoutProcessor}
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Long)]
      val withTime = input.toDS().toDF("user_id", "ts_ms")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("ts_ms"))
        .as[(Long, Long)]
      val out = withTime.groupByKey(_._1)
        .transformWithState(new SessionTimeoutProcessor(gapMs = 60000L),
          TimeMode.EventTime(), OutputMode.Append())
      val q = out.toDF().writeStream.format("memory").queryName("tws_sess")
        .outputMode("append").start()
      // user 1: two events 4 s apart; nothing can close yet
      input.addData((1L, 1000L), (1L, 5000L))
      q.processAllAvailable()
      assert(spark.table("tws_sess").isEmpty)
      // a much later event advances the watermark past user 1's
      // (last + gap) timer -> exactly user 1's session closes
      input.addData((2L, 200000L))
      q.processAllAvailable()
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws_sess").as[ClosedSession].collect().toSet
      assert(rows === Set(ClosedSession(1L, 1000L, 5000L, 2L)),
        rows.toString)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("foreachBatch streaming merge converges with re-delivered files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_smerge").toFile
    dir.deleteOnExit()
    val raw = s"${dir.getPath}/raw"
    val table = s"${dir.getPath}/rates"
    val fixture = java.nio.file.Paths.get(
      getClass.getResource("/nbu_sample.json").getPath)
    def land(date: String): Unit = {
      val d = java.nio.file.Paths.get(raw, s"ingest_date=$date")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.copy(fixture, d.resolve("response.json"))
      ()
    }
    def read() = spark.read.format("graft.sources.GdxSource")
      .option("path", table).load()
    def versions() = graft.sources.GdxSource.listVersions(table,
      spark.sparkContext.hadoopConfiguration)
    land("2025-09-19")
    val q1 = graft.streaming.StreamMerge.run(spark, raw, table)
    q1.awaitTermination()
    assert(read().count() === 2) // USD+EUR, one day
    val v1 = versions()
    // re-deliver the same payload under a new landing date → converges,
    // no duplicates (same cc+exchangedate keys win by recency)
    land("2025-09-20")
    val q2 = graft.streaming.StreamMerge.run(spark, raw, table)
    q2.awaitTermination()
    assert(versions().size === v1.size + 1,
      s"the second run must publish one MERGE version: $v1 -> ${versions()}")
    val t = read()
    assert(t.count() === 2)
    assert(t.select("cc").as[String].collect().sorted.toSeq ===
      Seq("EUR", "USD"))
  }

  test("foreachBatch exactly-once sink: restart resumes, replay overwrites") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fb").toFile
    dir.deleteOnExit()
    val (in, out, ckpt) =
      (s"${dir.getPath}/in", s"${dir.getPath}/out", s"${dir.getPath}/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def land(name: String, ids: Range): Unit =
      ids.map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.parquet(s"$in/$name")
    def stream() = spark.readStream
      .schema("id LONG, v STRING").parquet(s"$in/*")
    def sunk(): Set[Long] = spark.read.parquet(s"$out/batch=*")
      .select("id").as[Long].collect().toSet

    land("a", 0 until 5)
    graft.streaming.StreamingOps.foreachBatchExactlyOnce(stream(), out, ckpt)
    assert(sunk() === (0L until 5L).toSet)
    // restart with the same checkpoint and no new input: nothing re-runs
    graft.streaming.StreamingOps.foreachBatchExactlyOnce(stream(), out, ckpt)
    assert(sunk() === (0L until 5L).toSet)
    // new file: only the delta lands, as its own batch directory
    land("b", 5 until 8)
    graft.streaming.StreamingOps.foreachBatchExactlyOnce(stream(), out, ckpt)
    assert(sunk() === (0L until 8L).toSet)
    // crash-replay: drop the newest batch's commit marker — on restart
    // Structured Streaming re-fires that batchId with the same data, and
    // the batchId-keyed overwrite must converge instead of duplicating
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    val newest = java.nio.file.Files.list(commits).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    java.nio.file.Files.delete(newest)
    // the local ChecksumFs keeps a .N.crc sidecar; a real HDFS/object
    // store crash would lose both, so drop it with the marker
    java.nio.file.Files.deleteIfExists(
      newest.resolveSibling("." + newest.getFileName.toString + ".crc"))
    graft.streaming.StreamingOps.foreachBatchExactlyOnce(stream(), out, ckpt)
    assert(sunk() === (0L until 8L).toSet)
    assert(spark.read.parquet(s"$out/batch=*").count() === 8)
  }

  test("streamed closed sessions match batch w5_sessionize islands") {
    // batch formulation on the same synthetic data
    val s = 1000000L
    val batch = Seq((1L, 1L, 0L), (1L, 2L, 10 * s), (1L, 3L, 4000 * s),
      (1L, 4L, 4010 * s), (1L, 5L, 9000 * s), (2L, 6L, 0L))
      .toDF("user_id", "event_id", "us")
      .selectExpr("user_id", "event_id", "timestamp_micros(us) AS ts",
        "CAST(0.0 AS DOUBLE) AS value", "'' AS props")
    batch.createOrReplaceTempView("sess_batch_events")
    val islands = spark.sql(
      """WITH g AS (SELECT user_id, event_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |FROM sess_batch_events),
        |m AS (SELECT user_id, ts,
        |  CASE WHEN prev_ts IS NULL
        |    OR unix_micros(ts) - unix_micros(prev_ts) > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess FROM g),
        |x AS (SELECT user_id, ts, SUM(new_sess) OVER (PARTITION BY user_id
        |  ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |FROM m)
        |SELECT user_id, sid, COUNT(*) AS n, min(ts) AS start, max(ts) AS fin
        |FROM x GROUP BY user_id, sid""".stripMargin)
      .selectExpr("user_id", "unix_micros(start) AS s", "unix_micros(fin) AS f", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    // every streamed-closed session must be a batch island
    val streamedClosed = Set(
      (1L, 0L, 10 * s, 2L), (1L, 4000 * s, 4010 * s, 2L))
    assert(streamedClosed.subsetOf(islands))
    assert(islands.size === 4) // 3 sessions for user 1 + 1 for user 2
  }

  test("streaming dedup ingest equals the batch incremental pipeline") {
    // the two queries share one brute-force oracle; assert the
    // equivalence directly as well — row for row on the real corpus
    val stream = graft.streaming.StreamingOps
      .queries("stream_dedup_ingest")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val batch = graft.operators.Dedup
      .queries("dedup_pipeline_incremental")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(stream.nonEmpty)
    assert(stream === batch)
  }
}
