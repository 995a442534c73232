package graft

import graft.pipeline.{CurrencyPipeline, Ingest, ReportSinks, SpoolDirTransport, Subscriptions}
import org.apache.spark.sql.functions._

/** Landing, discovery, backfill replay, subscriptions, report fan-out. */
class IngestSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ingest").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  test("land raw + latest-partition discovery + backfill merge") {
    val rawDir = tmpDir()
    val fixture = getClass.getResource("/nbu_sample.json").getPath
    Ingest.landRaw(spark, fixture, rawDir, "2025-09-19")
    Ingest.landRaw(spark, fixture, rawDir, "2025-09-20")
    assert(Ingest.latestPartition(rawDir).contains("2025-09-20"))
    val table = Ingest.backfill(spark, rawDir)
    // same (cc, exchangedate) landed twice → newest ingest wins, 2 rows
    assert(table.count() === 2)
    assert(table.select(date_format(col("ingest_ts"), "yyyy-MM-dd"))
      .as[String].collect().forall(_ == "2025-09-20"))
    assert(table.select("cc").as[String].collect().sorted.toSeq ===
      Seq("EUR", "USD"))
  }

  test("subscribe is insert-ignore; unsubscribe is keyed delete") {
    def users(rows: (Long, String, String)*) =
      rows.toDF("chat_id", "username", "j").select(col("chat_id"),
        col("username"), to_timestamp(col("j")).as("joined_at"))
    val existing = users((1L, "alice", "2025-01-01 10:00:00"))
    val incoming = users(
      (1L, "alice2", "2025-02-01 10:00:00"),  // conflict → ignored
      (2L, "bob", "2025-02-01 11:00:00"),
      (2L, "bob_dup", "2025-02-01 12:00:00")) // in-batch dup → first wins
    val after = Subscriptions.subscribe(existing, incoming)
    assert(after.count() === 2)
    val byId = after.collect().map(r =>
      r.getAs[Long]("chat_id") -> r.getAs[String]("username")).toMap
    assert(byId(1L) === "alice" && byId(2L) === "bob")
    val afterDelete = Subscriptions.unsubscribe(after, Seq(Tuple1(1L)).toDF("chat_id"))
    assert(afterDelete.select("chat_id").as[Long].collect().toSeq === Seq(2L))
  }

  test("partitioned parquet sink enables partition pruning") {
    val out = tmpDir()
    val rates = Seq(
      ("USD", java.sql.Date.valueOf("2025-09-19"), 41.5),
      ("USD", java.sql.Date.valueOf("2025-09-20"), 41.7))
      .toDF("cc", "exchangedate", "rate")
    CurrencyPipeline.writePartitioned(rates, out)
    assert(new java.io.File(s"$out/ingest_date=2025-09-19").isDirectory)
    val pruned = spark.read.parquet(out)
      .filter(col("ingest_date") === "2025-09-20")
    assert(pruned.count() === 1)
    // partition filter must prune at planning, not post-scan
    val scan = pruned.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters") &&
      scan.contains("ingest_date"), scan)
  }

  test("report fan-out: JSON document + CSV files") {
    val rates = Seq(
      ("USD", java.sql.Date.valueOf("2025-09-18"), 41.7),
      ("USD", java.sql.Date.valueOf("2025-09-19"), 41.5),
      ("EUR", java.sql.Date.valueOf("2025-09-19"), 48.5),
      // no row within 365 days of asOf: NULL year_min/year_max
      ("GBP", java.sql.Date.valueOf("2023-01-10"), 55.25))
      .toDF("cc", "exchangedate", "rate")
    val per = CurrencyPipeline.reportPerCurrency(rates,
      java.sql.Date.valueOf("2025-09-19")).cache()
    try {
      per.count()
      val json = ReportSinks.reportJson(CurrencyPipeline.reportStruct(per))
      assert(json.contains("\"usd\"") && json.contains("\"last\":41.5"))
      val gbp = per.filter(col("cc") === "GBP").head()
      assert(gbp.isNullAt(gbp.fieldIndex("year_min")) &&
        gbp.isNullAt(gbp.fieldIndex("year_max")))
      assert(per.filter(col("cc") === "USD").head()
        .getAs[Double]("change_month") < 0)
      val out = tmpDir()
      val (_, jobs) = jobsDuring(ReportSinks.writeCsvReports(per, out))
      assert(jobs.size === 1, jobs.mkString("\n"))
      // the caller's cached frame stays cached
      assert(per.storageLevel.useMemory)
      // each driver-written file reads exactly as Spark's own CSV
      // writer renders the same rows
      def csvText(dir: String): (Seq[String], String) = {
        val files = new java.io.File(dir).listFiles()
          .filterNot(f => f.getName.startsWith(".") ||
            f.getName.startsWith("_"))
        (files.map(_.getName).toSeq, new String(java.nio.file.Files
          .readAllBytes(files.head.toPath), "UTF-8"))
      }
      val ref = tmpDir()
      def sparkCsv(df: org.apache.spark.sql.DataFrame, name: String) = {
        df.coalesce(1).write.option("header", "true").csv(s"$ref/$name")
        csvText(s"$ref/$name")._2
      }
      Seq("USD", "EUR", "GBP").foreach { cc =>
        val (names, text) = csvText(s"$out/${cc.toLowerCase}_report")
        assert(names === Seq("part-00000.csv"))
        assert(text === sparkCsv(per.filter(col("cc") === cc), cc))
      }
      assert(csvText(s"$out/usd_report")._2.linesIterator.toSeq(1)
        .startsWith("USD,41.5,2025-09-19,-0.2"))
      assert(csvText(s"$out/general_report")._2 === sparkCsv(
        per.agg(countDistinct(col("cc")).as("num_currencies")), "general"))
      assert(csvText(s"$out/general_report")._2 === "num_currencies\n3\n")
      // a second run replaces each directory whole
      ReportSinks.writeCsvReports(per.filter(col("cc") =!= "GBP"), out)
      assert(csvText(s"$out/general_report")._2 === "num_currencies\n2\n")
      assert(csvText(s"$out/usd_report")._1 === Seq("part-00000.csv"))
    } finally per.unpersist()
  }

  test("K10 chart sink: renders a decodable PNG with plotted series") {
    val hist = (0 until 30).map { i =>
      ("USD", java.sql.Date.valueOf(s"2025-09-${i % 28 + 1}"), 40.0 + i % 7)
    }.toDF("cc", "exchangedate", "rate").orderBy("exchangedate")
    val path = tmpDir() + "/rates.png"
    ReportSinks.chartPng(hist, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(bytes.take(8).map(_ & 0xFF).toSeq ===
      Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A), "PNG magic")
    val img = javax.imageio.ImageIO.read(new java.io.File(path))
    assert(img.getWidth === 640 && img.getHeight === 360)
    // the series must have painted non-background, non-axis pixels
    val colored = (for {
      x <- 41 until 630; y <- 10 until 329
      p = img.getRGB(x, y) & 0xFFFFFF
      if p != 0xFFFFFF && p != 0x808080
    } yield p).toSet
    assert(colored.contains(0xC83C23), s"series color missing: $colored")
  }

  test("K11 push sink: executor-side fan-out to every distinct subscriber") {
    val subs = Seq((101L, "2025-09-01"), (202L, "2025-09-02"),
      (101L, "2025-09-03"), (303L, "2025-09-04")) // 101 twice: dedup
      .toDF("chat_id", "joined_at")
    val spool = tmpDir()
    val media = Array[Byte](0x42, 0x43, 0x44)
    val n = ReportSinks.pushReport(subs, """{"usd":{"last":41.5}}""",
      media, new SpoolDirTransport(spool))
    assert(n === 3L)
    val files = new java.io.File(spool).listFiles().map(_.getName).toSet
    assert(files === Set("chat_101.json", "chat_101.png",
      "chat_202.json", "chat_202.png", "chat_303.json", "chat_303.png"))
    val caption = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(spool, "chat_202.json").toPath), "UTF-8")
    assert(caption.contains("\"last\":41.5"))
    assert(java.nio.file.Files.readAllBytes(
      new java.io.File(spool, "chat_303.png").toPath).toSeq === media.toSeq)
  }
}
