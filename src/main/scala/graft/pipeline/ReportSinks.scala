package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Report fan-out sinks (SURVEY.md §2.9 C4, §2.2 K5/K6): one report
  * DataFrame → JSON + per-currency CSV + TXT, mirroring
  * /root/reference/src/analyze.py:164-203.
  *
  * Report results are ≤1 row per currency, so driver-side materialization
  * of the FINAL rows is safe by construction (SURVEY §3.2); everything
  * upstream of them stays distributed. Each sink therefore collects its
  * rows once, formatted by Spark where a format applies (`to_json`,
  * `to_csv`), and writes its files from the driver: no Spark write job
  * or commit per file.
  */
object ReportSinks {

  /** K6: nested report struct as a single JSON document (non-ASCII
    * preserved — Spark's to_json emits UTF-8 unescaped). */
  def reportJson(structReport: DataFrame): String =
    structReport.select(to_json(struct(structReport.columns.map(col): _*)))
      .collect().head.getString(0)

  /** K10: PNG line-chart sink (reference dags/currency_etl.py:55-67
    * renders the rate history with matplotlib). Pure-JDK rendering
    * (Graphics2D + ImageIO, no font glyphs — axes and polylines only,
    * so output is stable across JVMs): one series per currency, x =
    * row order of the date-sorted frame, y = min-max-normalized rate.
    * Report-scale data by construction (a rate history per currency),
    * so the driver-side collect is bounded like every other report
    * sink; everything upstream stays distributed. */
  def chartPng(history: DataFrame, outPath: String,
               width: Int = 640, height: Int = 360): Unit = {
    val rows = history.select(col("cc"), col("rate").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    require(rows.nonEmpty, "chartPng: empty history frame")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setColor(java.awt.Color.WHITE)
      g.fillRect(0, 0, width, height)
      g.setColor(java.awt.Color.GRAY) // axes
      g.drawLine(40, height - 30, width - 10, height - 30)
      g.drawLine(40, 10, 40, height - 30)
      val series = rows.groupBy(_._1).toSeq.sortBy(_._1)
      val (lo, hi) = (rows.map(_._2).min, rows.map(_._2).max)
      val span = if (hi > lo) hi - lo else 1.0
      val palette = Seq(new java.awt.Color(0xC8, 0x3C, 0x23),
        new java.awt.Color(0x23, 0x5A, 0x97), new java.awt.Color(0x2E, 0x7D, 0x32))
      series.zipWithIndex.foreach { case ((_, pts), si) =>
        g.setColor(palette(si % palette.size))
        val n = math.max(pts.length - 1, 1)
        val xy = pts.zipWithIndex.map { case ((_, v), i) =>
          (40 + i * (width - 60) / n,
            (height - 30) - ((v - lo) / span * (height - 50)).toInt - 5)
        }
        xy.sliding(2).foreach {
          case Array((x1, y1), (x2, y2)) => g.drawLine(x1, y1, x2, y2)
          case _ => g.drawRect(xy.head._1, xy.head._2, 1, 1)
        }
      }
    } finally g.dispose()
    val f = new java.io.File(outPath)
    Option(f.getParentFile).foreach(_.mkdirs())
    javax.imageio.ImageIO.write(img, "png", f)
    ()
  }

  /** K11: push-delivery sink (reference dags/currency_etl.py:91-110 POSTs
    * the forecast chart + caption to every subscribed chat_id via the
    * Telegram Bot API). Engine-side contract: dedup the subscriber
    * registry, fan the (chat_id, caption, media) payload out ON THE
    * EXECUTORS (foreachPartition — the side-effect sink shape SURVEY §2.2
    * names for K11), delivery itself behind a pluggable [[PushTransport]].
    * The HTTP POST is an engine boundary (zero-egress sandbox): tests
    * inject a filesystem transport, production injects an HTTP client.
    *
    * Scale/semantics notes: media bytes ride a broadcast, not the rows,
    * so a million-subscriber fan-out moves only chat_ids; Spark task
    * retries can re-invoke the transport for a partition, so transports
    * must be idempotent per (chat_id, md5(caption)) — exactly the
    * at-least-once contract every foreach sink in Structured Streaming
    * carries. Returns the number of distinct subscribers targeted. */
  def pushReport(subscribers: DataFrame, caption: String,
                 media: Array[Byte], transport: PushTransport): Long = {
    val spark = subscribers.sparkSession
    val bMedia = spark.sparkContext.broadcast(media)
    val targets = subscribers.select(col("chat_id").cast("long")).distinct()
      .localCheckpoint() // one registry scan feeds both count and fan-out
    targets.foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach(r => transport.send(r.getLong(0), caption, bMedia.value))
    }
    targets.count()
  }

  /** K5: per-currency CSV files + a general summary CSV, the layout
    * a `coalesce(1)` CSV write with a header gives, minus its
    * `_SUCCESS` marker: `<cc>_report/part-00000.csv` holds the header
    * and that currency's rows, `general_report/part-00000.csv` the
    * number of distinct currencies; each directory is replaced whole.
    * The frame is report-scale, so ONE collect of `to_csv` lines (the
    * formatting Spark's CSV writer uses) feeds every file, written
    * from the driver — no commit job per file. */
  def writeCsvReports(perCurrency: DataFrame, outDir: String): Unit = {
    val names = perCurrency.columns.toSeq
    val rows = perCurrency.select(col("cc"),
        to_csv(struct(names.map(n => col(s"`$n`")): _*)),
        to_csv(struct(names.map(lit): _*)))
      .collect()
    val fs = new Path(outDir)
      .getFileSystem(perCurrency.sparkSession.sparkContext.hadoopConfiguration)
    def writeCsv(dir: String, lines: Seq[String]): Unit = {
      val d = new Path(outDir, dir)
      fs.delete(d, true)
      val out = fs.create(new Path(d, "part-00000.csv"), false)
      try out.write(lines.map(_ + "\n").mkString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    rows.groupBy(_.getString(0)).foreach { case (cc, rs) =>
      writeCsv(s"${cc.toLowerCase}_report",
        rs.head.getString(2) +: rs.toSeq.map(_.getString(1)))
    }
    writeCsv("general_report", Seq("num_currencies",
      rows.map(_.getString(0)).filter(_ != null).distinct.length.toString))
  }
}
