package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import graft.pipeline.{CurrencyPipeline, Ingest, ReportSinks}
import graft.sources.GdxSource
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** JVM side of the benchmark: one workload, one closed-loop client.
  *
  * Usage: `perfbench.Harness key=value ...` with `workload`, `inputs` (the
  * generated input directory), `work` (the run's directory for tables and sinks),
  * `seconds`, `trace` (0|1), `seed`, `sf` (query_sample's tables) and
  * `out` (result JSON). Any error outside an operation exits with 1.
  *
  * The session is `local[Cores]`. Set-up runs `SetupReps` times, each into
  * fresh directories; the last one's state is warmed up once and then
  * measured. The loop runs operations (a day or a query) until `seconds`
  * have passed. Every operation is
  * timed from outside; a failed one is recorded, never dropped. With
  * `trace=1` every other operation is traced (spans and listener counts)
  * and the rest are not, so the run also yields the tracing overhead. */
object Harness {
  val Gdx = "graft.sources.GdxSource"
  val Cores = 4
  val SetupReps = 3

  /** One timed operation: wall seconds, and CPU seconds the whole JVM
    * (every thread: tasks, driver, JIT, GC) used meanwhile. */
  final case class Op(name: String, seconds: Double, cpu: Double, ok: Boolean,
                      error: String, traced: Boolean)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    // exit explicitly: after an error Spark's threads would keep the JVM up
    val code = try { run(args); 0 } catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val work = new File(opt("work")).getAbsolutePath
    val spark = GraftSession.builder(Cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val trace = new Trace(spark)
    val traced = opt("trace") == "1"
    if (traced) trace.register()
    val w: Workload = workload match {
      case "daily_upsert" => new DailyUpsert(spark, trace, opt("inputs"), work)
      case "query_sample" =>
        new QuerySample(spark, trace, opt("sf"), opt("inputs"), work, opt("seed").toLong)
      case other => sys.error(s"unknown workload $other")
    }
    val setup = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    val warm0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - warm0) / 1e9
    val ops = mutable.ArrayBuffer.empty[Op]
    val budgetNs = (opt("seconds").toDouble * 1e9).toLong
    val loop0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() - loop0 < budgetNs || ops.size < w.minOps ||
        !w.boundary(ops.size)) {
      val on = traced && w.traceOp(i)
      trace.enabled = on
      trace.run = s"op$i"
      val name = w.opName(i)
      val c0 = cpuNs
      val t0 = System.nanoTime()
      val err = try { w.op(i); null } catch {
        case t: Throwable => rootMessage(t)
      }
      ops += Op(name, (System.nanoTime() - t0) / 1e9, (cpuNs - c0) / 1e9,
        err == null, err, on)
      trace.enabled = false
      w.afterOp(on)
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val finish = w.finish(ops.toSeq)
    if (traced) trace.writeSpans(s"$work/spans.jsonl")
    val layers = if (traced) w.layers(trace, ops.toSeq) else Map.empty[String, Any]
    val result = Json.obj(
      "workload" -> workload,
      "session_s" -> sessionS,
      "setup_s" -> setup,
      "warmup_s" -> warmupS,
      "loop_s" -> loopS,
      "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "cpu" -> o.cpu,
        "ok" -> o.ok, "error" -> o.error, "traced" -> o.traced)),
      "peak_rss_mb" -> vmHwmMb(),
      "finish" -> finish,
      "layers" -> layers)
    Files.write(Paths.get(opt("out")), result.getBytes(UTF_8))
    spark.stop()
  }

  def rootMessage(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: " +
      Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def writeText(path: String, text: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes(UTF_8))
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The rates table's row layout: the MERGE key `k` (days since epoch
    * × 1000 + the ISO 4217 number of the currency) ahead of the columns
    * `transform` + `stamped` produce. */
  def keyed(df: DataFrame): DataFrame =
    df.select(
      (unix_date(col("exchangedate")).cast("bigint") * 1000 +
        when(col("cc") === "USD", 840).when(col("cc") === "EUR", 978)).as("k"),
      col("cc"), col("txt"), col("rate"), col("exchangedate"),
      col("rate_per_100"), col("ingest_ts"))

  /** Rows of a frame as NDJSON, for the DuckDB checks. */
  def dumpJson(df: DataFrame, path: String): Unit =
    writeText(path, df.toJSON.collect().mkString("", "\n", "\n"))

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** One workload: set-up into fresh directories, one operation, and the
  * state the checks and the storage accounting read at the end. */
trait Workload {
  def setup(rep: Int): Unit
  /** Operations run once, after the last set-up and before timing, so
    * that the JIT has caught up: with fewer warm-up operations the timed
    * ones still got faster one after another, and their median depended
    * on how many fitted in a run. */
  def warmup(): Unit
  def op(i: Int): Unit
  def opName(i: Int): String
  def minOps: Int = 1
  /** In a traced run, whether operation `i` is traced (every other one). */
  def traceOp(i: Int): Boolean = i % 2 == 0
  /** Traced over untraced operation time, minus 1. */
  def overhead(ops: Seq[Harness.Op]): Double =
    Harness.median(ops.filter(o => o.ok && o.traced).map(_.seconds)) /
      Harness.median(ops.filter(o => o.ok && !o.traced).map(_.seconds)) - 1.0
  /** Whether the loop may stop after `done` operations. */
  def boundary(done: Int): Boolean = true
  /** Bookkeeping after an operation, outside its timing. */
  def afterOp(traced: Boolean): Unit = ()
  def finish(ops: Seq[Harness.Op]): Map[String, Any]
  def layers(trace: Trace, ops: Seq[Harness.Op]): Map[String, Any]
}

/** Per-layer figures shared by the workloads: the Spark counts of every
  * layer (`<layer>.spark.*`, summed over a layer's spans and divided by
  * the traced operations), the traced operations' mean span time per
  * span name, and the tracing overhead. */
object Layers {
  val layerNames = Seq("ingest", "pipeline", "gdx", "sinks", "queries")

  def spark(trace: Trace, w: Workload, ops: Seq[Harness.Op]): Map[String, Any] = {
    val n = math.max(1, ops.count(_.traced))
    val cs = trace.counts()
    val out = mutable.LinkedHashMap.empty[String, Any]
    layerNames.foreach { l =>
      val ss = trace.spans.filter(s => s.run != "setup" && s.name.startsWith(l + "."))
      val ks = ss.flatMap(s => cs.get(s.id))
      val wall = ss.map(_.dur).sum
      def per(x: Double) = x / n
      out(s"$l.spark.actions") = per(ks.map(_.actions).sum)
      out(s"$l.spark.jobs") = per(ks.map(_.jobs).sum)
      out(s"$l.spark.stages") = per(ks.map(_.stages).sum)
      out(s"$l.spark.tasks") = per(ks.map(_.tasks).sum)
      out(s"$l.spark.task_ms") = per(ks.map(_.taskMs).sum.toDouble)
      out(s"$l.spark.driver_gap_ms") =
        per(math.max(0.0, wall - ks.map(_.jobCoveredMs).sum))
      out(s"$l.catalyst.analysis_ms") = per(ks.map(_.analysisMs).sum)
      out(s"$l.catalyst.optimization_ms") = per(ks.map(_.optimizationMs).sum)
      out(s"$l.catalyst.planning_ms") = per(ks.map(_.planningMs).sum)
    }
    out("trace.overhead_ratio") = w.overhead(ops)
    out.toMap
  }

  /** Median over traced operations of the summed duration (seconds) of
    * the spans called `name` within each operation. */
  def spanS(trace: Trace, name: String): Double = {
    val byRun = trace.spans.filter(s => s.run != "setup" && s.name == name)
      .groupBy(_.run).values.map(_.map(_.dur).sum / 1e3).toSeq
    if (byRun.isEmpty) 0.0 else Harness.median(byRun)
  }
}

/** GDX storage, read from outside through the public snapshot API. */
object Storage {
  def of(dir: String): Map[String, Any] = {
    val conf = GdxSource.driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    val versions = GdxSource.listVersions(dir, conf)
    val entries = GdxSource.committedEntries(dir, conf)
    def len(p: Path) = fs.getFileStatus(p).getLen
    def resolve(name: String) =
      if (new Path(name).isAbsolute) new Path(name) else new Path(dir, name)
    val dataBytes = GdxSource.committedFiles(dir, conf).map(len).sum
    val dvBytes = entries.flatMap(_.dv).distinct.map(d => len(resolve(d))).sum
    // every retained version's manifest
    val manifestBytes = versions.map(v => len(GdxSource.manifestFor(dir, v))).sum
    Map("versions" -> versions.size, "snapshot_files" -> entries.size,
      "data_bytes" -> dataBytes, "dv_bytes" -> dvBytes, "manifest_bytes" -> manifestBytes)
  }

  /** Files a commit touched: snapshot entries added, removed, or given a
    * new deletion vector between version `v - 1` and `v`. */
  def touched(dir: String, v: Int): (Int, Int) = {
    val conf = GdxSource.driverConf()
    val before = GdxSource.committedEntries(dir, conf, v - 1).map(e => e.name -> e.dv).toMap
    val after = GdxSource.committedEntries(dir, conf, v).map(e => e.name -> e.dv).toMap
    val changed = (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))
    (changed, before.size)
  }
}

/** `daily_upsert`: a GDX rates table holding years of history, then one
  * NBU payload per operation, landed, transformed, MERGEd last-write-wins
  * and reported through every sink. */
final class DailyUpsert(spark: SparkSession, trace: Trace, inputs: String,
                        work: String) extends Workload {
  import Harness._
  private val schedule = scala.io.Source.fromFile(s"$inputs/schedule.tsv", "UTF-8")
    .getLines().map(_.split("\t")).toIndexedSeq
  private var dir = ""
  private var rawDir = ""
  private var outDir = ""
  private var table = ""
  private var next = 0 // next payload to load
  /** (version, inserted, updated, files touched, snapshot files before) */
  private val merges = mutable.ArrayBuffer.empty[(Int, Long, Long, Int, Int)]
  private val observed = mutable.ArrayBuffer.empty[(Long, Long)]
  private val filesWritten = mutable.ArrayBuffer.empty[Int]
  private var storageAt: Map[String, Any] = Map.empty
  private val storageAfter = 3 // timed days before the storage accounting
  private val warmupDays = 4 // one in each set-up, the rest in `warmup`

  def setup(rep: Int): Unit = {
    val base = s"$work/daily$rep"
    deleteTree(new File(base))
    dir = s"$base/rates"; rawDir = s"$base/raw"; outDir = s"$base/reports"
    table = s"rates$rep"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"""CREATE TABLE $table (k BIGINT, cc STRING, txt STRING,
      rate DOUBLE, exchangedate DATE, rate_per_100 DOUBLE, ingest_ts TIMESTAMP)
      USING $Gdx OPTIONS (path '$dir')""")
    val history = spark.read
      .schema(CurrencyPipeline.rawSchema.add("ingest_ts", TimestampType))
      .json(s"$inputs/history")
    keyed(CurrencyPipeline.transform(history)).writeTo(table).append()
    merges.clear(); observed.clear(); filesWritten.clear()
    next = 0
    day()
  }

  def warmup(): Unit = for (_ <- 1 until warmupDays) day()

  def opName(i: Int): String = s"day-${schedule(next)(1)}-${schedule(next)(0)}"
  override def minOps: Int = storageAfter

  def op(i: Int): Unit = day()

  override def afterOp(traced: Boolean): Unit = {
    if (traced) {
      val (v, ins, upd, _, _) = merges.last
      val (touched, before) = Storage.touched(dir, v)
      merges(merges.size - 1) = (v, ins, upd, touched, before)
    }
    if (merges.size == warmupDays + storageAfter)
      storageAt = Storage.of(dir) + ("rows" -> spark.table(table).count())
  }

  private def day(): Unit = {
    val Array(file, ingestDate, ingestTs, _) = schedule(next)
    next += 1
    trace.span("day") {
      trace.span("ingest.land") {
        Ingest.landRaw(spark, s"$inputs/payloads/$file", rawDir, ingestDate)
      }
      val latest = trace.span("ingest.latest_partition") {
        Ingest.latestPartition(rawDir).get
      }
      val obs = new Observation(s"day$next")
      val batch = trace.span("pipeline.transform_plan") {
        val raw = spark.read.schema(CurrencyPipeline.rawSchema)
          .json(s"$rawDir/ingest_date=$latest")
        // the program's own quality side channel counts every landed row
        // and the malformed dates before transform drops them
        val probe = CurrencyPipeline.observed(
          raw.withColumn("date_text", col("exchangedate"))
            .withColumn("exchangedate", expr("try_to_date(exchangedate, 'dd.MM.yyyy')")),
          obs).withColumn("exchangedate", col("date_text")).drop("date_text")
        val b = keyed(CurrencyPipeline.stamped(CurrencyPipeline.transform(probe),
          java.sql.Timestamp.valueOf(ingestTs))).cache()
        b.count()
        b
      }
      val m = obs.get
      observed += ((m("n_rows").asInstanceOf[Long], m("n_bad_dates").asInstanceOf[Long]))
      batch.createOrReplaceTempView("incoming")
      val r = trace.span("gdx.merge") {
        spark.sql(s"""MERGE INTO $table t USING incoming s ON t.k = s.k
          WHEN MATCHED AND s.ingest_ts >= t.ingest_ts THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""").collect().head
      }
      batch.unpersist()
      merges += ((r.getLong(0).toInt, r.getLong(1), r.getLong(2), 0, 0))
      val asOf = java.sql.Date.valueOf(ingestDate)
      val rates = spark.table(table)
      val per = trace.span("pipeline.report") {
        val p = CurrencyPipeline.reportPerCurrency(rates, asOf).cache()
        p.count()
        p
      }
      trace.span("sinks.json") {
        writeText(s"$outDir/report.json",
          ReportSinks.reportJson(CurrencyPipeline.reportStruct(per)))
        writeText(s"$outDir/report.txt", CurrencyPipeline.reportTxt(per, asOf))
      }
      trace.span("pipeline.forecast") {
        writeText(s"$outDir/forecast.json",
          CurrencyPipeline.forecast(rates).toJSON.collect().mkString("\n"))
      }
      trace.span("sinks.csv") { ReportSinks.writeCsvReports(per, outDir) }
      trace.span("sinks.chart") {
        ReportSinks.chartPng(rates.orderBy("exchangedate", "cc"), s"$outDir/chart.png")
      }
      per.unpersist()
    }
    if (trace.enabled) filesWritten += countFiles(new File(outDir))
  }

  private def countFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0 else 1

  def finish(ops: Seq[Op]): Map[String, Any] = {
    val rates = spark.table(table)
    dumpJson(rates.orderBy("k"), s"$work/check/table.ndjson")
    dumpJson(CurrencyPipeline.reportPerCurrency(rates,
      java.sql.Date.valueOf(schedule(next - 1)(1))).orderBy("cc"),
      s"$work/check/report.ndjson")
    val st = if (storageAt.nonEmpty) storageAt
      else Storage.of(dir) + ("rows" -> rates.count())
    Map("loaded" -> next, "as_of" -> schedule(next - 1)(1), "storage" -> st)
  }

  def layers(trace: Trace, ops: Seq[Op]): Map[String, Any] = {
    val timed = merges.drop(warmupDays).toSeq // the first merges were set-up
    val tracedMerges = timed.filter(_._5 > 0)
    Layers.spark(trace, this, ops) ++ Map(
      "ingest.land_s" -> Layers.spanS(trace, "ingest.land"),
      "ingest.latest_partition_s" -> Layers.spanS(trace, "ingest.latest_partition"),
      "pipeline.transform_plan_s" -> Layers.spanS(trace, "pipeline.transform_plan"),
      "pipeline.report_s" -> Layers.spanS(trace, "pipeline.report"),
      "pipeline.forecast_s" -> Layers.spanS(trace, "pipeline.forecast"),
      "pipeline.rows_in" -> mean(observed.drop(warmupDays).map(_._1.toDouble).toSeq),
      "pipeline.bad_dates" -> mean(observed.drop(warmupDays).map(_._2.toDouble).toSeq),
      "gdx.merge_s" -> Layers.spanS(trace, "gdx.merge"),
      "gdx.merge_rows_inserted" -> mean(timed.map(_._2.toDouble)),
      "gdx.merge_rows_updated" -> mean(timed.map(_._3.toDouble)),
      "gdx.files_touched_per_merge" ->
        Harness.median(tracedMerges.map(_._4.toDouble)),
      "gdx.files_touched_ratio" ->
        Harness.median(tracedMerges.map(m => m._4.toDouble / m._5)),
      "sinks.json_s" -> Layers.spanS(trace, "sinks.json"),
      "sinks.csv_s" -> Layers.spanS(trace, "sinks.csv"),
      "sinks.chart_s" -> Layers.spanS(trace, "sinks.chart"),
      "sinks.files_written" -> Harness.median(filesWritten.map(_.toDouble).toSeq))
  }
}

/** `query_sample`: one fixed query from each `QueryModule` of
  * `SparkEntry`. Set-up runs each sampled query twice (the first set-up
  * also writes each result for the DuckDB check); one operation is one
  * query's `count()`, in a seeded order per pass. */
final class QuerySample(spark: SparkSession, trace: Trace, sfDir: String,
                        inputs: String, work: String, seed: Long) extends Workload {
  import Harness._
  /** (module, query), read from the sample file the runner writes. */
  private val sample = scala.io.Source.fromFile(s"$inputs/sample.tsv", "UTF-8")
    .getLines().map(_.split("\t")).map(a => (a(0), a(1))).toIndexedSeq
  private val fns = graft.SparkEntry.queries
  private var order = IndexedSeq.empty[(String, String)]

  private def orderOf(pass: Int) =
    new scala.util.Random(seed * 1000003L + pass).shuffle(sample)

  def setup(rep: Int): Unit = {
    sample.foreach { case (_, q) =>
      val df = fns(q)(spark, sfDir)
      if (rep == 0) df.write.mode("overwrite").parquet(s"$work/check/q/$q")
      else df.count()
    }
    // a second pass, in a shuffled order as the timed ones
    shuffledPass(-1 - rep)
  }

  def warmup(): Unit = {
    shuffledPass(-1 - SetupReps)
    shuffledPass(-2 - SetupReps)
  }

  private def shuffledPass(pass: Int): Unit =
    orderOf(pass).foreach { case (_, q) => fns(q)(spark, sfDir).count() }

  private def at(i: Int): (String, String) = {
    if (i % sample.size == 0) order = orderOf(i / sample.size)
    order(i % sample.size)
  }
  def opName(i: Int): String = at(i)._2
  override def minOps: Int = sample.size
  override def boundary(done: Int): Boolean = done % sample.size == 0
  /** Whole passes are traced or not, so both halves hold every query. */
  override def traceOp(i: Int): Boolean = (i / sample.size) % 2 == 0
  /** The median over queries of traced over untraced time, minus 1. */
  override def overhead(ops: Seq[Op]): Double = median(
    ops.filter(_.ok).groupBy(_.name).values.toSeq.flatMap { os =>
      val (on, off) = os.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some(median(on.map(_.seconds)) / median(off.map(_.seconds)))
    }) - 1.0

  def op(i: Int): Unit = {
    val (m, q) = at(i)
    trace.span(s"queries.$m.$q") { fns(q)(spark, sfDir).count() }
  }

  def finish(ops: Seq[Op]): Map[String, Any] = Map.empty

  def layers(trace: Trace, ops: Seq[Op]): Map[String, Any] = {
    val byQuery = ops.filter(_.ok).groupBy(_.name).map { case (q, os) =>
      q -> Harness.median(os.map(_.seconds)) }
    val modules = QuerySample.modules.map(_._1)
    Layers.spark(trace, this, ops) ++ modules.flatMap { m =>
      val qs = sample.filter(_._1 == m).map(_._2)
      Seq(s"$m.s" -> qs.flatMap(byQuery.get).sum, s"$m.queries" -> qs.size.toDouble)
    }.toMap
  }
}

object QuerySample {
  /** The twelve modules `SparkEntry.queries` is built from. */
  val modules: Seq[(String, graft.QueryModule)] = {
    import graft.operators._
    Seq("RelationalOps" -> RelationalOps, "WindowOps" -> WindowOps,
      "JoinOps" -> JoinOps, "ExtendedOps" -> ExtendedOps, "SqlOps" -> SqlOps,
      "TextAnalysis" -> TextAnalysis, "Dedup" -> Dedup,
      "Similarity" -> Similarity, "Multimodal" -> Multimodal, "Graph" -> Graph,
      "Quality" -> Quality, "StreamingOps" -> graft.streaming.StreamingOps)
  }
}

/** Lists every query of every module, and the oracle SQL, for the runner
  * to draw the sample from: `perfbench.ListQueries <out.tsv>`. */
object ListQueries {
  def main(args: Array[String]): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    val lines = QuerySample.modules.flatMap { case (m, mod) =>
      mod.queries.keys.toSeq.sorted.map(q => s"$m\t$q")
    }
    Harness.writeText(args(0), lines.mkString("", "\n", "\n"))
    Harness.writeText(args(0) + ".oracle.json", Json.value(oracles))
  }
}
