package graft.pipeline

import graft.Sql
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity pipeline semantics (SURVEY.md §2.9, §3.1): the four
  * Currency-ETL stages re-expressed as pure DataFrame => DataFrame
  * functions composed in one SparkSession — no per-stage processes, no
  * files between stages, one logical plan end-to-end.
  *
  * Reference stages (cited in /root/reference):
  *  - transform: project/date-parse/derive/filter  src/transform.py:17-30
  *  - merge (upsert): last-write-wins on (cc, exchangedate)
  *    src/load.py:28-51, sql/create_tables.sql:9
  *  - forecast: 7-row rolling mean, 5 flat future days
  *    dags/currency_etl.py:34-52
  *  - report: 11-query analytics collapsed into one grouped pass
  *    src/analyze.py:20-160
  *
  * Scale notes: last-write-wins is the one rule with real engine
  * semantics — idempotent and replay-order safe because recency comes
  * from an explicit ingest_ts column, not arrival order (SURVEY §7.3).
  * The daily upsert is a GDX MERGE on `rateKey` (`ON t.k = s.k WHEN
  * MATCHED AND s.ingest_ts >= t.ingest_ts THEN UPDATE SET * WHEN NOT
  * MATCHED THEN INSERT *`, run by `GdxSource.mergeGeneral`): zone maps
  * scope it to the files holding the day's keys, replaced rows get
  * deletion vectors and new images land in fresh files, so the 2-row
  * upsert stays O(day), not O(history). `latestWins` is the same rule
  * as a window, for folding a batch or a replayed history.
  */
object CurrencyPipeline {

  /** Raw NBU payload schema (FIXTURES.md §A1); extra fields like r030 are
    * dropped by omission. */
  val rawSchema: StructType = StructType(Seq(
    StructField("r030", LongType),
    StructField("txt", StringType),
    StructField("rate", DoubleType),
    StructField("cc", StringType),
    StructField("exchangedate", StringType)))

  /** S2: one raw file is a pretty-printed JSON array → multiLine=true.
    * (multiLine kills input splitting — fine for small landing files; a
    * 100 TB ingest would land NDJSON instead, SURVEY §7.3.) */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", value = true).schema(rawSchema).json(path)

  /** P1-P4/F6: project → parse dd.MM.yyyy → derive rate_per_100 → keep
    * USD/EUR. One codegen stage over the scan. `keep` holds ISO 4217
    * codes (three uppercase letters), the domain `rateKey` encodes. */
  def transform(raw: DataFrame, keep: Seq[String] = Seq("USD", "EUR")): DataFrame = {
    require(keep.forall(_.matches("[A-Z]{3}")),
      s"transform: keep codes must be three uppercase letters: $keep")
    // P1 projection; an ingest_ts stamp (backfill replay) passes through.
    // try_to_date, not to_date: under Spark 4's default ANSI mode a single
    // malformed record would fail the whole job — malformed dates become
    // nulls and are dropped (dead-letter semantics; at scale the null
    // branch would be routed to a quarantine sink instead of filtered).
    val passthrough = raw.columns.filter(_ == "ingest_ts").toSeq.map(col)
    raw.select(Seq(col("cc"), col("txt"), col("rate"),
        expr("try_to_date(exchangedate, 'dd.MM.yyyy')").as("exchangedate")) ++
        passthrough: _*)
      .withColumn("rate_per_100", col("rate") * 100)
      .filter(col("cc").isin(keep: _*) && col("exchangedate").isNotNull)
  }

  /** Attach inline data-quality metrics to a rates frame: row count,
    * dead-lettered (null-date) count, distinct currencies — collected as
    * a side channel of the NEXT action on the returned frame (no extra
    * pass over the data; at 100 TB an extra counting pass is a real
    * cost). Read metrics via `obs.get` after an action. */
  def observed(df: DataFrame, obs: org.apache.spark.sql.Observation): DataFrame =
    df.observe(obs,
      count(lit(1)).as("n_rows"),
      count(when(col("exchangedate").isNull, 1)).as("n_bad_dates"),
      approx_count_distinct(col("cc")).as("n_currencies"))

  /** The rates table's GDX key: one BIGINT per (exchangedate, cc) —
    * days since epoch × 26³ plus the base-26 value of the code's three
    * letters (A = 0). Injective over every code `transform` can keep. */
  def rateKey(exchangedate: Column, cc: Column): Column = {
    def letter(i: Int): Column = ascii(substring(cc, i, 1)).cast("long") - 65
    unix_date(exchangedate).cast("long") * 17576 +
      letter(1) * 676 + letter(2) * 26 + letter(3)
  }

  /** Stamp a batch with its ingest time (the recency tie-break carried as
    * data so replays stay order-independent). */
  def stamped(batch: DataFrame, ingestTs: java.sql.Timestamp): DataFrame =
    batch.withColumn("ingest_ts", lit(ingestTs))

  /** C2: last-write-wins upsert of `incoming` into `existing`, keyed
    * (cc, exchangedate); newest ingest_ts wins, idempotent under replay. */
  def merge(existing: DataFrame, incoming: DataFrame): DataFrame =
    latestWins(existing.unionByName(incoming))

  /** The last-write-wins rule: one row per (cc, exchangedate), the one
    * with the newest ingest_ts. */
  def latestWins(rates: DataFrame): DataFrame = {
    val w = Window.partitionBy("cc", "exchangedate")
      .orderBy(col("ingest_ts").desc)
    rates.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** C1: per-currency moving-average forecast — trailing 7-ROW rolling
    * mean (pandas rolling(7, min_periods=1) ≡ rowsBetween(-6,0), SURVEY
    * §7.3), last value extended flat over `horizon` future days. */
  def forecast(rates: DataFrame, horizon: Int = 5): DataFrame = {
    val ordered = Window.partitionBy("cc").orderBy("exchangedate")
    val roll = ordered.rowsBetween(-6, 0)
    val newest = Window.partitionBy("cc")
      .orderBy(col("exchangedate").desc)
    rates
      .select(col("cc"), col("exchangedate"),
        Sql.davgOver(col("rate"), roll, 6).as("avg_rate"),
        row_number().over(newest).as("rn"))
      .filter(col("rn") === 1)
      .select(col("cc"), col("exchangedate"), col("avg_rate"),
        explode(sequence(lit(1), lit(horizon))).as("i"))
      .select(col("cc"),
        date_add(col("exchangedate"), col("i")).as("forecast_date"),
        col("avg_rate").as("forecast_rate"))
  }

  /** C3: the reference's 11 analytics queries (src/analyze.py:20-109) as
    * ONE wide pass: groupBy(cc) + window-derived last/30-back columns +
    * conditional aggregation; `asOf` parameterizes NOW() (SURVEY §7.3).
    * Result: one row per currency with last/change/range/avg/days. */
  def reportPerCurrency(rates: DataFrame, asOf: java.sql.Date): DataFrame = {
    val newest = Window.partitionBy("cc")
      .orderBy(col("exchangedate").desc)
    val byCc = Window.partitionBy("cc")
    val yearAgo = date_sub(lit(asOf), 365)
    rates
      .withColumn("rn", row_number().over(newest))
      .withColumn("cnt", count(lit(1)).over(byCc))
      .groupBy("cc")
      .agg(
        max(when(col("rn") === 1, col("rate"))).as("last_rate"),
        max(when(col("rn") === 1, col("exchangedate"))).as("last_date"),
        // 30-days-back delta, clamped to oldest row (LEAST(cnt,31),
        // src/analyze.py:80)
        (max(when(col("rn") === 1, col("rate"))) -
          max(when(col("rn") === least(col("cnt"), lit(31)), col("rate"))))
          .as("change_month"),
        min(when(col("exchangedate") >= yearAgo, col("rate"))).as("year_min"),
        max(when(col("exchangedate") >= yearAgo, col("rate"))).as("year_max"),
        Sql.davg(col("rate"), 6).as("avg_all_time"),
        count(lit(1)).as("days"))
  }

  /** Nested report struct {usd:{...}, eur:{...}, general:{...}} matching
    * src/analyze.py:142-160; one row, ready for to_json (K6).
    * `perCurrency` is report-scale (at most one row per currency). */
  def reportStruct(perCurrency: DataFrame): DataFrame = {
    def block(cc: String): Column = max(when(col("cc") === cc, struct(
      col("last_rate").as("last"),
      col("change_month"),
      struct(col("year_min").as("min"), col("year_max").as("max"))
        .as("range_year"),
      col("avg_all_time"),
      col("days")))).as(cc.toLowerCase)
    // one partition already satisfies the distinct aggregate's
    // clustering: one stage, no exchange, for a report-scale frame
    perCurrency.coalesce(1).agg(
      block("USD"), block("EUR"),
      struct(countDistinct(col("cc")).as("num_currencies")).as("general"))
  }

  /** K7: 7-line human-readable TXT report (src/analyze.py:191-203).
    * Nullable aggregates (year_min/year_max are null when no row falls
    * within 365 days of asOf) render as a "no data" range, mirroring the
    * reference's empty-range branch (analyze.py:180-186) instead of
    * NPE-ing on unboxing. */
  def reportTxt(perCurrency: DataFrame, asOf: java.sql.Date): String = {
    val rows = perCurrency.collect()
    def opt(r: org.apache.spark.sql.Row, field: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(field))) None
      else Some(r.getAs[Double](field))
    def line(cc: String): Seq[String] =
      rows.find(_.getAs[String]("cc") == cc).toSeq.map { r =>
        val range = (opt(r, "year_min"), opt(r, "year_max")) match {
          case (Some(lo), Some(hi)) => f"year $lo%.2f-$hi%.2f"
          case _ => "year: no data"
        }
        val change = opt(r, "change_month")
          .map(c => f"$c%+.2f / 30d").getOrElse("n/a / 30d")
        f"$cc: ${r.getAs[Double]("last_rate")}%.2f UAH " +
          s"($change, $range, " +
          f"avg ${r.getAs[Double]("avg_all_time")}%.2f over ${r.getAs[Long]("days")}%d days)"
      }
    (Seq(s"Exchange rate report $asOf", "=" * 40) ++
      line("USD") ++ line("EUR") ++
      Seq("-" * 40, s"currencies tracked: ${rows.length}", "=" * 40))
      .mkString("\n")
  }

  /** K2-analog sink: dated-partition parquet layout (partition pruning
    * replaces the reference's "latest dir" glob, SURVEY §4). */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.withColumn("ingest_date", date_format(col("exchangedate"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("ingest_date").parquet(path)
}
