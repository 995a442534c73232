package graft

import graft.pipeline.CurrencyPipeline._
import org.apache.spark.sql.functions._

/** End-to-end reference-parity pipeline semantics (SURVEY.md §5.4):
  * NBU-style fixture → transform → merge → forecast → report. */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private def fixturePath =
    getClass.getResource("/nbu_sample.json").getPath
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def day(s: String) = java.sql.Date.valueOf(s)

  test("transform: project, parse dd.MM.yyyy, derive, filter USD/EUR") {
    val out = graft.pipeline.CurrencyPipeline.transform(readRaw(spark, fixturePath))
      .orderBy("cc").collect()
    assert(out.length === 2) // PLN and GBP filtered out
    val eur = out.head
    assert(eur.getAs[String]("cc") === "EUR")
    assert(eur.getAs[java.sql.Date]("exchangedate") === day("2025-09-19"))
    assert(eur.getAs[Double]("rate_per_100") === 48.6712 * 100)
  }

  test("transform: malformed dates and schema drift don't kill the job") {
    import org.apache.spark.sql.functions._
    // extra fields are ignored by projection; missing r030 is fine; a
    // malformed exchangedate is dead-lettered, not thrown (ANSI mode)
    val messy = Seq(
      ("USD", "Dollar", 41.0, "19.09.2025"),
      ("USD", "Dollar", 42.0, "not-a-date"),
      ("EUR", "Euro", 48.0, "20.09.2025"))
      .toDF("cc", "txt", "rate", "exchangedate")
    val out = graft.pipeline.CurrencyPipeline.transform(messy)
      .orderBy("cc").collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[Double]("rate")).toSeq === Seq(48.0, 41.0))
  }

  test("observed: inline quality metrics ride the action, no extra pass") {
    val obs = new org.apache.spark.sql.Observation("quality")
    val rates = Seq(("USD", java.sql.Date.valueOf("2025-09-19"), 41.5),
                    ("EUR", null.asInstanceOf[java.sql.Date], 48.5))
      .toDF("cc", "exchangedate", "rate")
    val n = graft.pipeline.CurrencyPipeline.observed(rates, obs).count()
    assert(n === 2)
    val m = obs.get
    assert(m("n_rows") === 2L && m("n_bad_dates") === 1L)
    assert(m("n_currencies").asInstanceOf[Long] >= 2L)
  }

  test("merge: last write wins, idempotent, replay-order independent") {
    def batch(rate: Double, ingest: String) = stamped(
      Seq(("USD", "Dollar", rate, day("2025-09-19"), rate * 100))
        .toDF("cc", "txt", "rate", "exchangedate", "rate_per_100"),
      ts(ingest))
    val b1 = batch(41.0, "2025-09-19 16:00:00")
    val b2 = batch(42.0, "2025-09-20 16:00:00") // re-delivery, newer
    val m12 = merge(b1, b2)
    val m21 = merge(b2, b1) // replay in reverse order
    assert(m12.select("rate").as[Double].head() === 42.0)
    assert(m21.select("rate").as[Double].head() === 42.0)
    // idempotence: merging the winner again changes nothing
    val again = merge(m12, b2)
    assert(again.count() === 1 &&
      again.select("rate").as[Double].head() === 42.0)
  }

  test("rateKey: one distinct key per (exchangedate, three-letter code)") {
    val letters = ('A' to 'Z').map(_.toString)
    val codes = for (a <- letters; b <- letters; c <- letters) yield a + b + c
    val keys = codes.toDF("cc")
      .crossJoin(Seq(day("1969-12-31"), day("1970-01-01"), day("2025-09-19"))
        .toDF("exchangedate"))
      .select(rateKey(col("exchangedate"), col("cc")).as("k"))
    assert(keys.agg(countDistinct("k"), count(lit(1))).as[(Long, Long)]
      .head() === ((3L * 17576, 3L * 17576)))
    intercept[IllegalArgumentException] {
      graft.pipeline.CurrencyPipeline.transform(
        spark.read.schema(rawSchema).json(fixturePath), Seq("usd"))
    }
  }

  test("forecast: flat at last 7-row rolling mean, 5 future days") {
    // 10 days of USD rates 1..10 — last 7-row mean = mean(4..10) = 7
    val rates = (1 to 10).map(i =>
      ("USD", day(f"2025-09-$i%02d"), i.toDouble))
      .toDF("cc", "exchangedate", "rate")
    val out = forecast(rates).orderBy("forecast_date").collect()
    assert(out.length === 5)
    assert(out.map(_.getAs[Double]("forecast_rate")).forall(_ === 7.0))
    assert(out.head.getAs[java.sql.Date]("forecast_date") === day("2025-09-11"))
    assert(out.last.getAs[java.sql.Date]("forecast_date") === day("2025-09-15"))
  }

  test("forecast: shrinking frame (min_periods=1) on short history") {
    val rates = Seq(("EUR", day("2025-09-01"), 10.0),
                    ("EUR", day("2025-09-02"), 20.0))
      .toDF("cc", "exchangedate", "rate")
    val out = forecast(rates, horizon = 1).collect()
    assert(out.head.getAs[Double]("forecast_rate") === 15.0) // mean of 2 rows
  }

  test("report: LEAST(cnt,31) clamp — 40-row history uses row 31") {
    // rates 1..40 by date; newest rate 40; 30-back = rn 31 → rate 10
    val rates = (1 to 40).map(i =>
      ("USD", java.sql.Date.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(i)), i.toDouble))
      .toDF("cc", "exchangedate", "rate")
    val r = reportPerCurrency(rates, day("2025-03-01")).collect().head
    assert(r.getAs[Double]("last_rate") === 40.0)
    assert(r.getAs[Double]("change_month") === 40.0 - 10.0)
    assert(r.getAs[Long]("days") === 40L)
  }

  test("report: clamp degrades to oldest row on short history") {
    val rates = Seq(("USD", day("2025-09-01"), 10.0),
                    ("USD", day("2025-09-05"), 13.5))
      .toDF("cc", "exchangedate", "rate")
    val r = reportPerCurrency(rates, day("2025-09-06")).collect().head
    assert(r.getAs[Double]("change_month") === 3.5) // vs oldest, not null
  }

  test("report struct + txt rendering") {
    val rates = Seq(
      ("USD", day("2025-09-18"), 41.0), ("USD", day("2025-09-19"), 41.5),
      ("EUR", day("2025-09-18"), 48.0), ("EUR", day("2025-09-19"), 48.5))
      .toDF("cc", "exchangedate", "rate")
    val per = reportPerCurrency(rates, day("2025-09-19"))
    val row = reportStruct(per).collect().head
    val usd = row.getStruct(row.fieldIndex("usd"))
    assert(usd.getAs[Double]("last") === 41.5)
    assert(row.getStruct(row.fieldIndex("general"))
      .getAs[Long]("num_currencies") === 2L)
    val txt = reportTxt(per, day("2025-09-19"))
    assert(txt.contains("USD: 41.50 UAH") && txt.contains("+0.50 / 30d"))
    assert(txt.linesIterator.size === 7)
  }

  test("report txt: stale history (no rows within 365d) renders 'no data'" +
    " instead of NPE") {
    // all rates older than a year before asOf → year_min/year_max are null
    val rates = Seq(("USD", day("2020-01-02"), 24.0),
                    ("USD", day("2020-01-03"), 24.5))
      .toDF("cc", "exchangedate", "rate")
    val per = reportPerCurrency(rates, day("2025-09-19"))
    val txt = reportTxt(per, day("2025-09-19"))
    assert(txt.contains("year: no data"), txt)
    assert(txt.contains("USD: 24.50 UAH"), txt)
  }

  test("flagship entry returns rows (driver t1 analog)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
