package graft.streaming

import graft.pipeline.CurrencyPipeline
import graft.sources.{GdxMergeClause, GdxSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming upsert topology (SURVEY.md §2.10): file-source stream over
  * the raw landing zone → transform → foreachBatch last-write-wins MERGE
  * into the GDX rates table. This is the reference's daily
  * extract→transform→load collapsed into one incremental query: each new
  * landed file becomes a micro-batch, and re-delivered files converge by
  * C2 merge semantics instead of duplicating.
  *
  * Each micro-batch is stamped with its batch id as `ingest_ts`, reduced
  * to one row per key (`CurrencyPipeline.latestWins`, so no target row
  * matches two source rows), keyed by `CurrencyPipeline.rateKey`, and
  * landed with the same MERGE the daily upsert runs:
  * `ON t.k = s.k WHEN MATCHED AND s.ingest_ts >= t.ingest_ts THEN
  * UPDATE SET * WHEN NOT MATCHED THEN INSERT *`. The first batch creates
  * the table. GDX commits are atomic and CAS'd, so a crash mid-batch
  * leaves the table at the previous version and the replayed batch
  * re-applies idempotently; the MERGE touches only files whose key range
  * meets the batch's, never the whole table.
  */
object StreamMerge {

  /** Start the incremental ingest: returns the query; stop via
    * Trigger.AvailableNow semantics (terminates when caught up). */
  def run(spark: SparkSession, rawDir: String, tablePath: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .schema(CurrencyPipeline.rawSchema)
      .option("multiLine", value = true)
      .option("pathGlobFilter", "*.json")
      .json(s"$rawDir/ingest_date=*")
    CurrencyPipeline.transform(raw)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stamped = CurrencyPipeline.latestWins(batch.withColumn(
          "ingest_ts", expr(s"timestamp_micros(${batchId}L)")))
        val rows = stamped.select(
          CurrencyPipeline.rateKey(col("exchangedate"), col("cc")).as("k") +:
            stamped.columns.toSeq.map(col): _*)
        if (GdxSource.listVersions(tablePath, GdxSource.driverConf()).isEmpty)
          rows.write.format("graft.sources.GdxSource")
            .option("path", tablePath).mode("overwrite").save()
        else {
          val all = Some(rows.columns.toSeq.map(c => c -> s"__s_$c"))
          GdxSource.mergeGeneral(spark, tablePath,
            rows.toDF(rows.columns.toSeq.map("__s_" + _): _*),
            "__t_k = __s_k",
            matched = Seq(GdxMergeClause(
              Some("__s_ingest_ts >= __t_ingest_ts"), all)),
            notMatched = Seq(GdxMergeClause(None, all)),
            notMatchedBySource = Nil,
            pruneKeySql = Some("__s_k"))
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tablePath + ".checkpoint")
      .start()
  }
}
