package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-side parity (SURVEY.md §2.1, §2.2): landing, partition
  * discovery, and backfill replay.
  *
  * Reference semantics (cited in /root/reference):
  *  - S1 HTTP fetch (src/extract.py:13-18) is orchestration, not engine
  *    (SURVEY §7.4): the engine boundary starts at a landed payload.
  *    `landRaw` is the K1 sink: payload → dated partition dir.
  *  - S3 latest-partition discovery (src/transform.py:12-15): pick the
  *    newest dated dir by name — name-ordering, not mtime (S4), for
  *    determinism (SURVEY §2.1).
  *  - S7 glob batch scan + backfill (src/additional/load_all.py:62-76):
  *    replay every raw file through transform+merge; order-independent
  *    because recency rides on ingest_ts (SURVEY §2.10).
  *
  * Scale notes: dated `ingest_date=` partitions make discovery a catalog/
  * listing operation and let Spark partition-prune instead of globbing;
  * backfill reads all partitions in ONE job (Spark globs natively — the
  * reference's per-file Python loop disappears).
  */
object Ingest {

  /** K1: land a raw payload under rawDir/ingest_date=<date>/. */
  def landRaw(spark: SparkSession, payloadPath: String, rawDir: String,
              ingestDate: String): Unit =
    CurrencyPipeline.readRaw(spark, payloadPath)
      .write.mode("overwrite").json(s"$rawDir/ingest_date=$ingestDate")

  /** S3: newest dated partition by lexicographic name (YYYY-MM-DD sorts
    * chronologically; mtime is load-order-dependent and is avoided). */
  def latestPartition(dir: String): Option[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_date="))
      .map(_.getName.stripPrefix("ingest_date="))
      .sorted(Ordering[String].reverse)
      .headOption
  }

  /** S7 + C2: backfill — one glob scan over every landed partition,
    * transform once, then last-write-wins merge keyed by the partition's
    * ingest date (so replays and out-of-order loads converge to the same
    * table as sequential daily loads). */
  def backfill(spark: SparkSession, rawDir: String): DataFrame = {
    val raw = spark.read
      .schema(CurrencyPipeline.rawSchema
        .add("ingest_date", org.apache.spark.sql.types.StringType))
      .option("basePath", rawDir)
      .json(s"$rawDir/ingest_date=*")
    CurrencyPipeline.latestWins(CurrencyPipeline.transform(
      raw.withColumn("ingest_ts", to_timestamp(col("ingest_date")))
        .drop("ingest_date")))
  }
}
