package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.GdxSource

/** The GDX line format end to end on one table that carries every cell
  * codec: scalars, numeric and struct arrays, string and struct maps, a
  * struct with a nested collection, VARIANT, a renamed column under a
  * non-identity column mapping (a dropped slot), and an era column with
  * an initial default. The engine's reader and writer run over all of
  * them through an identity UPDATE, the changefeed and a compaction. */
class GdxLineFormatSpec extends SparkSuite {

  private val fmt = "graft.sources.GdxSource"
  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxlf_$tag").toString + "/t"
  private def conf = GdxSource.driverConf()

  private val turn = StructType(Seq(
    StructField("role", StringType), StructField("content", StringType)))
  private val score = StructType(Seq(
    StructField("v", DoubleType), StructField("n", LongType)))
  private val src = StructType(Seq(
    StructField("url", StringType),
    StructField("ids", ArrayType(LongType))))
  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("s", StringType),
    StructField("d", DoubleType),
    StructField("amt", DecimalType(12, 2)),
    StructField("day", DateType),
    StructField("ts", TimestampType),
    StructField("flag", BooleanType),
    StructField("emb", ArrayType(DoubleType)),
    StructField("turns", ArrayType(turn)),
    StructField("meta", MapType(StringType, StringType)),
    StructField("scores", MapType(StringType, score)),
    StructField("src", src),
    StructField("j", StringType),
    StructField("w", LongType),
    StructField("gone", StringType)))

  private def row(k: Long): Row =
    if (k % 5 == 0) Row(k, null, null, null, null, null, null, null, null,
      null, null, null, null, null, null)
    else Row(k, s"text, (with) = \\ and\ttab $k", k * 1.5,
      new java.math.BigDecimal(s"$k.25"),
      java.time.LocalDate.ofEpochDay(19000 + k),
      java.time.Instant.ofEpochSecond(1700000000L + k),
      k % 2 == 0, Seq(k.toDouble, -0.5), Seq(Row("user", s"hi, $k"),
        Row("bot", null)), Map(s"b=$k" -> "x,y", "a" -> "(z)"),
      Map("q" -> Row(k * 0.1, k), "p" -> Row(null, 1L)),
      Row(s"http://e/$k", Seq(k, k + 1)),
      s"""{"n": $k, "tag": "t$k", "xs": [1, "two"]}""", k * 10, s"g$k")

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .withColumn("j", parse_json(col("j")))

  /** Every column, VARIANT as its JSON text, ordered by key. */
  private def canon(df: DataFrame): Seq[Row] =
    df.withColumn("j", to_json(col("j"))).orderBy("k").collect().toSeq

  private def scan(dir: String): Seq[Row] =
    canon(spark.read.format(fmt).option("path", dir).load())

  test("every cell codec survives the engine: an identity UPDATE keeps " +
      "the scan, the changefeed shows it once deleted and once " +
      "inserted, and compactSmall keeps it") {
    val dir = freshDir("all")
    frame((1L to 10L).map(row))
      .write.format(fmt).option("path", dir).mode("append").save()
    GdxSource.renameColumn(spark, dir, "w", "weight")
    GdxSource.dropColumn(spark, dir, "gone")
    GdxSource.addColumn(dir, "era", LongType, default = Some("7"))
    frame((11L to 15L).map(row)).drop("gone")
      .withColumnRenamed("w", "weight")
      .withColumn("era", when(col("k") === 12L, lit(null))
        .otherwise(col("k") * 100))
      .write.format(fmt).option("path", dir).mode("append").save()
    val before = scan(dir)
    assert(before.size === 15)
    // the mapping is real: a dead slot sits between the columns
    assert(GdxSource.committedColmap(dir, conf).exists(cm =>
      cm.arity > cm.slots.size))
    assert(before.head.getAs[Long]("era") === 7L) // era default
    assert(before.find(_.getLong(0) == 12L).get.isNullAt(
      before.head.fieldIndex("era")))

    val v = GdxSource.listVersions(dir, conf).max
    val (v2, updated) = GdxSource.update(spark, dir, lit(true),
      Map("k" -> col("k")))
    assert(v2 === v + 1 && updated === 15L)
    assert(scan(dir) === before)

    val changes = GdxSource.tableChanges(spark, dir, v, v2)
    def side(kind: String) = canon(changes.filter(col("change_type") ===
      kind).drop("version", "change_type"))
    assert(side("delete") === before)
    assert(side("insert") === before)

    val (filesBefore, filesAfter) =
      GdxSource.compactSmall(spark, dir, smallBytes = 1L << 30)
    assert(filesAfter < filesBefore)
    assert(scan(dir) === before)
  }
}
