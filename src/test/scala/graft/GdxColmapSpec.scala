package graft

import org.apache.spark.sql.functions._
import graft.sources.GdxSource

/** Column mapping on the GDX format (the Delta column-mapping /
  * Iceberg field-id contract): RENAME/DROP COLUMN are metadata-only
  * commits via the `#colmap` manifest header — physical slots never
  * move or get reused, every retained snapshot reads under the names
  * of its own era, and a truncate rewrite materializes the logical
  * layout back to identity. */
class GdxColmapSpec extends SparkSuite {
  import spark.implicits._

  private val fmt = "graft.sources.GdxSource"

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxcm_$tag").toString + "/t"

  private def read(dir: String, version: Int = -1) = {
    val r = spark.read.format(fmt).option("path", dir)
    (if (version > 0) r.option("version", version.toString) else r).load()
  }

  /** (k,v) base + evolved long column w on odd keys. */
  private def buildEvolved(dir: String): Unit = {
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save() // v1
    GdxSource.addColumn(dir, "w", org.apache.spark.sql.types.LongType) // v2
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "v", "w")
      .write.format(fmt).option("path", dir).mode("append").save() // v3
  }

  test("rename is metadata-only; every snapshot keeps its era's name") {
    val dir = freshDir("ren")
    buildEvolved(dir)
    val dataFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gdx")).map(f => (f.getName, f.length))
      .toSet
    val v = GdxSource.renameColumn(spark, dir, "w", "weight") // v4
    assert(v === 4)
    // no data file was touched
    assert(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gdx"))
      .map(f => (f.getName, f.length)).toSet === dataFiles)
    // the live table reads the new name with the same values
    assert(read(dir).schema.fieldNames.toSeq === Seq("k", "v", "weight"))
    assert(read(dir).filter(col("weight").isNotNull)
      .select("k", "weight").orderBy("k").collect().map(_.toSeq) ===
      Array(Seq(3L, 30L), Seq(4L, 40L)))
    // time travel BEFORE the rename sees the old name, same values
    assert(read(dir, 3).schema.fieldNames.toSeq === Seq("k", "v", "w"))
    assert(read(dir, 3).agg(sum("w")).head.getLong(0) === 70L)
    // writes under the new name land and read back
    Seq((5L, "e", 50L)).toDF("k", "v", "weight")
      .write.format(fmt).option("path", dir).mode("append").save()
    assert(read(dir).agg(sum("weight")).head.getLong(0) === 120L)
  }

  test("a planned latest scan decodes by its own snapshot's layout when " +
      "a column change commits before its read") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    val dir = freshDir("pin")
    buildEvolved(dir) // v3: (k, v, w), identity layout
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("w", LongType)))
    val scan = new graft.sources.GdxScan(dir, -1, Array.empty, -1, None,
      required = schema, tableSchema = schema)
    val parts = scan.planInputPartitions()
    // v4 drops w, v5 adds x in a fresh slot: the latest layout now maps
    // the third logical field to physical slot 3, which v3's files lack
    GdxSource.dropColumn(spark, dir, "w")
    GdxSource.addColumn(dir, "x", LongType)
    val factory = scan.createReaderFactory()
    val got = parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r).takeWhile(_.next()).map { rr =>
        val row = rr.get()
        (row.getLong(0), row.getUTF8String(1).toString,
          if (row.isNullAt(2)) None else Some(row.getLong(2)))
      }.toList
      finally r.close()
    }
    assert(got.sortBy(_._1) === Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30L)), (4L, "d", Some(40L))))
  }

  test("drop is metadata-only; the slot is never reused by add") {
    val dir = freshDir("drop")
    buildEvolved(dir)
    GdxSource.dropColumn(spark, dir, "w") // v4
    assert(read(dir).schema.fieldNames.toSeq === Seq("k", "v"))
    // old snapshots still read the dropped column (their era's schema)
    assert(read(dir, 3).agg(sum("w")).head.getLong(0) === 70L)
    // appends after the drop work (dead slot null-filled)
    Seq((5L, "e")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("append").save() // v5
    assert(read(dir).count() === 5L)
    // a LATER column must claim a FRESH physical slot: old files'
    // w-bytes must never leak into it
    GdxSource.addColumn(dir, "score",
      org.apache.spark.sql.types.LongType) // v6
    assert(read(dir).filter(col("score").isNotNull).count() === 0L,
      "dropped column's bytes leaked into the re-added slot")
    Seq((6L, "f", 600L)).toDF("k", "v", "score")
      .write.format(fmt).option("path", dir).mode("append").save()
    assert(read(dir).agg(sum("score")).head.getLong(0) === 600L)
    // and re-adding the same NAME is fine too (fresh slot again)
    GdxSource.addColumn(dir, "w", org.apache.spark.sql.types.LongType)
    assert(read(dir).filter(col("w").isNotNull).count() === 0L)
  }

  test("core columns and constraint-referenced columns refuse, loudly") {
    val dir = freshDir("refuse")
    buildEvolved(dir)
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(GdxSource.renameColumn(spark, dir, "k", "id"))
      .contains("classic core"))
    assert(msg(GdxSource.dropColumn(spark, dir, "v"))
      .contains("classic core"))
    assert(msg(GdxSource.renameColumn(spark, dir, "w", "v"))
      .contains("already exists"))
    assert(msg(GdxSource.dropColumn(spark, dir, "nope"))
      .contains("no column"))
    GdxSource.addConstraint(spark, dir, "w_pos", "w IS NULL OR w > 0")
    assert(msg(GdxSource.dropColumn(spark, dir, "w"))
      .contains("w_pos"))
    assert(msg(GdxSource.renameColumn(spark, dir, "w", "weight"))
      .contains("w_pos"))
    // dropping the constraint unblocks the rename
    GdxSource.dropConstraint(dir, "w_pos")
    GdxSource.renameColumn(spark, dir, "w", "weight")
    assert(read(dir).schema.fieldNames.contains("weight"))
  }

  test("OPTIMIZE materializes the logical layout and resets the map") {
    val dir = freshDir("opt")
    buildEvolved(dir)
    GdxSource.dropColumn(spark, dir, "w")
    GdxSource.addColumn(dir, "score", org.apache.spark.sql.types.LongType)
    Seq((9L, "z", 900L)).toDF("k", "v", "score")
      .write.format(fmt).option("path", dir).mode("append").save()
    val before = read(dir).orderBy("k").collect().map(_.toSeq)
    GdxSource.compact(spark, dir, target = 1)
    assert(GdxSource.committedColmap(dir, GdxSource.driverConf()).isEmpty,
      "a truncate rewrite must reset the mapping to identity")
    assert(read(dir).orderBy("k").collect().map(_.toSeq) === before)
  }

  test("DELETE/UPDATE and the changefeed operate across the mapping") {
    val dir = freshDir("dml")
    buildEvolved(dir)
    GdxSource.renameColumn(spark, dir, "w", "weight") // v4
    // UPDATE binds the LOGICAL name and writes the physical slot
    GdxSource.update(spark, dir, col("weight") === 30L,
      Map("weight" -> lit(31L))) // v5
    assert(read(dir).filter(col("k") === 3L).head.getLong(2) === 31L)
    GdxSource.delete(spark, dir, col("weight") === 40L) // v6
    assert(read(dir).count() === 3L)
    // the changefeed reads every era's file under toV's logical schema
    val ch = GdxSource.tableChanges(spark, dir, 4, 6)
      .select("version", "change_type", "k", "weight")
      .orderBy("version", "change_type", "k").collect().map(_.toSeq)
    assert(ch === Array(
      Seq(5, "delete", 3L, 30L), Seq(5, "insert", 3L, 31L),
      Seq(6, "delete", 4L, 40L)))
  }

  test("ALTER TABLE RENAME/DROP COLUMN drive through SQL; catalog " +
      "schema stays in sync") {
    val s = org.apache.spark.sql.graft.ColumnBridge
      .sessionWithExtensions(spark, new GraftExtensions())
    val dir = freshDir("sql")
    s.sql(s"""CREATE TABLE gdxcm_t (k BIGINT, v STRING)
      USING graft.sources.GdxSource OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gdxcm_t VALUES (1, 'a'), (2, 'b')")
      GdxSource.addColumn(dir, "w", org.apache.spark.sql.types.LongType)
      GdxMaintenanceSql_syncForTest(s, "gdxcm_t", dir)
      s.sql("INSERT INTO gdxcm_t VALUES (3, 'c', 30)")
      val v = s.sql("ALTER TABLE gdxcm_t RENAME COLUMN w TO weight")
        .head.getLong(0)
      assert(v >= 4L)
      // the catalog-resolved read presents the new name
      assert(s.table("gdxcm_t").schema.fieldNames.toSeq ===
        Seq("k", "v", "weight"))
      assert(s.sql("SELECT sum(weight) FROM gdxcm_t").head.getLong(0)
        === 30L)
      s.sql("ALTER TABLE gdxcm_t DROP COLUMN weight")
      assert(s.table("gdxcm_t").schema.fieldNames.toSeq === Seq("k", "v"))
      assert(s.sql("SELECT count(*) FROM gdxcm_t").head.getLong(0) === 3L)
      // non-GDX targets reach Spark's own ALTER handling
      s.sql("DROP TABLE IF EXISTS gdxcm_plain")
      s.sql("CREATE TABLE gdxcm_plain (k BIGINT) USING parquet")
      val e = intercept[Exception] {
        s.sql("ALTER TABLE gdxcm_plain DROP COLUMN k").collect()
      }
      assert(!e.getMessage.contains("is not a GDX table"), e.getMessage)
      s.sql("DROP TABLE IF EXISTS gdxcm_plain")
      ()
    } finally s.sql("DROP TABLE IF EXISTS gdxcm_t")
  }

  /** addColumn is engine-API (no SQL form); after it the catalog entry
    * must be synced the same way the SQL commands do internally. */
  private def GdxMaintenanceSql_syncForTest(
      s: org.apache.spark.sql.SparkSession, tbl: String,
      dir: String): Unit =
    s.sessionState.catalog.alterTableDataSchema(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl),
      GdxSource.committedSchema(dir, GdxSource.driverConf()))
}
