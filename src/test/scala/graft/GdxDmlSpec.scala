package graft

import org.apache.spark.sql.AnalysisException

/** SQL DML front door for GDX tables (plans/GdxDml.scala): DELETE FROM
  * / UPDATE / MERGE INTO statements route to the format's transactional
  * row-level operations. Analyzer extension points bind at session
  * construction — the shared test session has none — so these tests run
  * on a sibling session with GraftExtensions active (same SparkContext,
  * shared catalog via SharedState). */
class GdxDmlSpec extends SparkSuite {

  private lazy val s = org.apache.spark.sql.graft.ColumnBridge
    .sessionWithExtensions(spark, new GraftExtensions())

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxdml_$tag").toString + "/t"

  test("UPDATE / DELETE FROM / MERGE INTO drive the GDX row-level ops") {
    val dir = freshDir("dml")
    s.sql(s"""CREATE TABLE gdxdml_t (k BIGINT, v STRING)
      USING graft.sources.GdxSource OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gdxdml_t VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
      // UPDATE returns (version, n_rows) and rewrites via DV+rewrite
      val upd = s.sql(
        "UPDATE gdxdml_t SET v = concat(v, '!') WHERE k >= 3").collect()
      assert(upd.head.getLong(1) === 2, "two rows match k >= 3")
      assert(s.sql("SELECT v FROM gdxdml_t WHERE k = 4")
        .head.getString(0) === "d!")
      // DELETE returns (version, n_rows) and lands as a DV commit
      val del = s.sql("DELETE FROM gdxdml_t WHERE k = 2").collect()
      assert(del.head.getLong(1) === 1)
      val preMergeV = del.head.getLong(0)
      // MERGE: LWW upsert — k=1 updates, k=9 inserts
      s.sql("""CREATE OR REPLACE TEMP VIEW gdxdml_src AS
        SELECT * FROM VALUES (1, 'A'), (9, 'i') AS t(k, v)""")
      s.sql("""MERGE INTO gdxdml_t t USING gdxdml_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      assert(s.sql("SELECT k, v FROM gdxdml_t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "A"), (3L, "c!"), (4L, "d!"), (9L, "i")))
      // snapshot isolation: the pre-merge version still reads intact
      val pre = s.read.format("graft.sources.GdxSource")
        .option("path", dir).option("version", preMergeV.toString).load()
      assert(pre.collect().map(r => (r.getLong(0), r.getString(1))).toSet
        === Set((1L, "a"), (3L, "c!"), (4L, "d!")))
    } finally s.sql("DROP TABLE IF EXISTS gdxdml_t")
  }

  test("MERGE shapes beyond the LWW contract route to the general path") {
    val dir = freshDir("dmlgen")
    s.sql(s"""CREATE TABLE gdxdml_gen (k BIGINT, v STRING)
      USING graft.sources.GdxSource OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gdxdml_gen VALUES (1,'a'),(2,'b')")
      s.sql("""CREATE OR REPLACE TEMP VIEW gdxdml_gsrc AS
        SELECT * FROM VALUES (1, 'A'), (9, 'i') AS t(k, v)""")
      // conditional matched action: only k=1 matches AND satisfies
      // the condition
      s.sql("""MERGE INTO gdxdml_gen t USING gdxdml_gsrc s ON t.k = s.k
        WHEN MATCHED AND s.v = 'A' THEN UPDATE SET v = s.v""")
      assert(s.sql("SELECT k, v FROM gdxdml_gen ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "A"), (2L, "b")))
      // TARGET self-assignment `SET v = t.v` means "keep the target's
      // value" — ANSI semantics, never source-wins
      s.sql("""MERGE INTO gdxdml_gen t USING gdxdml_gsrc s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET k = s.k, v = t.v
        WHEN NOT MATCHED THEN INSERT *""")
      assert(s.sql("SELECT k, v FROM gdxdml_gen ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "A"), (2L, "b"), (9L, "i")))
      // non-key join condition: a general predicate merge — k=9's 'i'
      // matches no target v, every target row is source-unmatched
      s.sql("""CREATE OR REPLACE TEMP VIEW gdxdml_vsrc AS
        SELECT * FROM VALUES ('A', 'hit') AS t(mv, tag)""")
      s.sql("""MERGE INTO gdxdml_gen t USING gdxdml_vsrc s ON t.v = s.mv
        WHEN MATCHED THEN UPDATE SET v = s.tag""")
      assert(s.sql("SELECT v FROM gdxdml_gen WHERE k = 1")
        .head.getString(0) === "hit")
    } finally s.sql("DROP TABLE IF EXISTS gdxdml_gen")
  }

  test("an unconditional upsert MERGE leaves files outside the source's " +
      "key range untouched") {
    import spark.implicits._
    val gdx = graft.sources.GdxSource
    val dir = freshDir("dmlscope")
    s.sql(s"""CREATE TABLE gdxdml_scope (k BIGINT, v STRING)
      USING graft.sources.GdxSource OPTIONS (path '$dir')""")
    try {
      // two range-disjoint files: k 2..20 and k 22..40
      (1L to 20L).map(i => (2 * i, s"v${2 * i}")).toDF("k", "v")
        .repartitionByRange(2, $"k")
        .write.format("graft.sources.GdxSource").option("path", dir)
        .mode("append").save()
      val conf = gdx.driverConf()
      val files = gdx.committedEntries(dir, conf)
      assert(files.size === 2, files)
      val hi = files.maxBy(_.stats.map(_.minK).getOrElse(0L))
      assert(hi.stats.exists(_.minK > 20L), hi)
      val before = gdx.listVersions(dir, conf)
      // every source key (one match, one insert) lies in the low file
      s.sql("""CREATE OR REPLACE TEMP VIEW gdxdml_ssrc AS
        SELECT * FROM VALUES (4, 'X'), (5, 'ins') AS t(k, v)""")
      s.sql("""MERGE INTO gdxdml_scope t USING gdxdml_ssrc s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      val after = gdx.committedEntries(dir, conf)
      assert(after.exists(e => e.name == hi.name && e.dv.isEmpty),
        s"the high file was rewritten or DV'd: $after")
      assert(gdx.listVersions(dir, conf) === before :+ (before.last + 1))
      val want = ((1L to 20L).map(i => (2 * i, s"v${2 * i}")).toMap +
        (4L -> "X") + (5L -> "ins")).toSeq.sorted
      assert(s.sql("SELECT k, v FROM gdxdml_scope ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq === want)
    } finally s.sql("DROP TABLE IF EXISTS gdxdml_scope")
  }

  test("UPDATE SET is simultaneous assignment: SET v = w, w = v swaps") {
    val dir = freshDir("dmlswap")
    s.sql(s"""CREATE TABLE gdxdml_swap (k BIGINT, v STRING, w STRING)
      USING graft.sources.GdxSource OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gdxdml_swap VALUES (1,'a','x'),(2,'b','y')")
      // every SET expression evaluates against the OLD row (SQL
      // semantics) — a sequential apply would leave both columns = old w
      s.sql("UPDATE gdxdml_swap SET v = w, w = v WHERE k = 1")
      val r = s.sql("SELECT v, w FROM gdxdml_swap ORDER BY k").collect()
      assert((r(0).getString(0), r(0).getString(1)) === ("x", "a"))
      assert((r(1).getString(0), r(1).getString(1)) === ("b", "y"))
    } finally s.sql("DROP TABLE IF EXISTS gdxdml_swap")
  }

  test("non-GDX targets pass through to Spark's own handling") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gdxdml_pq").toString
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(dir)
    s.sql(s"CREATE OR REPLACE TEMP VIEW gdxdml_pq USING parquet " +
      s"OPTIONS (path '$dir')")
    // the rule must NOT claim a parquet relation; Spark's own error
    // (DELETE unsupported for v1 tables) surfaces instead of ours
    val e = intercept[Exception](
      s.sql("DELETE FROM gdxdml_pq WHERE k = 1"))
    assert(!e.getMessage.contains("gdx"), e.getMessage)
  }
}
