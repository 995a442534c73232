package graft

import org.apache.spark.sql.AnalysisException

/** General MERGE over GDX tables (sources/GdxSource.mergeGeneral +
  * plans/GdxDml.GdxMergeGeneralCommand): the full ANSI clause matrix —
  * conditional WHEN MATCHED UPDATE/DELETE, conditional WHEN NOT
  * MATCHED INSERT (partial column lists), WHEN NOT MATCHED BY SOURCE
  * UPDATE/DELETE — with first-clause-wins ordering, ambiguous-match
  * refusal, one-commit atomicity, and zone-map file pruning. Runs on a
  * sibling session with GraftExtensions active (same SparkContext). */
class GdxMergeGeneralSpec extends SparkSuite with RefusalHelper {

  private lazy val s = org.apache.spark.sql.graft.ColumnBridge
    .sessionWithExtensions(spark, new GraftExtensions())

  private val fmt = "graft.sources.GdxSource"

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxmrg_$tag").toString + "/t"

  private def rows(tbl: String): Seq[(Long, String, Any)] =
    s.sql(s"SELECT k, v, w FROM $tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSeq

  test("full clause matrix: conditional update/delete/insert + NMBS") {
    val dir = freshDir("matrix")
    s.sql(s"""CREATE TABLE gm_t (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("""INSERT INTO gm_t VALUES
        (1,'keep',10),(2,'drop',20),(3,'bump',30),(4,'stale',40),
        (5,'reap',50),(6,'plain',60)""")
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_src AS SELECT * FROM VALUES
        (1, 'n1', 100L), (2, 'n2', 200L), (3, 'n3', 5L),
        (7, 'new', 700L), (8, 'low', 3L) AS t(k, nv, nw)""")
      val m = s.sql("""MERGE INTO gm_t t USING gm_src s ON t.k = s.k
        WHEN MATCHED AND t.v = 'drop' THEN DELETE
        WHEN MATCHED AND s.nw > 50 THEN UPDATE SET v = s.nv, w = s.nw
        WHEN MATCHED THEN UPDATE SET w = t.w + s.nw
        WHEN NOT MATCHED AND s.nw > 100 THEN INSERT (k, v) VALUES (s.k, s.nv)
        WHEN NOT MATCHED BY SOURCE AND t.v = 'reap' THEN DELETE
        WHEN NOT MATCHED BY SOURCE AND t.v = 'stale'
          THEN UPDATE SET v = concat('S_', t.v)""").collect().head
      // metrics: 1 insert (k=7; k=8 fails nw>100), 3 updates
      // (k=1 clause2, k=3 clause3, k=4 NMBS-update), 2 deletes
      // (k=2 matched-delete, k=5 NMBS-delete)
      assert((m.getLong(1), m.getLong(2), m.getLong(3)) === ((1L, 3L, 2L)))
      assert(rows("gm_t") === Seq(
        (1L, "n1", 100L),          // matched, nw>50 → full update
        (3L, "bump", 35L),         // matched fallback → w = 30 + 5
        (4L, "S_stale", 40L),      // NMBS update, w carried
        (6L, "plain", 60L),        // NMBS, no clause applies → untouched
        (7L, "new", null)))        // partial INSERT → w NULL
      // ONE commit: seed + merge
      assert(graft.sources.GdxSource.listVersions(dir,
        graft.sources.GdxSource.driverConf()) === Seq(1, 2))
      // snapshot isolation: version 1 still reads the pre-merge table
      val pre = s.read.format(fmt).option("path", dir)
        .option("version", "1").load()
      assert(pre.count() === 6)
    } finally s.sql("DROP TABLE IF EXISTS gm_t")
  }

  test("first-clause-wins: clause order decides when both apply") {
    val dir = freshDir("order")
    s.sql(s"""CREATE TABLE gm_ord (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gm_ord VALUES (1,'a',1)")
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_osrc AS
        SELECT * FROM VALUES (1, 'x', 9L) AS t(k, nv, nw)""")
      // both conditions true for k=1; the FIRST clause must win
      s.sql("""MERGE INTO gm_ord t USING gm_osrc s ON t.k = s.k
        WHEN MATCHED AND s.nw > 0 THEN UPDATE SET v = 'first'
        WHEN MATCHED AND s.nw > 5 THEN UPDATE SET v = 'second'""")
      assert(rows("gm_ord") === Seq((1L, "first", 1L)))
    } finally s.sql("DROP TABLE IF EXISTS gm_ord")
  }

  test("ambiguous match: >1 source row per target row is refused") {
    val dir = freshDir("dup")
    s.sql(s"""CREATE TABLE gm_dup (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gm_dup VALUES (1,'a',1)")
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_dsrc AS SELECT * FROM VALUES
        (1, 'x', 1L), (1, 'y', 2L) AS t(k, nv, nw)""")
      // the images land first; the DV write finds the repeated target
      // position, and nothing is committed
      val e = refusedAfterWrites(Seq(dir), rows("gm_dup"))(s.sql(
        """MERGE INTO gm_dup t USING gm_dsrc s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.nv"""))
      assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8).exists(
          _.isInstanceOf[graft.sources.GdxMergeCardinalityException]),
        e.getMessage)
      assert(rows("gm_dup") === Seq((1L, "a", 1L)))
      // the rule holds whichever clause applies, and when none does
      // (the unmatched k=5 is inserted, so the writes are not empty)
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_dsrc2 AS SELECT * FROM VALUES
        (1, 'x', 1L), (1, 'y', 2L), (5, 'z', 3L) AS t(k, nv, nw)""")
      val e2 = refusedAfterWrites(Seq(dir), rows("gm_dup"))(s.sql(
        """MERGE INTO gm_dup t USING gm_dsrc2 s ON t.k = s.k
          WHEN MATCHED AND s.nw > 5 THEN DELETE
          WHEN NOT MATCHED THEN INSERT (k, v, w) VALUES (s.k, s.nv, s.nw)"""))
      assert(Iterator.iterate(e2)(_.getCause)
        .takeWhile(_ != null).take(8).exists(
          _.isInstanceOf[graft.sources.GdxMergeCardinalityException]),
        e2.getMessage)
    } finally s.sql("DROP TABLE IF EXISTS gm_dup")
  }

  test("a 2-row upsert MERGE into a multi-file table runs at most 4 " +
      "Spark jobs") {
    val dir = freshDir("jobs")
    s.sql(s"""CREATE TABLE gm_jobs (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gm_jobs VALUES (1,'a',1),(2,'b',1)")
      s.sql("INSERT INTO gm_jobs VALUES (3,'c',1),(4,'d',1)")
      s.sql("INSERT INTO gm_jobs VALUES (5,'e',1),(6,'f',1)")
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_jsrc AS SELECT * FROM VALUES
        (3L, 'c2', 2L), (9L, 'i', 2L) AS t(k, v, w)""")
      val (m, jobs) = jobsDuring(s.sql(
        """MERGE INTO gm_jobs t USING gm_jsrc s ON t.k = s.k
          WHEN MATCHED AND s.w >= t.w THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""").collect().head)
      assert((m.getLong(1), m.getLong(2), m.getLong(3)) === ((1L, 1L, 0L)))
      // the one-pass source-key window, the broadcast of the small
      // target (its manifest bytes are the join's size statistics),
      // the image write and the DV write
      assert(jobs.size <= 4, jobs.mkString("\n"))
      assert(rows("gm_jobs") === Seq((1L, "a", 1L), (2L, "b", 1L),
        (3L, "c2", 2L), (4L, "d", 1L), (5L, "e", 1L), (6L, "f", 1L),
        (9L, "i", 2L)))
    } finally s.sql("DROP TABLE IF EXISTS gm_jobs")
  }

  test("assignments are simultaneous: SET v = w-style swap via source") {
    val dir = freshDir("swap")
    s.sql(s"""CREATE TABLE gm_swap (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gm_swap VALUES (1,'a',5)")
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_ssrc AS
        SELECT * FROM VALUES (1L) AS t(k)""")
      // both values evaluate against the OLD row: w := w*2 sees 5, and
      // v := old w too — not the freshly doubled one
      s.sql("""MERGE INTO gm_swap t USING gm_ssrc s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET w = t.w * 2, v = cast(t.w AS STRING)""")
      assert(rows("gm_swap") === Seq((1L, "5", 10L)))
    } finally s.sql("DROP TABLE IF EXISTS gm_swap")
  }

  test("CHECK constraints gate merged images; violation commits nothing") {
    val dir = freshDir("check")
    s.sql(s"""CREATE TABLE gm_chk (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gm_chk VALUES (1,'a',1)")
      s.sql("ALTER TABLE gm_chk ADD CONSTRAINT w_pos CHECK (w > 0)")
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_csrc AS
        SELECT * FROM VALUES (1, -5L) AS t(k, nw)""")
      // the violating image and the DV are written, then refused
      val e = refusedAfterWrites(Seq(dir), rows("gm_chk"))(s.sql(
        """MERGE INTO gm_chk t USING gm_csrc s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET w = s.nw"""))
      assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8).exists(
          _.isInstanceOf[graft.sources.GdxConstraintViolationException]),
        e.getMessage)
      assert(rows("gm_chk") === Seq((1L, "a", 1L)))
    } finally s.sql("DROP TABLE IF EXISTS gm_chk")
  }

  test("zone-map pruning: non-intersecting files are never opened") {
    val dir = freshDir("prune")
    s.sql(s"""CREATE TABLE gm_pr (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      // two key-disjoint files: ONE commit each
      s.sql("INSERT INTO gm_pr VALUES (1,'a',1),(2,'b',2)")
      s.sql("INSERT INTO gm_pr VALUES (100,'x',100),(200,'y',200)")
      // corrupt the LOW file on disk: if the merge (keys 100..200, no
      // NMBS branch) pruned it, the statement succeeds — opening it
      // would throw. The corrupted-file proof that pruning is real.
      val conf = graft.sources.GdxSource.driverConf()
      val entries = graft.sources.GdxSource.committedEntries(dir, conf)
      val lows = entries.filter(_.stats.exists(_.maxK <= 2))
      assert(lows.nonEmpty)
      lows.foreach { low =>
        java.nio.file.Files.write(new java.io.File(dir, low.name).toPath,
          "not\ta\tgdx\nline".getBytes("UTF-8"))
      }
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_psrc AS
        SELECT * FROM VALUES (100, 'X'), (150, 'I') AS t(k, nv)""")
      val m = s.sql("""MERGE INTO gm_pr t USING gm_psrc s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""")
        .collect().head
      assert((m.getLong(1), m.getLong(2), m.getLong(3)) === ((1L, 1L, 0L)))
      // the carried files' manifest entries are byte-identical (no DV)
      val after = graft.sources.GdxSource.committedEntries(dir, conf)
      lows.foreach { low =>
        assert(after.find(_.name == low.name).get.manifestLine
          === low.manifestLine)
      }
      // an NMBS branch forces the whole-table walk → the corrupt file
      // IS opened and the statement fails
      intercept[Exception](s.sql(
        """MERGE INTO gm_pr t USING gm_psrc s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.nv
          WHEN NOT MATCHED BY SOURCE THEN DELETE"""))
    } finally s.sql("DROP TABLE IF EXISTS gm_pr")
  }

  test("range-scoped MERGE: static key bounds in a composite ON carry " +
      "out-of-window files by reference even when the source spans " +
      "everything") {
    val dir = freshDir("range")
    s.sql(s"""CREATE TABLE gm_rng (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      // three key-disjoint files: one commit each
      s.sql("INSERT INTO gm_rng VALUES (1,'lo',1),(2,'lo',2)")
      s.sql("INSERT INTO gm_rng VALUES (100,'mid',100),(150,'mid',150)")
      s.sql("INSERT INTO gm_rng VALUES (900,'hi',900),(950,'hi',950)")
      val conf = graft.sources.GdxSource.driverConf()
      val entries = graft.sources.GdxSource.committedEntries(dir, conf)
      val outside = entries.filter(_.stats.exists(st =>
        st.maxK <= 2 || st.minK >= 900))
      assert(outside.size >= 2, entries.map(_.manifestLine).toString)
      // corrupt BOTH out-of-window files: the SOURCE spans 1..950, so
      // the pre-scan window alone cannot prune — only the ON's static
      // t.k bounds can. Opening either file would fail the statement.
      outside.foreach(e => java.nio.file.Files.write(
        new java.io.File(dir, e.name).toPath,
        "not\ta\tgdx\nline".getBytes("UTF-8")))
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_rsrc AS SELECT * FROM
        VALUES (1, 'X'), (150, 'R'), (950, 'X'), (175, 'N') AS t(k, nv)""")
      val m = s.sql(
        """MERGE INTO gm_rng t USING gm_rsrc s
          ON t.k = s.k AND t.k >= 100 AND t.k < 200
          WHEN MATCHED THEN UPDATE SET v = s.nv
          WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""")
        .collect().head
      // k=150 updates; 1, 950, 175 are unmatched UNDER THE SCOPED ON
      // (the two out-of-window source keys insert fresh rows — ANSI
      // semantics: the ON is the match condition, not a filter)
      assert((m.getLong(1), m.getLong(2), m.getLong(3)) === ((3L, 1L, 0L)))
      // the carried files' manifest entries are byte-identical
      val after = graft.sources.GdxSource.committedEntries(dir, conf)
      outside.foreach { o =>
        assert(after.find(_.name == o.name).get.manifestLine
          === o.manifestLine)
      }
      // composite-ON key-equality still drives the SOURCE pre-scan
      // window: a small source prunes the (restored) low file too
      outside.foreach { o => // restore plausible bytes for time travel
        java.nio.file.Files.delete(new java.io.File(dir, o.name).toPath)
      }
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_rsrc2 AS SELECT * FROM
        VALUES (150, 'Z') AS t(k, nv)""")
      val m2 = s.sql(
        """MERGE INTO gm_rng t USING gm_rsrc2 s
          ON t.k = s.k AND s.nv = 'Z'
          WHEN MATCHED THEN UPDATE SET v = s.nv""")
        .collect().head
      assert(m2.getLong(2) === 1L)
      assert(s.sql("SELECT v FROM gm_rng WHERE k = 150").head.getString(0)
        === "Z")
    } finally s.sql("DROP TABLE IF EXISTS gm_rng")
  }

  test("key update, NULL-key refusal, and empty-effect merge") {
    val dir = freshDir("edge")
    s.sql(s"""CREATE TABLE gm_edge (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gm_edge VALUES (1,'a',1),(2,'b',2)")
      // updating the KEY column is allowed (old image DV'd, new image
      // carries the new key)
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_esrc AS
        SELECT * FROM VALUES (1L) AS t(k)""")
      s.sql("""MERGE INTO gm_edge t USING gm_esrc s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET k = t.k + 10""")
      assert(rows("gm_edge").map(_._1) === Seq(2L, 11L))
      val vBefore = graft.sources.GdxSource.listVersions(dir,
        graft.sources.GdxSource.driverConf()).max
      // a merge whose clauses apply to no row publishes NOTHING
      val m = s.sql("""MERGE INTO gm_edge t USING gm_esrc s ON t.k = s.k
        WHEN MATCHED THEN DELETE""").collect().head
      assert((m.getLong(0), m.getLong(3)) === ((vBefore.toLong, 0L)))
      assert(graft.sources.GdxSource.listVersions(dir,
        graft.sources.GdxSource.driverConf()).max === vBefore)
      // a NULL key in a merged image is refused, nothing committed
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_e2src AS
        SELECT * FROM VALUES (2L) AS t(k)""")
      val e = refusedAfterWrites(Seq(dir), rows("gm_edge"))(s.sql(
        """MERGE INTO gm_edge t USING gm_e2src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET k = NULL"""))
      assert(Iterator.iterate(e)(_.getCause)
        .takeWhile(_ != null).take(8).exists(c =>
          c.isInstanceOf[IllegalArgumentException] &&
            c.getMessage.contains("1 merged row(s) have a NULL key (k)")),
        e.getMessage)
      assert(rows("gm_edge").map(_._1) === Seq(2L, 11L))
    } finally s.sql("DROP TABLE IF EXISTS gm_edge")
  }

  test("a source column named `present` is user data, not the " +
      "engine's presence marker") {
    val dir = freshDir("pres")
    s.sql(s"""CREATE TABLE gm_pres (k BIGINT, v STRING)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gm_pres VALUES (1,'a'),(2,'b')")
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_psrc AS
        SELECT * FROM VALUES (1L, false), (2L, true) AS t(k, present)""")
      // if the marker clobbered s.present, BOTH rows would delete
      s.sql("""MERGE INTO gm_pres t USING gm_psrc s ON t.k = s.k
        WHEN MATCHED AND s.present THEN DELETE""")
      assert(s.sql("SELECT k FROM gm_pres ORDER BY k").collect()
        .map(_.getLong(0)).toSeq === Seq(1L))
    } finally s.sql("DROP TABLE IF EXISTS gm_pres")
  }

  test("WITH SCHEMA EVOLUTION evolves a catalog table in one metadata " +
      "commit; non-catalog targets cannot evolve") {
    val wh = java.nio.file.Files.createTempDirectory("gm_evo_cat").toString
    val cat = s"gmev${java.util.UUID.randomUUID().toString.take(8)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GdxCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.evo (k BIGINT, v STRING)")
    s.sql(s"INSERT INTO $cat.lab.evo VALUES (1,'a'),(2,'b')")
    val dir = s"$wh/lab/evo"
    val preV = graft.sources.GdxSource.listVersions(dir,
      graft.sources.GdxSource.driverConf()).max
    s.sql("""CREATE OR REPLACE TEMP VIEW gm_vsrc AS
      SELECT * FROM VALUES (1L, 'x', 5L), (9L, 'n', 7L)
      AS t(k, v, extra)""")
    s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.lab.evo t
      USING gm_vsrc s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // the analyzer added `extra` through GdxCatalog.alterTable — one
    // addColumn metadata commit — then the merge resolved against the
    // evolved schema: matched rows carry the source value, untouched
    // rows read NULL
    val got = s.sql(s"SELECT k, v, extra FROM $cat.lab.evo ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else Long.box(r.getLong(2)))).toSeq
    assert(got === Seq((1L, "x", Long.box(5L)), (2L, "b", null),
      (9L, "n", Long.box(7L))), got.toString)
    // the manifest itself evolved (not just a catalog echo), and the
    // pre-merge snapshot still time-travels under its own 2-column era
    assert(graft.sources.GdxSource.committedSchema(dir,
      graft.sources.GdxSource.driverConf()).fieldNames.toSeq ===
      Seq("k", "v", "extra"))
    assert(graft.sources.GdxSource.committedSchema(dir,
      graft.sources.GdxSource.driverConf(), preV).fieldNames.toSeq ===
      Seq("k", "v"))
    // a non-catalog (session-catalog/path) target advertises no
    // evolution capability: Spark stands the evolution down — the
    // star clauses expand over the EXISTING columns, the schema never
    // changes, and manifest and metastore can never diverge
    val dir2 = freshDir("evo2")
    s.sql(s"""CREATE TABLE gm_evo (k BIGINT, v STRING)
      USING $fmt OPTIONS (path '$dir2')""")
    try {
      s.sql("INSERT INTO gm_evo VALUES (1,'a')")
      s.sql("""MERGE WITH SCHEMA EVOLUTION INTO gm_evo t USING gm_vsrc s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      assert(s.table("gm_evo").schema.fieldNames.toSeq === Seq("k", "v"))
      assert(graft.sources.GdxSource.committedSchema(dir2,
        graft.sources.GdxSource.driverConf()).fieldNames.toSeq ===
        Seq("k", "v"))
      assert(s.sql("SELECT k, v FROM gm_evo ORDER BY k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((1L, "x"), (9L, "n")))
    } finally s.sql("DROP TABLE IF EXISTS gm_evo")
  }

  test("MERGE over a struct-bearing table: nested predicates in ON and " +
      "clause conditions, struct values assigned whole") {
    val dir = freshDir("struct")
    s.sql(s"""CREATE TABLE gm_st (k BIGINT, v STRING,
      meta STRUCT<score: DOUBLE, tokens: BIGINT>)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("""INSERT INTO gm_st VALUES
        (1, 'a', named_struct('score', 0.9, 'tokens', 10L)),
        (2, 'b', named_struct('score', 0.2, 'tokens', 20L)),
        (3, 'c', named_struct('score', 0.5, 'tokens', 30L))""")
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_stsrc AS SELECT * FROM
        VALUES (2, 'B', named_struct('score', 0.8, 'tokens', 21L)),
               (3, 'C', named_struct('score', 0.1, 'tokens', 31L)),
               (4, 'D', named_struct('score', 0.7, 'tokens', 41L))
        t(k, nv, nmeta)""")
      s.sql("""MERGE INTO gm_st t USING gm_stsrc s ON t.k = s.k
        WHEN MATCHED AND s.nmeta.score > t.meta.score
          THEN UPDATE SET v = s.nv, meta = s.nmeta
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED AND s.nmeta.tokens > 40
          THEN INSERT (k, v, meta) VALUES (s.k, s.nv, s.nmeta)""")
      val back = s.sql(
        "SELECT k, v, meta.score, meta.tokens FROM gm_st ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getDouble(2), r.getLong(3))).toSeq
      // k=1 untouched, k=2 updated (0.8 > 0.2), k=3 deleted
      // (0.1 < 0.5), k=4 inserted (41 > 40)
      assert(back === Seq((1L, "a", 0.9, 10L), (2L, "B", 0.8, 21L),
        (4L, "D", 0.7, 41L)))
    } finally s.sql("DROP TABLE IF EXISTS gm_st")
  }

  test("UPDATE refuses a NULL key like MERGE does: the API and SQL " +
      "UPDATE name the key column and commit nothing") {
    import graft.sources.GdxSource
    import org.apache.spark.sql.functions.{col, lit}
    val dir = freshDir("updnull")
    s.sql(s"""CREATE TABLE gm_un (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gm_un VALUES (1,'a',1),(2,'b',2)")
      def namesKey(e: Throwable): Boolean = Iterator.iterate(e)(_.getCause)
        .takeWhile(_ != null).take(8).exists(c =>
          c.isInstanceOf[IllegalArgumentException] &&
            c.getMessage.contains("1 updated row(s) have a NULL key (k)"))
      val api = refusedAfterWrites(Seq(dir), rows("gm_un"))(
        GdxSource.update(s, dir, col("k") === 2L,
          Map("k" -> lit(null).cast("long"))))
      assert(namesKey(api), api.getMessage)
      val sql = refusedAfterWrites(Seq(dir), rows("gm_un"))(
        s.sql("UPDATE gm_un SET k = NULL WHERE k = 1"))
      assert(namesKey(sql), sql.getMessage)
      assert(rows("gm_un") === Seq((1L, "a", 1L), (2L, "b", 2L)))
    } finally s.sql("DROP TABLE IF EXISTS gm_un")
  }

  test("UPDATE casts SET values to the column type, as MERGE's SET " +
      "does") {
    import graft.sources.GdxSource
    import org.apache.spark.sql.functions.{col, lit}
    val dir = freshDir("updcast")
    s.sql(s"""CREATE TABLE gm_uc (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gm_uc VALUES (1,'a',1),(2,'b',2),(3,'c',3)")
      // an INT literal into STRING v and into BIGINT w
      assert(GdxSource.update(s, dir, col("k") === 1L,
        Map("v" -> lit(5)))._2 === 1L)
      assert(GdxSource.update(s, dir, col("k") === 2L,
        Map("w" -> lit(7)))._2 === 1L)
      s.sql("""CREATE OR REPLACE TEMP VIEW gm_ucsrc AS
        SELECT * FROM VALUES (3L) AS t(k)""")
      s.sql("""MERGE INTO gm_uc t USING gm_ucsrc s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = 5""")
      assert(rows("gm_uc") === Seq((1L, "5", 1L), (2L, "b", 7L),
        (3L, "5", 3L)))
    } finally s.sql("DROP TABLE IF EXISTS gm_uc")
  }

  test("DELETE runs in 1 Spark job and UPDATE in 2, a CHECK riding " +
      "UPDATE's image write") {
    val dir = freshDir("dmljobs")
    s.sql(s"""CREATE TABLE gm_dj (k BIGINT, v STRING, w BIGINT)
      USING $fmt OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gm_dj VALUES (1,'a',1),(2,'b',1)")
      s.sql("INSERT INTO gm_dj VALUES (3,'c',1),(4,'d',1)")
      s.sql("INSERT INTO gm_dj VALUES (5,'e',1),(6,'f',1)")
      // warm: one statement of each shape before counting
      s.sql("UPDATE gm_dj SET w = w + 1 WHERE k = 1").collect()
      s.sql("DELETE FROM gm_dj WHERE k = 99").collect()
      // the DV write
      val (d, dJobs) = jobsDuring(
        s.sql("DELETE FROM gm_dj WHERE k = 2").collect().head)
      assert(d.getLong(1) === 1L)
      assert(dJobs.size <= 1, dJobs.mkString("\n"))
      // the image write, then the DV write
      val (u, uJobs) = jobsDuring(
        s.sql("UPDATE gm_dj SET v = 'x' WHERE k >= 5").collect().head)
      assert(u.getLong(1) === 2L)
      assert(uJobs.size <= 2, uJobs.mkString("\n"))
      // the constraint's violation flags ride the image write: no
      // separate aggregate job
      s.sql("ALTER TABLE gm_dj ADD CONSTRAINT w_pos CHECK (w > 0)")
      val (c, cJobs) = jobsDuring(
        s.sql("UPDATE gm_dj SET w = w + 1 WHERE k = 3").collect().head)
      assert(c.getLong(1) === 1L)
      assert(cJobs.size <= 2, cJobs.mkString("\n"))
      assert(rows("gm_dj") === Seq((1L, "a", 2L), (3L, "c", 2L),
        (4L, "d", 1L), (5L, "x", 1L), (6L, "x", 1L)))
    } finally s.sql("DROP TABLE IF EXISTS gm_dj")
  }
}
