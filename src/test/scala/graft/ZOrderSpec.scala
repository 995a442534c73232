package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And => _, _}
import graft.sources.{GdxFileEntry, GdxFileStats, GdxSource}

/** Z-order clustering + extended (multi-column) zone maps on the GDX
  * table format: `optimizeZOrder` must preserve rows exactly, and the
  * manifest's per-column min/max must make file skipping effective on
  * EVERY clustered dimension — where a linear sort only serves its
  * leading key. Pruning is an overlay: filters stay residual, so Spark
  * re-evaluates them row-level and skipping can never change answers,
  * only file counts (asserted by comparing against unpruned results).
  */
class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  private val fmt = "graft.sources.GdxSource"

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"zord_$tag").toString

  private def read(dir: String) =
    spark.read.format(fmt).option("path", dir).load()

  /** (k, v, s) table: s decorrelated from k so a k-sort gives s no
    * locality at all. */
  private def buildTable(dir: String, n: Int = 8000): Unit = {
    (0 until n).map(i => (i.toLong, s"r${i % 5}"))
      .toDF("k", "v")
      .repartitionByRange(8, col("k"))
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    GdxSource.addColumn(dir, "s", org.apache.spark.sql.types.LongType)
    (0 until n).map(i => (i.toLong, s"r${i % 5}", (i * 7919L) % 1000L))
      .toDF("k", "v", "s")
      .repartitionByRange(8, col("k"))
      .write.format(fmt).option("path", dir).mode("overwrite").save()
  }

  test("writer publishes extended per-column stats; DVs coexist") {
    val dir = freshDir("stats")
    buildTable(dir, n = 2000)
    val entries = GdxSource.committedEntries(dir, GdxSource.driverConf())
    assert(entries.nonEmpty)
    assert(entries.forall(_.stats.exists(_.cols.contains("s"))),
      s"every file must carry s-stats: $entries")
    // stats are real bounds: global min/max across files match the data
    val mins = entries.flatMap(_.stats.get.cols.get("s")).map(_._1.toLong)
    val maxs = entries.flatMap(_.stats.get.cols.get("s")).map(_._2.toLong)
    assert(mins.min === read(dir).agg(min("s")).head.getLong(0))
    assert(maxs.max === read(dir).agg(max("s")).head.getLong(0))
    // a DV delete keeps extended stats parsing intact (dv + x: fields)
    GdxSource.delete(spark, dir, col("k") === 5L)
    val withDv = GdxSource.committedEntries(dir, GdxSource.driverConf())
    assert(withDv.exists(_.dv.isDefined))
    assert(withDv.forall(_.stats.exists(_.cols.contains("s"))))
    assert(read(dir).count() === 1999L)
  }

  test("manifest line with extended stats round-trips") {
    val e = GdxFileEntry("f1.gdx",
      Some(GdxFileStats(10L, 1L, 9L,
        Map("s" -> ("3", "800"), "w" -> ("-2.5", "1.0E7")))),
      Some("dv-1.dvx"))
    val line = e.manifestLine
    assert(line ===
      "f1.gdx\t10\t1\t9\tdv-1.dvx\tx:s=3..800;w=-2.5..1.0E7")
    // behavioral parse check rides through pruneByStats on a synthetic
    // entry built FROM the parsed form — prune on both columns
    val kept = GdxSource.pruneByStats(Seq(e),
      Seq(GreaterThan("s", 900L)))
    assert(kept.isEmpty, "s-range miss must prune")
    assert(GdxSource.pruneByStats(Seq(e),
      Seq(LessThanOrEqual("w", -2.5))).nonEmpty)
    assert(GdxSource.pruneByStats(Seq(e),
      Seq(LessThan("w", -2.5))).isEmpty)
  }

  test("extended pruning is conservative on absent or unparseable stats") {
    val noExt = GdxFileEntry("f.gdx", Some(GdxFileStats(5L, 1L, 5L)))
    assert(GdxSource.pruneByStats(Seq(noExt),
      Seq(EqualTo("s", 99L))).nonEmpty, "absent stats never prune")
    val inf = GdxFileEntry("g.gdx", Some(GdxFileStats(5L, 1L, 5L,
      Map("w" -> ("-Infinity", "Infinity")))))
    assert(GdxSource.pruneByStats(Seq(inf),
      Seq(GreaterThan("w", 1e308))).nonEmpty,
      "unparseable bounds never prune")
  }

  test("NaN in a double column suppresses that file's stats") {
    val dir = freshDir("nan")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    GdxSource.addColumn(dir, "w", org.apache.spark.sql.types.DoubleType)
    Seq((1L, "a", 1.0), (2L, "b", Double.NaN), (3L, "c", 2.0))
      .toDF("k", "v", "w").coalesce(1)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val entries = GdxSource.committedEntries(dir, GdxSource.driverConf())
    assert(entries.forall(_.stats.exists(!_.cols.contains("w"))),
      s"NaN must suppress w-stats: $entries")
    // Spark orders NaN above every double: the row must survive a range
    // query a min/max computed from the non-NaN values would have
    // wrongly pruned
    assert(read(dir).filter(col("w") > 100.0).select("k")
      .as[Long].collect().toSeq === Seq(2L))
  }

  test("zorder preserves rows and clusters every listed dimension") {
    val dir = freshDir("cluster")
    buildTable(dir)
    val beforeRows = read(dir).orderBy("k").collect().toSeq
    // linearly clustered on k: a k-slice prunes, an s-slice cannot
    val (kKeptLin, totalLin) = GdxSource.plannedFiles(dir, Seq(
      GreaterThanOrEqual("k", 1000L), LessThan("k", 1500L)))
    val (sKeptLin, _) = GdxSource.plannedFiles(dir, Seq(
      GreaterThanOrEqual("s", 100L), LessThan("s", 160L)))
    assert(kKeptLin < totalLin, "k-linear layout must prune k-ranges")
    assert(sKeptLin === totalLin,
      "a k-sorted layout gives s no locality - nothing prunable")

    val (fb, fa) = GdxSource.optimizeZOrder(spark, dir, Seq("k", "s"),
      target = 8)
    assert(fb === 8 && fa >= 4 && fa <= 12, s"unexpected file counts $fb/$fa")
    assert(read(dir).orderBy("k").collect().toSeq === beforeRows,
      "zorder must preserve rows exactly")

    // the z-ordered layout prunes on BOTH dimensions
    val (kKept, total) = GdxSource.plannedFiles(dir, Seq(
      GreaterThanOrEqual("k", 1000L), LessThan("k", 1500L)))
    val (sKept, _) = GdxSource.plannedFiles(dir, Seq(
      GreaterThanOrEqual("s", 100L), LessThan("s", 160L)))
    // the SAME ranges as the 1-D probes: the 2-D predicate set is then
    // a superset of each, so "prunes at least as hard" holds for ANY
    // layout (pruneByStats is monotone in the pushed set) — a wider
    // box would make this assertion depend on where repartitionByRange
    // happened to cut files
    val (bothKept, _) = GdxSource.plannedFiles(dir, Seq(
      GreaterThanOrEqual("k", 1000L), LessThan("k", 1500L),
      GreaterThanOrEqual("s", 100L), LessThan("s", 160L)))
    assert(kKept < total, s"k-range must still prune ($kKept/$total)")
    assert(sKept < total, s"s-range must now prune ($sKept/$total)")
    assert(bothKept <= kKept && bothKept <= sKept,
      s"2-D box must prune at least as hard ($bothKept vs $kKept/$sKept)")

    // answers are pruning-independent: the scan with both predicates
    // equals the brute-force filter of the full table
    val got = read(dir)
      .filter(col("k") >= 1000L && col("k") < 3000L &&
        col("s") >= 100L && col("s") < 350L)
      .orderBy("k").collect().toSeq
    val expect = beforeRows.filter { r =>
      val k = r.getLong(0); val s = r.getLong(2)
      k >= 1000L && k < 3000L && s >= 100L && s < 350L
    }
    assert(got === expect)
    // time travel to the pre-zorder snapshot still works
    val vs = GdxSource.listVersions(dir, GdxSource.driverConf())
    val prev = spark.read.format(fmt).option("path", dir)
      .option("version", (vs.max - 1).toString).load()
    assert(prev.count() === beforeRows.size.toLong)
  }

  test("OPTIMIZE ... ZORDER BY drives clustering through SQL") {
    // parser extensions bind at session construction — run on a sibling
    // session with GraftExtensions active (the GdxDmlSpec pattern)
    val s = org.apache.spark.sql.graft.ColumnBridge
      .sessionWithExtensions(spark, new GraftExtensions())
    val dir = freshDir("sql") + "/t"
    s.sql(s"""CREATE TABLE zord_sql_t (k BIGINT, v STRING, p BIGINT)
      USING graft.sources.GdxSource OPTIONS (path '$dir')""")
    try {
      import s.implicits._
      (0 until 4000).map(i => (i.toLong, s"r${i % 3}", (i * 7919L) % 500L))
        .toDF("k", "v", "p").repartitionByRange(8, col("k"))
        .write.format(fmt).option("path", dir).mode("append").save()
      // the wrapper parser is invisible to ordinary statements
      assert(s.sql("SELECT count(*) FROM zord_sql_t").head.getLong(0)
        === 4000L)
      val r = s.sql("OPTIMIZE zord_sql_t ZORDER BY (k, p)").collect()
      assert(r.head.getLong(0) === 8L && r.head.getLong(1) >= 4L)
      val (pKept, total) = GdxSource.plannedFiles(dir, Seq(
        GreaterThanOrEqual("p", 50L), LessThan("p", 80L)))
      assert(pKept < total, s"SQL zorder must make p prunable " +
        s"($pKept/$total)")
      assert(s.sql("SELECT count(*) FROM zord_sql_t").head.getLong(0)
        === 4000L, "clustering must preserve rows")
      // plain OPTIMIZE compacts (already at target: no-op counts)
      val c = s.sql("OPTIMIZE zord_sql_t").collect()
      assert(c.head.getLong(1) <= c.head.getLong(0))
      // DESCRIBE HISTORY lists every retained snapshot; plain DESCRIBE
      // still goes to Spark's parser (wrapper invisibility)
      // two snapshots: the data append and the zorder truncate (the
      // at-target plain OPTIMIZE above was a no-op, no commit)
      val h = s.sql("DESCRIBE HISTORY zord_sql_t").collect()
      assert(h.length >= 2 && h.map(_.getInt(0)).toSeq ===
        h.map(_.getInt(0)).toSeq.sorted)
      assert(s.sql("DESCRIBE TABLE zord_sql_t").collect().nonEmpty)
      // keyword-token fast path: a double space (or any whitespace)
      // between keywords still reaches the maintenance grammar
      assert(s.sql("DESCRIBE  HISTORY zord_sql_t").collect().nonEmpty)
      // VACUUM RETAIN 1 VERSIONS reclaims superseded files and leaves
      // the live snapshot intact
      val vac = s.sql("VACUUM zord_sql_t RETAIN 1 VERSIONS").collect()
      assert(vac.head.getLong(0) > 0L, "superseded files must be reaped")
      assert(s.sql("SELECT count(*) FROM zord_sql_t").head.getLong(0)
        === 4000L)
      assert(s.sql("DESCRIBE HISTORY zord_sql_t").collect().length === 1)
      // a non-GDX target fails loudly
      s.sql("CREATE OR REPLACE TEMP VIEW zord_plain AS SELECT 1 AS x")
      intercept[Exception] { s.sql("OPTIMIZE zord_missing_t").collect() }
    } finally {
      s.sql("DROP TABLE IF EXISTS zord_sql_t"); ()
    }
  }

  /** `rewrite(round)` for rounds 0 to 3 while an appender lands ten
    * one-row commits (`row(i)`, keys from 100000) on `dir`: every
    * appended row must survive in the live table. */
  private def racingAppends(dir: String,
                            row: Int => org.apache.spark.sql.DataFrame)
                           (rewrite: Int => Unit): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appender = new Thread(() => {
      try {
        for (i <- 0 until 10) {
          row(i).coalesce(1)
            .write.format(fmt).option("path", dir).mode("append").save()
          Thread.sleep(30)
        }
      } catch { case t: Throwable => failures.add(t) }
    })
    appender.start()
    try for (round <- 0 until 4) rewrite(round)
    finally appender.join(60000)
    assert(failures.isEmpty, s"appender failed: ${failures.peek}")
    assert(read(dir).filter(col("k") >= 100000L).count() === 10L,
      "a racing append was dropped by the rewrite publish")
  }

  test("OPTIMIZE publishes under CAS: a racing append is never dropped") {
    // read-rewrite-publish without a CAS would silently drop any
    // commit that lands between the snapshot read and the publish —
    // every rewrite pins its read version, publishes through the
    // engine's commit loop and recomputes on a lost race. An appender
    // hammers commits while each rewrite runs repeatedly.
    val dir = freshDir("cas") + "/t"
    (0 until 2000).map(i => (i.toLong, s"r${i % 5}", (i * 7919L) % 1000L))
      .toDF("k", "v", "s").repartition(8)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    racingAppends(dir, i => Seq((100000L + i, "x", 7L)).toDF("k", "v", "s")) {
      _ =>
        val (_, after) = GdxSource.optimizeZOrder(spark, dir,
          Seq("k", "s"), target = 4)
        assert(after >= 1)
        GdxSource.compact(spark, dir, target = 4)
    }
    assert(read(dir).count() === 2010L)
    // a partial rewrite: OPTIMIZE WHERE on a partitioned copy, the
    // appends landing inside the slice it rewrites
    val pdir = freshDir("casp") + "/t"
    (0 until 2000).map(i => (i.toLong, s"r${i % 5}", (i % 2).toLong))
      .toDF("k", "v", "p").repartition(8)
      .write.format(fmt).option("path", pdir).option("partitionBy", "p")
      .mode("overwrite").save()
    racingAppends(pdir,
      i => Seq((100000L + i, "x", (i % 2).toLong)).toDF("k", "v", "p")) {
      _ => GdxSource.compactWhere(spark, pdir, "p IN (0, 1)")
    }
    assert(read(pdir).count() === 2010L)
    // a schema rewrite: each round drops one struct leaf while classic
    // (k, v) appends land
    val ndir = freshDir("casn") + "/t"
    spark.range(2000).select(col("id").as("k"),
      concat(lit("r"), (col("id") % 5).cast("string")).as("v"),
      struct(Seq("a", "b", "c", "d", "e").map(f => col("id").as(f)): _*)
        .as("m"))
      .repartition(8)
      .write.format(fmt).option("path", ndir).mode("overwrite").save()
    racingAppends(ndir, i => Seq((100000L + i, "x")).toDF("k", "v")) {
      round => GdxSource.dropNestedField(spark, ndir, s"m.${"abcd"(round)}")
    }
    val live = read(ndir)
    assert(live.schema("m").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq === Seq("e"))
    assert(live.count() === 2010L)
    assert(live.filter(col("k") < 100000L && col("m.e") =!= col("k"))
      .count() === 0L, "a kept leaf lost its values")
  }

  test("VACUUM without RETAIN keeps history (conservative default)") {
    val s = org.apache.spark.sql.graft.ColumnBridge
      .sessionWithExtensions(spark, new GraftExtensions())
    val dir = freshDir("vacdef") + "/t"
    s.sql(s"""CREATE TABLE zord_vac_t (k BIGINT, v STRING)
      USING graft.sources.GdxSource OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO zord_vac_t VALUES (1, 'a')")
      s.sql("INSERT INTO zord_vac_t VALUES (2, 'b')")
      s.sql("INSERT INTO zord_vac_t VALUES (3, 'c')")
      // a bare VACUUM must NOT destroy all history in one statement:
      // the default retains 2 versions, so time travel to the
      // immediately-previous snapshot still works
      s.sql("VACUUM zord_vac_t").collect()
      assert(s.sql("DESCRIBE HISTORY zord_vac_t").collect().length === 2)
      val prev = s.read.format(fmt).option("path", dir)
        .option("version", "2").load()
      assert(prev.count() === 2L, "previous snapshot must stay readable")
      assert(s.sql("SELECT count(*) FROM zord_vac_t").head.getLong(0)
        === 3L)
    } finally { s.sql("DROP TABLE IF EXISTS zord_vac_t"); () }
  }

  test("zvalue interleaves bucket bits and clusters nulls at origin") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val bounds = Array(Array(10.0, 20.0, 30.0), Array(100.0, 200.0, 300.0))
    def z(a: Any, b: Any): Long =
      graft.functions.ZValue(Seq(Literal(a), Literal(b)), bounds)
        .eval(null).asInstanceOf[Long]
    assert(z(5L, 50L) === 0L)         // both bucket 0
    assert(z(null, 50L) === 0L)       // null clusters at origin
    assert(z(15L, 50L) === 1L)        // bucket (1,0) -> bit 0
    assert(z(5L, 150L) === 2L)        // bucket (0,1) -> bit 1
    assert(z(15L, 150L) === 3L)       // bucket (1,1)
    assert(z(35L, 350L) === 15L)      // bucket (3,3) -> 0b1111
    // locality: the curve orders same-bucket pairs adjacently
    assert(z(15L, 150L) < z(25L, 150L))
  }
}
