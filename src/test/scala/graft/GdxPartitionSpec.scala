package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
import graft.sources.GdxSource

/** Hive-style partitioning on the GDX format: `PARTITIONED BY` /
  * `option("partitionBy", col)` demuxes writes into `col=value/`
  * subdirectories, the declaration rides the manifest (`#partition`),
  * and static partition pruning composes with zone maps and blooms —
  * the partition column's per-file stats collapse to `v..v`, so an
  * equality predicate plans exactly one partition's files. */
class GdxPartitionSpec extends SparkSuite {
  import spark.implicits._

  private val fmt = "graft.sources.GdxSource"

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxpt_$tag").toString + "/t"

  private def read(dir: String) =
    spark.read.format(fmt).option("path", dir).load()

  private def df(n: Int, parts: Int) =
    (0 until n).map(i => (i.toLong, s"r$i", (i % parts).toLong))
      .toDF("k", "v", "p")

  test("partitionBy demuxes writes into col=value dirs; appends " +
      "inherit; pruning plans one partition") {
    val dir = freshDir("base")
    df(300, 3).repartition(4)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    // declaration recorded; files under hive-style subdirs
    assert(GdxSource.committedPartitionCol(dir,
      GdxSource.driverConf()).contains("p"))
    val entries = GdxSource.committedEntries(dir, GdxSource.driverConf())
    assert(entries.nonEmpty && entries.forall(_.name.matches("p=\\d+/.*")),
      s"files must land under p=<v>/: ${entries.map(_.name)}")
    assert(read(dir).count() === 300L)
    assert(read(dir).filter(col("p") === 1L).agg(sum("k"))
      .head.getLong(0) === (1 until 300 by 3).map(_.toLong).sum)
    // append WITHOUT the option inherits the layout
    Seq((1000L, "x", 2L)).toDF("k", "v", "p").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    val after = GdxSource.committedEntries(dir, GdxSource.driverConf())
    assert(after.forall(_.name.matches("p=\\d+/.*")))
    // static partition pruning = zone-map prune on the v..v stats:
    // an equality keeps ONLY that partition's directory
    val (keptN, total) = GdxSource.plannedFiles(dir, Seq(EqualTo("p", 1L)))
    assert(keptN < total, s"p=1 must prune ($keptN/$total)")
    val keptEntries = GdxSource.pruneByStats(after, Seq(EqualTo("p", 1L)))
    assert(keptEntries.nonEmpty &&
      keptEntries.forall(_.name.startsWith("p=1/")),
      s"kept files must all live under p=1/: ${keptEntries.map(_.name)}")
    // range predicates compose the same way
    assert(GdxSource.pruneByStats(after, Seq(GreaterThanOrEqual("p", 2L)))
      .forall(_.name.startsWith("p=2/")))
    // row-level correctness is pruning-independent
    assert(read(dir).filter(col("p") === 2L).count() === 100L + 1L)
  }

  test("CREATE TABLE PARTITIONED BY declares the layout through SQL") {
    val s = org.apache.spark.sql.graft.ColumnBridge
      .sessionWithExtensions(spark, new GraftExtensions())
    val dir = freshDir("sql")
    s.sql(s"""CREATE TABLE gdxpt_t (k BIGINT, v STRING, p BIGINT)
      USING graft.sources.GdxSource
      PARTITIONED BY (p)
      OPTIONS (path '$dir')""")
    try {
      s.sql("INSERT INTO gdxpt_t VALUES (1,'a',0),(2,'b',1),(3,'c',0)")
      assert(GdxSource.committedPartitionCol(dir,
        GdxSource.driverConf()).contains("p"))
      assert(GdxSource.committedEntries(dir, GdxSource.driverConf())
        .forall(_.name.startsWith("p=")))
      assert(s.sql("SELECT sum(k) FROM gdxpt_t WHERE p = 0")
        .head.getLong(0) === 4L)
    } finally s.sql("DROP TABLE IF EXISTS gdxpt_t")
  }

  test("DV deletes, vacuum, and blooms work across partition dirs") {
    val dir = freshDir("dml")
    df(120, 4).repartition(2)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    // row-level delete: DV sidecars attach to subdir'd files
    val (_, nDel) = GdxSource.delete(spark, dir, col("k") % 10 === 0L)
    assert(nDel === 12L)
    assert(read(dir).count() === 108L)
    // supersede everything, then vacuum: the old subdir files are
    // reaped (relative-path compare), the live snapshot is intact
    df(50, 4).repartition(2)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    val removed = GdxSource.vacuum(dir, GdxSource.driverConf(),
      keepLast = 1)
    assert(removed > 0, "superseded partitioned files must be reaped")
    assert(read(dir).count() === 50L)
    // bloom sidecars are PUBLISHED next to their subdir'd files (the
    // commit rename must preserve the partition directory) …
    val all = GdxSource.committedEntries(dir, GdxSource.driverConf())
    val fsRoot = new java.io.File(dir)
    val nonEmpty = all.filter(_.stats.exists(_.rows > 0))
    assert(nonEmpty.nonEmpty)
    nonEmpty.foreach { e =>
      assert(new java.io.File(fsRoot,
        e.name + graft.sources.GdxBloom.Suffix).exists(),
        s"missing bloom sidecar for ${e.name}")
    }
    // … and they genuinely prune: key 7 lives in exactly one partition
    // (p = 7 % 4 = 3), so the other partitions' files must drop
    val keptB = GdxSource.pruneByBloom(dir, nonEmpty, Seq(EqualTo("k", 7L)))
    assert(keptB.size < nonEmpty.size,
      s"bloom must prune (${keptB.size}/${nonEmpty.size})")
    assert(read(dir).filter(col("k") === 7L).count() === 1L)
  }

  test("UPDATE keeps rewritten rows prunable via their stats") {
    val dir = freshDir("upd")
    df(120, 4).repartition(2)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    // update one partition's rows: the upd-files land at the root but
    // MUST carry extended stats (p collapses to v..v), so every other
    // partition's queries still prune them
    GdxSource.update(spark, dir, col("p") === 1L && col("k") < 20L,
      Map("v" -> lit("U")))
    val entries = GdxSource.committedEntries(dir, GdxSource.driverConf())
    val updFiles = entries.filter(_.name.startsWith("upd-"))
    assert(updFiles.nonEmpty)
    assert(updFiles.forall(_.stats.exists(_.cols.contains("p"))),
      s"upd files must publish extended stats: $updFiles")
    val kept = GdxSource.pruneByStats(entries, Seq(EqualTo("p", 2L)))
    assert(kept.forall(e => !e.name.startsWith("upd-")),
      "p=2 queries must prune the p=1 upd files by their stats")
    assert(read(dir).filter(col("v") === "U").count() === 5L)
  }

  test("OPTIMIZE compacts within partitions, never un-partitions") {
    val dir = freshDir("opt")
    // a clustered write lands one file per value, leaving compaction
    // nothing to do — four appends fragment each value into four files
    df(200, 4).write.format(fmt).option("path", dir)
      .option("partitionBy", "p").mode("overwrite").save()
    for (_ <- 1 to 3)
      df(200, 4).write.format(fmt).option("path", dir).mode("append").save()
    val (before, after) = GdxSource.compact(spark, dir, target = 2)
    assert(after < before)
    assert(GdxSource.committedPartitionCol(dir,
      GdxSource.driverConf()).contains("p"),
      "a maintenance rewrite must preserve the declared layout")
    val entries = GdxSource.committedEntries(dir, GdxSource.driverConf())
    assert(entries.forall(_.name.matches("p=\\d+/.*")),
      s"compacted files must stay under their partitions: " +
        s"${entries.map(_.name)}")
    assert(read(dir).count() === 800L)
    // and the compacted layout still prunes
    val kept = GdxSource.pruneByStats(entries, Seq(EqualTo("p", 2L)))
    assert(kept.nonEmpty && kept.forall(_.name.startsWith("p=2/")))
  }

  test("runtime (DPP) key sets on the partition column prune dirs") {
    val dir = freshDir("dpp")
    df(400, 8).repartition(4)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    // a join on p against a 1-row dim delivers In(p, [5]) at runtime;
    // assert the plan-level effect via the same prune the scan runs
    val entries = GdxSource.committedEntries(dir, GdxSource.driverConf())
    val kept = GdxSource.pruneByStats(entries,
      Seq(org.apache.spark.sql.sources.In("p", Array(5L))))
    assert(kept.nonEmpty && kept.size < entries.size &&
      kept.forall(_.name.startsWith("p=5/")))
    // end-to-end: the join answers correctly (DPP is an overlay)
    val dim = Seq((5L, "five")).toDF("dp", "label")
    val joined = read(dir).join(dim, col("p") === col("dp"))
    assert(joined.count() === 50L)
    // the scan advertises p for runtime filtering
    val scan = new graft.sources.GdxScanBuilder(dir, -1,
      read(dir).schema).build()
    assert(scan.asInstanceOf[org.apache.spark.sql.connector.read
        .SupportsRuntimeFiltering].filterAttributes()
      .map(_.fieldNames.mkString).toSet === Set("k", "p"))
  }

  test("invalid declarations refuse loudly") {
    val dir = freshDir("bad")
    // multi-column / transformed PARTITIONED BY is refused at CREATE,
    // never silently truncated to the first column
    val s2 = org.apache.spark.sql.graft.ColumnBridge
      .sessionWithExtensions(spark, new GraftExtensions())
    val e0 = intercept[Exception] {
      s2.sql(s"""CREATE TABLE gdxpt_multi (k BIGINT, v STRING,
        a BIGINT, b BIGINT)
        USING graft.sources.GdxSource PARTITIONED BY (a, b)
        OPTIONS (path '${freshDir("multi")}')""")
      s2.sql("INSERT INTO gdxpt_multi VALUES (1,'x',1,1)")
    }
    assert(e0.getMessage.contains("multi-column") ||
      e0.getMessage.contains("not supported"), e0.getMessage)
    s2.sql("DROP TABLE IF EXISTS gdxpt_multi")
    // non-BIGINT partition column
    val e1 = intercept[Exception] {
      df(10, 2).write.format(fmt).option("path", dir)
        .option("partitionBy", "v").mode("overwrite").save()
    }
    assert(e1.getMessage.contains("BIGINT"), e1.getMessage)
    // unknown column
    val e2 = intercept[Exception] {
      df(10, 2).write.format(fmt).option("path", dir)
        .option("partitionBy", "nope").mode("overwrite").save()
    }
    assert(e2.getMessage.contains("not in the write schema"),
      e2.getMessage)
    // contradicting an existing declaration
    df(10, 2).write.format(fmt).option("path", dir)
      .option("partitionBy", "p").mode("overwrite").save()
    val e3 = intercept[Exception] {
      df(10, 2).write.format(fmt).option("path", dir)
        .option("partitionBy", "k").mode("append").save()
    }
    assert(e3.getMessage.contains("contradicts"), e3.getMessage)
    // a truncate may re-layout the table (unpartitioned overwrite)
    df(10, 2).drop("p").withColumn("p", lit(null).cast("bigint"))
      .select("k", "v", "p")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    assert(GdxSource.committedPartitionCol(dir,
      GdxSource.driverConf()).isEmpty)
  }

  test("GROUP BY partition column count/min/max answers COMPLETELY " +
      "from the manifest (zero data files opened)") {
    val dir = freshDir("metagrp")
    df(200, 4).repartition(4)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    val q = read(dir).groupBy("p")
      .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"))
    val desc = q.queryExecution.executedPlan.toString()
    assert(desc.contains("COMPLETE(manifest)") && desc.contains("groupBy=p"),
      s"grouped aggregate must push completely:\n${desc.take(2000)}")
    // p=i group holds k ∈ {i, i+4, ..., 196+i}: 50 rows, min i, max 196+i
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted ===
      (0 until 4).map(p => (p.toLong, 50L, p.toLong, 196L + p)))
    // the proof it read nothing: corrupt every data file — answer holds
    val root = new java.io.File(dir)
    def corrupt(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(corrupt)
      else if (f.getName.endsWith(".gdx"))
        java.nio.file.Files.writeString(f.toPath, "garbage\n")
    corrupt(root)
    assert(read(dir).groupBy("p").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      (0 until 4).map(p => (p.toLong, 50L)))
  }

  test("grouped aggregate falls back to a classic plan under a DV, a " +
      "row filter, or a non-partition group key — rows still correct") {
    val dir = freshDir("metafall")
    df(120, 3).repartition(2)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    // row filter on v → not pushed completely
    val f = read(dir).filter(col("v") =!= "r0").groupBy("p")
      .agg(count(lit(1)).as("n"))
    assert(!f.queryExecution.executedPlan.toString()
      .contains("COMPLETE(manifest)"))
    assert(f.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      Seq((0L, 39L), (1L, 40L), (2L, 40L)))
    // group by a non-partition column → classic aggregate
    val g = read(dir).groupBy("k").agg(count(lit(1)).as("n"))
    assert(!g.queryExecution.executedPlan.toString().contains("COMPLETE"))
    assert(g.count() === 120L)
    // a deletion vector invalidates manifest counts → fall back
    GdxSource.delete(spark, dir, col("k") < 3L)
    val d = read(dir).groupBy("p").agg(count(lit(1)).as("n"))
    assert(!d.queryExecution.executedPlan.toString()
      .contains("COMPLETE(manifest)"))
    assert(d.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      Seq((0L, 39L), (1L, 39L), (2L, 39L)))
  }

  test("the __null__ partition groups as SQL NULL in a manifest-" +
      "grouped aggregate") {
    val dir = freshDir("metanull")
    (0 until 90).map(i => (i.toLong, s"r$i",
        if (i % 3 == 0) None else Some((i % 3).toLong)))
      .toDF("k", "v", "p")
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    val q = read(dir).groupBy("p").agg(count(lit(1)).as("n"))
    assert(q.queryExecution.executedPlan.toString()
      .contains("COMPLETE(manifest)"))
    assert(q.collect().map(r =>
        (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSet ===
      Set((-1L, 30L), (1L, 30L), (2L, 30L)))
  }

  /** Rows with a nullable extra LONG column: w = 3k, NULL every 5th. */
  private def dfw(n: Int, parts: Int) =
    (0 until n).map(i => (i.toLong, s"r$i", (i % parts).toLong,
      if (i % 5 == 0) null else java.lang.Long.valueOf(3L * i)))
      .toDF("k", "v", "p", "w")

  test("SUM/COUNT(col)/MIN/MAX(col) answer COMPLETELY from the " +
      "manifest sum stats — grouped and ungrouped, NULL-exact, and " +
      "still correct with every data file corrupted") {
    val dir = freshDir("metasum")
    dfw(200, 4).repartition(4)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    val q = read(dir).groupBy("p")
      .agg(count(lit(1)).as("n"), sum("k").as("sk"),
        count("w").as("nw"), sum("w").as("sw"),
        min("w").as("mnw"), max("w").as("mxw"))
    val desc = q.queryExecution.executedPlan.toString()
    assert(desc.contains("COMPLETE(manifest)"), desc.take(2000))
    // recompute expectations in plain scala
    val rows = (0 until 200).map(i => (i % 4, i.toLong,
      if (i % 5 == 0) None else Some(3L * i)))
    val expect = rows.groupBy(_._1).map { case (p, rs) =>
      val ws = rs.flatMap(_._3)
      (p.toLong, rs.size.toLong, rs.map(_._2).sum,
        ws.size.toLong, ws.sum, ws.min, ws.max)
    }.toSeq.sorted
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq.sorted === expect)
    // ungrouped shape is complete too
    val u = read(dir).agg(sum("w").as("sw"), count("w").as("nw"))
    assert(u.queryExecution.executedPlan.toString()
      .contains("COMPLETE(manifest)"))
    assert(u.collect().head.getLong(0) ===
      rows.flatMap(_._3).sum)
    // the proof nothing is read: corrupt every data file — answers hold
    val root = new java.io.File(dir)
    def corrupt(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(corrupt)
      else if (f.getName.endsWith(".gdx"))
        java.nio.file.Files.writeString(f.toPath, "garbage\n")
    corrupt(root)
    assert(read(dir).agg(sum("w")).collect().head.getLong(0) ===
      rows.flatMap(_._3).sum)
  }

  test("an all-NULL column folds to SQL NULL sum and zero count " +
      "from metadata alone") {
    val dir = freshDir("metanull")
    (0 until 40).map(i => (i.toLong, s"r$i",
        null.asInstanceOf[java.lang.Long]))
      .toDF("k", "v", "w")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val q = read(dir).agg(sum("w").as("sw"), count("w").as("nw"),
      min("w").as("mn"))
    assert(q.queryExecution.executedPlan.toString()
      .contains("COMPLETE(manifest)"))
    val r = q.collect().head
    assert(r.isNullAt(0) && r.getLong(1) == 0L && r.isNullAt(2))
  }

  test("sum pushdown falls back under DVs, legacy sum-less entries, " +
      "and write-time Long overflow — rows still correct") {
    // DV: delete then aggregate
    val dir = freshDir("metasumdv")
    dfw(40, 2).write.format(fmt).option("path", dir)
      .option("partitionBy", "p").mode("overwrite").save()
    GdxSource.delete(spark, dir, col("k") === 7)
    val q = read(dir).agg(sum("w").as("sw"))
    assert(!q.queryExecution.executedPlan.toString()
      .contains("COMPLETE(manifest)"))
    assert(q.collect().head.getLong(0) ===
      (0 until 40).filter(i => i % 5 != 0 && i != 7).map(3L * _).sum)
    // write-time overflow: a file whose w-sum cannot fit a Long drops
    // its sum entry, and the aggregate falls back to the (wrapping)
    // classic plan rather than answering from poisoned metadata
    val dir2 = freshDir("metasumovf")
    Seq((1L, "a", Long.MaxValue), (2L, "b", Long.MaxValue))
      .toDF("k", "v", "w").coalesce(1)
      .write.format(fmt).option("path", dir2).mode("overwrite").save()
    val entries = GdxSource.committedEntries(dir2, GdxSource.driverConf())
    assert(entries.forall(_.stats.exists(s => !s.sums.contains("w") &&
      s.sums.contains("k"))))
    val o = read(dir2).agg(sum("w"))
    assert(!o.queryExecution.executedPlan.toString()
      .contains("COMPLETE(manifest)"))
    // fold-level overflow: two files, each in-range, whose TOTAL
    // overflows — the builder's fit check refuses completeness
    val dir3 = freshDir("metasumfold")
    Seq((1L, "a", Long.MaxValue - 10L)).toDF("k", "v", "w").coalesce(1)
      .write.format(fmt).option("path", dir3).mode("overwrite").save()
    Seq((2L, "b", Long.MaxValue - 10L)).toDF("k", "v", "w").coalesce(1)
      .write.format(fmt).option("path", dir3).mode("append").save()
    val f = read(dir3).agg(sum("w"))
    assert(!f.queryExecution.executedPlan.toString()
      .contains("COMPLETE(manifest)"))
  }
}
