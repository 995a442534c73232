package graft

import org.apache.spark.sql.functions._

/** GDX connector protocol: manifest-gated commit visibility and filter
  * pushdown (see sources/GdxSource.scala). */
class GdxSourceSpec extends SparkSuite with PruneAuditHelper {
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdx_$tag").toString

  private def write(dir: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("k", "v").repartition(2)
      .write.format("graft.sources.GdxSource")
      .option("path", dir).mode("append").save()

  private def read(dir: String) =
    spark.read.format("graft.sources.GdxSource").option("path", dir).load()

  /** The data files `df`'s scan plans, flattened from the physical
    * plan's BatchScanExec input partitions (a packed group lists each
    * of its files): the file-skipping probe, whatever the number of
    * files each task reads. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    scanPartitions(df).flatMap(filesOf)

  private def filesOf(ip: org.apache.spark.sql.connector.read.InputPartition)
      : Seq[String] = ip match {
    case sources.GdxFileGroupPartition(fs) => fs.map(_.file)
    case f: sources.GdxFilePartition      => Seq(f.file)
  }

  private def scanPartitions(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.connector.read.InputPartition] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b
    }.flatMap(_.inputPartitions)

  /** `MERGE ... ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *` through mergeGeneral; returns the version. */
  private def upsert(dir: String, rows: Seq[(Long, String)]): Int = {
    val all = Some(Seq("k" -> "__s_k", "v" -> "__s_v"))
    sources.GdxSource.mergeGeneral(spark, dir,
      rows.toDF("__s_k", "__s_v"), "__t_k = __s_k",
      matched = Seq(sources.GdxMergeClause(None, all)),
      notMatched = Seq(sources.GdxMergeClause(None, all)),
      notMatchedBySource = Nil, pruneKeySql = Some("__s_k"))._1
  }

  test("round-trip preserves rows; commit publishes a manifest") {
    val dir = freshDir("rt")
    write(dir, Seq((1L, "a"), (2L, "b"), (3L, "a")))
    assert(new java.io.File(dir, "_manifest").exists())
    assert(read(dir).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "a")))
  }

  test("uncommitted files are invisible (manifest gates the read)") {
    val dir = freshDir("gate")
    write(dir, Seq((1L, "a")))
    // a crashed task's leftover tmp AND a non-manifest final file
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(dir, "part-99999-0.gdx.tmp"), "666\tghost\n")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(dir, "part-99998-0.gdx"), "667\tstray\n")
    assert(read(dir).as[(Long, String)].collect().toSet ===
      Set((1L, "a")), "only manifest-listed files may be read")
  }

  test("append commits union with the previous snapshot") {
    val dir = freshDir("append")
    write(dir, Seq((1L, "old")))
    write(dir, Seq((2L, "new")))
    assert(read(dir).as[(Long, String)].collect().toSet ===
      Set((1L, "old"), (2L, "new")))
  }

  test("time travel: a pinned version is immune to later commits") {
    val dir = freshDir("tt")
    write(dir, Seq((1L, "a")))                       // v1
    write(dir, Seq((2L, "b")))                       // v2 = v1 + delta
    Seq((9L, "c")).toDF("k", "v")
      .write.format("graft.sources.GdxSource")
      .option("path", dir).mode("overwrite").save()  // v3 = fresh
    val conf = graft.sources.GdxSource.driverConf()
    assert(graft.sources.GdxSource.listVersions(dir, conf) === Seq(1, 2, 3))
    def at(v: Int) = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("version", v.toString).load()
      .as[(Long, String)].collect().toSet
    assert(at(1) === Set((1L, "a")))
    assert(at(2) === Set((1L, "a"), (2L, "b")))
    assert(at(3) === Set((9L, "c")))
    assert(read(dir).as[(Long, String)].collect().toSet === Set((9L, "c")),
      "no version option = latest snapshot")
    intercept[Exception] {
      spark.read.format("graft.sources.GdxSource").option("path", dir)
        .option("version", "7").load().collect()
    }
  }

  test("vacuum drops old manifests and unreferenced data files only") {
    val dir = freshDir("vac")
    write(dir, Seq((1L, "a")))                       // v1
    Seq((2L, "b")).toDF("k", "v")
      .write.format("graft.sources.GdxSource")
      .option("path", dir).mode("overwrite").save()  // v2 orphans v1's file
    val conf = graft.sources.GdxSource.driverConf()
    val deleted = graft.sources.GdxSource.vacuum(dir, conf, keepLast = 1)
    assert(deleted >= 1, "v1's data file is unreferenced and must go")
    assert(graft.sources.GdxSource.listVersions(dir, conf) === Seq(2))
    assert(read(dir).as[(Long, String)].collect().toSet === Set((2L, "b")),
      "the retained snapshot still reads intact after vacuum")
  }

  test("append commits publish delta manifests; checkpoints bound the chain") {
    import scala.jdk.CollectionConverters._
    val dir = freshDir("delta")
    for (i <- 1L to 12L)
      Seq((i, s"r$i")).toDF("k", "v").coalesce(1)
        .write.format("graft.sources.GdxSource")
        .option("path", dir).mode("append").save()
    def lines(v: Int) = java.nio.file.Files.readAllLines(
      java.nio.file.Path.of(dir, f"_manifest-$v%08d")).asScala
      .filter(_.nonEmpty).toSeq
    // v1 and v10 are full checkpoints; the rest record ONLY their own
    // file — this is what keeps retained manifest bytes linear in
    // commits instead of the full-list-per-commit O(N²). Every
    // manifest carries one #schema header on top of its entries.
    assert(lines(1).head.startsWith("#schema") && lines(1).size === 2)
    for (v <- (2 to 9) ++ Seq(11, 12))
      assert(lines(v).head === "#delta" &&
        lines(v)(1).startsWith("#schema") && lines(v).size === 3,
        s"version $v must be a single-entry delta")
    assert(lines(10).head.startsWith("#schema") && lines(10).size === 11)
    // every snapshot reconstructs exactly through its chain
    for (v <- 1 to 12)
      assert(spark.read.format("graft.sources.GdxSource")
        .option("path", dir).option("version", v.toString).load()
        .as[(Long, String)].collect().toSet ===
        (1L to v).map(i => (i, s"r$i")).toSet, s"snapshot $v")
    // zone-map stats flow through deltas: metadata-only agg still
    // COMPLETE, and file skipping still plans one file for a point read
    val agg = read(dir).agg(count(lit(1)), min("k"), max("k"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("COMPLETE(manifest)"))
    assert(agg.collect().head.toSeq === Seq(12L, 1L, 12L))
    assert(plannedFiles(read(dir).filter(col("k") === 7)).size === 1)
  }

  test("vacuum materializes the oldest retained delta before dropping " +
      "its chain") {
    import scala.jdk.CollectionConverters._
    val dir = freshDir("vacdelta")
    for (i <- 1L to 5L)
      Seq((i, s"r$i")).toDF("k", "v").coalesce(1)
        .write.format("graft.sources.GdxSource")
        .option("path", dir).mode("append").save()
    val conf = graft.sources.GdxSource.driverConf()
    // v4/v5 are deltas whose reconstruction chain runs through v1..v3 —
    // retention must checkpoint v4 or the retained snapshots go dark
    val deleted = graft.sources.GdxSource.vacuum(dir, conf, keepLast = 2)
    assert(deleted === 0, "appends orphan no data files")
    assert(graft.sources.GdxSource.listVersions(dir, conf) === Seq(4, 5))
    val v4 = java.nio.file.Files.readAllLines(
      java.nio.file.Path.of(dir, "_manifest-00000004")).asScala
      .filter(_.nonEmpty).toSeq
    assert(v4.head.startsWith("#schema") && v4.size === 5,
      "oldest retained version is rewritten as a full checkpoint")
    def at(v: Int) = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("version", v.toString).load()
      .as[(Long, String)].collect().toSet
    assert(at(4) === (1L to 4L).map(i => (i, s"r$i")).toSet)
    assert(at(5) === (1L to 5L).map(i => (i, s"r$i")).toSet)
    // stats survive the checkpoint rewrite: point read plans one file
    assert(plannedFiles(read(dir).filter(col("k") === 3)).size === 1)
    // a dropped version is a loud error, not an empty read
    intercept[Exception] { at(2) }
  }

  test("compact rewrites small files as one new snapshot; history intact") {
    val dir = freshDir("cmp")
    (1L to 100L).map(i => (i, s"r$i")).toDF("k", "v").repartition(8)
      .write.format("graft.sources.GdxSource")
      .option("path", dir).mode("append").save()          // v1: 8 files
    val conf = graft.sources.GdxSource.driverConf()
    val (before, after) = graft.sources.GdxSource.compact(spark, dir, 2)
    assert(before === 8 && after === 2)
    val want = (1L to 100L).map(i => (i, s"r$i")).toSet
    assert(read(dir).as[(Long, String)].collect().toSet === want,
      "compaction must preserve every row")
    assert(plannedFiles(read(dir)).size === 2,
      "the live snapshot plans the compacted files")
    // pre-compaction snapshot still time-travels (its files untouched)
    val v1 = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("version", "1").load()
    assert(plannedFiles(v1).size === 8)
    assert(v1.as[(Long, String)].collect().toSet === want)
    // vacuum then reclaims the 8 small files
    assert(graft.sources.GdxSource.vacuum(dir, conf, keepLast = 1) === 8)
    assert(read(dir).as[(Long, String)].collect().toSet === want)
    // already-compact tables are a no-op (no empty commit)
    assert(graft.sources.GdxSource.compact(spark, dir, 2) === ((2, 2)))
    assert(graft.sources.GdxSource.listVersions(dir, conf).size === 1)
  }

  test("mode(overwrite) is accepted via SupportsTruncate") {
    val dir = freshDir("trunc")
    write(dir, Seq((1L, "old")))
    Seq((9L, "ow")).toDF("k", "v")
      .write.format("graft.sources.GdxSource")
      .option("path", dir).mode("overwrite").save()
    assert(read(dir).as[(Long, String)].collect().toSet === Set((9L, "ow")))
  }

  test("ungrouped count/min/max collapse to per-file partials") {
    val dir = freshDir("agg")
    write(dir, (1L to 100L).map(i => (i, if (i % 2 == 0) "e" else "o")))
    val df = read(dir).filter(col("v") === "e")
      .agg(count(lit(1)).as("n"), min("k").as("mn"), max("k").as("mx"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("agg=[count_0, min_1, max_2]") ||
      plan.contains("agg=["), s"aggregates must reach the scan:\n" +
      plan.take(1500))
    assert(df.collect().head.toSeq === Seq(50L, 2L, 100L))
    // empty match: count 0, NULL min/max (not Long sentinels)
    val none = read(dir).filter(col("v") === "zzz")
      .agg(count(lit(1)), min("k"), max("k")).collect().head
    assert(none.getLong(0) === 0L && none.isNullAt(1) && none.isNullAt(2))
  }

  test("pushed limit caps per-partition reads") {
    val dir = freshDir("limit")
    write(dir, (1L to 100L).map(i => (i, "x")))
    val df = read(dir).limit(7)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("limit=7"), plan.take(1200))
    assert(df.count() === 7)
  }

  test("pruneByStats: zone-map boundary semantics, pure") {
    import graft.sources.{GdxFileEntry, GdxFileStats, GdxSource}
    import org.apache.spark.sql.sources._
    val e = Seq(
      GdxFileEntry("a", Some(GdxFileStats(5, 10, 20))),
      GdxFileEntry("b", Some(GdxFileStats(5, 30, 40))),
      GdxFileEntry("legacy", None),
      GdxFileEntry("empty",
        Some(GdxFileStats(0, Long.MaxValue, Long.MinValue))))
    def names(fs: Filter*) = GdxSource.pruneByStats(e, fs).map(_.name)
    assert(names(EqualTo("k", 20L)) === Seq("a", "legacy"))
    assert(names(GreaterThan("k", 20L)) === Seq("b", "legacy"))
    assert(names(GreaterThanOrEqual("k", 20L)) === Seq("a", "b", "legacy"))
    assert(names(LessThan("k", 10L)) === Seq("legacy"))
    assert(names(LessThanOrEqual("k", 10L)) === Seq("a", "legacy"))
    assert(names(GreaterThan("k", 15L), LessThan("k", 35L)) ===
      Seq("a", "b", "legacy"), "conjunction prunes per-predicate")
    // a manifest-proven EMPTY file is planned away UNCONDITIONALLY —
    // it contributes nothing to any scan, filtered or not
    assert(names(EqualTo("v", "x")) === Seq("a", "b", "legacy"),
      "v-predicates never prune stats-carrying files (k-only zone " +
        "map), but zero-row files always drop")
    assert(names() === Seq("a", "b", "legacy"))
  }

  test("scan partitions BIN-PACK small files by bytes at every file " +
      "count (Spark's FilePartition formula); rows, their order and a " +
      "pushed LIMIT are unchanged") {
    val dir = freshDir("binpack")
    val conf = graft.sources.GdxSource.driverConf()
    // AQE's partition coalescing would merge the tiny write shuffles
    // and undershoot the intended file count — pin it off for the
    // fixture writes (a clone: never the shared session)
    val w = Sessions.pinned(spark,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType,
      StructField, StructType}
    w.createDataFrame(
      w.sparkContext.parallelize((1L to 120L).map(i => Row(i, s"r$i")), 12),
      StructType(Seq(StructField("k", LongType),
        StructField("v", StringType))))
      .write.format("graft.sources.GdxSource")
      .option("path", dir).mode("append").save()
    val entries = graft.sources.GdxSource.committedEntries(dir, conf)
    assert(entries.size === 12)
    // a 12-file table on local[4]: at most one partition per core,
    // every file still planned exactly once
    val all = read(dir)
    val parts = scanPartitions(all)
    assert(parts.nonEmpty &&
      parts.size <= spark.sparkContext.defaultParallelism,
      s"expected packed partitions, got ${parts.size} for 12 files")
    assert(plannedFiles(all).sorted === entries.map(e =>
      graft.sources.GdxSource.entryPath(dir, e.name).toString).sorted)
    // the scan streams files in manifest name order and each file's
    // lines in order, as one file per task did
    val fileOrder = entries.sortBy(_.name).flatMap { e =>
      val src = scala.io.Source.fromFile(new java.io.File(dir, e.name))
      try src.getLines().map(_.split("\t")(0).toLong).toList
      finally src.close()
    }
    val rows = all.as[(Long, String)].collect().toSeq
    assert(rows.map(_._1) === fileOrder)
    assert(rows.toSet === (1L to 120L).map(i => (i, s"r$i")).toSet)
    // a pushed LIMIT that ends past the first file of a group (10
    // rows a file) returns the same prefix
    val limited = read(dir).limit(25)
    assert(limited.queryExecution.executedPlan.toString.contains("limit=25"))
    assert(limited.as[(Long, String)].collect().toSeq === rows.take(25))
    // zone-map pruning composes: a point read still plans one file
    assert(plannedFiles(read(dir).filter(col("k") === 7)).size === 1)
  }

  test("packFilePartitions: unknown sizes get their own partition, " +
      "big files stay singletons, tiny files fill bins by bytes") {
    import graft.sources.{GdxFilePartition, GdxSource}
    def p(n: Int) = GdxFilePartition(s"f$n")
    val s = Sessions.pinned(spark,
      "spark.sql.files.maxPartitionBytes" -> (100L * 1024 * 1024).toString,
      "spark.sql.files.openCostInBytes" -> (4L * 1024 * 1024).toString)
    Sessions.withActive(s) {
      // 64 × 1 MB files on 4-cores-worth of budget: bins fill to the
      // per-core byte share, never past maxPartitionBytes
      val tiny = (1 to 64).map(i => (p(i), Some(1L * 1024 * 1024)))
      val bins = GdxSource.packFilePartitions(tiny)
      assert(bins.length < 64 && bins.length > 1)
      assert(bins.flatMap(filesOf).toSeq === tiny.map(_._1.file),
        "packing preserves manifest name order")
      // an UNKNOWN size counts as the max split — forced singleton
      val mixed = Seq((p(1), Some(1024L)), (p(2), None),
        (p(3), Some(1024L)))
      val mixedBins = GdxSource.packFilePartitions(mixed)
      assert(mixedBins.exists(ip => filesOf(ip) == Seq("f2")),
        s"unknown-size file must sit alone, got " +
          mixedBins.map(filesOf).toSeq)
      // files at/above the split target stay singletons
      val big = (1 to 4).map(i => (p(i), Some(200L * 1024 * 1024)))
      assert(GdxSource.packFilePartitions(big).length === 4)
    }
  }

  test("zone maps prune files the pushed k-range cannot touch") {
    val dir = freshDir("zm")
    (1L to 1000L).map(i => (i, "x")).toDF("k", "v")
      .repartitionByRange(10, col("k"))
      .write.format("graft.sources.GdxSource")
      .option("path", dir).mode("append").save()
    assert(plannedFiles(read(dir)).size === 10)
    val narrow = read(dir).filter(col("k") >= 150 && col("k") <= 160)
    assert(plannedFiles(narrow).size <= 2,
      "only files whose [min,max] overlaps [150,160] may be planned")
    assert(narrow.count() === 11, "pruning must not lose rows")
    assert(plannedFiles(read(dir).filter(col("k") > 5000)).isEmpty,
      "a range beyond every zone map plans nothing")
  }

  test("empty files are pruned by any k-predicate") {
    val dir = freshDir("emptyf")
    write(dir, Seq((5L, "x"))) // repartition(2) leaves one empty file
    val df = read(dir).filter(col("k") === 5)
    assert(plannedFiles(df).size === 1)
    assert(df.count() === 1)
  }

  test("no-filter count/min/max answered from the manifest alone") {
    val dir = freshDir("meta")
    write(dir, (1L to 100L).map(i => (i, "x")))
    write(dir, (101L to 150L).map(i => (i, "y"))) // append carries stats
    val df = read(dir).agg(count(lit(1)).as("n"),
      min("k").as("mn"), max("k").as("mx"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("COMPLETE(manifest)"), plan.take(1500))
    assert(df.collect().head.toSeq === Seq(150L, 1L, 150L))
    // the proof no data file is opened: corrupt them all, same answer
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gdx")).foreach { f =>
        java.nio.file.Files.writeString(f.toPath, "garbage-no-tab\n")
      }
    assert(read(dir).agg(count(lit(1)), min("k"), max("k"))
      .collect().head.toSeq === Seq(150L, 1L, 150L))
  }

  test("IS NOT NULL on v filters stored nulls (never vacuously pushed)") {
    val dir = freshDir("nnv")
    // null v round-trips via the \N marker; IsNotNull("v") is pushed
    // AND enforced reader-side (Spark never re-checks pushed filters)
    Seq((1L, Some("a")), (2L, None), (3L, Some("c")), (4L, None))
      .toDF("k", "ov").select(col("k"), col("ov").as("v"))
      .write.format("graft.sources.GdxSource")
      .option("path", dir).mode("append").save()
    val df = read(dir).filter(col("v").isNotNull)
    assert(df.as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c")))
    // count under the v-predicate must fold per file, never answer
    // from manifest row counts (those include the null-v rows)
    val agg = read(dir).filter(col("v").isNotNull).agg(count(lit(1)))
    assert(!agg.queryExecution.executedPlan.toString.contains("COMPLETE"),
      "IsNotNull(v) filters rows - manifest counts would overcount")
    assert(agg.collect().head.getLong(0) === 2L)
    // IsNotNull(k) alone IS vacuous: still the metadata-only path
    val aggK = read(dir).filter(col("k").isNotNull).agg(count(lit(1)))
    assert(aggK.queryExecution.executedPlan.toString
      .contains("COMPLETE(manifest)"))
    assert(aggK.collect().head.getLong(0) === 4L)
  }

  test("legacy stats-less manifests still read, never prune") {
    import scala.jdk.CollectionConverters._
    val dir = freshDir("legacy")
    write(dir, (1L to 50L).map(i => (i, "x")))
    for (mf <- new java.io.File(dir).listFiles()
         if mf.getName.startsWith("_manifest")) {
      val stripped = java.nio.file.Files.readAllLines(mf.toPath)
        .asScala.map(_.split('\t')(0)).mkString("", "\n", "\n")
      java.nio.file.Files.writeString(mf.toPath, stripped)
      // drop the LocalFileSystem checksum sidecar the rewrite stales
      new java.io.File(dir, s".${mf.getName}.crc").delete()
    }
    val df = read(dir).filter(col("k") <= 5)
    assert(plannedFiles(df).size === 2, "no stats -> no pruning")
    assert(df.count() === 5)
    val agg = read(dir).agg(count(lit(1)))
    assert(!agg.queryExecution.executedPlan.toString.contains("COMPLETE"),
      "metadata-only path requires stats on every entry")
    assert(agg.collect().head.getLong(0) === 50L)
  }

  test("snapshots stream as a changefeed: one micro-batch per commit") {
    val dir = freshDir("feed")
    write(dir, Seq((1L, "a"), (2L, "a")))                  // v1
    val q = spark.readStream.format("graft.sources.GdxSource")
      .option("path", dir).load()
      .writeStream.format("memory").queryName("gdx_feed").start()
    try {
      q.processAllAvailable()
      def feed() = spark.sql("SELECT k, v FROM gdx_feed")
        .as[(Long, String)].collect().toSeq
      assert(feed().sorted === Seq((1L, "a"), (2L, "a")),
        "first batch = the full current snapshot")
      write(dir, Seq((3L, "b")))                           // v2 (append)
      q.processAllAvailable()
      assert(feed().sorted === Seq((1L, "a"), (2L, "a"), (3L, "b")),
        "an append commit feeds exactly its added files")
      Seq((9L, "c")).toDF("k", "v")
        .write.format("graft.sources.GdxSource")
        .option("path", dir).mode("overwrite").save()      // v3 (fresh)
      q.processAllAvailable()
      assert(feed().sorted ===
        Seq((1L, "a"), (2L, "a"), (3L, "b"), (9L, "c")),
        "an overwrite commit feeds only its fresh files; " +
          "already-streamed rows are not re-delivered")
    } finally q.stop()
    // offset round-trip
    val off = graft.sources.GdxOffset(7)
    assert(new graft.sources.GdxMicroBatchStream(dir, Array.empty)
      .deserializeOffset(off.json())
      .asInstanceOf[graft.sources.GdxOffset].version === 7)
  }

  test("startingVersion tails the changefeed from a base snapshot " +
      "(SHOW CHANGES parity) and resolves tag names") {
    val dir = freshDir("tail")
    write(dir, Seq((1L, "a"), (2L, "a")))            // v1
    write(dir, Seq((3L, "b")))                       // v2 (append)
    graft.sources.GdxSource.createTag(dir, "base", 1)
    write(dir, Seq((4L, "c")))                       // v3 (append)
    def drained(opt: String): Seq[(Long, String)] = {
      val name = "gdx_tail_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = spark.readStream.format("graft.sources.GdxSource")
        .option("path", dir).option("startingVersion", opt).load()
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.sql(s"SELECT k, v FROM $name").as[(Long, String)]
        .collect().toSeq.sorted
    }
    // base v1 already consumed: the tail is exactly (1, 3]
    assert(drained("1") === Seq((3L, "b"), (4L, "c")))
    // a tag name resolves like every other version ref
    assert(drained("base") === Seq((3L, "b"), (4L, "c")))
    // base = latest: nothing to deliver
    assert(drained("3") === Seq.empty)
  }

  test("streaming sink: micro-batches append-commit; read back intact") {
    val src = freshDir("sinksrc")
    val dir = freshDir("sink")
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "v")
      .write.parquet(src + "/batch1")
    val q = spark.readStream
      .schema("k LONG, v STRING").parquet(src + "/*")
      .writeStream.format("graft.sources.GdxSource")
      .option("path", dir)
      .option("checkpointLocation", freshDir("sinkck"))
      .start()
    try {
      q.processAllAvailable()
      assert(read(dir).as[(Long, String)].collect().toSet ===
        Set((1L, "a"), (2L, "b"), (3L, "a")))
      Seq((4L, "c")).toDF("k", "v").write.parquet(src + "/batch2")
      q.processAllAvailable()
      assert(read(dir).as[(Long, String)].collect().toSet ===
        Set((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c")),
        "each micro-batch appends a snapshot")
    } finally q.stop()
    val conf = graft.sources.GdxSource.driverConf()
    assert(graft.sources.GdxSource.listVersions(dir, conf).size >= 2,
      "one committed version per non-empty micro-batch")
  }

  test("streaming sink replays are idempotent (epoch markers)") {
    import graft.sources.{GdxCommitMessage, GdxFileStats, GdxStreamingWrite}
    val dir = freshDir("replay")
    new java.io.File(dir).mkdirs()
    def tmp(name: String, line: String) =
      java.nio.file.Files.writeString(
        java.nio.file.Path.of(dir, name), line + "\n")
    val sw = new GdxStreamingWrite(dir)
    tmp("part-x.gdx.tmp", "1\ta")
    sw.commit(0L, Array(GdxCommitMessage(Seq("part-x.gdx.tmp" ->
      GdxFileStats(1, 1, 1)))))
    // the engine failed before recording epoch 0 and replays it
    tmp("part-y.gdx.tmp", "1\ta")
    sw.commit(0L, Array(GdxCommitMessage(Seq("part-y.gdx.tmp" ->
      GdxFileStats(1, 1, 1)))))
    assert(read(dir).as[(Long, String)].collect().toSeq === Seq((1L, "a")),
      "a replayed epoch must not double its rows")
    val conf = graft.sources.GdxSource.driverConf()
    assert(graft.sources.GdxSource.listVersions(dir, conf) === Seq(1),
      "the replay commits no new version")
    // the replay's tmp is discarded, not leaked
    assert(!new java.io.File(dir, "part-y.gdx.tmp").exists())
    // a NEW epoch commits normally
    tmp("part-z.gdx.tmp", "2\tb")
    sw.commit(1L, Array(GdxCommitMessage(Seq("part-z.gdx.tmp" ->
      GdxFileStats(1, 2, 2)))))
    assert(read(dir).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
  }

  test("column pruning: every subset and order matches readSchema") {
    val dir = freshDir("prune")
    write(dir, Seq((1L, "a"), (2L, "b"), (3L, "a")))
    // shared audit: v-only, k-only, (v,k), (k,v), plus the maximally
    // pruned count() shape — each must deliver exactly what the scan's
    // readSchema() advertises (the round-6 CCE class: a v-only read
    // crashed, a k-only read was right by position-luck)
    auditColumnPruning(() => read(dir))
    // pruning composes with pushed filters and zone-map skipping
    import spark.implicits._
    assert(read(dir).filter(col("k") >= 2).select("v")
      .as[String].collect().sorted.toSeq === Seq("a", "b"))
    // and with the streaming (changefeed) read path, which plans
    // through its own reader factory
    val q = spark.readStream.format("graft.sources.GdxSource")
      .option("path", dir).load().select("v")
      .writeStream.format("memory").queryName("gdx_prune_v").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT v FROM gdx_prune_v")
        .as[String].collect().sorted.toSeq === Seq("a", "a", "b"))
    } finally q.stop()
  }

  test("merge: update wins per key, inserts land, history untouched") {
    val dir = freshDir("merge")
    write(dir, Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val v = upsert(dir, Seq((2L, "B"), (4L, "D")))
    assert(read(dir).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
    // the pre-merge snapshot is still fully readable (time travel)
    val pre = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("version", (v - 1).toString).load()
    assert(pre.as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // duplicate update keys are ambiguous (ANSI): the merge raises
    // and commits nothing
    val conf = sources.GdxSource.driverConf()
    val before = sources.GdxSource.listVersions(dir, conf)
    intercept[sources.GdxMergeCardinalityException] {
      upsert(dir, Seq((1L, "x"), (1L, "y")))
    }
    assert(sources.GdxSource.listVersions(dir, conf) === before)
    assert(read(dir).filter(col("k") === 1L).as[(Long, String)]
      .collect().toSeq === Seq((1L, "a")))
  }

  test("delete: deletion vector subtracts rows, rewrites nothing") {
    val dir = freshDir("dv")
    write(dir, (1L to 20L).map(i => (i, s"v$i")))
    val dataFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gdx")).map(f => f.getName -> f.length).toMap
    val (ver, n) = sources.GdxSource.delete(spark, dir, col("k") % 2 === 1)
    assert(n === 10L)
    assert(read(dir).as[(Long, String)].collect().map(_._1).sorted ===
      (2L to 20L by 2).toArray)
    // no data file was touched — same names, same sizes; only a .dvx
    // sidecar and a new manifest appeared
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gdx")).map(f => f.getName -> f.length).toMap
    assert(after === dataFiles, "delete must not rewrite data files")
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.endsWith(".dvx")), "expected a DV sidecar")
    // time travel: the pre-delete snapshot still sees every row
    val pre = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("version", (ver - 1).toString).load()
    assert(pre.count() === 20L)
    // a second delete on the same file unions into a fresh DV
    val (_, n2) = sources.GdxSource.delete(spark, dir, col("v") === "v4")
    assert(n2 === 1L)
    assert(read(dir).as[(Long, String)].collect().map(_._1).sorted ===
      (2L to 20L by 2).filterNot(_ == 4L).toArray)
    // aggregates stay exact post-delete (metadata-only path must have
    // yielded to the per-file fold — counts reflect the DV, not stats)
    val agg = read(dir).agg(count(lit(1)), min("k"), max("k"))
      .head
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) === ((9L, 2L, 20L)))
    // no-match delete publishes nothing
    val vsBefore = sources.GdxSource
      .listVersions(dir, sources.GdxSource.driverConf())
    val (v3, n3) = sources.GdxSource.delete(spark, dir, col("k") > 999)
    assert(n3 === 0L && v3 === vsBefore.max)
    assert(sources.GdxSource
      .listVersions(dir, sources.GdxSource.driverConf()) === vsBefore)
  }

  test("delete interops with pruning, pushdown, compact, and vacuum") {
    val dir = freshDir("dvint")
    write(dir, (1L to 100L).map(i => (i, if (i % 3 == 0) "fizz" else s"x$i")))
    sources.GdxSource.delete(spark, dir, col("v") === "fizz")
    // column pruning audit over a DV-carrying snapshot: every subset
    // and order must still agree with the full scan
    auditColumnPruning(() => read(dir))
    // pushed k-range applies on the DV-subtracted rows
    assert(read(dir).filter(col("k") >= 10 && col("k") <= 20)
      .as[(Long, String)].collect().map(_._1).sorted ===
      (10L to 20L).filterNot(_ % 3 == 0).toArray)
    // compact rewrites the survivors clean: no DV reference remains
    sources.GdxSource.compact(spark, dir, target = 1)
    val conf = sources.GdxSource.driverConf()
    val entries = sources.GdxSource.committedEntries(dir, conf)
    assert(entries.forall(_.dv.isEmpty), "compact must purge DVs")
    assert(read(dir).count() === 67L)
    // vacuum reaps the superseded sidecar once no snapshot references it
    sources.GdxSource.vacuum(dir, conf, keepLast = 1)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.endsWith(".dvx")),
      "vacuum must delete unreferenced DV sidecars")
    assert(read(dir).count() === 67L)
  }

  test("update: matched rows swap atomically via DV + fresh file") {
    val dir = freshDir("upd")
    write(dir, (1L to 20L).map(i => (i, s"v$i")))
    val dataBefore = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gdx")).map(_.getName).toSet
    val (ver, n) = sources.GdxSource.update(spark, dir,
      col("k") % 5 === 0, Map("v" -> concat(lit("UP_"), col("v"))))
    assert(n === 4L)
    assert(read(dir).as[(Long, String)].collect().toSet ===
      (1L to 20L).map(i =>
        (i, if (i % 5 == 0) s"UP_v$i" else s"v$i")).toSet)
    // original files untouched; updated rows live in fresh upd-* files
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gdx")).map(_.getName).toSet
    assert(dataBefore.subsetOf(after), "no original file may be rewritten")
    assert((after -- dataBefore).forall(_.startsWith("upd-")))
    // ONE commit: version advanced exactly once; time travel sees the
    // pre-update state whole
    val pre = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("version", (ver - 1).toString).load()
    assert(pre.as[(Long, String)].collect().toSet ===
      (1L to 20L).map(i => (i, s"v$i")).toSet)
    // updates compose with evolved columns and NULL semantics
    sources.GdxSource.addColumn(dir, "w",
      org.apache.spark.sql.types.DoubleType)
    val (_, n2) = sources.GdxSource.update(spark, dir,
      col("k") === 3, Map("w" -> lit(9.5)))
    assert(n2 === 1L)
    assert(read(dir).filter(col("k") === 3)
      .as[(Long, String, Option[Double])].head() === ((3L, "v3", Some(9.5))))
    // aggregates stay exact post-update
    assert(read(dir).count() === 20L)
  }

  test("history describes every retained snapshot from metadata alone") {
    val dir = freshDir("hist")
    write(dir, (1L to 10L).map(i => (i, s"v$i")))          // v1 checkpoint
    write(dir, (11L to 15L).map(i => (i, s"v$i")))         // v2 delta
    sources.GdxSource.delete(spark, dir, col("k") === 3)   // v3 checkpoint+DV
    sources.GdxSource.addColumn(dir, "w",
      org.apache.spark.sql.types.DoubleType)               // v4 evolution
    val h = sources.GdxSource.history(spark, dir)
      .orderBy("version")
      .select("version", "manifest_kind", "n_files", "n_dvs",
        "n_rows_physical", "schema")
      .collect().map(_.toSeq)
    assert(h(0) === Seq(1, "checkpoint", 2L, 0L, 10L, "k:long,v:string"))
    assert(h(1) === Seq(2, "delta", 4L, 0L, 15L, "k:long,v:string"))
    assert(h(2) === Seq(3, "checkpoint", 4L, 1L, 15L, "k:long,v:string"))
    assert(h(3) === Seq(4, "checkpoint", 4L, 1L, 15L,
      "k:long,v:string,w:double"))
    // commit timestamps are monotone non-decreasing (the asOf clock)
    val ts = sources.GdxSource.history(spark, dir).orderBy("version")
      .select("commit_ts").as[Long].collect()
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
  }

  test("tableChanges derives row-level CDF from manifests and DVs") {
    val dir = freshDir("cdf")
    (1L to 6L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1)
      .write.format("graft.sources.GdxSource")
      .option("path", dir).mode("append").save()            // v1
    sources.GdxSource.update(spark, dir, col("k") === 2,
      Map("v" -> lit("U2")))                                // v2
    sources.GdxSource.delete(spark, dir, col("k") === 5)    // v3
    write(dir, Seq((7L, "v7")))                             // v4 append
    val ch = sources.GdxSource.tableChanges(spark, dir, 1, 4)
      .as[(Int, String, Long, String)].collect().toSet
    assert(ch === Set(
      (2, "delete", 2L, "v2"), (2, "insert", 2L, "U2"), // the update pair
      (3, "delete", 5L, "v5"),
      (4, "insert", 7L, "v7")))
    // a window that starts mid-history sees only its steps
    assert(sources.GdxSource.tableChanges(spark, dir, 3, 4)
      .as[(Int, String, Long, String)].collect().toSet ===
      Set((4, "insert", 7L, "v7")))
    // from the beginning: v1's load is the initial insert set
    val all = sources.GdxSource.tableChanges(spark, dir, 0, 4)
    assert(all.filter(col("version") === 1 &&
      col("change_type") === "insert").count() === 6L)
  }

  test("restore rolls back as a new time-travelable commit") {
    val dir = freshDir("restore")
    write(dir, Seq((1L, "a"), (2L, "b")))              // v1
    sources.GdxSource.delete(spark, dir, col("k") === 1) // v2
    write(dir, Seq((3L, "c")))                         // v3
    val v = sources.GdxSource.restoreSnapshot(dir, 1)
    assert(v === 4)
    assert(read(dir).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")), "restore must resurrect v1's state")
    // history intact: the bad interlude is still time-travelable
    def at(n: Int) = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("version", n.toString).load()
      .as[(Long, String)].collect().toSet
    assert(at(2) === Set((2L, "b")))
    assert(at(3) === Set((2L, "b"), (3L, "c")))
    // the restore commit itself shows in history as a checkpoint
    val kinds = sources.GdxSource.history(spark, dir)
      .orderBy("version").select("manifest_kind")
      .collect().map(_.getString(0)).toSeq
    assert(kinds(3) === "checkpoint")
  }

  test("shallow clone: zero-copy branch, mutations stay clone-local") {
    val src = freshDir("clsrc")
    write(src, (1L to 10L).map(i => (i, s"v$i")))
    val dst = freshDir("cldst")
    sources.GdxSource.cloneShallow(src, dst)
    // no data bytes copied: the clone dir holds only metadata
    assert(!new java.io.File(dst).listFiles()
      .exists(_.getName.endsWith(".gdx")),
      "a shallow clone must copy no data files")
    assert(read(dst).as[(Long, String)].collect().toSet ===
      read(src).as[(Long, String)].collect().toSet)
    // the branch diverges: delete + update + append on the CLONE
    sources.GdxSource.delete(spark, dst, col("k") <= 2)
    sources.GdxSource.update(spark, dst, col("k") === 5,
      Map("v" -> lit("branched")))
    Seq((99L, "new")).toDF("k", "v")
      .write.format("graft.sources.GdxSource").option("path", dst)
      .mode("append").save()
    assert(read(dst).as[(Long, String)].collect().toSet ===
      ((3L to 10L).map(i =>
        (i, if (i == 5) "branched" else s"v$i")).toSet + ((99L, "new"))))
    // the SOURCE is untouched by any of it
    assert(read(src).as[(Long, String)].collect().toSet ===
      (1L to 10L).map(i => (i, s"v$i")).toSet)
    // clone-side vacuum can only reap clone-local files
    val srcFiles = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".gdx")).map(_.getName).toSet
    sources.GdxSource.vacuum(dst,
      sources.GdxSource.driverConf(), keepLast = 1)
    assert(new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".gdx")).map(_.getName).toSet === srcFiles,
      "vacuuming the clone must never delete source data")
    assert(read(dst).filter(col("k") === 99).count() === 1L)
    // compact localizes the branch: afterwards all entries are local
    sources.GdxSource.compact(spark, dst, target = 1)
    val conf = sources.GdxSource.driverConf()
    assert(sources.GdxSource.committedEntries(dst, conf)
      .forall(!_.name.contains("/")), "compacted clone must be self-contained")
    assert(read(dst).count() === 9L)
  }

  test("schema evolution: addColumn is metadata-only, old files null-fill") {
    val dir = freshDir("evo")
    write(dir, Seq((1L, "a"), (2L, "b")))
    val dataBefore = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gdx")).map(f => f.getName -> f.length).toMap
    val v = sources.GdxSource.addColumn(dir, "w",
      org.apache.spark.sql.types.DoubleType)
    // metadata-only: same data files, one new manifest
    assert(new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gdx"))
      .map(f => f.getName -> f.length).toMap === dataBefore)
    val df = read(dir)
    assert(df.schema.fieldNames.toSeq === Seq("k", "v", "w"))
    assert(df.as[(Long, String, Option[Double])].collect().toSet ===
      Set((1L, "a", None), (2L, "b", None)),
      "pre-evolution rows must null-fill the new column")
    // appends now carry the evolved schema; nulls round-trip as \N
    Seq((3L, "c", Some(1.5)), (4L, "d", None))
      .toDF("k", "v", "w")
      .write.format("graft.sources.GdxSource").option("path", dir)
      .mode("append").save()
    assert(read(dir).as[(Long, String, Option[Double])].collect().toSet ===
      Set((1L, "a", None), (2L, "b", None),
        (3L, "c", Some(1.5)), (4L, "d", None)))
    // the full pruning audit holds on the evolved, mixed-file table
    auditColumnPruning(() => read(dir))
    // k-pushdown and zone maps still work (classic prefix is intact)
    assert(read(dir).filter(col("k") >= 3).count() === 2L)
    // metadata-only aggregates still fold from the manifest
    val agg = read(dir).agg(count(lit(1)), min("k"), max("k")).head
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) ===
      ((4L, 1L, 4L)))
    // time travel to the pre-evolution snapshot reads its OWN schema
    val pre = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("version", (v - 1).toString).load()
    assert(pre.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(pre.count() === 2L)
    // evolving an existing name is rejected
    intercept[IllegalArgumentException] {
      sources.GdxSource.addColumn(dir, "v",
        org.apache.spark.sql.types.StringType)
    }
  }

  test("schema evolution composes with delete, compact, and streaming") {
    val dir = freshDir("evo2")
    write(dir, Seq((1L, "x"), (2L, "y")))
    sources.GdxSource.addColumn(dir, "w",
      org.apache.spark.sql.types.DoubleType)
    Seq((3L, "x", Some(2.0)), (4L, "y", Some(4.0)))
      .toDF("k", "v", "w")
      .write.format("graft.sources.GdxSource").option("path", dir)
      .mode("append").save()
    // DV delete on the evolved table: condition over the (k, v) core
    val (_, n) = sources.GdxSource.delete(spark, dir, col("v") === "x")
    assert(n === 2L)
    assert(read(dir).as[(Long, String, Option[Double])].collect().toSet ===
      Set((2L, "y", None), (4L, "y", Some(4.0))))
    // ... and over the EVOLVED column itself (nulls don't match)
    val (_, n2) = sources.GdxSource.delete(spark, dir, col("w") > 3.0)
    assert(n2 === 1L)
    assert(read(dir).as[(Long, String, Option[Double])].collect().toSet ===
      Set((2L, "y", None)))
    // compact preserves the evolved schema and the surviving rows
    sources.GdxSource.compact(spark, dir, target = 1)
    assert(read(dir).schema.fieldNames.toSeq === Seq("k", "v", "w"))
    assert(read(dir).as[(Long, String, Option[Double])].collect().toSet ===
      Set((2L, "y", None)))
    // the changefeed streams evolved rows with the evolved schema
    val seen = spark.readStream.format("graft.sources.GdxSource")
      .option("path", dir).load()
    assert(seen.schema.fieldNames.toSeq === Seq("k", "v", "w"))
    val q = seen.writeStream.format("memory").queryName("graft_evo_feed")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      assert(spark.table("graft_evo_feed")
        .as[(Long, String, Option[Double])].collect().toSet ===
        Set((2L, "y", None)))
    } finally q.stop()
  }

  test("manifest rewrite under a legacy checksum sidecar stays readable") {
    // Manifests written through fs.create (pre-optimistic-concurrency
    // directories) carry a ChecksumFileSystem .crc sidecar; vacuum's
    // in-place checkpoint materialization rewrites those bytes through
    // the NIO fast path. Without crc hygiene the stale sidecar poisons
    // every later manifest open with ChecksumException — exactly what
    // the loud-error bench surfaced on round-6-era /tmp tables.
    val dir = freshDir("crc")
    write(dir, Seq((1L, "a")))
    write(dir, Seq((2L, "b")))
    val conf = sources.GdxSource.driverConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    // plant the legacy state: rewrite v2's manifest THROUGH the
    // checksum layer so a .crc sidecar exists for its current bytes
    val m2 = sources.GdxSource.manifestFor(dir, 2)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(m2.toUri.getPath))
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      fs.create(m2, true), "UTF-8"))
    try lines.forEach(out.println) finally out.close()
    assert(new java.io.File(dir, "._manifest-00000002.crc").exists(),
      "precondition: checksum sidecar planted")
    // vacuum materializes v2 as a full checkpoint IN PLACE (different
    // bytes than the delta the crc was computed over)
    sources.GdxSource.vacuum(dir, conf, keepLast = 1)
    // every read path must stay green: batch, time travel, changefeed
    assert(read(dir).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    assert(sources.GdxSource.committedEntries(dir, conf, 2).size === 4,
      "both commits' files (2 tasks each) must reconstruct")
  }

  test("CAS commit: a stale expectedBaseVersion surfaces as conflict") {
    val dir = freshDir("cas")
    write(dir, Seq((1L, "a")))                        // v1
    intercept[Exception] { // Spark wraps the commit-time conflict
      Seq((2L, "b")).toDF("k", "v")
        .write.format("graft.sources.GdxSource").option("path", dir)
        .option("expectedBaseVersion", "0")           // stale: base is 1
        .mode("overwrite").save()
    }
    assert(read(dir).as[(Long, String)].collect().toSet === Set((1L, "a")),
      "a conflicted commit must leave the table untouched")
    assert(sources.GdxSource
      .listVersions(dir, sources.GdxSource.driverConf()) === Seq(1),
      "a conflicted commit must not claim a version")
    // the matching expectation commits normally
    Seq((2L, "b")).toDF("k", "v")
      .write.format("graft.sources.GdxSource").option("path", dir)
      .option("expectedBaseVersion", "1").mode("append").save()
    assert(read(dir).count() === 2L)
  }

  test("concurrent merges: conflict detection serializes, no update lost") {
    val dir = freshDir("mrace")
    write(dir, (1L to 8L).map(i => (i, "base")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // two writers race read-compute-publish on DISJOINT key sets; the
    // loser of the version claim must recompute on the winner's
    // snapshot, or the winner's update would be lost
    val fs = Seq(Seq((1L, "A")), Seq((2L, "B"))).map(up => Future {
      upsert(dir, up)
    })
    val vs = Await.result(Future.sequence(fs), 120.seconds)
    assert(vs.toSet === Set(2, 3), s"both merges must commit: $vs")
    val got = read(dir).as[(Long, String)].collect().toMap
    assert(got(1L) === "A" && got(2L) === "B",
      s"an update was lost to the merge race: $got")
    assert(got.size === 8)
    assert(read(dir).count() === 8L, "a DV'd row came back")
  }

  test("concurrent appends: no commit lost, snapshots stay consecutive") {
    // 8 writers race the version claim; optimistic concurrency must land
    // ALL of them (appends are commutative — no conflict to check) as
    // consecutive snapshots, and the final snapshot must union every
    // writer's rows. Before the claim-with-retry commit this was
    // last-writer-wins on the manifest.
    val dir = freshDir("concur")
    val writers = (0 until 8).map { w =>
      new Thread(() => write(dir, Seq((w.toLong, s"writer$w"))))
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    val vs = sources.GdxSource.listVersions(dir, sources.GdxSource.driverConf())
    assert(vs === (1 to 8), s"lost or duplicated commit: versions $vs")
    assert(read(dir).as[(Long, String)].collect().toSet ===
      (0 until 8).map(w => (w.toLong, s"writer$w")).toSet,
      "a concurrent append's rows went missing")
  }

  test("publishExclusive claims a version atomically; losers see false") {
    // the cross-process arm of optimistic concurrency (the in-JVM lock
    // never lets two local writers reach the claim together): first
    // publish wins, a second publish of the SAME manifest path must
    // return false and leave the winner's content untouched
    val dir = freshDir("claim")
    val conf = sources.GdxSource.driverConf()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val m = sources.GdxSource.manifestFor(dir, 1)
    assert(sources.GdxSource.publishExclusive(fs, conf, m, Seq("winner")))
    assert(!sources.GdxSource.publishExclusive(fs, conf, m, Seq("loser")),
      "second claim of the same version must fail")
    assert(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(m.toUri.getPath)).get(0) === "winner")
    // no temp residue from the losing claim
    val residue = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.contains(".tmp-"))
    assert(residue.isEmpty, s"losing claim left temp files: ${residue.toSeq}")
  }

  test("scan statistics enable broadcast of a small GDX dimension") {
    val dir = freshDir("stats")
    write(dir, (1L to 50L).map(i => (i, s"dim$i")))
    // a fact side large enough that Spark would never broadcast IT
    val fact = spark.range(0, 10000)
      .select((col("id") % 50 + 1).as("k"), col("id").as("x"))
    val joined = fact.join(read(dir), "k")
    val plan = joined.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"small GDX side must broadcast, got:\n${plan.take(1500)}")
    assert(joined.count() === 10000L)
    // pruning shrinks the reported stats: a pushed point-predicate scan
    // reports only its kept files' bytes
    val full = new sources.GdxScan(dir, -1, Array.empty, -1, None)
      .estimateStatistics()
    val pruned = new sources.GdxScan(dir, -1,
      Array(org.apache.spark.sql.sources.EqualTo("k", 1L)), -1, None)
      .estimateStatistics()
    assert(full.sizeInBytes.getAsLong > 0)
    assert(pruned.sizeInBytes.getAsLong < full.sizeInBytes.getAsLong,
      "zone-map pruning must shrink reported bytes")
    assert(full.numRows.getAsLong === 50L)
  }

  test("runtime filtering: a join's key set prunes fact files at run time") {
    val dir = freshDir("dpp")
    // 8 single-file commits with disjoint k-ranges → zone maps can
    // prove non-overlap against the runtime key set
    for (b <- 0L to 7L)
      (b * 100 to b * 100 + 99).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .coalesce(1).write.format("graft.sources.GdxSource")
        .option("path", dir).mode("append").save()
    val fact = read(dir)
    // a dim whose selective filter leaves keys in ONE fact file's range
    val dim = spark.range(0, 800).select(col("id").as("k"),
      (col("id") / 100).cast("long").as("grp"))
      .filter(col("grp") === 3)
    val joined = fact.join(dim, "k")
    assert(joined.count() === 100L)
    // the scan must have declared the runtime-filterable attribute;
    // whether Spark injects DPP here is planner policy, so pin the
    // CONTRACT directly too: an In("k", ...) filter delivered at run
    // time prunes planning to the files whose range can hold a key
    val scan = new sources.GdxScan(dir, -1, Array.empty, -1, None)
    assert(scan.filterAttributes().map(_.describe()).toSeq === Seq("k"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(301L, 342L))))
    assert(scan.planInputPartitions().length === 1,
      "runtime In over one file's range must plan exactly that file")
    assert(scan.estimateStatistics().numRows.getAsLong === 100L)
    // row-level application inside the reader as well
    val factory = scan.createReaderFactory()
    val reader = factory.createReader(scan.planInputPartitions().head)
    var n = 0
    while (reader.next()) n += 1
    reader.close()
    assert(n === 2, "the runtime key set must also filter rows")
  }

  test("TIMESTAMP AS OF resolves the snapshot by manifest publish time") {
    val dir = freshDir("asof")
    write(dir, Seq((1L, "a")))                        // v1
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    write(dir, Seq((2L, "b")))                        // v2
    def asOf(ts: String) = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("asOf", ts).load()
      .as[(Long, String)].collect().toSet
    assert(asOf(between.toString) === Set((1L, "a")),
      "a timestamp between the commits must pin v1")
    assert(asOf(System.currentTimeMillis().toString) ===
      Set((1L, "a"), (2L, "b")))
    // ISO instants parse too
    assert(asOf(java.time.Instant.now().toString) ===
      Set((1L, "a"), (2L, "b")))
    // a timestamp before the first retained commit is a loud error
    intercept[Exception] { asOf("100") }
    // asOf composes with schema evolution: the pinned snapshot's schema
    sources.GdxSource.addColumn(dir, "w",
      org.apache.spark.sql.types.DoubleType)          // v3
    val pinned = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("asOf", between.toString).load()
    assert(pinned.schema.fieldNames.toSeq === Seq("k", "v"))
  }

  test("maxVersionsPerTrigger bounds each micro-batch's version span") {
    val dir = freshDir("admit")
    for (i <- 1L to 5L)
      Seq((i, s"r$i")).toDF("k", "v").coalesce(1)
        .write.format("graft.sources.GdxSource")
        .option("path", dir).mode("append").save()    // v1..v5
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.format("graft.sources.GdxSource")
      .option("path", dir).option("maxVersionsPerTrigger", "2").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        batches.synchronized { batches += ((id, b.count())) }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // 5 pending versions at 2/trigger → 3 batches (2+2+1 commits'
    // files), every row delivered exactly once
    assert(batches.map(_._2).sum === 5L,
      s"all rows must arrive exactly once: $batches")
    assert(batches.count(_._2 > 0) === 3,
      s"expected ceil(5/2)=3 populated batches: $batches")
    assert(batches.map(_._2).max <= 2L,
      s"no batch may span more than 2 single-row commits: $batches")
  }

  test("concurrent updates on disjoint predicates: both effects land") {
    val dir = freshDir("updrace")
    write(dir, (1L to 40L).map(i => (i, "base")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq(
      (col("k") <= 10, "A"), (col("k") > 30, "B")).map { case (cond, tag) =>
      Future {
        sources.GdxSource.update(spark, dir, cond, Map("v" -> lit(tag)))
      }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    val rows = read(dir).as[(Long, String)].collect().toMap
    assert((1L to 10L).forall(rows(_) == "A"),
      s"writer A's update must survive: $rows")
    assert((31L to 40L).forall(rows(_) == "B"),
      s"writer B's update must survive: $rows")
    assert((11L to 30L).forall(rows(_) == "base"))
    assert(rows.size === 40)
  }

  test("delete racing an append: CAS retry keeps both effects") {
    val dir = freshDir("delrace")
    write(dir, (1L to 100L).map(i => (i, if (i % 2 == 0) "even" else "odd")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fDel = Future {
      sources.GdxSource.delete(spark, dir, col("v") === "odd")
    }
    val fApp = Future {
      Seq((1000L, "appended")).toDF("k", "v")
        .write.format("graft.sources.GdxSource").option("path", dir)
        .mode("append").save()
    }
    Await.result(Future.sequence(Seq(fDel.map(_ => ()), fApp)), 120.seconds)
    val rows = read(dir).as[(Long, String)].collect().toMap
    assert(rows.contains(1000L), "the concurrent append must survive")
    assert((1L to 100L by 2).forall(k => !rows.contains(k)),
      "every pre-existing odd row must be deleted")
    assert((2L to 100L by 2).forall(rows.contains),
      "no even row may be lost")
  }

  test("SQL front door: CREATE TABLE USING + INSERT INTO + SELECT") {
    val dir = freshDir("sqlfd")
    spark.sql("DROP TABLE IF EXISTS gdx_sql_t")
    spark.sql(s"""CREATE TABLE gdx_sql_t (k BIGINT, v STRING)
      USING graft.sources.GdxSource OPTIONS (path '$dir')""")
    try {
      spark.sql("INSERT INTO gdx_sql_t VALUES (1, 'a'), (2, 'b')")
      spark.sql("INSERT INTO gdx_sql_t VALUES (3, 'c')")
      assert(spark.sql("SELECT * FROM gdx_sql_t WHERE k >= 2 ORDER BY k")
        .as[(Long, String)].collect().toSeq ===
        Seq((2L, "b"), (3L, "c")))
      assert(spark.sql("SELECT count(*), min(k), max(k) FROM gdx_sql_t")
        .head.toSeq === Seq(3L, 1L, 3L))
      // the SQL writes went through the same manifest protocol
      assert(sources.GdxSource
        .listVersions(dir, sources.GdxSource.driverConf()) === Seq(1, 2))
    } finally spark.sql("DROP TABLE IF EXISTS gdx_sql_t")
  }

  test("supported predicates are pushed; others stay post-scan") {
    val dir = freshDir("push")
    write(dir, (1L to 100L).map(i => (i, if (i % 2 == 0) "e" else "o")))
    val df = read(dir).filter(col("k") >= 10 && col("k") < 20 &&
      col("v") === "e" && length(col("v")) === 1)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("GdxScan pushed=["), plan.take(1200))
    assert(plan.contains("LessThan(k,20"), plan.take(1200))
    assert(plan.contains("EqualTo(v,e)"), plan.take(1200))
    // length() is not pushable — must remain a post-scan Filter
    assert(plan.contains("Filter"), plan.take(1200))
    assert(df.as[(Long, String)].collect().map(_._1).sorted.toSeq ===
      Seq(10L, 12L, 14L, 16L, 18L))
  }

  test("a FRESH-directory append records the write's declared types — " +
      "never the legacy (k,v) fallback schema") {
    // regression: committedSchema's default fallback used to win the
    // append's schema race on a never-committed path whenever the
    // arities tied, committing `w:string` for a double column and
    // corrupting every later read
    val dir = freshDir("freshappend")
    Seq((1L, 0.25), (2L, 0.5)).toDF("k", "w")
      .write.format("graft.sources.GdxSource").option("path", dir)
      .mode("append").save()
    assert(sources.GdxSource.schemaSpec(sources.GdxSource
      .committedSchema(dir, sources.GdxSource.driverConf())) ===
      "k:long,w:double")
    assert(read(dir).as[(Long, Double)].collect().toSet ===
      Set((1L, 0.25), (2L, 0.5)))
  }
}
