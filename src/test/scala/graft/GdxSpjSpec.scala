package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.GdxSource

/** Storage-partitioned joins on GDX hive-partitioned tables: scans
  * report KeyGroupedPartitioning over identity(partCol) with per-file
  * HasPartitionKey rows, so (with spark.sql.sources.v2.bucketing.enabled)
  * a join or aggregate keyed on the partition column runs with ZERO
  * shuffle — plus the write-side clustered distribution that makes
  * partitioned writes produce one file per partition value instead of
  * tasks × values (see sources/GdxSource.scala). */
class GdxSpjSpec extends SparkSuite {
  import spark.implicits._

  private val fmt = "graft.sources.GdxSource"
  private val spjConf = "spark.sql.sources.v2.bucketing.enabled"

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxspj_$tag").toString + "/t"

  private def read(dir: String) =
    spark.read.format(fmt).option("path", dir).load()

  private def writePart(dir: String, n: Int, parts: Int,
                        scale: Long = 1L): Unit =
    (0 until n).map(i => (i.toLong * scale, s"r$i", (i % parts).toLong))
      .toDF("k", "v", "p").repartition(4)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()

  private def withSpj[T](on: Boolean)(body: => T): T = {
    val prevSpj = spark.conf.getOption(spjConf)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(spjConf, on.toString)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      prevSpj.fold(spark.conf.unset(spjConf))(spark.conf.set(spjConf, _))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  // no orderBy here: a global sort legitimately range-shuffles, and
  // these tests pin the JOIN/AGG path shuffle-free — results are
  // sorted driver-side
  private def joined(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b.withColumnRenamed("k", "k2").withColumnRenamed("v", "v2"),
        Seq("p"))
      .groupBy("p")
      .agg(count(lit(1)).as("n"), sum("k").as("sk"), sum("k2").as("sk2"))

  private def sortedRows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSeq.sorted

  test("co-partitioned join on the partition column plans ZERO " +
      "shuffles and matches the shuffled plan's rows") {
    val (dirA, dirB) = (freshDir("a"), freshDir("b"))
    writePart(dirA, 400, 8)
    writePart(dirB, 300, 8, scale = 10L)
    val expected = withSpj(on = false) {
      sortedRows(joined(read(dirA), read(dirB)))
    }
    withSpj(on = true) {
      val q = joined(read(dirA), read(dirB))
      val plan = q.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"SPJ join must be shuffle-free:\n${plan.take(3000)}")
      assert(sortedRows(q) === expected)
    }
  }

  test("join keys (p, k) SUPERSET of partition keys co-partition under " +
      "requireAllClusterKeysForCoPartition=false") {
    val (dirA, dirB) = (freshDir("sa"), freshDir("sb"))
    writePart(dirA, 400, 8)
    writePart(dirB, 400, 8) // same keys: the (p,k) join matches rows 1:1
    val superConf = "spark.sql.requireAllClusterKeysForCoPartition"
    val prev = spark.conf.getOption(superConf)
    spark.conf.set(superConf, "false")
    try withSpj(on = true) {
      val b = read(dirB).withColumnRenamed("v", "bv")
      val q = read(dirA).join(b, Seq("p", "k"))
        .groupBy("p").agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"superset-key SPJ join must be shuffle-free:\n${plan.take(3000)}")
      assert(q.collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSeq.sorted === (0 until 8).map(p => (p.toLong, 50L)))
    } finally prev.fold(spark.conf.unset(superConf))(
      spark.conf.set(superConf, _))
  }

  test("one-side shuffle: an unpartitioned frame shuffles INTO the GDX " +
      "table's storage partitioning; the partitioned side never moves") {
    val dir = freshDir("oneside")
    writePart(dir, 400, 8)
    val shufConf = "spark.sql.sources.v2.bucketing.shuffle.enabled"
    val prev = spark.conf.getOption(shufConf)
    spark.conf.set(shufConf, "true")
    try withSpj(on = true) {
      // an unpartitioned (in-memory) side — at 100 TB this is the
      // freshly-computed delta joined against the layed-out fact table
      val mem = (0 until 80).map(i => (i.toLong % 8, i.toLong * 100))
        .toDF("p", "score")
      val q = read(dir).join(mem, Seq("p"))
        .groupBy("p").agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString()
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"exactly the memory side must shuffle (got $exchanges):\n" +
          plan.take(3000))
      // the row check is the correctness gate: 50 rows x 10 mem rows per p
      assert(q.collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSeq.sorted === (0 until 8).map(p => (p.toLong, 500L)))
    } finally prev.fold(spark.conf.unset(shufConf))(
      spark.conf.set(shufConf, _))
  }

  test("partition-keyed aggregate groups storage partitions (no " +
      "shuffle before the agg)") {
    val dir = freshDir("agg")
    writePart(dir, 200, 5)
    withSpj(on = true) {
      val q = read(dir).groupBy("p").agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"),
        s"partition-keyed agg must reuse storage partitioning:\n" +
          plan.take(3000))
      assert(q.collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSeq.sorted === (0 until 5).map(p => (p.toLong, 40L)))
    }
  }

  test("a legacy unkeyed file disables SPJ conservatively (correct " +
      "rows, shuffle back in the plan)") {
    val dir = freshDir("legacy")
    // first commit UNpartitioned (files at the table root), then the
    // partition declaration: the snapshot mixes keyed and unkeyed files
    Seq((900L, "x", 3L)).toDF("k", "v", "p").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    (0 until 100).map(i => (i.toLong, s"r$i", (i % 4).toLong))
      .toDF("k", "v", "p").repartition(2)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("append").save()
    withSpj(on = true) {
      val q = read(dir).groupBy("p").agg(count(lit(1)).as("n")).orderBy("p")
      val plan = q.queryExecution.executedPlan.toString()
      assert(plan.contains("Exchange"),
        "mixed keyed/unkeyed snapshot must fall back to classic planning")
      assert(q.count() === 4L)
    }
  }

  test("null partition values group and aggregate correctly under SPJ") {
    val dir = freshDir("nulls")
    (0 until 60).map(i => (i.toLong, s"r$i",
        if (i % 3 == 0) null else (i % 3).toString))
      .toDF("k", "v", "ps")
      .select(col("k"), col("v"), col("ps").cast("long").as("p"))
      .repartition(3)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    withSpj(on = true) {
      val q = read(dir).groupBy("p").agg(count(lit(1)).as("n")).orderBy("p")
      assert(q.collect().map(r =>
          (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSet ===
        Set((-1L, 20L), (1L, 20L), (2L, 20L)))
    }
  }

  test("clustered write distribution lands one file per partition " +
      "value (not tasks x values)") {
    val dir = freshDir("cluster")
    // 16 input partitions x 4 values would historically produce up to
    // 64 files; the requested clustered distribution makes it 4
    (0 until 400).map(i => (i.toLong, s"r$i", (i % 4).toLong))
      .toDF("k", "v", "p").repartition(16)
      .write.format(fmt).option("path", dir).option("partitionBy", "p")
      .mode("overwrite").save()
    val entries = GdxSource.committedEntries(dir, GdxSource.driverConf())
    assert(entries.size === 4,
      s"one file per partition value expected: ${entries.map(_.name)}")
    assert(read(dir).count() === 400L)
  }

  test("maintenance rewrites keep their own layout (no partition " +
      "re-cluster)") {
    val dir = freshDir("optout")
    // two clustered appends: each lands one file per value
    for (part <- 0 until 2)
      (0 until 200).map(i => (part * 200L + i, s"r$i", (i % 4).toLong))
        .toDF("k", "v", "p").repartition(8)
        .write.format(fmt).option("path", dir).option("partitionBy", "p")
        .mode("append").save()
    // a Z-order rewrite range-partitions on k into 8 tasks, and each
    // task demuxes its range into every partition directory it saw
    GdxSource.optimizeZOrder(spark, dir, Seq("k"), target = 8)
    val entries = GdxSource.committedEntries(dir, GdxSource.driverConf())
    assert(entries.size > 4,
      s"the rewrite must keep its own task layout: got " +
        s"${entries.size} files")
    assert(entries.forall(_.name.matches("p=\\d+/.*")))
    assert(read(dir).count() === 400L)
  }

  test("SPJ survives static pruning; runtime DPP file skipping stands " +
      "down while grouping is active (rows still filtered)") {
    val (dirA, dirB) = (freshDir("pa"), freshDir("pb"))
    writePart(dirA, 400, 8)
    writePart(dirB, 300, 8, scale = 10L)
    withSpj(on = true) {
      val a = read(dirA).filter(col("p") < 4)
      val b = read(dirB).filter(col("p") < 4)
      val q = joined(a, b)
      val plan = q.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), plan.take(3000))
      assert(sortedRows(q).map(_._1) === (0L until 4L))
    }
  }
}
