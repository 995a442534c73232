package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.GdxSource

/** ANALYZE TABLE → `_colstats` sidecar → DSv2 column statistics →
  * cost-based optimizer: NDV/null/min-max computed in one distributed
  * pass, served by every scan, consumed by Spark's CBO for selectivity
  * and join-side estimates. The stats are advisory (stale after later
  * writes misleads estimates only, never results), and min/max stop
  * being served the moment the live column's type no longer matches
  * the analyzed one. */
class GdxStatsSpec extends SparkSuite {
  import spark.implicits._

  private val fmt = "graft.sources.GdxSource"
  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxst_$tag").toString + "/t"
  private def conf = GdxSource.driverConf()
  private def read(s: org.apache.spark.sql.SparkSession, dir: String) =
    s.read.format(fmt).option("path", dir).load()

  // LogicalPlan.stats resolves cbo.enabled through the THREAD-active
  // session's conf — pin it while reading estimates off a cloned
  // session's plan (execution phases self-wrap; bare .stats does not)
  private def withActive[T](s: org.apache.spark.sql.SparkSession)(
      f: => T): T = {
    val prev = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    try f
    finally prev.foreach(
      org.apache.spark.sql.SparkSession.setActiveSession)
  }

  private def seed(dir: String, n: Int = 1000): Unit =
    spark.range(n.toLong).select(col("id").as("k"),
      concat(lit("s"), col("id") % 50).as("status"),
      (col("id") % 100).cast("double").as("w"),
      when(col("id") % 10 =!= 0,
        date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          (col("id") % 200).cast("int"))).as("d"))
      .write.format(fmt).option("path", dir).mode("overwrite").save()

  test("analyzeTable writes the sidecar and readColStats round-trips " +
      "ndv / nulls / lengths / typed min-max") {
    val dir = freshDir("rt")
    seed(dir)
    val ts = GdxSource.analyzeTable(spark, dir)
    assert(ts.rowCount === 1000L)
    val back = GdxSource.readColStats(dir, conf).get
    assert(back === ts)
    val k = back.cols("k")
    assert(k.nullCount === 0L && k.min === Some("0") &&
      k.max === Some("999"))
    // HLL ndv within its published error band (~2.3% at default rsd)
    assert(math.abs(k.ndv - 1000L) <= 60L)
    val st = back.cols("status")
    assert(math.abs(st.ndv - 50L) <= 5L)
    assert(st.min.isEmpty && st.max.isEmpty) // strings: lengths only
    assert(st.maxLen === 3L && st.avgLen >= 2L && st.avgLen <= 3L)
    val d = back.cols("d")
    assert(d.nullCount === 100L)
    // DATE min/max in the canonical epoch-day form
    assert(d.min === Some(
      java.time.LocalDate.parse("2024-01-02").toEpochDay.toString))
  }

  test("scans serve the sidecar to the CBO: attributeStats carry ndv " +
      "and internal min/max, and a filter's row estimate shrinks") {
    val dir = freshDir("cbo")
    seed(dir)
    GdxSource.analyzeTable(spark, dir)
    val cbo = Sessions.pinned(spark, "spark.sql.cbo.enabled" -> "true")
    val df = read(cbo, dir).filter(col("status") === "s7")
    val stats = withActive(cbo)(df.queryExecution.optimizedPlan.stats)
    // the equality on a 50-ndv column estimates ~1/50 of 1000 rows
    assert(stats.rowCount.isDefined)
    val est = stats.rowCount.get.toLong
    assert(est >= 5L && est <= 80L, s"CBO row estimate $est")
    // attribute-level stats surfaced from the DSv2 map
    val kAttr = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation =>
        r.computeStats().attributeStats.find(_._1.name == "k").map(_._2)
    }.flatten
    assert(kAttr.isDefined)
    assert(kAttr.get.min === Some(0L) && kAttr.get.max === Some(999L))
    // no sidecar, no estimates: same plan without ANALYZE has no
    // rowCount shrink (size-only planning)
    val dir2 = freshDir("cbo2")
    seed(dir2)
    val df2 = read(cbo, dir2).filter(col("status") === "s7")
    val est2 =
      withActive(cbo)(df2.queryExecution.optimizedPlan.stats.rowCount)
    assert(est2.isEmpty || est2.get.toLong >= 900L)
  }

  test("CBO + stats flip a filtered-dimension join to broadcast; " +
      "without CBO the same threshold plans a shuffle join") {
    val dimDir = freshDir("dim"); val factDir = freshDir("fact")
    seed(dimDir, 2000)
    spark.range(20000L).select((col("id") % 2000).as("k"),
      (col("id") % 7).cast("double").as("m"))
      .write.format(fmt).option("path", factDir).mode("overwrite").save()
    GdxSource.analyzeTable(spark, dimDir)
    GdxSource.analyzeTable(spark, factDir)
    def joined(s: org.apache.spark.sql.SparkSession) =
      read(s, factDir).join(
        read(s, dimDir).filter(col("status") === "s3")
          .select(col("k").as("dk"), col("status")),
        col("k") === col("dk"))
    // calibrate the threshold between the CBO estimate of the filtered
    // dim (rows/ndv) and the size-only estimate (full scan bytes)
    val cbo = Sessions.pinned(spark, "spark.sql.cbo.enabled" -> "true")
    val cboBytes = withActive(cbo)(
      read(cbo, dimDir).filter(col("status") === "s3")
        .queryExecution.optimizedPlan.stats.sizeInBytes)
    val rawBytes = withActive(spark)(
      read(spark, dimDir).filter(col("status") === "s3")
        .queryExecution.optimizedPlan.stats.sizeInBytes)
    assert(cboBytes * 4 < rawBytes,
      s"stats must shrink the estimate (cbo=$cboBytes raw=$rawBytes)")
    val thr = (cboBytes * 2).toString
    val a = Sessions.pinned(spark, "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> thr,
      "spark.sql.adaptive.enabled" -> "false")
    val b = Sessions.pinned(spark, "spark.sql.cbo.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> thr,
      "spark.sql.adaptive.enabled" -> "false")
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    assert(planOf(joined(a)).contains("BroadcastHashJoin"),
      "CBO + ANALYZE stats must broadcast the filtered dimension")
    val pb = planOf(joined(b))
    assert(!pb.contains("BroadcastHashJoin"),
      s"size-only planning at the same threshold must not broadcast:\n$pb")
    // and the result is identical either way
    assert(joined(a).count() === joined(b).count())
  }

  test("equi-height histograms ride the sidecar and sharpen range " +
      "selectivity past uniform min/max interpolation") {
    val dir = freshDir("hist")
    // 90% of the mass in [0,10), a 10% tail in [1000,2000): a
    // uniform-interpolated `w > 900` estimates ~55% of rows, the
    // histogram knows it is ~10%
    spark.range(2000L).select(col("id").as("k"),
      when(col("id") % 10 < 9, (col("id") % 10).cast("double"))
        .otherwise(lit(1000.0) + col("id") % 1000).as("w"))
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val ts = GdxSource.analyzeTable(spark, dir)
    val h = ts.cols("w").hist.get
    assert(h.bins.length === GdxSource.HistogramBins)
    assert(h.bins.forall { case (lo, hi, _) => lo <= hi })
    assert(GdxSource.readColStats(dir, conf).get.cols("w").hist
      .contains(h))
    val cbo = Sessions.pinned(spark, "spark.sql.cbo.enabled" -> "true")
    val est = withActive(cbo)(
      read(cbo, dir).filter(col("w") > 900.0)
        .queryExecution.optimizedPlan.stats.rowCount).get.toLong
    val truth = read(spark, dir).filter(col("w") > 900.0).count()
    assert(est <= truth * 3 && est >= truth / 3,
      s"histogram estimate $est vs truth $truth")
    assert(est < 500L, // uniform interpolation would say ~1100
      s"estimate $est did not beat uniform interpolation")
  }

  test("SQL front door: ANALYZE TABLE returns per-column rows on GDX " +
      "and re-dispatches non-GDX targets to Spark's own grammar") {
    val dir = freshDir("sql")
    seed(dir, 400)
    val s = org.apache.spark.sql.graft.ColumnBridge
      .sessionWithExtensions(spark, new GraftExtensions())
    val tbl = "gdxst_t_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    s.sql(s"""CREATE TABLE $tbl (k BIGINT, status STRING, w DOUBLE,
      d DATE) USING $fmt OPTIONS (path '$dir')""")
    try {
      val out = s.sql(
        s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
        .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
      assert(out.keySet === Set("k", "status", "w", "d"))
      assert(out("k") === 400L) // row_count column
      assert(GdxSource.readColStats(dir, conf).isDefined)
      // a non-GDX (v1 parquet) table delegates to Spark's ANALYZE
      val pq = freshDir("pq").stripSuffix("/t") + "/p"
      spark.range(10L).toDF("x").write.parquet(pq)
      val vt = "gdxst_v1_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      s.sql(s"CREATE TABLE $vt (x BIGINT) USING parquet LOCATION '$pq'")
      try s.sql(s"ANALYZE TABLE $vt COMPUTE STATISTICS")
      finally s.sql(s"DROP TABLE IF EXISTS $vt")
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("stats lifecycle past TRUNCATE: a large DELETE clears the " +
      "sidecar, a small one leaves it, and version drift ages it out") {
    val dir = freshDir("decay")
    seed(dir)
    GdxSource.analyzeTable(spark, dir)
    // a 1% delete leaves the sidecar in place (drift covers aging)
    GdxSource.delete(spark, dir, col("k") < 10L)
    assert(GdxSource.readColStats(dir, conf).isDefined)
    // a ≥25% delete clears it: the plan's estimated rows must no
    // longer reflect the pre-delete NDV/row shape
    GdxSource.delete(spark, dir, col("k") < 500L)
    assert(GdxSource.readColStats(dir, conf).isEmpty)
    val cbo = Sessions.pinned(spark, "spark.sql.cbo.enabled" -> "true")
    val est = withActive(cbo)(
      read(cbo, dir).filter(col("status") === "s7")
        .queryExecution.optimizedPlan.stats.rowCount)
    // size-only planning now: no ~1/50 selectivity shrink survives
    assert(est.isEmpty || est.get.toLong >= 400L,
      s"stale NDV still steering the estimate: $est")

    // a MERGE's DELETE clauses decay it by the same rule: 20 of 40
    // analyzed rows deleted clears it
    val dirM = freshDir("mergedecay")
    seed(dirM, 40)
    GdxSource.analyzeTable(spark, dirM)
    val (_, _, _, merged) = GdxSource.mergeGeneral(spark, dirM,
      spark.range(20L).select(col("id").as("__s_k")), "__t_k = __s_k",
      matched = Seq(graft.sources.GdxMergeClause(None, None)),
      notMatched = Nil, notMatchedBySource = Nil)
    assert(merged === 20L)
    assert(GdxSource.readColStats(dirM, conf).isEmpty)

    // version-drift guard: the sidecar stops serving once the
    // snapshot moves past the configured ceiling
    val dir2 = freshDir("drift")
    seed(dir2, 200)
    GdxSource.analyzeTable(spark, dir2)
    def appendOne(): Unit =
      spark.range(1).select((col("id") + 100000L).as("k"),
        lit("sx").as("status"), lit(1.0).as("w"),
        lit(null).cast("date").as("d")).coalesce(1)
        .write.format(fmt).option("path", dir2).mode("append").save()
    def kServed(s: org.apache.spark.sql.SparkSession): Boolean =
      withActive(s)(
        read(s, dir2).queryExecution.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation =>
            r.computeStats().attributeStats
              .exists(_._1.name == "k")
        }.getOrElse(false))
    val tight = Sessions.pinned(spark,
      "spark.sql.cbo.enabled" -> "true",
      "spark.gdx.stats.maxVersionDrift" -> "2")
    assert(kServed(tight), "freshly analyzed: drift 0 must serve")
    appendOne(); appendOne(); appendOne() // drift 3 > ceiling 2
    assert(!kServed(tight),
      "drifted past the ceiling: the sidecar must stand down")
    // the default ceiling (64) still serves — the guard is the
    // configurable boundary, not a blanket disable
    assert(kServed(cbo))
  }

  test("an overwriting transaction clears the ANALYZE sidecar, as " +
      "TRUNCATE does") {
    val dir = freshDir("txnow")
    seed(dir, 40)
    GdxSource.analyzeTable(spark, dir)
    assert(GdxSource.readColStats(dir, conf).map(_.rowCount) === Some(40L))
    GdxSource.transact(spark, Seq(GdxSource.GdxTxnWrite(dir,
      spark.range(1).select(col("id").as("k"), lit("s1").as("status"),
        lit(1.0).as("w"), lit(null).cast("date").as("d")),
      overwrite = true)))
    assert(read(spark, dir).count() === 1L)
    assert(GdxSource.readColStats(dir, conf).isEmpty)
  }

  test("min/max stop being served when the live column's type no " +
      "longer matches the analyzed one; ndv survives; vacuum keeps " +
      "the sidecar") {
    val dir = freshDir("evo")
    seed(dir, 300)
    GdxSource.analyzeTable(spark, dir)
    // drop w (double) and re-add it as BIGINT: the sidecar's typed
    // bounds are now mistyped for the live schema
    GdxSource.dropColumn(spark, dir, "w")
    GdxSource.addColumn(dir, "w", LongType)
    val cbo = Sessions.pinned(spark, "spark.sql.cbo.enabled" -> "true")
    val attr = read(cbo, dir).queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation =>
        r.computeStats().attributeStats.find(_._1.name == "w").map(_._2)
    }.flatten
    assert(attr.isDefined)
    assert(attr.get.min.isEmpty && attr.get.max.isEmpty)
    assert(attr.get.distinctCount.isDefined)
    // the sidecar is not vacuum's victim
    GdxSource.vacuum(dir, conf, keepLast = 1)
    assert(GdxSource.readColStats(dir, conf).isDefined)
    // re-analyze refreshes the sidecar to the live schema
    val ts = GdxSource.analyzeTable(spark, dir)
    assert(ts.cols("w").typeName === "long")
    // TRUNCATE clears the sidecar: estimates of vanished rows must
    // not survive the rows
    new graft.sources.GdxTable(dir,
      GdxSource.committedSchema(dir, conf)).truncateTable()
    assert(GdxSource.readColStats(dir, conf).isEmpty)
  }
}
