package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialized-view auto-rewrite (plans/MvRewrite.scala): queries
  * written against the base table must be answered from the summary
  * when derivable — and left alone when not. Summaries live in
  * versioned generation directories (`<path>/v=N`) committed through
  * the TableSwap marker protocol, so assertions match on the MV root
  * prefix rather than an exact directory. */
class MvRewriteSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"mv_$tag").toString

  private def leafPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
          _, _, _, _) => fs.location.rootPaths.map(_.toString)
      case l => Seq(l.nodeName + "#" + l.hashCode)
    }.toSet

  /** Every leaf is a generation dir of this MV root. */
  private def onMv(df: DataFrame, mvPath: String): Boolean = {
    val ps = leafPaths(df)
    ps.nonEmpty && ps.forall(_.startsWith(s"file:$mvPath/v="))
  }

  private def writeBase(): String = {
    val dir = tmp("base")
    Seq(("a", "x", 1.0, 10L), ("a", "x", 2.0, 20L), ("a", "y", 3.0, 5L),
      ("b", "x", 4.0, 7L), ("b", "y", 5.0, 9L), ("b", "y", 6.0, 1L))
      .toDF("g1", "g2", "m1", "m2")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("exact-grain query becomes a pure MV column remap") {
    val base = spark.read.parquet(writeBase())
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"),
      Seq("m1", "m2"), mvPath)
    val q = base.groupBy("g1", "g2")
      .agg(count(lit(1)).as("n"), sum("m1").as("s1"), avg("m1").as("a1"),
        min("m2").as("mn2"), max("m2").as("mx2"))
    assert(onMv(q, mvPath),
      s"expected an MV-only plan, got ${q.queryExecution.optimizedPlan}")
    // no aggregation at query time: the optimized plan has no Aggregate
    assert(q.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty, "exact-grain rewrite must not re-aggregate")
    val got = q.orderBy("g1", "g2").collect().map(_.toSeq)
    assert(got === Array(
      Seq("a", "x", 2L, 3.0, 1.5, 10L, 20L),
      Seq("a", "y", 1L, 3.0, 3.0, 5L, 5L),
      Seq("b", "x", 1L, 4.0, 4.0, 7L, 7L),
      Seq("b", "y", 2L, 11.0, 5.5, 1L, 9L)))
  }

  test("re-registering the same logical MV under a new per-run root " +
      "replaces the old def; the claim form is invocation-independent") {
    val base = spark.read.parquet(writeBase())
    val p1 = tmp("dup1")
    val p2 = tmp("dup2")
    // two invocations of the same query register the same LOGICAL MV
    // (same base, grain, measures) at different scratch roots — the
    // later registration must WIN outright, not tie with the first
    plans.MvRewrite.materialize(spark, base, Seq("g1"), Seq("m1"), p1)
    plans.MvRewrite.materialize(spark, base, Seq("g1"), Seq("m1"), p2)
    val q = base.groupBy("g1").agg(sum("m1").as("s1"))
    assert(onMv(q, p2),
      s"latest registration must answer; got ${leafPaths(q)}")
    // the invocation-independent claim: the base scan was avoided
    assert(plans.MvRewrite.answersWithoutBase(q, base))
    assert(q.orderBy("g1").collect().map(_.toSeq) ===
      Array(Seq("a", 6.0), Seq("b", 15.0)))
    // an un-rewritten query reports false, never vacuously true
    val exact = base.groupBy("g1")
      .agg(countDistinct(col("g2")).as("nd"))
    assert(!plans.MvRewrite.answersWithoutBase(exact, base))
  }

  test("quantile-covered MV: kll queries roll up through the summary") {
    // kll_sketch_agg_double takes DOUBLE input only: a base whose m2 is
    // DOUBLE too, so the uncovered-column probe below type-checks
    val dir = tmp("qbase")
    spark.read.parquet(writeBase())
      .withColumn("m2", col("m2").cast("double"))
      .write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)
    val mvPath = tmp("mvq")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"), Seq("m1"),
      mvPath, quantileCols = Seq("m1"))
    // Spark's default k (200) is the summaries' KllK
    def quantile(c: String, q: Double, k: Option[Int] = None) =
      kll_sketch_get_quantile_double(k.fold(kll_sketch_agg_double(col(c)))(
        kll_sketch_agg_double(col(c), _)), lit(q))
    // rollup grain: cell sketches MERGE (quantiles don't decompose
    // through sums — the KLL partial is what makes this derivable)
    val q = base.groupBy("g1").agg(quantile("m1", 0.5).as("med"))
    assert(onMv(q, mvPath),
      s"expected an MV-only plan, got ${q.queryExecution.optimizedPlan}")
    // 6 rows — far below retained capacity, so the sketch is EXACT
    assert(q.orderBy("g1").collect()
      .map(r => (r.getString(0), r.getDouble(1))) ===
      Array(("a", 2.0), ("b", 5.0)))
    // exact grain: the stored cell sketch answers directly
    val qe = base.groupBy("g1", "g2").agg(quantile("m1", 1.0).as("mx"))
    assert(onMv(qe, mvPath))
    assert(qe.orderBy("g1", "g2").collect().map(_.getDouble(2)) ===
      Array(2.0, 3.0, 4.0, 6.0))
    // a different precision must NOT rewrite: answering a k=128
    // request from k=200 summary state would change the error bound
    val qk = base.groupBy("g1")
      .agg(quantile("m1", 0.5, k = Some(128)).as("med"))
    assert(!onMv(qk, mvPath))
    // an uncovered column must not rewrite either
    val qu = base.groupBy("g1").agg(quantile("m2", 0.5).as("med"))
    assert(!onMv(qu, mvPath))
  }

  test("rollup query re-aggregates the summary, not the base") {
    val base = spark.read.parquet(writeBase())
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"),
      Seq("m1", "m2"), mvPath)
    val q = base.groupBy("g1")
      .agg(count(lit(1)).as("n"), sum("m1").as("s1"), avg("m1").as("a1"),
        min("m2").as("mn2"), max("m2").as("mx2"))
    assert(onMv(q, mvPath),
      s"expected an MV-only plan, got ${q.queryExecution.optimizedPlan}")
    val got = q.orderBy("g1").collect().map(_.toSeq)
    assert(got === Array(
      Seq("a", 3L, 6.0, 2.0, 5L, 20L),
      Seq("b", 3L, 15.0, 5.0, 1L, 9L)))
  }

  test("avg and count over a NULL-bearing measure stay SQL-exact") {
    // m1 carries NULLs: avg must divide by count(m1), NOT by count(*),
    // at exact grain and rollup grain alike; an all-NULL cell is NULL
    val dir = tmp("nulls")
    Seq(("a", "x", Some(2.0)), ("a", "x", None), ("a", "y", None),
      ("b", "x", Some(4.0)), ("b", "x", Some(6.0)), ("b", "y", Some(1.0)))
      .toDF("g1", "g2", "m1")
      .write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)
    val expectExact = base.groupBy("g1", "g2")
      .agg(avg("m1").as("a1"), count("m1").as("c1"))
      .orderBy("g1", "g2").collect().map(_.toSeq)
    val expectRoll = base.groupBy("g1")
      .agg(avg("m1").as("a1"), count("m1").as("c1"))
      .orderBy("g1").collect().map(_.toSeq)
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"),
      Seq("m1"), mvPath)
    val qe = base.groupBy("g1", "g2")
      .agg(avg("m1").as("a1"), count("m1").as("c1"))
    assert(onMv(qe, mvPath), s"got ${qe.queryExecution.optimizedPlan}")
    assert(qe.orderBy("g1", "g2").collect().map(_.toSeq) === expectExact)
    assert(expectExact.exists(_(2) == null),
      "fixture must exercise the all-NULL cell")
    val qr = base.groupBy("g1")
      .agg(avg("m1").as("a1"), count("m1").as("c1"))
    assert(onMv(qr, mvPath), s"got ${qr.queryExecution.optimizedPlan}")
    assert(qr.orderBy("g1").collect().map(_.toSeq) === expectRoll)
  }

  test("dimension filters are compensated on the summary") {
    val base = spark.read.parquet(writeBase())
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"),
      Seq("m1", "m2"), mvPath)
    // WHERE on a grouping column commutes with the MV grain: the
    // filter re-anchors onto the summary and the rollup proceeds
    val q = base.filter(col("g2") === "y").groupBy("g1")
      .agg(count(lit(1)).as("n"), sum("m1").as("s1"))
    assert(onMv(q, mvPath),
      s"expected an MV-only plan, got ${q.queryExecution.optimizedPlan}")
    assert(q.orderBy("g1").collect().map(_.toSeq) ===
      Array(Seq("a", 1L, 3.0), Seq("b", 2L, 11.0)))
    // exact grain + dimension filter: remap only, no re-aggregation
    val q2 = base.filter(col("g1") =!= "a").groupBy("g1", "g2")
      .agg(sum("m1").as("s1"))
    assert(onMv(q2, mvPath))
    assert(q2.orderBy("g1", "g2").collect().map(_.toSeq) ===
      Array(Seq("b", "x", 4.0), Seq("b", "y", 11.0)))
  }

  test("collapsed projections over aggregates still rewrite") {
    val base = spark.read.parquet(writeBase())
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"),
      Seq("m1"), mvPath)
    // CollapseProject folds the round() and the literal into the
    // aggregate list — the executed-plan shape, not the textbook one
    val q = base.groupBy("g1")
      .agg(avg("m1").as("a1"), sum("m1").as("s1"))
      .withColumn("a1", round(col("a1"), 2))
      .withColumn("flag", lit(true))
      .orderBy("g1")
    assert(onMv(q, mvPath),
      s"expected an MV-only plan, got ${q.queryExecution.optimizedPlan}")
    assert(q.collect().map(_.toSeq) ===
      Array(Seq("a", 2.0, 6.0, true), Seq("b", 5.0, 15.0, true)))
  }

  test("HAVING and count(DISTINCT dim) derive from the summary") {
    val base = spark.read.parquet(writeBase())
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"),
      Seq("m1"), mvPath)
    // HAVING sits ABOVE the aggregate — the rewritten aggregate's
    // preserved exprIds keep it resolvable untouched
    val having = base.groupBy("g1").agg(sum("m1").as("s1"))
      .filter(col("s1") > 10.0)
    assert(onMv(having, mvPath))
    assert(having.collect().map(_.toSeq) === Array(Seq("b", 15.0)))
    // count(DISTINCT g2) at a coarser grain
    val cd = base.groupBy("g1")
      .agg(countDistinct("g2").as("nd"), sum("m1").as("s1"))
    assert(onMv(cd, mvPath), s"got ${cd.queryExecution.optimizedPlan}")
    assert(cd.orderBy("g1").collect().map(_.toSeq) ===
      Array(Seq("a", 2L, 6.0), Seq("b", 2L, 15.0)))
    // count(DISTINCT measure) stays on the base — not derivable
    assert(!onMv(base.groupBy("g1").agg(countDistinct("m1")), mvPath))
  }

  test("count(DISTINCT dim) is exact when the grain has EXTRA columns") {
    // MV grain (g1, g2, g3); query groupBy(g1).agg(countDistinct(g2)).
    // Each distinct (g2, g3) pair is its own MV cell, so a NON-distinct
    // count of summary rows would overcount g2 — the rewrite must stay
    // DISTINCT over the summary's g2 cells.
    val dir = tmp("grain3")
    Seq(("a", "x", "p", 1.0), ("a", "x", "q", 2.0), ("a", "y", "p", 3.0),
      ("b", "x", "p", 4.0), ("b", "x", "q", 5.0), ("b", "x", "r", 6.0))
      .toDF("g1", "g2", "g3", "m1")
      .write.mode("overwrite").parquet(dir)
    val base = spark.read.parquet(dir)
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2", "g3"),
      Seq("m1"), mvPath)
    val q = base.groupBy("g1")
      .agg(countDistinct("g2").as("nd"), sum("m1").as("s1"))
    assert(onMv(q, mvPath), s"got ${q.queryExecution.optimizedPlan}")
    // a: g2 ∈ {x, y} → 2 (3 MV cells); b: g2 ∈ {x} → 1 (3 MV cells)
    assert(q.orderBy("g1").collect().map(_.toSeq) ===
      Array(Seq("a", 2L, 6.0), Seq("b", 1L, 15.0)))
  }

  test("uncoverable shapes are left on the base table") {
    val baseDir = writeBase()
    val base = spark.read.parquet(baseDir)
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"),
      Seq("m1"), mvPath)
    val basePaths = Set(s"file:$baseDir")
    // a filter between aggregate and scan changes semantics → no rewrite
    assert(leafPaths(base.filter(col("m1") > 1.0).groupBy("g1")
      .agg(sum("m1"))) === basePaths)
    // an uncovered measure → no rewrite
    assert(leafPaths(base.groupBy("g1").agg(sum("m2"))) === basePaths)
    // count(DISTINCT dim-col) IS derivable (one MV cell per pair) —
    // covered by its own test; DISTINCT over a measure is not
    assert(leafPaths(base.groupBy("g1")
      .agg(countDistinct("m1"))) === basePaths)
    // grouping by a non-MV column → no rewrite
    assert(leafPaths(base.groupBy("m2").agg(sum("m1"))) === basePaths)
    // and the untouched queries still compute correctly
    assert(base.groupBy("g1").agg(sum("m2")).orderBy("g1")
      .collect().map(_.toSeq) === Array(Seq("a", 35L), Seq("b", 17L)))
  }

  test("incremental refresh folds a delta without rescanning the base") {
    val baseDir = writeBase()
    val base = spark.read.parquet(baseDir)
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1"),
      Seq("m1", "m2"), mvPath)
    // new rows append to the base; the SAME frame is the refresh delta
    val delta = Seq(("a", "z", 10.0, 100L), ("c", "z", 7.0, 3L))
      .toDF("g1", "g2", "m1", "m2")
    delta.write.mode("append").parquet(baseDir)
    plans.MvRewrite.refreshIncremental(spark, delta, mvPath)
    // queries over the grown base answer from the refreshed summary
    val base2 = spark.read.parquet(baseDir)
    val q = base2.groupBy("g1").agg(count(lit(1)).as("n"),
      sum("m1").as("s1"), avg("m1").as("a1"),
      min("m2").as("mn2"), max("m2").as("mx2"))
    assert(onMv(q, mvPath))
    assert(q.orderBy("g1").collect().map(_.toSeq) === Array(
      Seq("a", 4L, 16.0, 4.0, 5L, 100L),
      Seq("b", 3L, 15.0, 5.0, 1L, 9L),
      Seq("c", 1L, 7.0, 7.0, 3L, 3L)))
    // refreshing an unregistered path is a loud error
    intercept[IllegalStateException] {
      plans.MvRewrite.refreshIncremental(spark, delta, tmp("nope"))
    }
  }

  test("refresh is an atomic generation swap readers survive") {
    // a reader thread hammers the rewritten query while refreshes land:
    // every read must see a consistent summary generation — no
    // FileNotFound from an in-place overwrite, monotone row counts
    val baseDir = tmp("swapbase")
    Seq(("a", 1.0), ("b", 2.0)).toDF("g1", "m1")
      .write.mode("overwrite").parquet(baseDir)
    val base = spark.read.parquet(baseDir)
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1"), Seq("m1"), mvPath)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val rows = spark.read.parquet(baseDir).groupBy("g1")
            .agg(sum("m1").as("s1")).collect()
          assert(rows.nonEmpty)
        } catch { case t: Throwable => failures.add(t); stop.set(true) }
      }
    })
    reader.start()
    try {
      for (i <- 1 to 6) {
        val delta = Seq((s"g$i", i.toDouble)).toDF("g1", "m1")
        plans.MvRewrite.refreshIncremental(spark, delta, mvPath)
      }
    } finally { stop.set(true); reader.join(30000) }
    assert(failures.isEmpty, s"concurrent reader failed: ${failures.peek}")
    // the registration points at the newest generation; old gens are
    // vacuumed down to the retention window
    val gens = graft.pipeline.TableSwap.committedVersions(mvPath,
      spark.sessionState.newHadoopConf())
    assert(gens.size <= plans.MvRewrite.KeepGenerations)
    assert(gens.max === 7, s"6 refreshes after materialize → gen 7: $gens")
  }

  test("the coarsest matching summary wins deterministically") {
    val base = spark.read.parquet(writeBase())
    val fine = tmp("fine"); val coarse = tmp("coarse")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"),
      Seq("m1"), fine)
    plans.MvRewrite.materialize(spark, base, Seq("g1"), Seq("m1"), coarse)
    // a g1-grain query matches BOTH; the coarse (smaller) summary must
    // be chosen, and exactly (no re-aggregation at its own grain)
    val q = base.groupBy("g1").agg(sum("m1").as("s1"))
    assert(onMv(q, coarse),
      s"expected the coarse summary, got ${q.queryExecution.optimizedPlan}")
    assert(q.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty, "exact grain on the coarse MV needs no re-aggregation")
    // a (g1, g2)-grain query can only use the fine summary
    assert(onMv(base.groupBy("g1", "g2").agg(sum("m1")), fine))
    plans.MvRewrite.clear()
  }

  test("re-materialize refreshes the registration (no stale file lists)") {
    val baseDir = writeBase()
    val base = spark.read.parquet(baseDir)
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1"), Seq("m1"), mvPath)
    // base changes; refresh = one more materialize call at the same path
    Seq(("c", "z", 100.0, 0L)).toDF("g1", "g2", "m1", "m2")
      .write.mode("append").parquet(baseDir)
    val base2 = spark.read.parquet(baseDir)
    plans.MvRewrite.materialize(spark, base2, Seq("g1"), Seq("m1"), mvPath)
    val q = base2.groupBy("g1").agg(sum("m1").as("s1"))
    assert(onMv(q, mvPath))
    assert(q.orderBy("g1").collect().map(_.toSeq) ===
      Array(Seq("a", 6.0), Seq("b", 15.0), Seq("c", 100.0)))
  }

  test("join-aware rewrite: Aggregate over fact ⋈ declared-unique dim") {
    val factDir = tmp("jfact"); val dimDir = tmp("jdim")
    Seq((1L, 1.0), (1L, 2.0), (2L, 3.0), (3L, 4.0)).toDF("k", "m")
      .write.mode("overwrite").parquet(factDir)
    Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("dk", "attr")
      .write.mode("overwrite").parquet(dimDir)
    val fact = spark.read.parquet(factDir)
    val dim = spark.read.parquet(dimDir)
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, fact, Seq("k"), Seq("m"), mvPath)
    plans.MvRewrite.registerDimension(dim, Seq("dk"))
    val q = fact.join(dim, col("k") === col("dk"))
      .groupBy("attr")
      .agg(count(lit(1)).as("n"), sum("m").as("s"), avg("m").as("a"),
        min("m").as("mn"), max("m").as("mx"))
    val leaves = leafPaths(q)
    assert(leaves.exists(_.startsWith(s"file:$mvPath/v=")) &&
      !leaves.exists(_.startsWith(s"file:$factDir")),
      s"expected summary ⋈ dim, got ${q.queryExecution.optimizedPlan}")
    assert(q.orderBy("attr").collect().map(_.toSeq) === Array(
      Seq("x", 3L, 7.0, 7.0 / 3, 1.0, 4.0),
      Seq("y", 1L, 3.0, 3.0, 3.0, 3.0)))
    // mixed grouping: dim attribute + fact grain column
    val q2 = fact.join(dim, col("k") === col("dk"))
      .groupBy("attr", "k").agg(sum("m").as("s"))
    assert(leafPaths(q2).exists(_.startsWith(s"file:$mvPath/v=")))
    assert(q2.orderBy("attr", "k").collect().map(_.toSeq) === Array(
      Seq("x", 1L, 3.0), Seq("x", 3L, 4.0), Seq("y", 2L, 3.0)))
    // dim-side WHERE (the optimizer pushes it below the join) rewrites:
    // filtering a declared-unique dim keeps its keys unique
    val q4 = fact.join(dim, col("k") === col("dk"))
      .filter(col("attr") === "x")
      .groupBy("attr").agg(sum("m").as("s"))
    assert(leafPaths(q4).exists(_.startsWith(s"file:$mvPath/v=")),
      s"dim filter must not block the rewrite: " +
        s"${q4.queryExecution.optimizedPlan}")
    assert(q4.collect().map(_.toSeq) === Array(Seq("x", 7.0)))
    // fact-side WHERE on a GRAIN column commutes cell-wise and
    // re-anchors onto the summary
    val q5 = fact.filter(col("k") <= 2).join(dim, col("k") === col("dk"))
      .groupBy("attr").agg(sum("m").as("s"))
    assert(leafPaths(q5).exists(_.startsWith(s"file:$mvPath/v=")),
      s"grain filter must not block the rewrite: " +
        s"${q5.queryExecution.optimizedPlan}")
    assert(q5.orderBy("attr").collect().map(_.toSeq) ===
      Array(Seq("x", 3.0), Seq("y", 3.0)))
    // a fact filter on a MEASURE changes cell contents → no rewrite
    val q6 = fact.filter(col("m") > 1.0).join(dim, col("k") === col("dk"))
      .groupBy("attr").agg(sum("m").as("s"))
    assert(leafPaths(q6).exists(_.startsWith(s"file:$factDir")),
      s"measure filter must keep the fact scan: " +
        s"${q6.queryExecution.optimizedPlan}")
    // an UNdeclared dim never rewrites (n:1 is unprovable)
    val dim2Dir = tmp("jdim2")
    Seq((1L, "x")).toDF("dk", "attr")
      .write.mode("overwrite").parquet(dim2Dir)
    val dim2 = spark.read.parquet(dim2Dir)
    val q3 = fact.join(dim2, col("k") === col("dk"))
      .groupBy("attr").agg(sum("m").as("s"))
    assert(leafPaths(q3).exists(_.startsWith(s"file:$factDir")),
      s"undeclared dim must keep the fact scan: " +
        s"${q3.queryExecution.optimizedPlan}")
    // a duplicate-keyed dim is refused at declaration
    intercept[IllegalArgumentException] {
      plans.MvRewrite.registerDimension(
        Seq((1L, "x"), (1L, "y")).toDF("dk", "attr"), Seq("dk"))
    }
    plans.MvRewrite.clear()
  }

  test("a GDX base commit makes the summary ineligible until refreshed") {
    val dir = tmp("gdxbase") + "/t"
    val fmt = "graft.sources.GdxSource"
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val base = spark.read.format(fmt).option("path", dir).load()
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("v"), Seq("k"), mvPath)
    def q() = spark.read.format(fmt).option("path", dir).load()
      .groupBy("v").agg(count(lit(1)).as("n"), sum("k").as("s"))
    def usesMv(df: DataFrame): Boolean = {
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      leaves.flatMap(plans.MvRewrite.relationIdentity)
        .forall(_.contains(mvPath))
    }
    assert(usesMv(q()), "fresh summary must answer the base query")
    // the base advances: the un-refreshed summary must STAND DOWN and
    // the query must read the (new) base — correct, not stale
    Seq((4L, "b")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("append").save()
    val afterCommit = q()
    assert(!usesMv(afterCommit),
      s"stale summary must not answer: " +
        s"${afterCommit.queryExecution.optimizedPlan}")
    assert(afterCommit.orderBy("v").collect().map(_.toSeq) ===
      Array(Seq("a", 2L, 3L), Seq("b", 2L, 7L)))
    // refresh with the delta re-pins the snapshot → eligible again
    plans.MvRewrite.refreshIncremental(spark,
      Seq((4L, "b")).toDF("k", "v"), mvPath)
    val afterRefresh = q()
    assert(usesMv(afterRefresh), "refreshed summary must answer again")
    assert(afterRefresh.orderBy("v").collect().map(_.toSeq) ===
      Array(Seq("a", 2L, 3L), Seq("b", 2L, 7L)))
    plans.MvRewrite.clear()
  }

  test("time-travel reads are never answered from the summary") {
    val dir = tmp("gdxtt") + "/t"
    val fmt = "graft.sources.GdxSource"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    Seq((3L, "b")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("append").save()
    val base = spark.read.format(fmt).option("path", dir).load()
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("v"), Seq("k"), mvPath)
    // version-pinned historical aggregate: must read history, not the
    // current-snapshot summary
    val hist = spark.read.format(fmt).option("path", dir)
      .option("version", "1").load()
      .groupBy("v").agg(count(lit(1)).as("n"))
    val ids = hist.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(plans.MvRewrite.relationIdentity)
    assert(!ids.exists(_.contains(mvPath)),
      s"time travel rewrote onto the summary: " +
        s"${hist.queryExecution.optimizedPlan}")
    assert(hist.orderBy("v").collect().map(_.toSeq) ===
      Array(Seq("a", 1L), Seq("b", 1L)))
    plans.MvRewrite.clear()
  }

  test("refresh pins the DELTA's covered version, not the live one") {
    val dir = tmp("gdxpin") + "/t"
    val fmt = "graft.sources.GdxSource"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save() // v1
    val base = spark.read.format(fmt).option("path", dir).load()
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("v"), Seq("k"), mvPath)
    // a commit RACES past the delta the refresher is about to fold
    Seq((3L, "a")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("append").save() // v2
    // the refresher knows its delta only covers v1 and pins that —
    // the summary must NOT answer for the v2-bearing base
    plans.MvRewrite.refreshIncremental(spark,
      Seq.empty[(Long, String)].toDF("k", "v"), mvPath,
      asOfVersions = Map(dir -> 1))
    val q = base.groupBy("v").agg(count(lit(1)).as("n"))
    val ids = q.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(plans.MvRewrite.relationIdentity)
    assert(!ids.exists(_.contains(mvPath)),
      s"stale pin must stand down: ${q.queryExecution.optimizedPlan}")
    assert(q.orderBy("v").collect().map(_.toSeq) ===
      Array(Seq("a", 2L), Seq("b", 1L)))
    plans.MvRewrite.clear()
  }

  test("opt-in auto-heal: a base commit refreshes the summary inside " +
      "the next query; delete-bearing windows still stand down") {
    val dir = tmp("gdxheal") + "/t"
    val fmt = "graft.sources.GdxSource"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save() // v1
    val base = spark.read.format(fmt).option("path", dir).load()
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("v"), Seq("k"), mvPath)
    Seq((3L, "b")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("append").save() // v2
    def q() = spark.read.format(fmt).option("path", dir).load()
      .groupBy("v").agg(count(lit(1)).as("n"), sum("k").as("s"))
    def usesMv(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .flatMap(plans.MvRewrite.relationIdentity)
        .forall(_.contains(mvPath))
    // default OFF: the stand-down contract holds
    assert(!usesMv(q()), "stale summary must stand down by default")
    spark.conf.set(plans.MvRewrite.AutoHealKey, "true")
    try {
      // the FIRST query heals (one incremental changefeed fold) and
      // rewrites — no manual refresh
      val healed = q()
      assert(usesMv(healed),
        s"auto-heal must re-arm the rewrite: " +
          s"${healed.queryExecution.optimizedPlan}")
      assert(healed.orderBy("v").collect().map(_.toSeq) ===
        Array(Seq("a", 1L, 1L), Seq("b", 2L, 5L)))
      // exactly one new generation: a refresh, not a rebuild loop
      val gens = graft.pipeline.TableSwap.committedVersions(mvPath,
        spark.sessionState.newHadoopConf())
      assert(gens.max === 2, s"one heal → generation 2, got $gens")
      // a DELETE-bearing window must NOT heal (the incremental algebra
      // is append-only): the rule stands down, the query reads the base
      graft.sources.GdxSource.delete(spark, dir,
        org.apache.spark.sql.functions.col("k") === 1L)
      val afterDelete = q()
      assert(!usesMv(afterDelete),
        "delete-bearing staleness must stand down, not heal")
      assert(afterDelete.orderBy("v").collect().map(_.toSeq) ===
        Array(Seq("b", 2L, 5L)))
      // and no generation was published by the refused heal
      assert(graft.pipeline.TableSwap.committedVersions(mvPath,
        spark.sessionState.newHadoopConf()).max === 2)
    } finally {
      spark.conf.unset(plans.MvRewrite.AutoHealKey)
      plans.MvRewrite.clear()
    }
  }

  test("refresh refuses a LIVE-scanning delta and infers a pinned one") {
    val dir = tmp("gdxlive") + "/t"
    val fmt = "graft.sources.GdxSource"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("overwrite").save() // v1
    val base = spark.read.format(fmt).option("path", dir).load()
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("v"), Seq("k"), mvPath)
    Seq((3L, "a")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode("append").save() // v2
    // a delta that re-scans the LIVE base is lazy: it executes inside
    // the refresh's write, so no pin read here can be proven to match
    // what it covers — refused loudly, with the remedies named
    val e = intercept[IllegalArgumentException] {
      plans.MvRewrite.refreshIncremental(spark,
        spark.read.format(fmt).option("path", dir).load()
          .filter(col("k") === 3L), mvPath)
    }
    assert(e.getMessage.contains("LIVE"), e.getMessage)
    // the same delta read through an explicit version pin covers
    // exactly that version — accepted, and the pin is inferred from
    // the read option (no asOfVersions needed)
    plans.MvRewrite.refreshIncremental(spark,
      spark.read.format(fmt).option("path", dir).option("version", "2")
        .load().filter(col("k") === 3L), mvPath)
    val q = spark.read.format(fmt).option("path", dir).load()
      .groupBy("v").agg(count(lit(1)).as("n"), sum("k").as("s"))
    assert(onMv(q, mvPath),
      s"v2-pinned refresh must re-arm the rewrite: " +
        s"${q.queryExecution.optimizedPlan}")
    assert(q.orderBy("v").collect().map(_.toSeq) ===
      Array(Seq("a", 2L, 4L), Seq("b", 1L, 2L)))
    plans.MvRewrite.clear()
  }

  test("sketch-covered distinct column rewrites at exact and rollup " +
      "grain") {
    val dir = writeBase()
    val base = spark.read.parquet(dir)
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"), Seq("m1"),
      mvPath, distinctCols = Seq("m2"))
    // exact grain: the stored cell sketch is estimated directly — a
    // pure Project, no aggregation at query time
    val q1 = base.groupBy("g1", "g2")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("m2"))).as("nd"))
    assert(onMv(q1, mvPath),
      s"expected an MV-only plan, got ${q1.queryExecution.optimizedPlan}")
    assert(q1.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isEmpty, "exact-grain sketch rewrite must not re-aggregate")
    assert(q1.orderBy("g1", "g2").collect().map(_.toSeq) === Array(
      Seq("a", "x", 2L), Seq("a", "y", 1L),
      Seq("b", "x", 1L), Seq("b", "y", 2L)))
    // rollup grain: cell sketches UNION — distinct counts that do not
    // decompose through sums still roll up through sketch merge (tiny
    // cardinalities are exact in HLL's coupon regime, so equality to
    // the true distinct count is deterministic here)
    val q2 = base.groupBy("g1")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("m2"))).as("nd"))
    assert(onMv(q2, mvPath),
      s"expected an MV-only plan, got ${q2.queryExecution.optimizedPlan}")
    assert(q2.orderBy("g1").collect().map(_.toSeq) ===
      Array(Seq("a", 3L), Seq("b", 3L)))
    // guards: approx_count_distinct (HLL++) must NOT be answered by the
    // DataSketches union — a different estimator is a value change —
    // and a precision-mismatched or uncovered sketch stays on the base
    for (q <- Seq(
      base.groupBy("g1").agg(approx_count_distinct("m2").as("nd")),
      base.groupBy("g1")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("m2"), 14)).as("nd")),
      base.groupBy("g1")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("g2"))).as("nd"))))
      assert(leafPaths(q).exists(_.startsWith(s"file:$dir")),
        s"must keep the base scan: ${q.queryExecution.optimizedPlan}")
    plans.MvRewrite.clear()
  }

  test("incremental refresh unions sketches like a full rebuild") {
    val dir = writeBase()
    val base = spark.read.parquet(dir)
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, base, Seq("g1", "g2"), Seq("m1"),
      mvPath, distinctCols = Seq("m2"))
    // delta adds one repeated and two NEW m2 values to existing cells
    val delta = Seq(("a", "x", 7.0, 10L), ("a", "x", 8.0, 30L),
      ("b", "y", 9.0, 2L)).toDF("g1", "g2", "m1", "m2")
    plans.MvRewrite.refreshIncremental(spark, delta, mvPath)
    // a base-identity query now rewrites onto the REFRESHED summary
    // (file-source bases answer as-of refresh by contract); the
    // union-of-frames ground truth cannot rewrite (Aggregate over
    // Union, not over the registered relation)
    val truth = base.unionByName(delta).groupBy("g1")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("m2"))).as("nd"))
    val mvNd = base.groupBy("g1")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("m2"))).as("nd"))
    assert(onMv(mvNd, mvPath),
      s"expected an MV-only plan, got " +
        s"${mvNd.queryExecution.optimizedPlan}")
    val expect = truth.orderBy("g1").collect().map(_.toSeq)
    assert(mvNd.orderBy("g1").collect().map(_.toSeq) === expect)
    assert(expect === Array(Seq("a", 4L), Seq("b", 4L)))
    plans.MvRewrite.clear()
  }

  test("join rewrite unions fact-side sketches over matched cells") {
    val factDir = tmp("jfact2")
    Seq((1L, 2.0, 10L), (1L, 3.0, 20L), (2L, 4.0, 10L), (3L, 5.0, 30L))
      .toDF("k", "m", "x")
      .write.mode("overwrite").parquet(factDir)
    val fact = spark.read.parquet(factDir)
    val dimDir = tmp("jdim3")
    Seq((1L, "p"), (2L, "q"), (3L, "p"))
      .toDF("dk", "attr").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    plans.MvRewrite.registerDimension(dim, Seq("dk"))
    val mvPath = tmp("mv")
    plans.MvRewrite.materialize(spark, fact, Seq("k"), Seq("m"), mvPath,
      distinctCols = Seq("x"))
    val q = fact.join(dim, col("k") === col("dk")).groupBy("attr")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("x"))).as("nd"))
    assert(leafPaths(q).exists(_.startsWith(s"file:$mvPath/v=")),
      s"expected the summary in the join, got " +
        s"${q.queryExecution.optimizedPlan}")
    // attr=p covers k∈{1,3} → x∈{10,20,30}; attr=q covers k=2 → {10}
    assert(q.orderBy("attr").collect().map(_.toSeq) ===
      Array(Seq("p", 3L), Seq("q", 1L)))
    plans.MvRewrite.clear()
  }

  test("a catalog read matches a path-registered summary (same table, " +
      "two front doors); catalog time travel never does") {
    val wh = tmp("catwh")
    val cat = "gdxmvcat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GdxCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    try {
      spark.sql(s"CREATE NAMESPACE $cat.lab")
      spark.sql(s"CREATE TABLE $cat.lab.t (k BIGINT, v STRING)")
      spark.sql(s"INSERT INTO $cat.lab.t VALUES (1,'a'),(2,'a'),(3,'b')")
      val dir = s"$wh/lab/t"
      val base = spark.read.format("graft.sources.GdxSource")
        .option("path", dir).load()
      val mvPath = tmp("catmv")
      plans.MvRewrite.materialize(spark, base, Seq("v"), Seq("k"), mvPath)
      // EXISTS, not forall: a version-pinned relation deliberately has
      // NO identity, so an all-empty leaf set must read as "not on the
      // summary", never vacuously true
      def usesMv(df: DataFrame): Boolean = {
        val leaves = df.queryExecution.optimizedPlan.collectLeaves()
        leaves.flatMap(plans.MvRewrite.relationIdentity)
          .exists(_.contains(mvPath))
      }
      // the catalog identifier and the path option address the SAME
      // directory — the summary answers both
      val q = spark.sql(s"SELECT v, count(1) AS n, sum(k) AS s " +
        s"FROM $cat.lab.t GROUP BY v")
      assert(usesMv(q), q.queryExecution.optimizedPlan.toString)
      assert(q.orderBy("v").collect().map(_.toSeq) ===
        Array(Seq("a", 2L, 3L), Seq("b", 1L, 3L)))
      // a catalog time-travel pin carries NO read option — the table
      // object itself marks it, and the summary must stand aside
      val tt = spark.sql(s"SELECT v, count(1) AS n " +
        s"FROM $cat.lab.t FOR VERSION AS OF 2 GROUP BY v")
      assert(!usesMv(tt) && tt.queryExecution.optimizedPlan.toString
        .contains("VERSION AS OF"),
        tt.queryExecution.optimizedPlan.toString)
      assert(tt.orderBy("v").collect().map(_.toSeq) ===
        Array(Seq("a", 2L), Seq("b", 1L)))
    } finally {
      plans.MvRewrite.clear()
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }
}
