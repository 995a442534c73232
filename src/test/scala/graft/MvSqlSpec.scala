package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SQL front door for the materialized-view tier (plans/MvSql.scala):
  * CREATE / REFRESH / DROP MATERIALIZED VIEW drive
  * MvRewrite.materialize / refreshIncremental / unregister entirely
  * through spark.sql. Parser extensions bind at session construction —
  * tests run on a sibling session with GraftExtensions active. */
class MvSqlSpec extends SparkSuite {
  import spark.implicits._

  private lazy val s = org.apache.spark.sql.graft.ColumnBridge
    .sessionWithExtensions(spark, new GraftExtensions())

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"mvsql_$tag").toString

  private def usesMv(df: DataFrame, mvPath: String): Boolean = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    leaves.nonEmpty && leaves.flatMap { l =>
      plans.MvRewrite.relationIdentity(l) match {
        case ids if ids.isEmpty => Seq(l.nodeName) // non-file leaf
        case ids => ids
      }
    }.forall(_.contains(s"$mvPath/v="))
  }

  test("CREATE derives the summary from the SELECT; queries rewrite; " +
      "REFRESH rides the GDX changefeed; DROP stands the rule down") {
    val root = tmp("flow")
    val gdxDir = s"$root/t"
    val mvPath = s"$root/mv"
    val fmt = "graft.sources.GdxSource"
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "v")
      .write.format(fmt).option("path", gdxDir).mode("overwrite").save()
    s.sql(s"""CREATE TABLE mvsql_t (k BIGINT, v STRING)
      USING graft.sources.GdxSource OPTIONS (path '$gdxDir')""")
    try {
      val cells = s.sql(s"""CREATE MATERIALIZED VIEW mvsql_sum
        LOCATION '$mvPath'
        AS SELECT v, count(*) AS n, sum(k) AS sum_k
           FROM mvsql_t GROUP BY v""").head.getLong(0)
      assert(cells === 2L)
      // a query against the BASE rewrites onto the summary
      def q() = s.sql(
        "SELECT v, count(*) AS n, sum(k) AS sum_k FROM mvsql_t GROUP BY v")
      assert(usesMv(q(), mvPath),
        s"expected MV plan: ${q().queryExecution.optimizedPlan}")
      // the NAME itself is queryable and also answers from the summary
      val byName = s.sql("SELECT * FROM mvsql_sum")
      assert(usesMv(byName, mvPath))
      assert(byName.orderBy("v").collect().map(_.toSeq) ===
        Array(Seq("a", 2L, 3L), Seq("b", 1L, 3L)))
      // base advances -> rule stands down (correct, not stale)
      Seq((4L, "b")).toDF("k", "v")
        .write.format(fmt).option("path", gdxDir).mode("append").save()
      assert(!usesMv(q(), mvPath), "stale summary must not answer")
      // REFRESH: append-only delta -> incremental changefeed fold
      assert(s.sql("REFRESH MATERIALIZED VIEW mvsql_sum")
        .head.getString(0) === "incremental")
      assert(usesMv(q(), mvPath), "refreshed summary must answer again")
      assert(q().orderBy("v").collect().map(_.toSeq) ===
        Array(Seq("a", 2L, 3L), Seq("b", 2L, 7L)))
      // a fresh summary refreshes as a no-op
      assert(s.sql("REFRESH MATERIALIZED VIEW mvsql_sum")
        .head.getString(0) === "noop")
      // an UPDATE makes the delta non-append-only -> full rebuild
      s.sql("UPDATE mvsql_t SET v = 'c' WHERE k = 1")
      assert(s.sql("REFRESH MATERIALIZED VIEW mvsql_sum")
        .head.getString(0) === "full")
      assert(usesMv(q(), mvPath))
      assert(q().orderBy("v").collect().map(_.toSeq) ===
        Array(Seq("a", 1L, 2L), Seq("b", 2L, 7L), Seq("c", 1L, 1L)))
      // DROP: the rule stands down, the base query still computes
      assert(s.sql("DROP MATERIALIZED VIEW mvsql_sum").head.getBoolean(0))
      assert(!usesMv(q(), mvPath))
      assert(q().orderBy("v").collect().map(_.toSeq) ===
        Array(Seq("a", 1L, 2L), Seq("b", 2L, 7L), Seq("c", 1L, 1L)))
      // idempotent drop form
      assert(!s.sql("DROP MATERIALIZED VIEW IF EXISTS mvsql_sum")
        .head.getBoolean(0))
    } finally {
      s.sql("DROP TABLE IF EXISTS mvsql_t")
      plans.MvRewrite.clear()
    }
  }

  test("CREATE refuses shapes the algebra cannot maintain, loudly") {
    val root = tmp("refuse")
    val dir = s"$root/pq"
    Seq(("a", 1.0), ("b", 2.0)).toDF("g", "m")
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir).createOrReplaceTempView("mvsql_pq")
    try {
      def refuse(sql: String, needle: String): Unit = {
        val e = intercept[Exception] { s.sql(sql).collect() }
        assert(e.getMessage.contains(needle),
          s"expected '$needle' in: ${e.getMessage}")
      }
      // a filtered defining query answers only its own filter
      refuse(s"""CREATE MATERIALIZED VIEW mvsql_bad LOCATION '$root/b1'
        AS SELECT g, sum(m) AS s FROM mvsql_pq WHERE m > 1 GROUP BY g""",
        "filtered summary")
      // expression-valued grouping is not a bare base column
      refuse(s"""CREATE MATERIALIZED VIEW mvsql_bad LOCATION '$root/b2'
        AS SELECT upper(g) AS g2, sum(m) AS s FROM mvsql_pq
        GROUP BY upper(g)""", "bare base columns")
      // an aggregate outside the self-maintainable algebra
      refuse(s"""CREATE MATERIALIZED VIEW mvsql_bad LOCATION '$root/b3'
        AS SELECT g, percentile(m, 0.5) AS p FROM mvsql_pq GROUP BY g""",
        "self-maintainable")
      // nothing half-registered: REFRESH of the refused name errors
      refuse("REFRESH MATERIALIZED VIEW mvsql_bad", "not registered")
    } finally {
      s.catalog.dropTempView("mvsql_pq")
      plans.MvRewrite.clear()
    }
  }

  test("CREATE with kll_sketch_agg_double covers quantiles; a coarser " +
      "median rewrites onto merged cell sketches") {
    val root = tmp("kll")
    val dir = s"$root/pq"
    val mvPath = s"$root/mv"
    spark.range(1, 10001)
      .select((col("id") % 10).as("g"), (col("id") % 3).as("h"),
        col("id").cast("double").as("x"))
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir).createOrReplaceTempView("mvsql_kt")
    try {
      s.sql(s"""CREATE MATERIALIZED VIEW mvsql_kll LOCATION '$mvPath'
        AS SELECT g, h, kll_sketch_agg_double(x) AS sk
           FROM mvsql_kt GROUP BY g, h""")
      def q(k: String) = s.sql(
        s"""SELECT g, kll_sketch_get_quantile_double(
           |  kll_sketch_agg_double(x$k), 0.5) AS med
           |FROM mvsql_kt GROUP BY g""".stripMargin)
      assert(usesMv(q(""), mvPath),
        s"expected MV plan: ${q("").queryExecution.optimizedPlan}")
      // percentile is outside the MV algebra, so this reads the base
      val exact = s.sql("SELECT g, percentile(x, 0.5) FROM mvsql_kt " +
        "GROUP BY g").collect().map(r => r.getLong(0) -> r.getDouble(1))
        .toMap
      // x is uniform on [1,10000] within every g: 3x the k=200 rank
      // bound (~1.65%) maps to a value error of 3 * 0.0165 * 10000
      val tol = 3 * 0.0165 * 10000
      val est = q("").collect()
      assert(est.length === 10)
      est.foreach { r =>
        val (g, med) = (r.getLong(0), r.getDouble(1))
        assert(math.abs(med - exact(g)) <= tol, s"g=$g median $med")
      }
      // a k=128 request must not be answered from k=200 summary state
      assert(!usesMv(q(", 128"), mvPath))
      s.sql("DROP MATERIALIZED VIEW mvsql_kll")
      ()
    } finally {
      s.catalog.dropTempView("mvsql_kt")
      plans.MvRewrite.clear()
    }
  }

  test("file-source base: REFRESH re-materializes and re-arms") {
    val root = tmp("fullr")
    val dir = s"$root/pq"
    val mvPath = s"$root/mv"
    Seq(("a", 1L), ("b", 2L)).toDF("g", "m")
      .write.mode("overwrite").parquet(dir)
    // SQL-created view: re-resolves (and re-lists) the path per query,
    // so the append below is visible — a DataFrame-created temp view
    // pins its file listing at creation time
    s.sql(s"CREATE OR REPLACE TEMP VIEW mvsql_f AS " +
      s"SELECT * FROM parquet.`$dir`")
    try {
      s.sql(s"""CREATE MATERIALIZED VIEW mvsql_fsum LOCATION '$mvPath'
        AS SELECT g, count(*) AS n, sum(m) AS sum_m,
           count(DISTINCT m) AS nd_m
           FROM mvsql_f GROUP BY g""")
      // count(DISTINCT m) over a non-grain column is sketch-covered:
      // the summary carries an HLL partial for m
      def q() = s.sql("SELECT g, count(*) AS n, sum(m) AS sum_m " +
        "FROM mvsql_f GROUP BY g")
      assert(usesMv(q(), mvPath))
      Seq(("b", 5L)).toDF("g", "m").write.mode("append").parquet(dir)
      // file bases carry no snapshot token: REFRESH is a full rebuild
      assert(s.sql("REFRESH MATERIALIZED VIEW mvsql_fsum")
        .head.getString(0) === "full")
      assert(q().orderBy("g").collect().map(_.toSeq) ===
        Array(Seq("a", 1L, 1L), Seq("b", 2L, 7L)))
      s.sql("DROP MATERIALIZED VIEW mvsql_fsum")
      ()
    } finally {
      s.catalog.dropTempView("mvsql_f")
      plans.MvRewrite.clear()
    }
  }
}
