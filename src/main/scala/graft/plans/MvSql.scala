package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Count, HllSketchAgg, KllSketchAggDouble, Max,
  Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan,
  Project, SubqueryAlias}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** SQL FRONT DOOR for the MATERIALIZED-VIEW tier — the statements a
  * warehouse user reaches for first, which Spark's grammar does not
  * have (OSS Spark has no materialized views):
  *
  *   `CREATE MATERIALIZED VIEW <name> [LOCATION '<path>'] AS <select>`
  *   `REFRESH MATERIALIZED VIEW <name>`
  *   `DROP MATERIALIZED VIEW [IF EXISTS] <name>`
  *
  * CREATE parses the defining SELECT, derives the summary definition
  * from its shape — grouping columns become the MV grain; every
  * aggregate is classified into the self-maintainable algebra
  * ([[MvRewrite]]): count/sum/min/max/avg over a column → measure,
  * count(DISTINCT)/hll_sketch_agg → HLL-sketch-covered column,
  * kll_sketch_agg_double → KLL-sketch-covered column — and
  * materializes the CANONICAL summary ([[MvRewrite.materialize]]), so
  * the one stored summary answers the defining view AND every other
  * rewritable aggregate at or above its grain. The name is also bound
  * as a temp view of the defining SELECT: `SELECT * FROM <name>`
  * re-plans the definition, which the optimizer rewrite answers from
  * the summary while fresh — the Oracle/Databricks MV contract.
  *
  * REFRESH picks the cheapest valid path: a GDX base whose changefeed
  * ([[graft.sources.GdxSource.tableChanges]]) since the pinned
  * snapshot is INSERT-only folds incrementally
  * ([[MvRewrite.refreshIncremental]], O(delta + |MV|)); anything else
  * (deletes/updates in the delta, file-source base) re-materializes
  * from the base. Either way the new generation publishes atomically
  * and the snapshot pin advances, so the rewrite re-arms.
  *
  * A SELECT whose shape the algebra cannot maintain (expression-valued
  * grouping, a filter, joins, an uncovered aggregate) is REFUSED at
  * CREATE with the offending node named — never accepted as a
  * silently-unmaintainable view. */
object MvSql {

  /** name → (summary root, defining SELECT). The defining text is what
    * REFRESH re-materializes from; everything else (grain, covered
    * columns, pinned snapshots) lives in the path-keyed
    * [[MvRewrite.MvDef]]. */
  private val named =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private[graft] def clearNames(): Unit = named.clear()

  private[plans] def clearName(name: String): Unit = { named.remove(name); () }

  private[plans] def lookup(name: String): Option[(String, String)] =
    Option(named.get(name))

  private def fail(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "_LEGACY_ERROR_USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  /** Derive (base plan, grain, measures, distincts, quantiles) from an
    * ANALYZED defining SELECT. The base is whatever the Aggregate
    * reads (through alias/pure-projection wrappers only). */
  private[plans] def deriveDefinition(analyzed: LogicalPlan)
      : (LogicalPlan, Seq[String], Seq[String], Seq[String], Seq[String]) = {
    // pure column selection: bare attributes, or the name-preserving
    // Alias(+no-op Cast) wrappers a View's schema-normalization
    // Project adds — a TYPE-CHANGING cast is not pure (aggregating the
    // raw base column would change semantics) and falls through to the
    // refusal below
    def attrRoot(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.child.dataType == c.dataType => attrRoot(c.child)
      case _ => None
    }
    def pureSelection(e: Expression): Boolean = e match {
      case _: AttributeReference => true
      case org.apache.spark.sql.catalyst.expressions.Alias(c, n) =>
        attrRoot(c).exists(_.name == n)
      case _ => false
    }
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => strip(c)
      // temp/catalog views analyze to a View wrapper over their plan
      case v: org.apache.spark.sql.catalyst.plans.logical.View =>
        strip(v.child)
      case Project(pl, c) if pl.forall(pureSelection) => strip(c)
      case r => r
    }
    val agg = strip(analyzed) match {
      case a: Aggregate => a
      case other => fail("CREATE MATERIALIZED VIEW: the defining query " +
        s"must be a plain GROUP BY aggregate over one table (got " +
        s"${other.nodeName}) - filters, joins, and post-aggregate " +
        "shapes are answered FROM the MV by the rewrite, not stored")
    }
    val groupCols = agg.groupingExpressions.map {
      case a: AttributeReference => a.name
      case other => fail("CREATE MATERIALIZED VIEW: grouping must be " +
        s"bare base columns, got ${other.sql}")
    }
    val base = strip(agg.child) match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        fail("CREATE MATERIALIZED VIEW: a filtered summary answers " +
          "only its own filter - move the predicate to the reading " +
          s"queries (got WHERE ${f.condition.sql})")
      case r if MvRewrite.relationIdentity(r).nonEmpty => r
      case other => fail("CREATE MATERIALIZED VIEW: the defining query " +
        s"must read one base table, got ${other.nodeName}")
    }
    val measures = scala.collection.mutable.LinkedHashSet[String]()
    val distincts = scala.collection.mutable.LinkedHashSet[String]()
    val quantiles = scala.collection.mutable.LinkedHashSet[String]()
    def classify(ae: AggregateExpression): Unit = ae.aggregateFunction match {
      case Count(Seq(Literal(1, _))) => ()
      case Count(Seq(a: AttributeReference)) if ae.isDistinct =>
        // derivable exactly when the column is part of the grain (one
        // MV cell per combination); otherwise cover it with a sketch
        if (!groupCols.contains(a.name)) distincts += a.name
      case Count(Seq(a: AttributeReference)) => measures += a.name
      case Sum(a: AttributeReference, _) => measures += a.name
      case Min(a: AttributeReference) => measures += a.name
      case Max(a: AttributeReference) => measures += a.name
      case Average(a: AttributeReference, _) => measures += a.name
      case h: HllSketchAgg => h.left match {
        case a: AttributeReference => distincts += a.name
        case other => fail("CREATE MATERIALIZED VIEW: hll_sketch_agg " +
          s"over a non-column ${other.sql} is not maintainable")
      }
      case k: KllSketchAggDouble => k.child match {
        case a: AttributeReference => quantiles += a.name
        case other => fail("CREATE MATERIALIZED VIEW: " +
          s"kll_sketch_agg_double over a non-column ${other.sql} is not " +
          "maintainable")
      }
      case other => fail("CREATE MATERIALIZED VIEW: " +
        s"${other.prettyName} is not in the self-maintainable algebra " +
        "(count/sum/min/max/avg, count(DISTINCT), hll_sketch_agg, " +
        "kll_sketch_agg_double)")
    }
    agg.aggregateExpressions.foreach { ne =>
      ne.foreach {
        case ae: AggregateExpression => classify(ae)
        case _ => ()
      }
    }
    (base, groupCols, measures.toSeq, distincts.toSeq, quantiles.toSeq)
  }

  /** Build + publish + register the summary for a defining SELECT. */
  private[plans] def createFromSelect(spark: SparkSession, name: String,
                                      path: String, selectSql: String)
      : Long = {
    val df = spark.sql(selectSql) // analyzes only; nothing executes here
    val (basePlan, groupCols, ms, xs, qs) =
      deriveDefinition(df.queryExecution.analyzed)
    val base = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, basePlan)
    val mv = MvRewrite.materialize(spark, base, groupCols, ms, path,
      distinctCols = xs, quantileCols = qs)
    named.put(name, (path, selectSql))
    // the name binds to the DEFINITION: reading it re-plans the SELECT,
    // which the optimizer answers from the summary while fresh
    df.createOrReplaceTempView(name)
    mv.count()
  }
}

/** `CREATE MATERIALIZED VIEW <name> [LOCATION p] AS <select>` →
  * canonical summary published + registered. Returns (cells). */
case class CreateMvCommand(name: String, location: Option[String],
                           selectSql: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType(Seq(StructField("cells", LongType, nullable = false))))
  override def run(spark: SparkSession): Seq[Row] = {
    val path = location.getOrElse(
      spark.sessionState.conf.warehousePath.stripSuffix("/") +
        "/graft_mv/" + name)
    Seq(Row(MvSql.createFromSelect(spark, name, path, selectSql)))
  }
}

/** `REFRESH MATERIALIZED VIEW <name>` → incremental changefeed fold
  * when valid, full re-materialization otherwise. Returns (mode):
  * "noop" (already fresh), "incremental", or "full". */
case class RefreshMvCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType(Seq(StructField("mode", StringType, nullable = false))))
  override def run(spark: SparkSession): Seq[Row] = {
    val (path, selectSql) = MvSql.lookup(name).getOrElse(
      throw new org.apache.spark.sql.AnalysisException(
        "_LEGACY_ERROR_USER_RAISED_EXCEPTION", Map("errorMessage" ->
          s"REFRESH MATERIALIZED VIEW: $name is not registered")))
    val d = MvRewrite.defFor(path).getOrElse(
      throw new IllegalStateException(s"mv $name lost its registration"))
    val mode = d.baseSnapshots.toSeq match {
      // single GDX base: ride the changefeed from the pinned snapshot
      case Seq((gdxDir, pinnedV)) =>
        val curV = (graft.sources.GdxSource.listVersions(gdxDir,
          graft.sources.GdxSource.driverConf()) :+ 0).max
        if (curV == pinnedV) "noop"
        else {
          // the incremental fold is valid for APPEND-ONLY deltas (n/sums
          // add, min/max merge); a delete or update in the window forces
          // a rebuild - the Delta/BigQuery incremental-MV rule. Decided
          // from manifest entry sets alone, so the changefeed is
          // scanned exactly once (by the fold itself).
          if (graft.sources.GdxSource
              .changesAreInsertOnly(gdxDir, pinnedV, curV)) {
            MvRewrite.refreshIncremental(spark,
              graft.sources.GdxSource
                .tableChanges(spark, gdxDir, pinnedV, curV)
                .drop("version", "change_type"), path,
              asOfVersions = Map(gdxDir -> curV))
            "incremental"
          } else {
            MvSql.createFromSelect(spark, name, path, selectSql)
            "full"
          }
        }
      case _ => // file-source base (no snapshot token): rebuild
        MvSql.createFromSelect(spark, name, path, selectSql)
        "full"
    }
    Seq(Row(mode))
  }
}

/** `DROP MATERIALIZED VIEW [IF EXISTS] <name>` → unregister the
  * summary (the rewrite stands down immediately) and unbind the name.
  * Generations on disk are left to storage-level cleanup — a query
  * planned before the drop keeps reading intact files. */
case class DropMvCommand(name: String, ifExists: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType(Seq(StructField("dropped",
        org.apache.spark.sql.types.BooleanType, nullable = false))))
  override def run(spark: SparkSession): Seq[Row] = {
    MvSql.lookup(name) match {
      case Some((path, _)) =>
        MvRewrite.unregister(path)
        MvSql.clearName(name)
        spark.catalog.dropTempView(name)
        Seq(Row(true))
      case None if ifExists => Seq(Row(false))
      case None =>
        throw new org.apache.spark.sql.AnalysisException(
          "_LEGACY_ERROR_USER_RAISED_EXCEPTION", Map("errorMessage" ->
            s"DROP MATERIALIZED VIEW: $name is not registered"))
    }
  }
}
