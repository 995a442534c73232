package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  AttributeReference, Cast, Divide, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Average, Complete, Count, HllSketchAgg, HllUnionAgg,
  KllMergeAggDouble, KllSketchAggDouble, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation,
  DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** MATERIALIZED-VIEW AUTO-REWRITE — an optimizer `Rule[LogicalPlan]`
  * that transparently answers aggregates over a base table from a
  * pre-computed summary, the classic OLAP MV-rewrite (Oracle query
  * rewrite / BigQuery BI Engine / Databricks materialized views). The
  * user keeps writing queries against the BASE table; when a registered
  * summary can answer one, the plan is rewritten to scan the summary
  * instead — at 100 TB that turns a full fact-table aggregate into a
  * scan of a few thousand pre-aggregated rows.
  *
  * Two rewrite shapes:
  *  - **exact**: the query groups by exactly the MV's grouping columns
  *    → a pure column remap (Project over the MV scan), zero
  *    aggregation at query time.
  *  - **rollup**: the query groups by a SUBSET of the MV's grouping
  *    columns → re-aggregate the summary (sum-of-sums, sum-of-counts,
  *    min-of-mins, max-of-maxes; avg recomposed as Σsum/Σcnt), the
  *    standard partial-aggregate compensation. Cost: an aggregate over
  *    |MV| rows instead of |base| rows.
  *
  * Matching is RELATION-level: the rule recognizes the base table by
  * its file-source root paths (robust to column pruning and projection
  * reordering), requires every grouping expression to be a bare base
  * column ⊆ the MV's grouping set, and every aggregate to be one of
  * count(*) / count(m) / sum / min / max / avg over a covered measure
  * (plus count(DISTINCT dim) over a grouping column), unfiltered.
  * Anything else — an extra non-dimension Filter, an uncovered measure
  * — leaves the plan untouched: the rewrite is an optimization, never
  * a semantics change. avg(m) and count(m) recompose through the
  * per-measure `cnt_m = count(m)` partial, so NULL-bearing measures
  * divide by the count of non-null values exactly as SQL avg does.
  *
  * STALENESS CONTRACT: a registration answers for the base table AS OF
  * materialization. For a GDX base the manifest version is recorded in
  * the [[MvRewrite.MvDef]] at (re)materialization/refresh time, and the
  * rule STANDS DOWN whenever the live snapshot has advanced past the
  * pinned one — a commit to the base makes the un-refreshed summary
  * ineligible until the next `materialize`/`refreshIncremental` re-pins
  * it (the changefeed topology of c16 does exactly that per
  * micro-batch). Time-travel reads (`version`/`asOf` options) never
  * match a summary at all: a historical query must read history.
  * File-source (parquet) bases carry no snapshot token — for them the
  * registration answers as-of materialization by contract, the
  * harness-scale reduction of warehouse RELY constraints.
  *
  * ATOMIC (RE)MATERIALIZATION: every summary generation is written to
  * a FRESH versioned directory under the logical MV root
  * (`<path>/v=N` + `_commit-N` marker — the
  * [[graft.pipeline.TableSwap]] object-store-safe protocol) and the
  * in-memory registration is re-pointed at the new generation
  * atomically; a registered generation's files are never overwritten
  * in place. Readers planned against the previous registration keep
  * executing against the previous generation's intact files; vacuum
  * keeps the trailing [[MvRewrite.KeepGenerations]] generations so a
  * concurrent query holding an older plan survives a refresh landing
  * mid-flight.
  *
  * Registered via `SparkSessionExtensions.injectOptimizerRule`
  * (GraftExtensions) and, for foreign sessions, through
  * `spark.experimental.extraOptimizations` — both end-of-optimizer
  * batches, so the rule sees the settled Aggregate-over-Project-over-
  * Relation shape and its output (fresh scan + compensating aggregate)
  * needs no further analysis.
  */
object MvRewrite {

  /** Trailing summary generations retained by vacuum: the live one,
    * plus two older ones so queries planned before up to two refreshes
    * still read intact files. */
  val KeepGenerations = 3

  /** One registered summary: the logical MV root it is registered
    * under, base-table identity (file root paths), pinned GDX base
    * snapshots (empty for file-source bases), grouping set, covered
    * measures, sketch-covered distinct columns, the live generation's
    * directory, and its analyzed scan plan with column attributes. */
  case class MvDef(root: String, basePaths: Set[String],
                   baseSnapshots: Map[String, Int],
                   groupCols: Seq[String], measureCols: Set[String],
                   distinctCols: Set[String], quantileCols: Set[String],
                   genDir: String, mvPlan: LogicalPlan,
                   mvAttr: Map[String, Attribute])

  /** lgConfigK every summary sketch is built at — Spark's
    * `hll_sketch_agg` default (4096 registers, rsd ≈ 1.04/√2¹² ≈
    * 1.6%). The rewrite only fires when the query's sketch uses the
    * same precision: estimating a lgK-12 union where the user asked
    * for lgK-14 would silently change the error bound. */
  val SketchLgK = 12

  /** K every summary QUANTILE sketch is built at — Spark's
    * `kll_sketch_agg_double` default (normalized rank error ≈ 1.65% at
    * 99% confidence). The rewrite only fires when the query's sketch
    * uses the same K — answering a higher-precision request from a
    * lower-precision summary would silently change the error bound. */
  val KllK = 200

  /** The K a query's KLL sketch is built at: its constant k argument,
    * or Spark's default when it has none (Spark keeps its own resolved
    * value protected). */
  private[plans] def kllK(ks: KllSketchAggDouble): Int =
    ks.kExpr.fold(KllK)(_.eval().asInstanceOf[Number].intValue)

  /** Keyed by the LOGICAL summary root: re-materializing or refreshing
    * the same MV atomically re-points its registration at the freshly
    * committed generation directory, so bench warmup + timed passes
    * never plan against deleted or half-written summary files. */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

  /** Declared-unique DIMENSION keys (the warehouse RELY constraint,
    * spot-verified): relation identity → unique key column set. The
    * JOIN-aware rewrite arm needs each summary cell to match AT MOST
    * ONE dim row — otherwise replacing the fact side with the summary
    * would multiply cells — and that n:1 guarantee cannot be proven
    * from the plan alone. Registration CHECKS uniqueness with one
    * aggregate over the dim (dim-scale, not fact-scale). */
  private val dimKeys =
    new java.util.concurrent.ConcurrentHashMap[Set[String], Set[String]]()

  def registerDimension(dim: DataFrame, keyCols: Seq[String]): Unit = {
    val n = dim.count()
    val nd = dim.selectExpr(keyCols: _*).distinct().count()
    require(n == nd, s"registerDimension: ${keyCols.mkString(",")} is " +
      s"not unique ($nd distinct of $n rows) - a duplicate-keyed dim " +
      "would multiply summary cells under the join rewrite")
    dimKeys.put(rootPaths(dim), keyCols.toSet)
  }

  private[plans] def dimKey(identity: Set[String]): Option[Set[String]] =
    Option(dimKeys.get(identity))

  private[graft] def clear(): Unit = {
    registry.clear(); dimKeys.clear(); MvSql.clearNames()
  }

  private[plans] def defFor(path: String): Option[MvDef] =
    Option(registry.get(path))

  /** Drop a registration (DROP MATERIALIZED VIEW): the rewrite stands
    * down immediately; in-flight plans keep their generation's files. */
  private[plans] def unregister(path: String): Unit = {
    registry.remove(path); ()
  }

  /** Ensure the rewrite rule runs on `spark` even when the session was
    * not built with GraftExtensions (foreign driver sessions):
    * experimental.extraOptimizations is the runtime-injection arm of
    * the same extension point. Idempotent. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(MvRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewriteRule

  /** True while a summary is being (re)built on this thread: the
    * rewrite rule stands down so the build always reads the BASE —
    * otherwise a refresh of an already-registered MV would rewrite its
    * own build query to scan the summary it is replacing. */
  private val building = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private[plans] def isBuilding: Boolean = building.get()

  /** The summary column set [[MvRewriteRule]]'s compensation algebra
    * needs: `n` (count(*)), per measure `sum_m`/`cnt_m`/`min_m`/
    * `max_m`, and per sketch-covered distinct column a MERGEABLE
    * DataSketches HLL partial `hll_x` — register-wise max is
    * associative and commutative, so a union of cell sketches is the
    * same sketch state a base scan would build: DISTINCT-style
    * aggregates, which do NOT decompose through sums, still roll up
    * through sketches (the BigQuery BI Engine / Druid pattern).
    * `cnt_m = count(m)` is what makes avg(m) and count(m) NULL-exact:
    * SQL avg divides by non-null count, not row count. */
  private def summaryAggs(measureCols: Seq[String],
                          distinctCols: Seq[String],
                          quantileCols: Seq[String] = Nil) =
    ((count(lit(1)).as("n") +: measureCols.flatMap(m => Seq(
      sum(col(m)).as(s"sum_$m"), count(col(m)).as(s"cnt_$m"),
      min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m")))) ++
      distinctCols.map(x =>
        hll_sketch_agg(col(x), SketchLgK).as(s"hll_$x"))) ++
      // quantiles don't decompose through sums either — a mergeable
      // KLL sketch per cell is what lets median/p99 dashboards roll up
      // (the same BI-engine pattern as the HLL distinct partials)
      quantileCols.map(x =>
        kll_sketch_agg_double(col(x), KllK).as(s"kll_$x"))

  /** Commit a freshly-computed summary frame as the next generation
    * under `path` and return the registered definition: write to the
    * next `v=N` dir, one marker PUT as the commit point, re-point the
    * registration, vacuum old generations. */
  private def publishGeneration(spark: SparkSession, summary: DataFrame,
                                path: String, basePaths: Set[String],
                                baseSnapshots: Map[String, Int],
                                groupCols: Seq[String],
                                measureCols: Set[String],
                                distinctCols: Set[String],
                                quantileCols: Set[String]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val (v, genDir) = graft.pipeline.TableSwap.nextVersion(path, conf)
    // the write is the action that runs the build plan through the
    // optimizer — the rule must stand down HERE, or a re-materialize
    // would answer its own build from the stale summary it replaces
    building.set(true)
    try summary.write.mode("overwrite").parquet(genDir)
    finally building.set(false)
    graft.pipeline.TableSwap.commitVersion(path, v, conf)
    // declare the schema we just wrote: a bare spark.read.parquet runs
    // a footer-inference Spark JOB per generation publish (paid once
    // per materialize and once per incremental fold), for a schema the
    // summary frame already carries
    val mv = spark.read.schema(summary.schema).parquet(genDir)
    val mvPlan = mv.queryExecution.analyzed
    val newDef = MvDef(path, basePaths, baseSnapshots, groupCols,
      measureCols, distinctCols, quantileCols, genDir, mvPlan,
      mvPlan.output.map(a => a.name -> a).toMap)
    registry.synchronized {
      // ONE live def per LOGICAL MV: a second invocation registering
      // the same (base, grain, measures, sketches) under a different
      // per-run scratch root must REPLACE the first — two
      // indistinguishable defs tie on the coarsest-first ordering and
      // plan choice would decay to registry hash order, flipping which
      // summary answers a query between passes
      val key =
        (basePaths, groupCols, measureCols, distinctCols, quantileCols)
      import scala.jdk.CollectionConverters._
      registry.entrySet().asScala.filter { e =>
        e.getKey != path && (e.getValue.basePaths, e.getValue.groupCols,
          e.getValue.measureCols, e.getValue.distinctCols,
          e.getValue.quantileCols) == key
      }.map(_.getKey).toList.foreach(registry.remove)
      registry.put(path, newDef)
    }
    graft.pipeline.TableSwap.vacuumVersions(path, conf,
      keepLast = KeepGenerations)
    mv
  }

  /** Build the summary for `base` grouped by `groupCols`, publish it as
    * a fresh committed generation under `path`, register it for
    * rewrite (pinning any GDX base's current snapshot version), and
    * return the summary scan. */
  def materialize(spark: SparkSession, base: DataFrame,
                  groupCols: Seq[String], measureCols: Seq[String],
                  path: String,
                  distinctCols: Seq[String] = Nil,
                  quantileCols: Seq[String] = Nil): DataFrame = {
    install(spark)
    val aggs = summaryAggs(measureCols, distinctCols, quantileCols)
    val summary =
      base.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    publishGeneration(spark, summary, path, rootPaths(base),
      gdxSnapshots(base.queryExecution.analyzed), groupCols,
      measureCols.toSet, distinctCols.toSet, quantileCols.toSet)
  }

  /** INCREMENTAL REFRESH — fold a DELTA of newly-appended base rows
    * into the summary without rescanning the base: aggregate the delta
    * at MV grain, then merge partials (n/sums/cnts add; min/max take
    * min/max — valid because appends only ADD rows; a delete-bearing
    * refresh must re-materialize). This is the self-maintainable-view
    * algebra every summary column was chosen to satisfy, and the
    * reason a 100 TB base never needs a second full scan: refresh cost
    * is O(delta + |MV|). Pairs naturally with the GDX changefeed — each
    * micro-batch IS the delta (c16_mv_incremental_refresh runs exactly
    * that topology). The registration must already exist (refresh
    * refreshes; it does not define); the merged summary lands as a NEW
    * committed generation and the registration re-points atomically —
    * the previous generation's files are never touched, and the GDX
    * base snapshot pin advances to the live version. */
  def refreshIncremental(spark: SparkSession, delta: DataFrame,
                         path: String,
                         asOfVersions: Map[String, Int] = Map.empty)
      : DataFrame = {
    val d = Option(registry.get(path)).getOrElse(throw
      new IllegalStateException(s"mv refresh: $path is not registered"))
    install(spark)
    // the new pin must be the version the DELTA actually covers —
    // pinning the live version read after the merge would mark a
    // summary that MISSES a racing commit as fresh and serve wrong
    // aggregates. The delta is LAZY (it executes inside the merged
    // write below), so the safe pin depends on its shape, per base:
    //  - caller-supplied `asOfVersions` wins (changefeed admission
    //    control knows the exact covered version — the c16 topology);
    //  - a delta that reads the base through an explicit `version`
    //    read option covers exactly that version — pin it;
    //  - a delta that scans the base LIVE is REFUSED: no pin order is
    //    safe (a pre-read pin double-folds a commit that races in
    //    before execution; a post-read pin marks a commit the
    //    execution missed as covered) — the caller must pin the read
    //    or pass asOfVersions;
    //  - a delta that never reads the base pins the PRE-merge live
    //    version: a racing commit leaves the pin behind, so the rule
    //    stands down until the next refresh folds that commit —
    //    conservative, never wrong.
    val deltaReads: Map[String, Seq[Option[Int]]] =
      delta.queryExecution.analyzed.collectLeaves().flatMap {
        case r: DataSourceV2Relation => r.table match {
          case g: graft.sources.GdxTable =>
            val pin = Option(r.options.get("version")).map(_.toInt)
            // an `asOf` timestamp pin is historical-stable but carries
            // no version number — treated as live (refused) so the
            // caller states the covered version explicitly
            Some(canonicalGdxPath(g.tablePath) ->
              (if (r.options.containsKey("asOf")) None else pin))
          case _ => None
        }
        case _ => None
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    // caller keys canonicalize too: asOfVersions(raw path) must hit the
    // canonical baseSnapshots key (c16 passes the raw directory)
    val asOf = asOfVersions.map { case (k, v) => canonicalGdxPath(k) -> v }
    val pinned = d.baseSnapshots.map { case (p, _) =>
      p -> asOf.getOrElse(p, deltaReads.get(p) match {
        case Some(pins) if pins.contains(None) =>
          throw new IllegalArgumentException(
            s"mv refresh: the delta scans gdx base $p LIVE — a commit " +
              "racing its execution makes any inferred pin wrong " +
              "(double-fold or missed rows). Read the delta with " +
              ".option(\"version\", n) or pass asOfVersions")
        case Some(pins) => pins.flatten.max
        case None => currentGdxVersion(p)
      })
    }
    val ms = d.measureCols.toSeq.sorted
    val xs = d.distinctCols.toSeq.sorted
    val qs = d.quantileCols.toSeq.sorted
    val deltaAggs = summaryAggs(ms, xs, qs)
    val deltaSum = delta.groupBy(d.groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    // sketches merge by UNION — the same register-wise-max algebra the
    // rewrite's rollup compensation uses, so a refreshed sketch equals
    // the sketch a full rebuild would produce
    val mergeAggs = ((sum(col("n")).as("n") +: ms.flatMap(m => Seq(
      sum(col(s"sum_$m")).as(s"sum_$m"),
      sum(col(s"cnt_$m")).as(s"cnt_$m"),
      min(col(s"min_$m")).as(s"min_$m"),
      max(col(s"max_$m")).as(s"max_$m")))) ++
      xs.map(x => hll_union_agg(col(s"hll_$x")).as(s"hll_$x"))) ++
      // KLL merges like HLL unions: the refreshed cell sketch is the
      // same state a rebuild over old ∪ delta rows would reach
      qs.map(x => kll_merge_agg_double(col(s"kll_$x"), KllK).as(s"kll_$x"))
    // declared schema (the registered plan's): no footer-inference job
    val merged = spark.read.schema(d.mvPlan.schema).parquet(d.genDir)
      .unionByName(deltaSum)
      .groupBy(d.groupCols.map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
    publishGeneration(spark, merged, path, d.basePaths,
      pinned, d.groupCols, d.measureCols, d.distinctCols, d.quantileCols)
  }

  /** Scheme-qualified form of a GDX directory: the catalog stores its
    * OPTIONS path qualified (`file:/tmp/x`) while path reads pass the
    * raw string (`/tmp/x`) — identity and snapshot-pin keys must agree
    * regardless of which door opened the table. */
  private[graft] def canonicalGdxPath(p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(graft.sources.GdxSource.driverConf())
      .makeQualified(hp).toString
  }

  /** Identity of a relation for base-table matching: file-source root
    * paths (v1), or the table name for DSv2 relations — GDX tables are
    * identified by their (canonicalized) directory, so a catalog read
    * and a path read of the same table match the same summaries. A
    * DSv2 relation pinned to a historical snapshot (`version`/`asOf`
    * read options) gets NO identity: a time-travel aggregate must
    * never be answered from the summary of the CURRENT snapshot.
    * Empty for anything else (never matches). */
  private[graft] def relationIdentity(plan: LogicalPlan): Set[String] =
    plan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString).toSet
      case r: DataSourceV2Relation =>
        if (timeTravelPinned(r.options) || tablePinned(r.table)) Set.empty
        else Set(tableId(r.table))
      case s: DataSourceV2ScanRelation =>
        if (timeTravelPinned(s.relation.options) ||
          tablePinned(s.relation.table)) Set.empty
        else Set(tableId(s.relation.table))
      case _ => Set.empty
    }

  /** A catalog `FOR VERSION/TIMESTAMP AS OF` load pins the snapshot on
    * the TABLE object (no read option to inspect). */
  private def tablePinned(t: org.apache.spark.sql.connector.catalog.Table)
      : Boolean = t match {
    case g: graft.sources.GdxTable => g.pinned.isDefined
    case _ => false
  }

  private def tableId(t: org.apache.spark.sql.connector.catalog.Table)
      : String = t match {
    case g: graft.sources.GdxTable =>
      s"gdx(${canonicalGdxPath(g.tablePath)})"
    case other => other.name
  }

  private def timeTravelPinned(o: CaseInsensitiveStringMap): Boolean =
    o != null && (o.containsKey("version") || o.containsKey("asOf"))

  private def rootPaths(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collectLeaves()
      .flatMap(relationIdentity).toSet

  /** Invocation-independent form of the `mv_used` claim: TRUE iff the
    * optimized plan of `df` never scans `base`'s relation. A claim
    * must not pin the caller's OWN summary path — when two concurrent
    * invocations register the same logical MV under different per-run
    * scratch roots, the later registration wins and answers both
    * (byte-identical summaries of the same base), so "the fact scan
    * was avoided" is the invariant, not "my files were read". */
  def answersWithoutBase(df: DataFrame, base: DataFrame): Boolean = {
    val bp = rootPaths(base)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    leaves.nonEmpty &&
      leaves.forall(l => relationIdentity(l).intersect(bp).isEmpty)
  }

  /** GDX leaves of a base plan, pinned at their CURRENT snapshot
    * version — the staleness token [[MvRewriteRule]] re-checks before
    * every rewrite. Keys are canonicalized directories so catalog- and
    * path-opened bases pin the same entry. */
  private def gdxSnapshots(plan: LogicalPlan): Map[String, Int] =
    plan.collectLeaves().flatMap {
      case r: DataSourceV2Relation => gdxPathOf(r.table)
      case s: DataSourceV2ScanRelation => gdxPathOf(s.relation.table)
      case _ => None
    }.map(p => canonicalGdxPath(p) ->
      currentGdxVersion(p)).toMap

  private def gdxPathOf(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[String] = t match {
    case g: graft.sources.GdxTable => Some(g.tablePath)
    case _ => None
  }

  private def currentGdxVersion(p: String): Int =
    (graft.sources.GdxSource.listVersions(p,
      graft.sources.GdxSource.driverConf()) :+ 0).max

  /** False when any pinned GDX base snapshot has advanced past the
    * version recorded at (re)materialization — the summary is stale
    * and the rule must stand down until a refresh re-pins it. */
  private[plans] def isFresh(d: MvDef): Boolean =
    d.baseSnapshots.forall { case (p, v) => currentGdxVersion(p) == v }

  /** Opt-in AUTO-HEAL (`spark.graft.mv.autoHeal=true`): instead of
    * standing down until a manual refresh, a STALE summary whose GDX
    * base advanced by APPEND-ONLY commits is refreshed in place from
    * the changefeed — O(delta + |MV|) inside the first query that
    * needs it, after which that query and every later one rewrite.
    * Default OFF: the stand-down contract (queries silently revert to
    * the base) is the safe default, and several shipped claims pin it.
    * Deletes/updates in the window, or multi-base summaries, never
    * heal here — a rebuild is a full base scan, far too heavy to hide
    * inside query planning. */
  val AutoHealKey = "spark.graft.mv.autoHeal"

  private def autoHealEnabled: Boolean =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString(AutoHealKey, "false").toBoolean
    catch { case _: Exception => false }

  /** Re-entrancy guard: the heal itself runs jobs (changefeed scan,
    * summary merge) whose planning re-enters this rule. */
  private val healing = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  private val healLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Some(liveDef) when the stale summary was (or raced to be) healed;
    * None when healing is off, not applicable, or not valid. */
  private[plans] def tryAutoHeal(stale: MvDef): Option[MvDef] = {
    if (!autoHealEnabled || healing.get()) return None
    if (stale.baseSnapshots.isEmpty) return None
    val spark = SparkSession.active
    healing.set(true)
    try {
      val lock = healLocks.computeIfAbsent(stale.root, _ => new Object)
      lock.synchronized {
        // re-check under the lock: a concurrent query may have healed
        val d = Option(registry.get(stale.root)).getOrElse(return None)
        if (isFresh(d)) return Some(d)
        d.baseSnapshots.toSeq match {
          case Seq((dir, pinned)) =>
            val curV = currentGdxVersion(dir)
            if (curV <= pinned) return None
            // insert-only is decided from manifest entry sets alone —
            // the changefeed is scanned exactly ONCE, by the fold
            if (!graft.sources.GdxSource
                .changesAreInsertOnly(dir, pinned, curV)) return None
            refreshIncremental(spark,
              graft.sources.GdxSource
                .tableChanges(spark, dir, pinned, curV)
                .drop("version", "change_type"), d.root,
              asOfVersions = Map(dir -> curV))
            Option(registry.get(stale.root))
          case _ => None
        }
      }
    } finally healing.set(false)
  }

  private[plans] def defs: Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    registry.values.asScala.toSeq
  }
}

object MvRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val defs = MvRewrite.defs
    if (defs.isEmpty || MvRewrite.isBuilding) plan
    else plan.transformDown {
      case agg: Aggregate =>
        // among matching summaries prefer the COARSEST (fewest grouping
        // columns = fewest rows to scan); tie-break on grouping names
        // so plan choice is deterministic under concurrent registration
        defs.sortBy(d => (d.groupCols.size, d.groupCols.mkString(",")))
          .view.flatMap(d => tryRewrite(agg, d)
            .orElse(tryJoinRewrite(agg, d)))
          .headOption.getOrElse(agg)
    }
  }

  /** The relation a candidate Aggregate reads — looking through a pure
    * column-selection Project (what column pruning leaves behind) and
    * at most one deterministic Filter, whose condition is returned for
    * dimension-level compensation. */
  private def baseRelation(child: LogicalPlan)
      : Option[(Set[String], Option[Expression])] = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(pl, r) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        strip(r)
      case r => r
    }
    val (inner, cond) = strip(child) match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.deterministic =>
        (strip(f.child), Some(f.condition))
      case r => (r, None)
    }
    val id = MvRewrite.relationIdentity(inner)
    if (id.isEmpty) None else Some((id, cond))
  }

  private def tryRewrite(agg: Aggregate,
                         d: MvRewrite.MvDef): Option[LogicalPlan] = {
    val (paths, filterCond) = baseRelation(agg.child).getOrElse(return None)
    if (paths != d.basePaths || paths.isEmpty) return None
    // a filter commutes with the MV's grouping ONLY when it touches
    // nothing but grouping columns (then every base row of an MV cell
    // passes or fails together) — anything else leaves the plan alone
    if (filterCond.exists(_.references.exists(a =>
        !d.groupCols.contains(a.name)))) return None
    // grouping: bare base columns, all covered by the MV's grain
    val groupNames = agg.groupingExpressions.map {
      case a: AttributeReference if d.groupCols.contains(a.name) => a.name
      case _ => return None
    }
    val exact = groupNames.toSet == d.groupCols.toSet
    // staleness stand-down LAST among the guards: it is the one check
    // that costs a filesystem listing per pinned GDX base, and the
    // optimizer may run this rule several times per query — a shape
    // the algebra cannot rewrite must exit on the free plan-only
    // checks above. With auto-heal opted in, a stale summary is
    // refreshed from the changefeed here and the HEALED definition
    // (new generation, new attributes) carries the rewrite.
    val live =
      if (MvRewrite.isFresh(d)) d
      else MvRewrite.tryAutoHeal(d).getOrElse(return None)

    // per output expression, the MV-side replacement (exact grain) or
    // compensating aggregate (rollup grain)
    def mv(c: String): Attribute = live.mvAttr(c)
    def aggExpr(f: org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateFunction): Expression =
      AggregateExpression(f, Complete, isDistinct = false)
    def fnRepl(fn: org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateFunction): Option[Expression] = fn match {
      case Count(Seq(Literal(1, _))) =>
        Some(if (exact) mv("n") else aggExpr(Sum(mv("n"))))
      // count(m): rows where the measure is non-null — the cnt_m
      // partial, summed at rollup grain
      case Count(Seq(a: AttributeReference))
          if d.measureCols.contains(a.name) =>
        Some(if (exact) mv(s"cnt_${a.name}")
             else aggExpr(Sum(mv(s"cnt_${a.name}"))))
      case Sum(a: AttributeReference, _)
          if d.measureCols.contains(a.name) =>
        Some(if (exact) mv(s"sum_${a.name}")
             else aggExpr(Sum(mv(s"sum_${a.name}"))))
      case Min(a: AttributeReference)
          if d.measureCols.contains(a.name) =>
        Some(if (exact) mv(s"min_${a.name}")
             else aggExpr(Min(mv(s"min_${a.name}"))))
      case Max(a: AttributeReference)
          if d.measureCols.contains(a.name) =>
        Some(if (exact) mv(s"max_${a.name}")
             else aggExpr(Max(mv(s"max_${a.name}"))))
      case Average(a: AttributeReference, _)
          if d.measureCols.contains(a.name) =>
        // avg decomposes: Σsum / Σcnt (exact grain: sum/cnt) — the
        // partial-aggregate recomposition over the NON-NULL count
        // cnt_m, never the row count n: SQL avg ignores NULL measure
        // values, and on an all-NULL cell sum is NULL so the quotient
        // stays NULL exactly like avg would
        val (s, n) =
          if (exact) (mv(s"sum_${a.name}"): Expression,
            mv(s"cnt_${a.name}"): Expression)
          else (aggExpr(Sum(mv(s"sum_${a.name}"))),
            aggExpr(Sum(mv(s"cnt_${a.name}"))))
        Some(Divide(Cast(s, DoubleType), Cast(n, DoubleType)))
      // hll_sketch_agg(x) over a SKETCH-COVERED column at matching
      // precision: the stored cell sketch (exact grain) or the union
      // of cell sketches (rollup grain) — sketch state is a set-union
      // invariant of the rows, so DISTINCT-style aggregates roll up
      // through summaries even though they don't decompose through
      // sums. The user-facing hll_sketch_estimate wrapper rides
      // through the recursive scalar case untouched. approx_count_
      // distinct (HLL++) is deliberately NOT mapped here: swapping its
      // estimator for a DataSketches union would silently change the
      // returned estimate — the rewrite contract is optimization,
      // never a value change.
      case h: HllSketchAgg if h.lgConfigK == MvRewrite.SketchLgK =>
        h.left match {
          case a: AttributeReference if d.distinctCols.contains(a.name) =>
            val cell = mv(s"hll_${a.name}")
            Some(if (exact) cell
                 else aggExpr(HllUnionAgg(cell, Literal(false))))
          case _ => None
        }
      // kll_sketch_agg_double(x) over a QUANTILE-COVERED column at
      // matching precision: same algebra as the HLL arm — sketch state
      // merges, so median/p99 queries roll up through the summary. The
      // user-facing kll_sketch_get_quantile_double(…, q) wrapper rides
      // through the recursive scalar case untouched.
      case ks: KllSketchAggDouble if MvRewrite.kllK(ks) == MvRewrite.KllK =>
        ks.child match {
          case a: AttributeReference if d.quantileCols.contains(a.name) =>
            val cell = mv(s"kll_${a.name}")
            Some(if (exact) cell
                 else aggExpr(KllMergeAggDouble(cell, ks.kExpr)))
          case _ => None
        }
      case _ => None
    }
    // The optimizer collapses later projections INTO the aggregate
    // list (CollapseProject), so real-world shapes are expression
    // TREES over aggregates — round(avg(x), 6), sum(x)/count, literal
    // claim columns. Rewrite recursively: every AggregateExpression
    // node maps through the compensation algebra, every bare grouping
    // attribute re-anchors onto the summary, everything else (round,
    // arithmetic, literals) carries over node-for-node; any leaf the
    // algebra cannot express aborts the whole rewrite.
    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case AggregateExpression(fn, Complete, false, None, _) => fnRepl(fn)
      // count(DISTINCT dim) over a GROUPING column: each distinct
      // (grain, dim) combination is one MV row, so the distinct count
      // survives as count(DISTINCT mv(dim)) — kept DISTINCT, which is
      // correct at EVERY grain: with extra grain columns (MV on
      // (a,b,c), query groupBy(a).agg(countDistinct(b))) a plain count
      // of summary cells would count each (b,c) cell and overcount
      case AggregateExpression(Count(Seq(a: AttributeReference)),
          Complete, true, None, _)
          if !exact && d.groupCols.contains(a.name) &&
            !groupNames.contains(a.name) =>
        Some(AggregateExpression(Count(Seq(mv(a.name))), Complete,
          isDistinct = true))
      case _: AggregateExpression => None // other DISTINCT / FILTER
      case a: AttributeReference =>
        if (groupNames.contains(a.name)) Some(mv(a.name)) else None
      case other =>
        val cs = other.children.map(rewriteExpr)
        if (cs.exists(_.isEmpty)) None
        else Some(other.withNewChildren(cs.map(_.get)))
    }
    val rewritten: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case al @ Alias(childE, name) =>
        rewriteExpr(childE) match {
          case Some(e) => Alias(e, name)(exprId = al.exprId)
          case None    => return None
        }
      case a: AttributeReference =>
        rewriteExpr(a) match {
          case Some(e) => Alias(e, a.name)(exprId = a.exprId)
          case None    => return None
        }
      case _ => return None
    }

    // dimension filter compensation: re-anchor the condition's
    // attributes onto the summary's grouping columns and filter the MV
    // rows before (re-)projection — same cells survive as base-side
    val child: LogicalPlan = filterCond match {
      case Some(c) =>
        org.apache.spark.sql.catalyst.plans.logical.Filter(
          c.transform { case a: AttributeReference => mv(a.name) },
          live.mvPlan)
      case None => live.mvPlan
    }
    if (exact) Some(Project(rewritten, child))
    else Some(Aggregate(groupNames.map(mv), rewritten, child))
  }

  /** JOIN-AWARE rewrite — `Aggregate over (fact ⋈ dim)` where the MV
    * grain covers every fact-side join key and the dim side's key set
    * is DECLARED UNIQUE ([[MvRewrite.registerDimension]]): replace the
    * fact side with the summary and re-aggregate over (summary ⋈ dim).
    * Validity: with an n:1 inner equi-join every summary cell matches
    * at most one dim row, so the join neither multiplies nor merges
    * cells — count(*) compensates as Σn over the matched cells, sums
    * as Σsum, avg as Σsum/Σcnt, exactly the rollup algebra. At 100 TB
    * this is the star-schema dashboard shape: the query still joins
    * and groups by DIM attributes, but over |summary| rows instead of
    * the fact table. Grouping may mix dim attributes (carried over
    * verbatim — the dim subtree keeps its exprIds) and fact grain
    * columns (re-anchored onto the summary). */
  private def tryJoinRewrite(agg: Aggregate,
                             d: MvRewrite.MvDef): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    import org.apache.spark.sql.catalyst.plans.Inner
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(pl, r)
          if pl.forall(_.isInstanceOf[AttributeReference]) => strip(r)
      case r => r
    }
    val j = strip(agg.child) match {
      case j: Join if j.joinType == Inner && j.condition.isDefined => j
      case _ => return None
    }
    def conjunctsOf(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjunctsOf(l) ++ conjunctsOf(r)
      case other => Seq(other)
    }
    // Real-world shapes carry FILTERS on the join sides (the optimizer
    // pushes WHERE clauses below the join before this rule runs).
    // Dim-side filters are looked through for IDENTITY only — the dim
    // subtree is carried verbatim, and filtering a declared-unique dim
    // keeps its keys unique. Fact-side filters are collected: each is
    // admissible only if it touches nothing but MV GRAIN columns (then
    // every base row of a summary cell passes or fails together — the
    // same cell-commutation rule as the non-join arm; join-inferred
    // isnotnull(key) guards qualify because join keys ⊆ grain), and is
    // re-applied onto the summary in the rewritten plan.
    def stripDim(p: LogicalPlan): LogicalPlan = p match {
      case Project(pl, r)
          if pl.forall(_.isInstanceOf[AttributeReference]) => stripDim(r)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.deterministic => stripDim(f.child)
      case r => r
    }
    def stripFact(p: LogicalPlan,
                  conds: Seq[Expression]): (LogicalPlan, Seq[Expression]) =
      p match {
        case Project(pl, r)
            if pl.forall(_.isInstanceOf[AttributeReference]) =>
          stripFact(r, conds)
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.deterministic =>
          stripFact(f.child, conds :+ f.condition)
        case r => (r, conds)
      }
    // which side is the registered fact?
    val (leftRel, leftConds) = stripFact(j.left, Seq.empty)
    val (rightRel, rightConds) = stripFact(j.right, Seq.empty)
    val leftId = MvRewrite.relationIdentity(leftRel)
    val rightId = MvRewrite.relationIdentity(rightRel)
    val (factChild, factConds, dimChild, mvLeft) =
      if (leftId == d.basePaths && leftId.nonEmpty)
        (j.left, leftConds, j.right, true)
      else if (rightId == d.basePaths && rightId.nonEmpty)
        (j.right, rightConds, j.left, false)
      else return None
    val factOut = factChild.outputSet
    val dimOut = dimChild.outputSet
    // every fact-side filter must commute with the MV grain
    if (factConds.exists(_.references.exists(a =>
        !d.groupCols.contains(a.name)))) return None
    // conjunction of fact-col = dim-col equalities, fact keys ⊆ grain
    val pairs = conjunctsOf(j.condition.get).map {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          a: AttributeReference, b: AttributeReference) =>
        if (factOut.contains(a) && dimOut.contains(b)) (a, b)
        else if (factOut.contains(b) && dimOut.contains(a)) (b, a)
        else return None
      case _ => return None
    }
    if (pairs.isEmpty ||
        !pairs.forall { case (f, _) => d.groupCols.contains(f.name) })
      return None
    // the dim side of the equi-join must be its DECLARED unique key
    val declared = MvRewrite.dimKey(MvRewrite.relationIdentity(
      stripDim(dimChild))).getOrElse(return None)
    if (pairs.map(_._2.name).toSet != declared) return None
    // staleness LAST among the guards (filesystem cost — see
    // tryRewrite); auto-heal as in tryRewrite when opted in
    val live =
      if (MvRewrite.isFresh(d)) d
      else MvRewrite.tryAutoHeal(d).getOrElse(return None)

    def mv(c: String): Attribute = live.mvAttr(c)
    def aggExpr(f: org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateFunction): Expression =
      AggregateExpression(f, Complete, isDistinct = false)
    // rollup compensation over FACT measures only; dim attributes in
    // grouping positions carry over, fact grain attributes re-anchor
    def fnRepl(fn: org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateFunction): Option[Expression] = fn match {
      case Count(Seq(Literal(1, _))) => Some(aggExpr(Sum(mv("n"))))
      case Count(Seq(a: AttributeReference))
          if factOut.contains(a) && d.measureCols.contains(a.name) =>
        Some(aggExpr(Sum(mv(s"cnt_${a.name}"))))
      case Sum(a: AttributeReference, _)
          if factOut.contains(a) && d.measureCols.contains(a.name) =>
        Some(aggExpr(Sum(mv(s"sum_${a.name}"))))
      case Min(a: AttributeReference)
          if factOut.contains(a) && d.measureCols.contains(a.name) =>
        Some(aggExpr(Min(mv(s"min_${a.name}"))))
      case Max(a: AttributeReference)
          if factOut.contains(a) && d.measureCols.contains(a.name) =>
        Some(aggExpr(Max(mv(s"max_${a.name}"))))
      case Average(a: AttributeReference, _)
          if factOut.contains(a) && d.measureCols.contains(a.name) =>
        Some(Divide(
          Cast(aggExpr(Sum(mv(s"sum_${a.name}"))), DoubleType),
          Cast(aggExpr(Sum(mv(s"cnt_${a.name}"))), DoubleType)))
      // sketch-covered fact distinct column: union the matched cells'
      // sketches (same algebra as the non-join rollup arm — the n:1
      // join neither multiplies nor merges cells)
      case h: HllSketchAgg if h.lgConfigK == MvRewrite.SketchLgK =>
        h.left match {
          case a: AttributeReference
              if factOut.contains(a) && d.distinctCols.contains(a.name) =>
            Some(aggExpr(HllUnionAgg(mv(s"hll_${a.name}"),
              Literal(false))))
          case _ => None
        }
      case ks: KllSketchAggDouble if MvRewrite.kllK(ks) == MvRewrite.KllK =>
        ks.child match {
          case a: AttributeReference
              if factOut.contains(a) && d.quantileCols.contains(a.name) =>
            Some(aggExpr(KllMergeAggDouble(mv(s"kll_${a.name}"), ks.kExpr)))
          case _ => None
        }
      case _ => None
    }
    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case AggregateExpression(fn, Complete, false, None, _) => fnRepl(fn)
      case _: AggregateExpression => None
      case a: AttributeReference =>
        if (dimOut.contains(a)) Some(a)
        else if (factOut.contains(a) && d.groupCols.contains(a.name))
          Some(mv(a.name))
        else None
      case other =>
        val cs = other.children.map(rewriteExpr)
        if (cs.exists(_.isEmpty)) None
        else Some(other.withNewChildren(cs.map(_.get)))
    }
    val groupRewritten = agg.groupingExpressions.map {
      case a: AttributeReference if dimOut.contains(a) => a: Expression
      case a: AttributeReference
          if factOut.contains(a) && d.groupCols.contains(a.name) =>
        mv(a.name): Expression
      case _ => return None
    }
    val rewritten: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case al @ Alias(childE, name) =>
        rewriteExpr(childE) match {
          case Some(e) => Alias(e, name)(exprId = al.exprId)
          case None    => return None
        }
      case a: AttributeReference =>
        rewriteExpr(a) match {
          case Some(e: Attribute) if e.exprId == a.exprId => a
          case Some(e) => Alias(e, a.name)(exprId = a.exprId)
          case None    => return None
        }
      case _ => return None
    }
    val newCond = j.condition.get.transform {
      case a: AttributeReference if factOut.contains(a) => mv(a.name)
    }
    // grain-commuting fact filters re-anchor onto the summary and stack
    // above its scan — same cells survive as base-side
    val factRepl: LogicalPlan = factConds.foldLeft(live.mvPlan) { (pl, c) =>
      org.apache.spark.sql.catalyst.plans.logical.Filter(
        c.transform {
          case a: AttributeReference if factOut.contains(a) => mv(a.name)
        }, pl)
    }
    val newJoin =
      if (mvLeft) Join(factRepl, dimChild, Inner, Some(newCond),
        JoinHint.NONE)
      else Join(dimChild, factRepl, Inner, Some(newCond), JoinHint.NONE)
    Some(Aggregate(groupRewritten, rewritten, newJoin))
  }
}
