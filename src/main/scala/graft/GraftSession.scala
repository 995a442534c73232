package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import graft.functions.{CosineSimilarity, DotProduct, IntersectSizeSorted, JaccardSets, MinHash64, RollingMinHash, ShingleExplode, SimHash64}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Extension injection (SparkSessionExtensions): registers the engine's
  * native expressions as SQL functions at session build, so
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `withExtensions`) exposes them to pure-SQL users on any cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private def info(name: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  def apply(e: SparkSessionExtensions): Unit = {
    // whole-operator extension: per-key top-k with bounded heaps
    // (partial + final execs — see graft.plans.TopK), plus the optimizer
    // rewrite that plans the QUALIFY-style rank-limit window idiom onto
    // it automatically when the rank column is dropped
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // V1 file writes: rewrap the job conf so tasks don't re-inflate
    // the full Hadoop property set each (plans/FastWriteConf)
    e.injectPlannerStrategy(_ => graft.plans.FastWriteFilesStrategy)
    e.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // materialized-view auto-rewrite: aggregates over a registered base
    // table are transparently answered from its summary (plans/MvRewrite)
    e.injectOptimizerRule(_ => graft.plans.MvRewriteRule)
    // variant shredding: variant_get over a GDX table's declared shred
    // path rewrites onto the stored shadow column, so the predicate
    // plans (zone maps, pushdown) like a plain column filter
    e.injectOptimizerRule(_ => graft.plans.GdxShredRewrite)
    // SQL DML front door for GDX tables: DELETE FROM / UPDATE /
    // MERGE INTO route to the format's transactional row-level ops
    // (plans/GdxDml) — post-hoc so the statements arrive fully resolved
    e.injectPostHocResolutionRule(_ => graft.plans.GdxDmlRule)
    // maintenance grammar Spark lacks: OPTIMIZE <tbl> [ZORDER BY (...)],
    // VACUUM <tbl> [RETAIN n VERSIONS], DESCRIBE HISTORY <tbl>
    // (plans/GdxMaintenanceSql) — a delegating parser, invisible to
    // every other statement
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    // SQL time travel (FOR VERSION/TIMESTAMP AS OF) for GDX tables —
    // resolves the parser's placeholders to version-pinned relations
    // (plans/GdxTimeTravel); non-GDX targets keep native behavior
    e.injectResolutionRule(s => new graft.plans.GdxTimeTravelRule(s))
    // SHOW CHANGES placeholders resolve to the distributed changefeed
    // plan at analysis time (plans/GdxMaintenanceSql)
    e.injectResolutionRule(s => new graft.plans.GdxShowChangesRule(s))
    e.injectFunction((FunctionIdentifier("cosine_sim"), info("cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    e.injectFunction((FunctionIdentifier("dot_product"), info("dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    e.injectFunction((FunctionIdentifier("simhash64"), info("simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)))
    e.injectFunction((FunctionIdentifier("minhash64"), info("minhash64"),
      (exprs: Seq[Expression]) => MinHash64(exprs.head)))
    e.injectFunction((FunctionIdentifier("jaccard_sets"), info("jaccard_sets"),
      (exprs: Seq[Expression]) => JaccardSets(exprs.head, exprs(1))))
    e.injectFunction((FunctionIdentifier("intersect_size_sorted"),
      info("intersect_size_sorted"),
      (exprs: Seq[Expression]) => IntersectSizeSorted(exprs.head, exprs(1))))
    e.injectFunction((FunctionIdentifier("cms_estimate"), info("cms_estimate"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            "cms_estimate(key, sketch) takes exactly 2 arguments")
        val bytes = exprs(1) match {
          case Literal(b: Array[Byte], _) => b
          case other if other.foldable => other.eval() match {
            case b: Array[Byte] => b
            case v => throw new IllegalArgumentException(
              s"cms_estimate: sketch must be a BINARY constant, got $v")
          }
          case other => throw new IllegalArgumentException(
            s"cms_estimate: sketch must be a BINARY constant, got $other")
        }
        graft.functions.CmsEstimate(exprs.head, bytes)
      }))
    e.injectFunction((FunctionIdentifier("rolling_min_hash"),
      info("rolling_min_hash"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            "rolling_min_hash(text, k) takes exactly 2 arguments")
        RollingMinHash(exprs.head,
          GraftExtensions.foldableK(exprs(1), "rolling_min_hash"))
      }))
    // UDTF tier: the native shingle generator, LATERAL VIEW-able in SQL
    e.injectFunction((FunctionIdentifier("shingle_explode"),
      info("shingle_explode"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            "shingle_explode(text, k) takes exactly 2 arguments")
        ShingleExplode(exprs.head,
          GraftExtensions.foldableK(exprs(1), "shingle_explode"))
      }))
  }
}

object GraftExtensions {
  /** Extract a positive Int from a foldable integer expression (constant
    * folding hasn't run at function-resolution time, so accept any
    * foldable shape). Never truncate: a Long outside Int range must
    * error, not silently wrap (2^32+4 would become k=4). */
  private[graft] def foldableK(e: Expression, fn: String): Int = {
    def toK(v: Long): Int = {
      if (v < 1 || v > Int.MaxValue)
        throw new IllegalArgumentException(
          s"$fn: k must be a positive Int, got $v")
      v.toInt
    }
    e match {
      case Literal(v: Int, _) => toK(v.toLong)
      case Literal(v: Long, _) => toK(v)
      case Literal(v: Short, _) => toK(v.toLong)
      case other if other.foldable => other.eval() match {
        case v: java.lang.Integer => toK(v.longValue())
        case v: java.lang.Long => toK(v.longValue())
        case v: java.lang.Short => toK(v.longValue())
        case v => throw new IllegalArgumentException(
          s"$fn: k must be an integer constant, got $v")
      }
      case other => throw new IllegalArgumentException(
        s"$fn: k must be an integer constant, got $other")
    }
  }
}

/** Session factory with the engine's recommended configuration — the
  * settings SURVEY.md §4/§7 calls out as scale-critical defaults. In
  * production these come from spark-submit conf; locally this is the
  * one-stop builder. */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      // shuffle parallelism sized to the executor slots, not the 200
      // default (local mode); a real cluster sets this to 2-3× slots
      .config("spark.sql.shuffle.partitions", cores.toString)
      // AQE: runtime re-plan (coalesce partitions, skew-join split)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // oracle/report determinism
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // legacy TIMESTAMP(NANOS) parquet support from birth: Tables
      // .events / StreamingOps.eventsStream also set this flag (for
      // foreign sessions), but an engine-built session carries it
      // before any query plans, so no plan can ever observe it flip
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // file:// with an in-process chmod: without libhadoop, stock
      // RawLocalFileSystem FORKS a chmod per created file/dir (~4-5 ms
      // each — seconds per multi-file write); the subclass issues the
      // same permission bits through NIO. No-op where the native lib
      // exists; non-local schemes untouched (sources/FastLocalFileSystem)
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.FastLocalFileSystem")
      // the FileContext plane (streaming checkpoint managers) binds
      // file:// separately — without this, state-store/offset-log
      // writes and renames kept the fork (sources/FastLocalFileSystem)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.FastLocalFs")
      // a many-query session compiles far more than 100 distinct
      // codegen units; at the default cache size janino recompiles
      // previously-seen plans all session long (driver stack samples:
      // ~12% in doCompile on repeat runs). Scale-neutral: the cache is
      // per-JVM and bounded.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
}
