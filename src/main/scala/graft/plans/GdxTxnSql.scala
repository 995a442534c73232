package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** SQL FRONT DOOR for MULTI-TABLE TRANSACTIONS — the warehouse
  * `BEGIN TRANSACTION / COMMIT / ROLLBACK` shape over the format's
  * single-PUT atomic decision ([[graft.sources.GdxSource
  * .prepareTransaction]], the c36 machinery):
  *
  *   `BEGIN TRANSACTION`   (or `START TRANSACTION`)
  *   `INSERT INTO <gdx table> [(cols)] SELECT ... | VALUES ...`
  *   `DELETE FROM <gdx table> WHERE ...`          (staged)
  *   `UPDATE <gdx table> SET ... WHERE ...`       (staged)
  *   `MERGE INTO <gdx table> ... ` (the full WHEN-matrix:
  *        unconditional upserts, conditional clauses, partial
  *        assignments, MATCHED DELETE, NOT MATCHED BY SOURCE)  (staged)
  *   `SAVEPOINT <name>` / `ROLLBACK TO SAVEPOINT <name>`
  *   `COMMIT`              (one decision: all tables or none)
  *   `ROLLBACK`            (nothing surfaces anywhere)
  *
  * Spark's grammar has no transaction statements, so BEGIN/COMMIT/
  * ROLLBACK are free grammar like OPTIMIZE. INSERT INTO *is* Spark
  * grammar — the wrapper intercepts only its plain `INSERT INTO t
  * [(cols)] <query>` shape and the interception is RUNTIME-inert:
  * with no open transaction on the session the original statement
  * re-dispatches through the delegate byte-for-byte, and parse-only
  * consumers see an inert command either way. DELETE, UPDATE and
  * MERGE route through their normal DML commands, which stage instead
  * of committing while a transaction is open.
  *
  * SNAPSHOT SEMANTICS, stated as the contract:
  *  - Every GDX table read by a staged statement's source query is
  *    RESOLVED TO ITS SNAPSHOT AT STAGE TIME ([[GdxSqlTxn
  *    .pinSnapshots]]) — a source mutated between stage and COMMIT
  *    does not change what commits.
  *  - A staged MUTATION (DELETE/MERGE) reads its target at the
  *    version current when it was first staged (the transaction's
  *    BASIS for that table) and the transaction commits as a full
  *    restatement of that table, CONFLICT-CHECKED: a concurrent
  *    commit that moved the table past the basis aborts the whole
  *    transaction loudly (GdxConcurrentModificationException) — no
  *    writer's rows are ever silently erased. Pure-INSERT tables
  *    stage as appends and stay conflict-free (appends commute).
  *  - Within the transaction, staged statements apply IN STAGE ORDER
  *    over the transaction-local view of each table (an INSERT staged
  *    before a DELETE is visible to that DELETE's predicate), but
  *    NOTHING staged is visible to ordinary reads — not even the
  *    staging session's own (`invisible_before` in c43). The
  *    transaction reads committed state; its writes become readable
  *    only at COMMIT.
  *  - A failed COMMIT (conflict, constraint violation, staging error)
  *    leaves the transaction OPEN: ROLLBACK discards it cleanly, or
  *    COMMIT may be retried. The scope is removed only after the
  *    decision lands.
  *
  * Scope discipline: the open-transaction registry is PER SESSION and
  * weak-keyed; staged work is held as LOGICAL PLANS, never DataFrames
  * (a DataFrame's QueryExecution strongly references its session — as
  * a WeakHashMap value it would pin the session key forever, so an
  * abandoned open transaction could never be collected). Statements
  * that commit their own visible snapshot are refused loudly while a
  * transaction is open —
  * TRUNCATE (GdxTable.truncateTable), every DSv2 batch write into a
  * GDX table including INSERT OVERWRITE and DataFrame-API writes
  * (GdxBatchWrite.commit), and catalog DDL (GdxCatalog) — rather than
  * silently executed outside the transaction's atomicity. Maintenance
  * statements (OPTIMIZE/VACUUM/ANALYZE/branch-tag DDL) are documented
  * non-transactional. At 100 TB this is the warehouse loading
  * contract: a nightly fact-append + dimension-merge + audit-row load
  * becomes visible as ONE event or not at all, for the cost of one
  * tiny PUT — no distributed 2PC, no table locks. */
object GdxSqlTxn {
  private[plans] sealed trait Staged {
    def dir: String; def table: String
  }
  private[plans] final case class StagedInsert(dir: String, table: String,
      plan: LogicalPlan) extends Staged
  private[plans] final case class StagedDelete(dir: String, table: String,
      condSql: String) extends Staged
  /** `UPDATE ... SET ... WHERE ...`, staged: SQL simultaneous-
    * assignment semantics — every SET expression evaluates against
    * the PRE-update row, so `SET v = w, w = v` swaps (the same
    * contract the non-staged UPDATE's one-select rewrite keeps). */
  private[plans] final case class StagedUpdate(dir: String, table: String,
      condSql: String, set: Seq[(String, String)]) extends Staged
  /** A MERGE (the WHEN-matrix), staged: `plan` is the
    * (snapshot-pinned, un-prefixed) source frame; the clause SQL
    * references `__t_<col>`/`__s_<col>` names exactly as
    * [[graft.sources.GdxSource.mergeGeneral]]'s matrix does. At COMMIT
    * the matrix folds onto the transaction-local view as a
    * RESTATEMENT (first-match clause order, SQL simultaneous-
    * assignment images, ambiguous-match abort) — DV mechanics are the
    * non-staged path's optimization, not part of the semantics. */
  private[plans] final case class StagedMergeGeneral(dir: String,
      table: String, plan: LogicalPlan, onSql: String,
      matched: Seq[graft.sources.GdxMergeClause],
      notMatched: Seq[graft.sources.GdxMergeClause],
      notMatchedBySource: Seq[graft.sources.GdxMergeClause])
      extends Staged

  private final class Scope {
    val ops = scala.collection.mutable.ArrayBuffer.empty[Staged]
    /** dir → the target version current when its FIRST mutation was
      * staged: the transaction-consistent basis every later mutation
      * of the same table folds onto, and the expected base the commit
      * conflict-checks. */
    val basis = scala.collection.mutable.Map.empty[String, Int]
    /** name → (staged-op count, basis snapshot) at SAVEPOINT time:
      * the staged list is append-only between savepoints, so a
      * savepoint is exactly a prefix length (plus the basis entries
      * that existed then — a rollback must also forget a basis pinned
      * by a discarded first-mutation). Insertion-ordered: ROLLBACK TO
      * discards savepoints established after the target, RELEASE
      * discards the target and everything after (SQL standard). */
    val savepoints = scala.collection.mutable.LinkedHashMap
      .empty[String, (Int, Map[String, Int])]
  }
  private val open = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Scope]())

  def begin(s: SparkSession): Unit = {
    require(!open.containsKey(s),
      "gdx txn: a transaction is already open on this session")
    open.put(s, new Scope)
    ()
  }

  def isOpen(s: SparkSession): Boolean = open.containsKey(s)

  private def scopeOf(s: SparkSession): Scope = {
    val sc = open.get(s)
    require(sc != null, "gdx txn: no open transaction")
    sc
  }

  /** Pin every live GDX relation in a staged plan to its CURRENT
    * snapshot — stage-time resolution, so the frame that commits is
    * the frame the user staged even if a source table moves
    * in between. Relations already pinned (catalog time travel,
    * `version`/`asOf` read options) keep their explicit pin. */
  private[plans] def pinSnapshots(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case r: DataSourceV2Relation => r.table match {
        case g: graft.sources.GdxTable if g.pinned.isEmpty &&
            r.options.get("version") == null &&
            r.options.get("asOf") == null =>
          val head = graft.sources.GdxSource.latestDecidedVersion(
            g.tablePath, graft.sources.GdxSource.driverConf())
          if (head > 0) r.copy(table = g.pinnedAt(head)) else r
        case _ => r
      }
    }

  private[plans] def stageInsert(s: SparkSession, dir: String,
                                 table: String, rows: DataFrame): Unit = {
    scopeOf(s).ops +=
      StagedInsert(dir, table, pinSnapshots(rows.queryExecution.analyzed))
    ()
  }

  private[plans] def stageDelete(s: SparkSession, dir: String,
                                 table: String, condSql: String): Unit = {
    val sc = scopeOf(s)
    sc.basis.getOrElseUpdate(dir, graft.sources.GdxSource
      .latestDecidedVersion(dir, graft.sources.GdxSource.driverConf()))
    sc.ops += StagedDelete(dir, table, condSql)
    ()
  }

  private[plans] def stageUpdate(s: SparkSession, dir: String,
                                 table: String, condSql: String,
                                 set: Seq[(String, String)]): Unit = {
    val sc = scopeOf(s)
    // validate SET targets against the COMMITTED schema at stage time
    // (mirrors the non-staged UPDATE's unknown-column require): a typo
    // must fail the statement when issued, not stage a silent no-op
    // that still commits a version-bumping restatement
    val sch = graft.sources.GdxSource.committedSchema(dir,
      graft.sources.GdxSource.driverConf())
    val known = sch.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val unknown = set.map(_._1)
      .filterNot(k => known(k.toLowerCase(java.util.Locale.ROOT)))
    require(unknown.isEmpty, "gdx txn: UPDATE SET references " +
      s"unknown column(s) ${unknown.mkString(",")} of $table " +
      s"(schema: ${sch.fieldNames.mkString(",")})")
    sc.basis.getOrElseUpdate(dir, graft.sources.GdxSource
      .latestDecidedVersion(dir, graft.sources.GdxSource.driverConf()))
    sc.ops += StagedUpdate(dir, table, condSql, set)
    ()
  }

  private[plans] def stageMergeGeneral(s: SparkSession, dir: String,
      table: String, source: DataFrame, onSql: String,
      matched: Seq[graft.sources.GdxMergeClause],
      notMatched: Seq[graft.sources.GdxMergeClause],
      notMatchedBySource: Seq[graft.sources.GdxMergeClause]): Unit = {
    val sc = scopeOf(s)
    // stage-time validation, mirroring mergeGeneral's own: assignment
    // targets must exist in the committed schema
    val sch = graft.sources.GdxSource.committedSchema(dir,
      graft.sources.GdxSource.driverConf())
    val known = sch.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    (matched ++ notMatched ++ notMatchedBySource)
      .flatMap(_.assigns.getOrElse(Seq.empty))
      .map(_._1.toLowerCase(java.util.Locale.ROOT))
      .find(!known.contains(_)).foreach(c =>
        throw new IllegalArgumentException(
          s"gdx txn: MERGE assignment references unknown column $c " +
            s"of $table (schema: ${sch.fieldNames.mkString(",")})"))
    sc.basis.getOrElseUpdate(dir, graft.sources.GdxSource
      .latestDecidedVersion(dir, graft.sources.GdxSource.driverConf()))
    sc.ops += StagedMergeGeneral(dir, table,
      pinSnapshots(source.queryExecution.analyzed), onSql,
      matched, notMatched, notMatchedBySource)
    ()
  }

  /** PEEK the open scope and fold each table's staged operations into
    * one prepared write — the scope is NOT closed here (see
    * [[GdxCommitTxnCommand]]: a failed commit must leave ROLLBACK a
    * transaction to roll back). Pure-INSERT tables fold to an append;
    * any staged mutation makes the table's write a full restatement
    * of its basis snapshot with the ops applied in stage order,
    * conflict-checked against the basis at commit time. */
  private[plans] def prepareWrites(spark: SparkSession)
      : Seq[(String, graft.sources.GdxSource.GdxTxnWrite)] = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    val sc = scopeOf(spark)
    val gdx = graft.sources.GdxSource
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    sc.ops.map(_.dir).distinct.toSeq.map { dir =>
      val ops = sc.ops.filter(_.dir == dir).toSeq
      val hasMutation = ops.exists(!_.isInstanceOf[StagedInsert])
      val basis = sc.basis.get(dir)
      var df: DataFrame =
        if (!hasMutation) null
        else {
          val rd = spark.read.format("graft.sources.GdxSource")
            .option("path", dir)
          basis.filter(_ > 0).fold(rd)(b =>
            rd.option("version", b.toString)).load()
        }
      ops.foreach {
        case StagedInsert(_, _, p) =>
          val r = bridge.ofRows(spark, p)
          df = if (df == null) r else df.unionByName(r)
        case StagedDelete(_, _, cond) =>
          // SQL DELETE semantics: rows whose predicate is NULL survive
          df = df.filter(not(coalesce(expr(cond), lit(false))))
        case StagedUpdate(_, _, cond, set) =>
          // simultaneous assignment over the txn-local view: ALL
          // assignments land in ONE select against the pre-update row
          val byName = set.map { case (k, e) =>
            k.toLowerCase(java.util.Locale.ROOT) -> e }.toMap
          val hit = coalesce(expr(cond), lit(false))
          df = df.select(df.columns.map { c =>
            byName.get(c.toLowerCase(java.util.Locale.ROOT)) match {
              case Some(e) =>
                org.apache.spark.sql.functions
                  .when(hit, expr(e)).otherwise(col(s"`$c`"))
                  .cast(df.schema(c).dataType).as(c)
              case None => col(s"`$c`")
            }
          }.toSeq: _*)
        case StagedMergeGeneral(_, _, p, onSql, matched, notMatched,
            nmbs) =>
          import org.apache.spark.sql.functions.{monotonically_increasing_id,
            when, count}
          val raw = bridge.ofRows(spark, p)
          val src = raw.toDF(raw.columns.map("__s_" + _).toSeq: _*)
            .withColumn("__gdx_s_present", lit(true))
          val schema = df.schema
          val cols = df.columns.toSeq
          // row identity for the ambiguity check: assigned BEFORE the
          // join, pinned by the checkpoint below
          val tgt = df.select(cols.map(c =>
              col(s"`$c`").as("__t_" + c)): _*)
            .withColumn("__gdx_t_present", lit(true))
            .withColumn("__gdx_rid", monotonically_increasing_id())
          val tP = coalesce(col("__gdx_t_present"), lit(false))
          val sP = coalesce(col("__gdx_s_present"), lit(false))
          def firstMatch(cs: Seq[graft.sources.GdxMergeClause])
              : org.apache.spark.sql.Column =
            cs.zipWithIndex
              .foldRight(lit(-1): org.apache.spark.sql.Column) {
              case ((c, i), rest) =>
                when(c.condSql.map(expr(_)).getOrElse(lit(true)), lit(i))
                  .otherwise(rest)
            }
          // the target side must ALWAYS survive the join whole: this
          // is a RESTATEMENT, so an unmatched target row that an inner
          // join dropped would be silently deleted (the non-staged
          // path carries unmatched rows by leaving their files alone —
          // here the frame itself is the table)
          val joinType =
            if (notMatched.nonEmpty) "full_outer" else "left_outer"
          val annRaw = tgt.join(src, expr(onSql), joinType)
            .withColumn("__m",
              when(tP && sP, firstMatch(matched)).otherwise(-1))
            .withColumn("__n",
              when(!tP && sP, firstMatch(notMatched)).otherwise(-1))
            .withColumn("__b",
              when(tP && !sP, firstMatch(nmbs)).otherwise(-1))
          // With matched clauses the ambiguity check must run anyway, so
          // it doubles as the checkpoint's materializing action (lazy
          // checkpoint + one full-aggregate count, which drains every
          // partition into the block store) — the eager checkpoint paid
          // a separate job for the same materialization. No limit(1):
          // a local limit would stop each partition's scan early and
          // leave the checkpoint blocks partial.
          val ann =
            if (matched.isEmpty) annRaw.localCheckpoint()
            else {
              val ck = annRaw.localCheckpoint(eager = false)
              val dup = ck.filter(tP && sP)
                .groupBy("__gdx_rid").agg(count(lit(1)).as("__c"))
                .filter(col("__c") > 1).count()
              if (dup > 0)
                throw new graft.sources.GdxMergeCardinalityException(
                  "gdx txn merge: the ON condition matched a target row " +
                    "to more than one source row — an UPDATE/DELETE " +
                    "would be ambiguous")
              ck
            }
          val root = java.util.Locale.ROOT
          def images(cs: Seq[graft.sources.GdxMergeClause], act: String,
              fallback: String => org.apache.spark.sql.Column)
              : Seq[DataFrame] =
            cs.zipWithIndex.collect {
              case (cl, i) if cl.assigns.isDefined =>
                val byName = cl.assigns.get.map {
                  case (k, v) => k.toLowerCase(root) -> v }.toMap
                ann.filter(col(act) === i).select(cols.map { c =>
                  byName.get(c.toLowerCase(root))
                    .map(sql => expr(sql)
                      .cast(schema(c).dataType).as(c))
                    .getOrElse(fallback(c).as(c))
                }: _*)
            }
          // untouched target rows carry forward; clause-hit rows
          // rewrite to their images; DELETE clauses (assigns = None)
          // contribute nothing. Dedupe by row id: a target row matched
          // by several source rows with NO applicable matched clause
          // appears once per match in `ann` but must restate ONCE
          // (legal only while `matched` is empty — otherwise the
          // cardinality check above already aborted).
          val keep = ann.filter(tP && col("__m") < 0 && col("__b") < 0)
            .dropDuplicates("__gdx_rid")
            .select(cols.map(c => col("__t_" + c).as(c)): _*)
          df = (keep +:
            (images(matched, "__m", c => col("__t_" + c)) ++
             images(notMatched, "__n",
               c => lit(null).cast(schema(c).dataType)) ++
             images(nmbs, "__b", c => col("__t_" + c))))
            .reduce(_.unionByName(_))
      }
      ops.head.table -> gdx.GdxTxnWrite(dir, df, overwrite = hasMutation,
        expectedBase = if (hasMutation) basis.getOrElse(-1) else -1)
    }
  }

  /** Close the session's scope (after a successful COMMIT, an empty
    * one, or a ROLLBACK). */
  private[plans] def close(s: SparkSession): Unit = {
    open.remove(s)
    ()
  }

  def rollback(s: SparkSession): Unit = {
    require(open.remove(s) != null, "gdx txn: no open transaction")
    ()
  }

  /** `SAVEPOINT <name>` — mark the current staged prefix. Re-using a
    * name moves it here (SQL standard: the old savepoint of the same
    * name is destroyed). */
  def savepoint(s: SparkSession, name: String): Unit = {
    val sc = scopeOf(s)
    sc.savepoints.remove(name) // re-establish ⇒ move to newest position
    sc.savepoints(name) = (sc.ops.length, sc.basis.toMap)
    ()
  }

  /** `ROLLBACK TO [SAVEPOINT] <name>` — discard every statement staged
    * after the savepoint; the transaction stays open and the savepoint
    * itself survives (it may be rolled back to again). */
  def rollbackToSavepoint(s: SparkSession, name: String): Unit = {
    val sc = scopeOf(s)
    val (len, savedBasis) = sc.savepoints.getOrElse(name,
      throw new IllegalArgumentException(
        s"gdx txn: no savepoint named $name in this transaction"))
    sc.ops.takeInPlace(len)
    sc.basis.clear(); sc.basis ++= savedBasis
    // savepoints established after the target are gone (their staged
    // suffixes no longer exist); the target survives
    val later = sc.savepoints.iterator.dropWhile(_._1 != name).drop(1)
      .map(_._1).toSeq
    later.foreach(sc.savepoints.remove)
    ()
  }

  /** `RELEASE [SAVEPOINT] <name>` — forget the savepoint (and every
    * later one, per the standard); staged work is untouched. */
  def releaseSavepoint(s: SparkSession, name: String): Unit = {
    val sc = scopeOf(s)
    require(sc.savepoints.contains(name),
      s"gdx txn: no savepoint named $name in this transaction")
    val fromHere = sc.savepoints.iterator.dropWhile(_._1 != name)
      .map(_._1).toSeq
    fromHere.foreach(sc.savepoints.remove)
    ()
  }

  /** Loud refusal for statements that would silently execute OUTSIDE
    * an open transaction's atomicity (they commit their own snapshots
    * immediately) — running them mid-transaction would hand the user
    * a partially-visible "transaction". */
  def refuseIfOpen(s: SparkSession, stmt: String): Unit =
    require(!isOpen(s),
      s"gdx txn: $stmt is not transactional - only INSERT INTO, " +
        "DELETE FROM, UPDATE and MERGE stage inside " +
        "BEGIN TRANSACTION; COMMIT or ROLLBACK first")
}

/** `BEGIN TRANSACTION` — open the session's staging scope. */
case class GdxBeginTxnCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    GdxSqlTxn.begin(spark)
    Seq.empty
  }
}

/** `COMMIT` — fold every staged statement into one write per table,
  * stage those as claim files, then publish the ONE decision that
  * makes all of them real at once ([[graft.sources.GdxSource
  * .prepareTransaction]]). An empty transaction commits as a no-op.
  * The scope is removed only AFTER the decision lands: a commit that
  * fails (CAS conflict on a mutated basis, constraint violation,
  * staging error) leaves the transaction open, so ROLLBACK succeeds
  * and the staged work is never silently dropped. Returns
  * (table, version) rows. */
case class GdxCommitTxnCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType(Seq(
        StructField("table", StringType, nullable = false),
        StructField("version", LongType, nullable = false))))
  override def run(spark: SparkSession): Seq[Row] = {
    val writes = GdxSqlTxn.prepareWrites(spark)
    if (writes.isEmpty) { GdxSqlTxn.close(spark); return Seq.empty }
    val gdx = graft.sources.GdxSource
    val versions = gdx.prepareTransaction(spark, writes.map(_._2))
      .commit()
    GdxSqlTxn.close(spark)
    val names = writes.map(w => w._2.dir -> w._1).toMap
    versions.map { case (dir, v) => Row(names(dir), v.toLong) }
  }
}

/** `ROLLBACK` — drop the staging scope; nothing was ever visible. */
case class GdxRollbackTxnCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    GdxSqlTxn.rollback(spark)
    Seq.empty
  }
}

/** `SAVEPOINT <name>` — mark the staged prefix for partial rollback. */
case class GdxSavepointCommand(name: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    GdxSqlTxn.savepoint(spark, name)
    Seq.empty
  }
}

/** `ROLLBACK TO [SAVEPOINT] <name>` — discard the staged suffix; the
  * transaction stays open. */
case class GdxRollbackToSavepointCommand(name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    GdxSqlTxn.rollbackToSavepoint(spark, name)
    Seq.empty
  }
}

/** `RELEASE [SAVEPOINT] <name>` — forget the savepoint. */
case class GdxReleaseSavepointCommand(name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    GdxSqlTxn.releaseSavepoint(spark, name)
    Seq.empty
  }
}

/** Every plain `INSERT INTO <tbl> [(cols)] <query>` routes here; the
  * transaction decision is RUNTIME state, never parse state. Outside
  * a transaction the original text re-dispatches through the delegate
  * unchanged; inside one, the source query stages against the GDX
  * target — aligned positionally (or through the explicit column
  * list, omitted columns filled with their declared DEFAULTs or NULL,
  * the same defaults-aware alignment the native INSERT applies) with
  * INSERT-style store casts, and every GDX source relation pinned to
  * its stage-time snapshot. */
case class GdxTxnInsertCommand(table: Seq[String], colList: Option[String],
                               sourceSql: String)(
    val sqlText: String, val delegate: ParserInterface)
    extends LeafRunnableCommand {
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(sqlText, delegate)
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    if (!GdxSqlTxn.isOpen(spark)) {
      // re-dispatch the original text with the SAME post-parse pass
      // the wrapper applies to non-maintenance statements (a source
      // query may carry FOR VERSION AS OF)
      org.apache.spark.sql.graft.ColumnBridge.ofRows(spark,
        GdxTimeTravel.stash(delegate.parsePlan(sqlText))).collect()
      return Seq.empty
    }
    val gdx = graft.sources.GdxSource
    val path = GdxMaintenanceSql.gdxPathOf(spark, table,
      "transactional INSERT (only GDX tables can participate in a " +
        "multi-table transaction)")
    val src = org.apache.spark.sql.graft.ColumnBridge
      .ofRows(spark, GdxTimeTravel.stash(delegate.parsePlan(sourceSql)))
    val tblSchema = gdx.committedSchema(path, gdx.driverConf())
    import org.apache.spark.sql.functions.{col, expr, lit}
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val aligned = colList match {
      case None =>
        require(src.columns.length == tblSchema.length,
          s"gdx txn: INSERT provides ${src.columns.length} columns, " +
            s"${table.mkString(".")} has ${tblSchema.length}")
        src.toDF(tblSchema.fieldNames.toIndexedSeq: _*)
          .select(tblSchema.fields.map(f =>
            col(s"`${f.name}`").cast(f.dataType).as(f.name)).toSeq: _*)
      case Some(cl) =>
        val listed = cl.split(',').toSeq
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
        require(listed.forall(_.nonEmpty) &&
            listed.map(lower).distinct.size == listed.size,
          s"gdx txn: malformed INSERT column list ($cl)")
        val known = tblSchema.fieldNames.map(lower).toSet
        val unknown = listed.filterNot(n => known(lower(n)))
        require(unknown.isEmpty, s"gdx txn: INSERT column(s) " +
          s"${unknown.mkString(", ")} are not in ${table.mkString(".")}" +
          s"'s schema ${tblSchema.fieldNames.mkString(",")}")
        require(src.columns.length == listed.size,
          s"gdx txn: INSERT lists ${listed.size} columns but the query " +
            s"provides ${src.columns.length}")
        // positional: the i-th source column feeds the i-th listed
        // column; omitted table columns take their declared DEFAULT
        // (the same era-fill literal the analyzer folds for native
        // INSERTs) or NULL
        val renamed = src.toDF(listed: _*)
        val listedSet = listed.map(lower).toSet
        renamed.select(tblSchema.fields.map { f =>
          if (listedSet(lower(f.name)))
            col(s"`${listed.find(n => lower(n) == lower(f.name)).get}`")
              .cast(f.dataType).as(f.name)
          else gdx.defaultCellOf(f) match {
            case Some(text) =>
              expr(gdx.defaultSqlLiteral(f.dataType, text))
                .cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }.toSeq: _*)
    }
    GdxSqlTxn.stageInsert(spark, path, table.mkString("."), aligned)
    Seq.empty
  }
}
