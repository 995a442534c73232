package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.expr
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
  *  - A staged MUTATION (DELETE/UPDATE/MERGE) reads its target at
  *    the version current when it was first staged (the
  *    transaction's BASIS for that table), and the table commits as
  *    a DV commit at basis + 1 over the transaction's entry list: at
  *    COMMIT each staged statement runs on the one row-change engine
  *    ([[graft.sources.GdxSource.rowChange]] — the plain statements'
  *    pruning, deletion vectors, gated image write and refusals) over
  *    the entries the statements before it left, so untouched files
  *    are carried by reference. The claim is CONFLICT-CHECKED: a
  *    concurrent commit that moved the table past the basis aborts
  *    the whole transaction loudly (GdxConcurrentModificationException)
  *    — no writer's rows are ever silently erased. Pure-INSERT tables
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
  /** A staged DELETE, UPDATE or MERGE: `change` builds its statement
    * for the row-change engine at COMMIT. It closes over SQL text and
    * snapshot-pinned plans only, never a DataFrame (see Scope
    * discipline above). */
  private[plans] final case class StagedChange(dir: String, table: String,
      change: SparkSession => graft.sources.GdxSource.RowChange)
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

  /** Stage a DELETE, UPDATE or MERGE of `dir`: its assignment targets
    * are checked against the committed schema now (a typo fails the
    * statement when issued, not at COMMIT), and the table's basis is
    * pinned by its first mutation. */
  private def stageChange(s: SparkSession, dir: String, table: String,
                          op: String, targets: Seq[String])(
      change: SparkSession => graft.sources.GdxSource.RowChange): Unit = {
    val sc = scopeOf(s)
    val gdx = graft.sources.GdxSource
    gdx.checkAssignTargets(op, targets,
      gdx.committedSchema(dir, gdx.driverConf()))
    sc.basis.getOrElseUpdate(dir,
      gdx.latestDecidedVersion(dir, gdx.driverConf()))
    sc.ops += StagedChange(dir, table, change)
    ()
  }

  private[plans] def stageDelete(s: SparkSession, dir: String,
                                 table: String, condSql: String): Unit =
    stageChange(s, dir, table, "delete", Nil)(_ =>
      graft.sources.GdxSource.RowChange.delete(expr(condSql)))

  /** `UPDATE ... SET ... WHERE ...`, staged: SQL simultaneous-
    * assignment semantics — every SET expression evaluates against
    * the PRE-update row, so `SET v = w, w = v` swaps. */
  private[plans] def stageUpdate(s: SparkSession, dir: String,
                                 table: String, condSql: String,
                                 set: Seq[(String, String)]): Unit =
    stageChange(s, dir, table, "update", set.map(_._1))(_ =>
      graft.sources.GdxSource.RowChange.update(expr(condSql),
        set.map { case (k, e) => k -> expr(e) }))

  /** A MERGE (the WHEN-matrix), staged: `source` is pinned to its
    * stage-time snapshots and kept as a plan; the clause SQL references
    * `__t_<col>`/`__s_<col>` names and the pruning hints are the plain
    * MERGE's ([[graft.sources.GdxSource.mergeGeneral]]). */
  private[plans] def stageMergeGeneral(s: SparkSession, dir: String,
      table: String, source: DataFrame, onSql: String,
      matched: Seq[graft.sources.GdxMergeClause],
      notMatched: Seq[graft.sources.GdxMergeClause],
      notMatchedBySource: Seq[graft.sources.GdxMergeClause],
      pruneKey: Option[String], staticLo: Option[Long],
      staticHi: Option[Long]): Unit = {
    val plan = pinSnapshots(source.queryExecution.analyzed)
    stageChange(s, dir, table, "merge",
      (matched ++ notMatched ++ notMatchedBySource)
        .flatMap(_.assigns.getOrElse(Seq.empty)).map(_._1)) { spark =>
      val raw = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, plan)
      graft.sources.GdxSource.RowChange.merge(
        raw.toDF(raw.columns.map("__s_" + _).toSeq: _*), onSql, matched,
        notMatched, notMatchedBySource, pruneKey, staticLo, staticHi)
    }
  }

  /** PEEK the open scope and fold each table's staged operations into
    * one transaction part — the scope is NOT closed here (see
    * [[GdxCommitTxnCommand]]: a failed commit must leave ROLLBACK a
    * transaction to roll back). The ops fold in stage order over an
    * entry list: an INSERT appends its gated files, a DELETE, UPDATE
    * or MERGE runs the row-change engine over the current list. A
    * pure-INSERT table's list starts empty and claims as an append;
    * any staged mutation starts it from the basis snapshot's entries
    * and makes the table's part a full manifest, claimed at basis + 1
    * under the conflict check. */
  private[plans] def prepareWrites(spark: SparkSession)
      : Seq[(String, graft.sources.GdxSource.TxnPart)] = {
    val sc = scopeOf(spark)
    val gdx = graft.sources.GdxSource
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    sc.ops.map(_.dir).distinct.toSeq.map { dir =>
      val ops = sc.ops.filter(_.dir == dir).toSeq
      val basis = sc.basis.get(dir)
      ops.head.table -> gdx.TxnPart(dir, basis.isDefined,
          basis.getOrElse(-1), { snap =>
        val start = if (basis.isDefined) snap.entries else Seq.empty
        val (entries, deleted) = ops.foldLeft((start, 0L)) {
          case ((cur, del), StagedInsert(_, _, p)) =>
            (cur ++ gdx.insertFiles(dir, snap, bridge.ofRows(spark, p)), del)
          case ((cur, del), StagedChange(_, _, change)) =>
            gdx.rowChange(spark, dir, snap.withEntries(cur), change(spark))
              .fold((cur, del))(r => (r.entries, del + r.deleted))
        }
        (entries, Some(deleted))
      })
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
    val parts = GdxSqlTxn.prepareWrites(spark)
    if (parts.isEmpty) { GdxSqlTxn.close(spark); return Seq.empty }
    val versions = graft.sources.GdxSource.prepareParts(parts.map(_._2))
      .commit()
    GdxSqlTxn.close(spark)
    val names = parts.map(p => p._2.dir -> p._1).toMap
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
    import org.apache.spark.sql.functions.{col, lit}
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
