package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment,
  DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable, SubqueryAlias,
  UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** SQL DML FRONT DOOR for the GDX table format — `DELETE FROM` /
  * `UPDATE` / `MERGE INTO` statements over a catalog table whose
  * provider is GdxSource, routed to the engine's transactional row-level
  * operations ([[graft.sources.GdxSource.delete]],
  * [[graft.sources.GdxSource.update]] and
  * [[graft.sources.GdxSource.mergeGeneral]]). All three run on one
  * engine — DVs on the changed rows plus new files for their images,
  * in one commit — UPDATE and DELETE as target-only statements, so
  * they share MERGE's casts, NULL-key/CHECK refusals and commit loop.
  *
  * Spark's parser already produces the standard resolved plans
  * (`DeleteFromTable`/`UpdateTable`/`MergeIntoTable`); this post-hoc
  * resolution rule (injected by GraftExtensions) recognizes the GDX
  * target and replaces the plan with a runnable command BEFORE the
  * planner would reject the table for not implementing the (heavy)
  * DSv2 `SupportsRowLevelOperations` machinery — the same extension
  * seam Delta used for years. Non-GDX targets pass through untouched.
  *
  * Every MERGE lowers along one path, [[GdxMergeGeneralCommand]]
  * ([[graft.sources.GdxSource.mergeGeneral]]: the full ANSI clause
  * matrix over a key join, DV + new files in one commit, candidate
  * files scoped by zone maps) — the plain upsert `ON t.k = s.k WHEN
  * MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` as much
  * as conditional clauses, partial assignments, MATCHED DELETE and NOT
  * MATCHED BY SOURCE. Only statements the engine cannot express
  * (duplicate source column names, a clause referencing the wrong
  * side, an assignment to a non-target column) raise an error. */
object GdxDmlRule extends Rule[LogicalPlan] {

  private def gdxPath(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => gdxPath(child)
    case r: DataSourceV2Relation => r.table match {
      case g: graft.sources.GdxTable => Some(g.tablePath)
      case _ => None
    }
    case _ => None
  }

  /** The target's CATALOG NAME for display surfaces (COMMIT's
    * (table, version) rows): the relation's identifier when the table
    * came through a catalog, else the statement's alias, else empty —
    * callers fall back to the path. */
  private def gdxName(plan: LogicalPlan): String = plan match {
    case SubqueryAlias(ident, child) =>
      val inner = gdxName(child)
      if (inner.nonEmpty) inner else ident.toString
    case r: DataSourceV2Relation =>
      // catalog-qualified, matching GdxTxnInsertCommand's
      // `table.mkString(".")` labeling so INSERT-first and DML-first
      // transactions name tables identically
      r.identifier.map { id =>
        (r.catalog.map(_.name()).toSeq ++
          id.namespace().toSeq :+ id.name()).mkString(".")
      }.getOrElse("")
    case _ => ""
  }

  /** Resolved condition → SQL text: the engine re-reads the table in
    * its own frame, so the statement's expression is carried by NAME
    * (its generated SQL) and re-parsed there — carrying the resolved
    * Catalyst tree (or an UnresolvedAttribute rewrite of it) inside the
    * command would trip checkAnalysis, which walks command expressions
    * too. */
  private def bySql(e: Expression): String = e.transform {
    // drop catalog/table qualifiers: the engine's frame has bare names
    case a: AttributeReference => a.withQualifier(Seq.empty)
  }.sql

  private def fail(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "_LEGACY_ERROR_USER_RAISED_EXCEPTION", Map("errorMessage" -> msg))

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(tbl, cond) if d.resolved =>
      gdxPath(tbl) match {
        case Some(p) => GdxDeleteCommand(p, bySql(cond), gdxName(tbl))
        case None    => plan
      }
    case u @ UpdateTable(tbl, assignments, cond) if u.resolved =>
      gdxPath(tbl) match {
        case Some(p) =>
          val set = assignments.map {
            case Assignment(k: AttributeReference, v) => k.name -> bySql(v)
            case other => fail(s"gdx UPDATE: unsupported assignment $other")
          }
          GdxUpdateCommand(p, set, cond.map(bySql).getOrElse("true"),
            gdxName(tbl))
        case None => plan
      }
    case m: MergeIntoTable if m.childrenResolved =>
      gdxPath(m.targetTable) match {
        case Some(p) => generalMerge(p, m)
        case None    => plan
      }
    case _ => plan
  }

  /** Strip analyzer-inserted widening casts down to the attribute. */
  private def keyAttr(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      keyAttr(c.child)
    case _ => None
  }

  /** Lower the resolved MERGE to the engine's general form: every
    * expression is re-rooted onto the engine's joined frame by RENAMING
    * each attribute to `__t_<name>` / `__s_<name>` by which side its
    * exprId belongs to, THEN rendered to SQL — sidedness survives the
    * carry-by-text re-parse that qualifier-stripping (the
    * DELETE/UPDATE path) would destroy, so `t.v` and `s.v` stay
    * distinct. ANSI sidedness is enforced here: NOT MATCHED (INSERT)
    * expressions may reference only the source, NOT MATCHED BY SOURCE
    * only the target.
    *
    * WITH SCHEMA EVOLUTION needs no engine work by the time this rule
    * sees the plan: the analyzer already applied the source's extra
    * columns through GdxCatalog.alterTable (one addColumn metadata
    * commit — the AUTOMATIC_SCHEMA_EVOLUTION capability, catalog
    * tables only) and re-resolved every clause against the evolved
    * schema, so the matrix references only known columns and old files
    * read the new columns as NULL. */
  private def generalMerge(path: String, m: MergeIntoTable): LogicalPlan = {
    val tids = m.targetTable.outputSet
    val sids = m.sourceTable.outputSet
    // the engine renames source columns positionally; duplicate names
    // would collide after the __s_ prefix
    val srcNames = m.sourceTable.output
      .map(_.name.toLowerCase(java.util.Locale.ROOT))
    if (srcNames.distinct.size != srcNames.size)
      fail("gdx MERGE: duplicate source column names " +
        srcNames.diff(srcNames.distinct).distinct.mkString(", "))
    def sideSql(e: Expression, allowT: Boolean, allowS: Boolean,
                what: String): String = e.transform {
      case a: AttributeReference if tids.contains(a) =>
        if (!allowT) fail(s"gdx MERGE: $what may not reference the " +
          s"target column ${a.name}")
        a.withName("__t_" + a.name).withQualifier(Seq.empty)
      case a: AttributeReference if sids.contains(a) =>
        if (!allowS) fail(s"gdx MERGE: $what may not reference the " +
          s"source column ${a.name}")
        a.withName("__s_" + a.name).withQualifier(Seq.empty)
      case a: AttributeReference =>
        fail(s"gdx MERGE: $what references ${a.name}, which belongs to " +
          "neither the target nor the source")
    }.sql
    def assigns(as: Seq[Assignment], allowT: Boolean, allowS: Boolean,
                what: String): Seq[(String, String)] = as.map {
      case Assignment(k, v) => keyAttr(k) match {
        case Some(a) if tids.contains(a) =>
          a.name -> sideSql(v, allowT, allowS, what)
        case _ => fail(s"gdx MERGE: $what assigns to ${k.sql}, which is " +
          "not a target column")
      }
    }
    def clauses(actions: Seq[org.apache.spark.sql.catalyst.plans.logical
        .MergeAction], branch: String, allowT: Boolean, allowS: Boolean,
        insertBranch: Boolean): Seq[graft.sources.GdxMergeClause] =
      actions.map {
        case org.apache.spark.sql.catalyst.plans.logical.DeleteAction(c)
            if !insertBranch =>
          graft.sources.GdxMergeClause(
            c.map(sideSql(_, allowT, allowS, s"a $branch condition")), None)
        case UpdateAction(c, as, _) if !insertBranch =>
          graft.sources.GdxMergeClause(
            c.map(sideSql(_, allowT, allowS, s"a $branch condition")),
            Some(assigns(as, allowT, allowS, s"a $branch UPDATE")))
        case InsertAction(c, as) if insertBranch =>
          graft.sources.GdxMergeClause(
            c.map(sideSql(_, allowT = false, allowS = true,
              s"a $branch condition")),
            Some(assigns(as, allowT = false, allowS = true,
              s"a $branch INSERT")))
        case other =>
          fail(s"gdx MERGE: unsupported $branch action $other")
      }
    val onSql = sideSql(m.mergeCondition, allowT = true, allowS = true,
      "the ON condition")
    // file-pruning hints, extracted PER CONJUNCT of the ON condition
    // (`ON t.k = s.k AND t.k >= a AND t.k < b` is the range-scoped
    // point-update shape — pruning must not die on the And):
    //  - pruneKey: a conjunct equating the TARGET's key (first) column
    //    with a source-only expression → mergeGeneral pre-scans the
    //    source's key min/max and carries non-overlapping target files
    //    by reference;
    //  - staticLo/staticHi: conjuncts bounding the target key by a
    //    LITERAL → a static window intersected with the pre-scan's.
    //    Range bounds are kept CONSERVATIVE (a strict bound uses its
    //    own literal), which only ever loosens the prune.
    val keyName = m.targetTable.output.head
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // the BARE key attribute only — a user-written cast of the key
    // (CAST(t.k AS INT) < 100) changes which rows satisfy the
    // conjunct, so stripping it would feed a WRONG prune bound and
    // silently skip matching files. The analyzer widens the LITERAL
    // side of a BIGINT compare, never the key, so bare-only loses no
    // real pruning.
    def tKey(e: Expression): Boolean = e match {
      case a: AttributeReference =>
        tids.contains(a) && a.exprId == keyName.exprId
      case _ => false
    }
    def litLong(e: Expression): Option[Long] =
      if (!e.foldable || e.references.nonEmpty) None
      else scala.util.Try(e.eval(
        org.apache.spark.sql.catalyst.InternalRow.empty)).toOption
        .collect { case n: Number => n.longValue }
    val cs = conjuncts(m.mergeCondition)
    val pruneKey = cs.collectFirst(Function.unlift {
      case EqualTo(l, r) =>
        // bare target key only, same rationale as tKey: a cast wrapped
        // around t.k changes the match set, and a window computed from
        // the source expression would then wrongly prune files
        def srcSide(t: Expression, s: Expression): Option[String] =
          if (tKey(t) && s.references.nonEmpty &&
              s.references.forall(sids.contains))
            Some(sideSql(s, allowT = false, allowS = true,
              "the ON condition"))
          else None
        srcSide(l, r).orElse(srcSide(r, l))
      case _ => None
    })
    var staticLo: Option[Long] = None
    var staticHi: Option[Long] = None
    def tightenLo(v: Long): Unit =
      staticLo = Some(math.max(staticLo.getOrElse(Long.MinValue), v))
    def tightenHi(v: Long): Unit =
      staticHi = Some(math.min(staticHi.getOrElse(Long.MaxValue), v))
    import org.apache.spark.sql.catalyst.expressions.{
      GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    cs.foreach {
      case GreaterThanOrEqual(l, r) if tKey(l) => litLong(r).foreach(tightenLo)
      case GreaterThan(l, r) if tKey(l)        => litLong(r).foreach(tightenLo)
      case LessThanOrEqual(l, r) if tKey(l)    => litLong(r).foreach(tightenHi)
      case LessThan(l, r) if tKey(l)           => litLong(r).foreach(tightenHi)
      // mirrored literal-first forms
      case GreaterThanOrEqual(l, r) if tKey(r) => litLong(l).foreach(tightenHi)
      case GreaterThan(l, r) if tKey(r)        => litLong(l).foreach(tightenHi)
      case LessThanOrEqual(l, r) if tKey(r)    => litLong(l).foreach(tightenLo)
      case LessThan(l, r) if tKey(r)           => litLong(l).foreach(tightenLo)
      case EqualTo(l, r) if tKey(l) && litLong(r).isDefined =>
        litLong(r).foreach { v => tightenLo(v); tightenHi(v) }
      case EqualTo(l, r) if tKey(r) && litLong(l).isDefined =>
        litLong(l).foreach { v => tightenLo(v); tightenHi(v) }
      case _ => ()
    }
    GdxMergeGeneralCommand(path, m.sourceTable, onSql,
      clauses(m.matchedActions, "WHEN MATCHED", allowT = true,
        allowS = true, insertBranch = false),
      clauses(m.notMatchedActions, "WHEN NOT MATCHED", allowT = false,
        allowS = true, insertBranch = true),
      clauses(m.notMatchedBySourceActions, "WHEN NOT MATCHED BY SOURCE",
        allowT = true, allowS = false, insertBranch = false),
      pruneKey, staticLo, staticHi, gdxName(m.targetTable))
  }
}

/** `DELETE FROM <gdx table> WHERE ...` → deletion-vector commit.
  * Returns (version, rows_deleted). Inside an open SQL transaction the
  * delete STAGES instead (applied to the transaction's basis snapshot
  * at COMMIT, conflict-checked — see GdxSqlTxn) and returns the
  * (-1, -1) staged sentinel: no version exists and no row count is
  * knowable until the one commit decision lands. */
case class GdxDeleteCommand(path: String, condSql: String,
                            table: String = "")
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GdxDml.versionRowsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    if (GdxSqlTxn.isOpen(spark)) {
      // the CATALOG name labels COMMIT's (table, version) rows — the
      // path is only the fallback for path-based statements
      GdxSqlTxn.stageDelete(spark, path,
        if (table.nonEmpty) table else path, condSql)
      return Seq(Row(-1L, -1L))
    }
    val (v, n) = graft.sources.GdxSource.delete(spark, path,
      org.apache.spark.sql.functions.expr(condSql))
    Seq(Row(v.toLong, n))
  }
}

/** `UPDATE <gdx table> SET ... WHERE ...` → DV + rewrite in one commit.
  * Returns (version, rows_updated). Inside an open SQL transaction the
  * update STAGES instead (simultaneous-assignment semantics over the
  * transaction's basis snapshot, conflict-checked at COMMIT — see
  * GdxSqlTxn) and returns the (-1, -1) staged sentinel. */
case class GdxUpdateCommand(path: String, set: Seq[(String, String)],
                            condSql: String, table: String = "")
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GdxDml.versionRowsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    if (GdxSqlTxn.isOpen(spark)) {
      GdxSqlTxn.stageUpdate(spark, path,
        if (table.nonEmpty) table else path, condSql, set)
      return Seq(Row(-1L, -1L))
    }
    val (v, n) = graft.sources.GdxSource.update(spark, path,
      org.apache.spark.sql.functions.expr(condSql),
      set.map { case (k, e) =>
        k -> org.apache.spark.sql.functions.expr(e) }.toMap)
    Seq(Row(v.toLong, n))
  }
}

/** `MERGE INTO <gdx table> ...` — every MERGE, the full clause
  * matrix, lowered to [[graft.sources.GdxSource.mergeGeneral]]. The source
  * plan rides as an inner child (resolved against the statement's own
  * catalog state); clause expressions ride as `__t_`/`__s_`-rooted
  * SQL. Returns Delta-style metrics: (version, rows_inserted,
  * rows_updated, rows_deleted). */
case class GdxMergeGeneralCommand(path: String, source: LogicalPlan,
    onSql: String, matched: Seq[graft.sources.GdxMergeClause],
    notMatched: Seq[graft.sources.GdxMergeClause],
    notMatchedBySource: Seq[graft.sources.GdxMergeClause],
    pruneKey: Option[String],
    staticLo: Option[Long] = None, staticHi: Option[Long] = None,
    table: String = "")
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override val output: Seq[Attribute] = GdxDml.mergeMetricsOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val raw = ColumnBridge.ofRows(spark, source)
    if (GdxSqlTxn.isOpen(spark)) {
      // stage the WHEN matrix: at COMMIT it runs on the same engine
      // over the transaction's entry list, a conflict-checked DV commit
      // at basis + 1 (GdxSqlTxn); the metrics are unknowable until the
      // one decision lands
      GdxSqlTxn.stageMergeGeneral(spark, path,
        if (table.nonEmpty) table else path, raw, onSql,
        matched, notMatched, notMatchedBySource, pruneKey, staticLo,
        staticHi)
      return Seq(Row(-1L, -1L, -1L, -1L))
    }
    val src = raw.toDF(raw.columns.map("__s_" + _).toSeq: _*)
    val (v, ins, upd, del) = graft.sources.GdxSource.mergeGeneral(
      spark, path, src, onSql, matched, notMatched, notMatchedBySource,
      pruneKey, staticLo = staticLo, staticHi = staticHi)
    Seq(Row(v.toLong, ins, upd, del))
  }
}

private[plans] object GdxDml {
  def versionRowsOutput: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType(Seq(StructField("version", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = false))))
  def mergeMetricsOutput: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("rows_inserted", LongType, nullable = false),
        StructField("rows_updated", LongType, nullable = false),
        StructField("rows_deleted", LongType, nullable = false))))
}
