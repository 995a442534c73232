package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{
  NamespaceAlreadyExistsException, NoSuchFunctionException,
  NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException,
  TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{
  FunctionCatalog, Identifier, NamespaceChange, SupportsNamespaces,
  SupportsRead, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{
  BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{
  DataType, DoubleType, IntegerType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The GDX table CATALOG — the front door that makes the format a
  * first-class `catalog.namespace.table` citizen instead of a
  * path-addressed one:
  *
  * {{{
  *   spark.sql.catalog.gdx           = graft.sources.GdxCatalog
  *   spark.sql.catalog.gdx.warehouse = /data/gdx
  *
  *   CREATE TABLE gdx.ns.t (k BIGINT, v STRING, w BIGINT)
  *     PARTITIONED BY (bucket(16, k))
  *   INSERT INTO gdx.ns.t SELECT ...
  *   SELECT * FROM gdx.ns.t FOR VERSION AS OF 3
  *   ALTER TABLE gdx.ns.t ADD COLUMN (x DOUBLE)
  * }}}
  *
  * Layout is the warehouse convention every lakehouse catalog uses:
  * table `gdx.a.b.t` lives at `<warehouse>/a/b/t`, a directory is a
  * table iff it has committed manifests, and everything under the
  * directory is exactly what the path-based API reads and writes — the
  * two front doors address the SAME tables with the SAME snapshot,
  * DML, constraint, and maintenance machinery.
  *
  * The catalog is ALSO a [[FunctionCatalog]] exposing the `bucket`
  * partition-transform function. That is the piece that unlocks
  * storage-partitioned joins on bucket layouts: Spark resolves the
  * `bucket(n, col)` transform in a scan's reported
  * KeyGroupedPartitioning THROUGH the relation's function catalog, and
  * two catalog scans resolving to the same canonical function with the
  * same bucket count co-schedule with ZERO shuffle — the fact⋈fact
  * equi-join on a high-cardinality key (reference behavior: the
  * currency join in analyze.py:69-76, re-expressed at lakehouse
  * scale). One-side-shuffle SPJ evaluates the very same function
  * ([[GdxBucketBound.produceResult]]) to hash an unpartitioned side
  * into the stored layout.
  *
  * All metadata operations are driver-side filesystem I/O on the same
  * Hadoop `FileSystem` API the format itself uses — no metastore
  * service, which is exactly the deployment story of a manifest-logged
  * table format (the catalog is a NAMING convention; the manifests
  * are the source of truth).
  */
class GdxCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"gdx catalog '$name': set spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def conf = GdxSource.driverConf()
  private def fs = new Path(warehouse).getFileSystem(conf)

  /** Identifier segments become directory names — refuse anything
    * that could escape the warehouse or collide with the format's
    * own files. */
  private def checkSegment(s: String): String = {
    require(s.nonEmpty && !s.contains("/") && !s.contains("\\") &&
      s != "." && s != ".." && !s.startsWith("_") && !s.contains("="),
      s"gdx catalog: illegal name segment '$s'")
    s
  }

  private def nsDir(ns: Array[String]): Path =
    ns.map(checkSegment).foldLeft(new Path(warehouse))(new Path(_, _))

  private def tableDir(ident: Identifier): Path =
    new Path(nsDir(ident.namespace), checkSegment(ident.name))

  private def isTable(dir: Path): Boolean =
    GdxSource.listVersions(dir.toString, conf).nonEmpty

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath)
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) {
      // Iceberg-style METADATA TABLES: `gdx.ns.t.files` / `.history` /
      // `.partitions` — the trailing name selects the view, the prefix
      // must be a real table. Resolution order favors real tables: a
      // user table literally named `files` under namespace `ns.t`
      // shadows the metadata view of table `t`.
      if (ident.namespace.nonEmpty &&
        GdxMetadataTable.Kinds.contains(ident.name.toLowerCase)) {
        val parent = Identifier.of(ident.namespace.init,
          ident.namespace.last)
        val pdir = tableDir(parent)
        if (isTable(pdir))
          return new GdxMetadataTable(pdir.toString,
            ident.name.toLowerCase)
      }
      throw new NoSuchTableException(ident)
    }
    val d = dir.toString
    new GdxTable(d, GdxSource.committedSchema(d, conf),
      GdxSource.committedPartitionCol(d, conf), viaCatalog = true)
  }

  /** SQL time travel through the catalog: `FOR VERSION AS OF n` pins
    * the manifest version; `FOR TIMESTAMP AS OF ts` (Spark delivers
    * MICROseconds) resolves to the last version committed at or before
    * the instant. The pinned table refuses writes and carries its
    * era's schema and layout. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val d = dir.toString
    // a number pins a manifest version; any other string resolves as a
    // TAG name — `FOR VERSION AS OF 'train_v1'` replays the exact
    // snapshot the tag froze (vacuum keeps it alive)
    val v = GdxSource.resolveVersionRef(d, conf, version)
    new GdxTable(d, GdxSource.committedSchema(d, conf, v),
      GdxSource.committedPartitionCol(d, conf, v), viaCatalog = true,
      pinnedVersion = Some(v))
  }

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val d = dir.toString
    val v = GdxSource.versionAsOf(d, conf, timestamp / 1000L)
    new GdxTable(d, GdxSource.committedSchema(d, conf, v),
      GdxSource.committedPartitionCol(d, conf, v), viaCatalog = true,
      pinnedVersion = Some(v))
  }

  /** The format's declaration contract, shared by CREATE TABLE and the
    * staged (atomic CTAS/RTAS) paths: key-first BIGINT schema, the
    * storable types ([[GdxSource.typeNameOf]] — BIGINT, STRING,
    * DOUBLE, DATE, TIMESTAMP, BOOLEAN, DECIMAL(p,s)), and a validated
    * partition spec. Returns the spec's raw manifest text. */
  private def validateDeclaration(schema: StructType,
                                  partitions: Array[Transform])
      : Option[String] = {
    require(schema.nonEmpty && schema.head.dataType == LongType,
      "gdx catalog: the first column is the table's key and must be " +
        s"BIGINT (got ${if (schema.isEmpty) "no columns"
        else schema.head.dataType.catalogString})")
    schema.fields.foreach { f =>
      try GdxSource.typeNameOf(f.dataType) catch {
        case _: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"gdx catalog: unsupported column type " +
              s"${f.dataType.catalogString} for ${f.name} - the format " +
              "stores BIGINT, STRING, DOUBLE, DATE, TIMESTAMP, BOOLEAN, " +
              "DECIMAL(p,s), ARRAY<FLOAT|DOUBLE|BIGINT>, " +
              "MAP<STRING,STRING>")
      }
      require(!f.name.exists(c => c == '\t' || c == ':' || c == ','),
        s"gdx catalog: illegal column name '${f.name}'")
    }
    val spec = GdxSource.partSpecOfTransforms(partitions)
    spec.map(GdxSource.parsePartSpec).foreach { sp =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(sp.col))
        .getOrElse(throw new IllegalArgumentException(
          s"gdx catalog: partition column ${sp.col} is not in the schema"))
      GdxSource.validatePartColType(sp, f.dataType, "catalog")
    }
    spec
  }

  /** The catalog-level contract extensions Spark gates grammar on:
    * declaring column DEFAULT support is what lets `CREATE TABLE (c
    * BIGINT DEFAULT 5)` / `ADD COLUMN ... DEFAULT` reach this catalog
    * at all. */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** Fold Spark-declared column defaults (CURRENT_DEFAULT metadata,
    * SQL text) into the format's canonical cell-text form, so the
    * manifest stores ONE vocabulary whatever the declaration door. */
  private def normalizeDefaults(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (f.metadata.contains(GdxSource.DefaultCellKey) ||
          !f.metadata.contains("CURRENT_DEFAULT")) f
      else {
        val folded = org.apache.spark.sql.catalyst.util
          .ResolveDefaultColumns.analyze(f, "CREATE TABLE")
          .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        require(folded != null,
          s"gdx catalog: DEFAULT NULL for ${f.name} is the column's " +
            "natural state - declare no default instead")
        GdxSource.withDefaultCell(f,
          GdxLineFormat.internalCellText(f.dataType, folded))
      }
    })

  /** Apply `gdx.shred.<col> = <variantCol>:<key>` TBLPROPERTIES: the
    * SQL declaration door for shredded columns (DDL cannot attach
    * field metadata directly). The column itself is declared normally
    * in the column list; the property marks it GENERATED from the
    * variant source's top-level key. Cross-field validation (source
    * exists and is a variant) runs in [[GdxSource.schemaSpec]] at
    * commit. */
  private def applyShredProps(schema: StructType,
      properties: util.Map[String, String]): StructType = {
    val prefix = "gdx.shred."
    import scala.jdk.CollectionConverters._
    val shreds = properties.asScala.collect {
      case (k, v) if k.startsWith(prefix) => k.drop(prefix.length) -> v
    }
    if (shreds.isEmpty) schema
    else {
      shreds.keys.foreach { c =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"gdx catalog: gdx.shred.$c names no declared column")
      }
      StructType(schema.fields.map { f =>
        shreds.collectFirst {
          case (c, v) if c.equalsIgnoreCase(f.name) => v
        } match {
          case None => f
          case Some(v) =>
            val i = v.indexOf(':')
            require(i > 0 && i < v.length - 1,
              s"gdx catalog: gdx.shred.${f.name} must be " +
                s"'<variantCol>:<key>' (got '$v')")
            GdxSource.withShred(f, v.substring(0, i), v.substring(i + 1))
        }
      })
    }
  }

  /** DDL commits its own visible snapshot (or deletes one) — none of
    * it can honor an open SQL transaction's all-or-nothing contract,
    * so every mutating catalog entry point refuses loudly while one
    * is open (the same guard DML and TRUNCATE apply). */
  private def refuseDdlInTxn(stmt: String): Unit =
    SparkSession.getActiveSession.foreach(
      graft.plans.GdxSqlTxn.refuseIfOpen(_, stmt))

  override def createTable(ident: Identifier, schema0: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    refuseDdlInTxn("CREATE TABLE")
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    val schema = applyShredProps(normalizeDefaults(schema0), properties)
    val spec = validateDeclaration(schema, partitions)
    // v1 is an EMPTY truncate commit CAS-pinned to base 0: it records
    // the declared schema and layout in the manifest header, a
    // concurrent creator loses the race loudly (conflict, not a silent
    // last-wins re-declaration), and every later write inherits the
    // declaration with no option
    GdxSource.commitFiles(dir.toString, conf, replace = true, Seq.empty,
      expectedBase = 0, writeSchema = schema, partitionCol = spec)
    loadTable(ident)
  }

  // ------------------------------------------- atomic CTAS/RTAS staging

  /** ATOMIC `CREATE TABLE ... AS SELECT` / `[CREATE OR] REPLACE TABLE
    * ... AS SELECT`: the staged write's data files land as invisible
    * tmp files (reads are manifest-driven; an unpublished directory is
    * not a table), the job's BatchWrite.commit only STASHES the task
    * results, and [[GdxStagedTable.commitStagedChanges]] publishes ONE
    * truncate manifest — the single commit point. A reader can never
    * observe the created-but-empty (or half-replaced) intermediate a
    * non-atomic create-then-insert exposes; a failed job aborts to
    * nothing. REPLACE is itself a versioned commit, so the replaced
    * table's history still time-travels. */
  override def stageCreate(ident: Identifier,
                           info: org.apache.spark.sql.connector.catalog
                             .TableInfo): org.apache.spark.sql.connector
                             .catalog.StagedTable = {
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    if (!fs.exists(nsDir(ident.namespace)))
      throw new NoSuchNamespaceException(ident.namespace)
    // CAS the publish to v1: of two concurrent staged CREATEs the
    // loser conflicts loudly (same contract as createTable), never a
    // silent last-wins re-declaration. CREATE OR REPLACE stays
    // last-wins by definition (casBase = -1 below).
    stage(dir, info, preExisting = false, casBase = 0)
  }

  override def stageReplace(ident: Identifier,
                            info: org.apache.spark.sql.connector.catalog
                              .TableInfo): org.apache.spark.sql.connector
                              .catalog.StagedTable = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    stage(dir, info, preExisting = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
                                    info: org.apache.spark.sql.connector
                                      .catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val dir = tableDir(ident)
    if (!fs.exists(nsDir(ident.namespace)))
      throw new NoSuchNamespaceException(ident.namespace)
    stage(dir, info, preExisting = isTable(dir))
  }

  private def stage(dir: Path,
                    info: org.apache.spark.sql.connector.catalog.TableInfo,
                    preExisting: Boolean,
                    casBase: Int = -1): GdxStagedTable = {
    // CTAS/RTAS honor shred declarations too: the staged write's
    // schema carries the annotations, so its tasks derive the shadows
    // and the single publish commits the annotated schema line
    val schema = applyShredProps(normalizeDefaults(info.schema()),
      info.properties())
    val spec = validateDeclaration(schema, info.partitions())
    new GdxStagedTable(dir.toString, schema, spec, preExisting,
      casBase)
  }

  /** ALTER TABLE through the catalog rides the format's metadata-only
    * schema evolution: ADD COLUMN appends a field (new physical slot),
    * RENAME/DROP COLUMN go through the column mapping — all CAS
    * commits with the same guards the path API enforces (core slots,
    * partition column, constraint references). */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    refuseDdlInTxn("ALTER TABLE")
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val d = dir.toString
    val spark = SparkSession.active
    changes.foreach {
      case a: TableChange.AddColumn if a.fieldNames.length > 1 =>
        // `ADD COLUMN meta.tag STRING` — a new TRAILING field inside
        // an existing struct column (metadata-only; era rows read
        // NULL for the leaf). Position/NOT NULL/DEFAULT refusals
        // match the top-level rules; nested defaults are not stored.
        require(a.position == null,
          "gdx catalog: nested ADD COLUMN appends at the end of its " +
            "struct - FIRST/AFTER positions are not supported")
        require(a.isNullable,
          "gdx catalog: added nested fields are null-filled for " +
            "existing rows and cannot be NOT NULL")
        require(a.defaultValue == null,
          "gdx catalog: DEFAULT on a nested field is not supported")
        GdxSource.addNestedField(d,
          a.fieldNames.dropRight(1).mkString("."),
          a.fieldNames.last, a.dataType)
      case a: TableChange.AddColumn =>
        // silently honoring FIRST/AFTER, NOT NULL, or a DEFAULT would
        // hand the user a column that doesn't behave as declared —
        // refuse the forms the format cannot express
        require(a.position == null,
          "gdx catalog: ADD COLUMN appends at the end - FIRST/AFTER " +
            "positions are not supported")
        require(a.isNullable,
          "gdx catalog: added columns are null-filled for existing " +
            "rows and cannot be NOT NULL")
        // DEFAULT <literal> → the column's INITIAL default: every
        // pre-evolution row reads it (era fill), and the analyzer
        // fills it for INSERTs that omit the column. Only foldable
        // literals arrive here (Spark resolves the expression first).
        val dflt = Option(a.defaultValue).map { dv =>
          val lit = dv.getValue
          require(lit != null && lit.value != null,
            "gdx catalog: DEFAULT NULL is the column's natural state " +
              "- declare no default instead")
          require(lit.dataType == a.dataType,
            s"gdx catalog: DEFAULT literal type ${lit.dataType} does " +
              s"not match column type ${a.dataType}")
          GdxLineFormat.internalCellText(a.dataType, lit.value)
        }
        GdxSource.addColumn(d, a.fieldNames.head, a.dataType,
          default = dflt)
      case r: TableChange.RenameColumn if r.fieldNames.length > 1 =>
        // names live only in the schema text (cells are positional):
        // a nested rename is metadata-only with no mapping at all
        GdxSource.renameNestedField(d, r.fieldNames.mkString("."),
          r.newName)
      case r: TableChange.RenameColumn =>
        GdxSource.renameColumn(spark, d, r.fieldNames.head, r.newName)
      case del: TableChange.DeleteColumn if del.fieldNames.length > 1 =>
        // `DROP COLUMN meta.lang` — era-correct by rewrite (cells are
        // positional; see GdxSource.dropNestedField's contract)
        GdxSource.dropNestedField(spark, d, del.fieldNames.mkString("."))
        ()
      case del: TableChange.DeleteColumn =>
        GdxSource.dropColumn(spark, d, del.fieldNames.head)
      case other => throw new UnsupportedOperationException(
        s"gdx catalog: unsupported table change $other")
    }
    loadTable(ident)
  }

  /** Warehouse location a NEW table with this identifier would occupy
    * — the SHALLOW CLONE destination resolver. Validates the namespace
    * exists and the slot is free (same guards as createTable; the
    * clone's first manifest IS the creation). */
  private[graft] def locationFor(ident: Identifier): String = {
    val ns = nsDir(ident.namespace)
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(ident.namespace)
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    dir.toString
  }

  override def dropTable(ident: Identifier): Boolean = {
    refuseDdlInTxn("DROP TABLE")
    val dir = tableDir(ident)
    // a recreated table at the same path restarts version numbers —
    // stale decided-verdict cache entries must go with the directory
    GdxSource.invalidateDecidedCache(dir.toString, conf)
    isTable(dir) && fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    refuseDdlInTxn("RENAME TABLE")
    val src = tableDir(oldIdent)
    val dst = tableDir(newIdent)
    if (!isTable(src)) throw new NoSuchTableException(oldIdent)
    if (fs.exists(dst)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.exists(dst.getParent))
      throw new NoSuchNamespaceException(newIdent.namespace)
    require(fs.rename(src, dst),
      s"gdx catalog: rename $src -> $dst failed")
    // both paths' cached decided-verdicts are stale after the move
    GdxSource.invalidateDecidedCache(src.toString, conf)
    GdxSource.invalidateDecidedCache(dst.toString, conf)
  }

  // -------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val dir = nsDir(namespace)
    if (namespace.nonEmpty && !fs.exists(dir))
      throw new NoSuchNamespaceException(namespace)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTable)
      .map(p => namespace :+ p.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    val dir = nsDir(namespace)
    if (!fs.exists(dir) || isTable(dir))
      throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val dir = nsDir(namespace)
    if (fs.exists(dir))
      throw new NamespaceAlreadyExistsException(namespace)
    require(fs.mkdirs(dir), s"gdx catalog: mkdirs $dir failed")
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "gdx catalog: namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) false
    else {
      if (!cascade && fs.listStatus(dir).nonEmpty)
        throw new NonEmptyNamespaceException(namespace, "", None)
      fs.delete(dir, true)
    }
  }

  // --------------------------------------------------------- functions

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, "bucket"))
    else {
      // surface `bucket` in every existing namespace too — Spark
      // resolves transform functions against several candidate
      // namespaces depending on where the table identifier sits
      loadNamespaceMetadata(namespace)
      Array(Identifier.of(namespace, "bucket"))
    }

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name.equalsIgnoreCase("bucket")) GdxBucketUnbound
    else throw new NoSuchFunctionException(ident)
}

/** The staged side of atomic CTAS/RTAS (see
  * [[GdxCatalog.stageCreate]]): a write-only table whose job commit
  * STASHES the task results; `commitStagedChanges` publishes them as
  * ONE truncate manifest (create: v1; replace: v_next — history
  * retained), `abortStagedChanges` deletes the tmp files and, for a
  * fresh create, the empty directory. Distribution/clustering and the
  * constraint-conflict check ride the ordinary write machinery
  * ([[GdxWrite]]/[[GdxBatchWrite]] subclassed with a deferred
  * commit). */
class GdxStagedTable(dir: String, declaredSchema: StructType,
                     spec: Option[String], preExisting: Boolean,
                     casBase: Int = -1)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.StagedTable {
  import org.apache.spark.sql.connector.write.{
    LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder,
    WriterCommitMessage}

  private val conf = GdxSource.driverConf()
  // the set the staged tasks will enforce; commitStagedChanges
  // conflict-checks the live set against it (a constraint landing
  // mid-stage aborts the publish, never a silent enforcement hole)
  private val enforced = GdxSource.committedConstraints(dir, conf)
  @volatile private var stashed: Seq[WriterCommitMessage] = Seq.empty

  override def name(): String = s"gdx($dir) [staged]"
  override def schema(): StructType = declaredSchema
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_WRITE,
      org.apache.spark.sql.connector.catalog.TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the staged publish IS a truncate — RTAS's truncating write
      // needs no extra state
      override def truncate(): WriteBuilder = this
      override def build(): Write =
        new GdxWrite(dir, replace = true, declaredSchema, spec,
          viaCatalog = true) {
          override def toBatch: org.apache.spark.sql.connector.write
              .BatchWrite =
            new GdxBatchWrite(dir, replace = true, declaredSchema, spec) {
              override def commit(
                  messages: Array[WriterCommitMessage]): Unit = {
                stashed = messages.toSeq
              }
            }
        }
    }

  override def commitStagedChanges(): Unit =
    GdxSource.commitFiles(dir, conf, replace = true, stashed,
      expectedBase = casBase,
      writeSchema = declaredSchema, enforcedConstraints = Some(enforced),
      partitionCol = spec)

  override def abortStagedChanges(): Unit = {
    GdxSource.dropTmps(dir, conf, stashed)
    val base = new Path(dir)
    val dfs = base.getFileSystem(conf)
    // tidy the directory slot ONLY if it is genuinely empty: a
    // recursive delete here would race a concurrent staged creator of
    // the same identifier whose files are renamed but whose manifest
    // is not yet published (listVersions still empty) — this abort
    // owns nothing beyond its own stashed files, so anything else in
    // the directory means someone else is mid-flight
    if (!preExisting)
      try dfs.delete(base, false)
      catch { case _: java.io.IOException => () } // non-empty: leave it
    ()
  }
}

/** Iceberg-style metadata tables over a GDX directory — read-only
  * views computed from manifests alone (zero data files opened):
  *
  *  - `gdx.ns.t.files`: one row per live data file of the current
  *    snapshot — name, row count, k-range, DV reference, partition
  *    directory key;
  *  - `gdx.ns.t.history`: one row per retained snapshot — version,
  *    commit kind (full/delta), file and row counts;
  *  - `gdx.ns.t.partitions`: the per-partition profile — files, rows,
  *    k-range per directory key.
  *
  * These are the operator's dashboards (file-size distributions,
  * snapshot growth, partition skew) answered at metadata cost, the
  * `table$files` / DESCRIBE DETAIL surface of the lakehouse formats.
  * All driver-side planning; the "scan" ships the finished rows. */
class GdxMetadataTable(dir: String, kind: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read.{
    Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan,
    ScanBuilder}
  import org.apache.spark.unsafe.types.UTF8String

  override def name(): String = s"gdx($dir).$kind"
  override def schema(): StructType = GdxMetadataTable.schemaOf(kind)
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder with Scan with Batch {
    override def build(): Scan = this
    override def readSchema(): StructType = schema()
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      Array(GdxMetadataRows(GdxMetadataTable.compute(dir, kind)))
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(p: InputPartition)
            : PartitionReader[InternalRow] =
          new PartitionReader[InternalRow] {
            private val it =
              p.asInstanceOf[GdxMetadataRows].rows.iterator
            override def next(): Boolean = it.hasNext
            override def get(): InternalRow = InternalRow.fromSeq(
              it.next().map {
                case s: String => UTF8String.fromString(s)
                case other => other
              })
            override def close(): Unit = ()
          }
      }
  }
}

/** Pre-computed metadata rows (Strings still JVM strings — the reader
  * converts at emit time so the partition stays trivially
  * serializable). */
case class GdxMetadataRows(rows: Seq[Seq[Any]])
    extends org.apache.spark.sql.connector.read.InputPartition

object GdxMetadataTable {
  val Kinds: Set[String] =
    Set("files", "history", "partitions", "tags", "branches")

  def schemaOf(kind: String): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType),
      StructField("min_k", LongType),
      StructField("max_k", LongType),
      StructField("dv", StringType),
      StructField("part_key", LongType)))
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("is_delta", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType)))
    case "partitions" => StructType(Seq(
      StructField("part_key", LongType),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType),
      StructField("min_k", LongType),
      StructField("max_k", LongType)))
    case "tags" => StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    case "branches" => StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("base_version", LongType, nullable = false)))
    case other => throw new IllegalArgumentException(
      s"gdx: unknown metadata table $other")
  }

  def compute(dir: String, kind: String): Seq[Seq[Any]] = {
    val conf = GdxSource.driverConf()
    val spec = GdxSource.committedPartSpec(dir, conf)
    def keyOf(name: String): Any = spec.flatMap(sp =>
      GdxSource.partKeyOf(sp.render, name).flatten).orNull
    kind match {
      case "files" =>
        GdxSource.committedEntries(dir, conf).map { e =>
          Seq(e.name,
            e.stats.map(s => Long.box(s.rows)).orNull,
            e.stats.filter(_.rows > 0).map(s => Long.box(s.minK)).orNull,
            e.stats.filter(_.rows > 0).map(s => Long.box(s.maxK)).orNull,
            e.dv.orNull,
            keyOf(e.name))
        }
      case "history" =>
        GdxSource.listVersions(dir, conf).sorted.map { v =>
          val es = GdxSource.committedEntries(dir, conf, v)
          Seq(Long.box(v.toLong),
            Long.box(if (GdxSource.isDeltaVersion(dir, conf, v)) 1L else 0L),
            Long.box(es.size.toLong),
            if (es.forall(_.stats.isDefined))
              Long.box(es.flatMap(_.stats).map(_.rows).sum)
            else null)
        }
      case "partitions" =>
        GdxSource.committedEntries(dir, conf)
          .groupBy(e => keyOf(e.name)).toSeq.map { case (key, es) =>
            val stats = es.flatMap(_.stats)
            val live = stats.filter(_.rows > 0)
            Seq(key,
              Long.box(es.size.toLong),
              if (stats.size == es.size)
                Long.box(stats.map(_.rows).sum) else null,
              if (live.nonEmpty) Long.box(live.map(_.minK).min) else null,
              if (live.nonEmpty) Long.box(live.map(_.maxK).max) else null)
          }
      case "tags" =>
        GdxSource.listTags(dir, conf).toSeq.sortBy(_._1).map {
          case (n, v) => Seq(n, Long.box(v.toLong))
        }
      case "branches" =>
        GdxSource.listBranches(dir, conf).toSeq.sortBy(_._1).map {
          case (n, v) => Seq(n, Long.box(v.toLong))
        }
      case other => throw new IllegalArgumentException(
        s"gdx: unknown metadata table $other")
    }
  }
}

/** The `bucket` partition-transform function, V2-catalog edition. Its
  * binding contract follows Spark's transform-argument convention:
  * inputs are (numBuckets INT, key BIGINT) — the same order the
  * BucketTransform's `arguments` carry them. */
object GdxBucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(0).dataType == IntegerType &&
      inputType.fields(1).dataType == LongType,
      s"gdx bucket: expected (INT numBuckets, BIGINT key), got " +
        inputType.simpleString)
    GdxBucketBound
  }
  override def description(): String =
    "bucket(numBuckets, col): stable bucket id of a BIGINT key - the " +
      "partition transform behind gdx bucket layouts"
}

/** Bound form: MUST compute exactly [[GdxSource.bucketId]] — the
  * write-side demux, file pruning, reported partition values, and this
  * function are four views of one layout, and one-side-shuffle SPJ
  * re-hashes rows through THIS method to join against stored files. */
object GdxBucketBound extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] =
    Array(IntegerType, LongType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "gdx.bucket"
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): Integer =
    Int.box(GdxSource.bucketId(input.getInt(0), input.getLong(1)))
}
