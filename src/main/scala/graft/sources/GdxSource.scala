package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => rstreaming}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.{streaming => wstreaming}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** DataSourceV2 digest-index store ("GDX") — the connector tier the
  * engine's dedup/index workflows want AND the two DSv2 capabilities the
  * NbuRawSource doesn't exercise:
  *
  *  - **Transactional writes** (`SupportsWrite`): tasks write
  *    `part-*.tmp` files; only the driver-side `BatchWrite.commit`
  *    publishes them, by writing a `_manifest` that LISTS the committed
  *    files. Readers plan exclusively from the manifest, so a crashed or
  *    aborted job (stray tmp files, half-written data) is invisible —
  *    the object-store-safe commit pattern (the commit point is ONE
  *    manifest PUT; correctness never depends on rename atomicity,
  *    which S3-style stores don't provide).
  *  - **Filter pushdown** (`SupportsPushDownFilters`): k-range and
  *    k/v-equality predicates are evaluated INSIDE the partition reader
  *    (rows never materialize), and remain in `pushedFilters` so the
  *    plan shows them; unsupported predicates stay post-scan.
  *  - **Snapshot isolation + time travel**: every commit writes a NEW
  *    numbered manifest (`_manifest-00000001`, …); data file names embed
  *    the version, so no commit ever touches a file an older manifest
  *    references. Readers resolve the highest version at PLANNING time
  *    and see exactly one consistent snapshot regardless of concurrent
  *    commits; `option("version", n)` pins any retained snapshot (the
  *    Delta/Iceberg read pattern, reduced to its manifest essentials).
  *    `mode("append")` unions with the previous snapshot,
  *    `mode("overwrite")` starts the new snapshot empty; neither
  *    rewrites history. [[GdxSource.vacuum]] drops old manifests and
  *    any data file no retained manifest references.
  *  - **Optimistic concurrency** (multi-writer): the version number is
  *    a CLAIM — the manifest publishes atomically with no-replace
  *    semantics (hard-link create on local FS, FileContext
  *    Rename.NONE on HDFS; a true object store substitutes a
  *    conditional PUT), and a writer that loses the race recomputes
  *    the next version and retries. Appends are commutative so no
  *    conflict check is needed: concurrent appends land as consecutive
  *    snapshots, none lost (asserted by ConcurrencySpec). Within one
  *    JVM a per-table commit lock removes the race entirely.
  *  - **Delta manifests + periodic checkpoints**: an append commit's
  *    manifest records ONLY the files that commit added (a `#delta`
  *    header line, then the added entries); readers reconstruct a
  *    snapshot by walking back to the nearest FULL manifest and
  *    replaying the deltas forward. Truncate commits, version 1, and
  *    every [[GdxSource.CheckpointInterval]]-th version write a full
  *    (checkpoint) manifest, bounding every reconstruction to at most
  *    `CheckpointInterval` manifest reads. This is what keeps the log
  *    linear: with full-list-per-commit manifests, retained metadata
  *    grows O(commits²) in files (the r7 SlopeLab measurement: 5.6 KB /
  *    116 KB / 456 KB ≈ N² at 10/50/100 commits), while delta logs keep
  *    commit cost O(files added) and retained bytes O(total files) —
  *    the same reason Delta has `_last_checkpoint` and Iceberg has
  *    manifest lists. [[GdxSource.vacuum]] materializes the oldest
  *    retained version as a full manifest before dropping the older
  *    chain it depended on, so retention never strands a delta.
  *
  *  - **Zone-map file skipping**: each commit publishes per-file
  *    statistics (row count, min/max of `k`) IN the manifest line;
  *    `planInputPartitions` drops every file whose range provably
  *    misses the pushed k-predicates, so a selective read plans a
  *    slice of the snapshot instead of all of it (the data-skipping
  *    half of the Iceberg/Delta manifest design — at 100 TB this is
  *    the difference between a full-table scan and touching the few
  *    files a key range lives in). Appends carry prior files' stats
  *    forward untouched; legacy stats-less manifest lines are simply
  *    never skipped.
  *  - **Metadata-only aggregates**: ungrouped COUNT(*)/MIN(k)/MAX(k)
  *    with no row-filtering predicate are answered COMPLETELY from the
  *    manifest zone maps (`supportCompletePushDown`) — the driver folds
  *    the stats at planning time and the "scan" ships one finished row,
  *    opening zero data files.
  *  - **Changefeed** (`MICRO_BATCH_READ`): manifest versions double as
  *    stream offsets — `readStream` on the same directory batch jobs
  *    commit into delivers each commit's ADDED files as a micro-batch
  *    ([[GdxMicroBatchStream]]); the table is its own changefeed, no
  *    listing diffs or notification service. `maxVersionsPerTrigger`
  *    bounds each micro-batch (admission control), and AvailableNow
  *    pins its drain target at query start.
  *  - **MERGE + row-level DELETE**: [[GdxSource.mergeGeneral]] runs
  *    every MERGE as deletion vectors on the matched rows plus new
  *    files for their images, scoped by zone maps and published as
  *    one exclusive manifest claim — a lost race re-reads and retries
  *    instead of silently erasing a concurrent commit;
  *    [[GdxSource.delete]] subtracts rows
  *    via `.dvx` deletion-vector sidecars — no data file rewritten,
  *    [[GdxSource.compact]] purges DVs, [[GdxSource.vacuum]] reaps
  *    superseded sidecars, metadata-only aggregates stand down while a
  *    DV is present.
  *  - **Schema evolution** (append-only): the snapshot schema lives in
  *    the manifest (`#schema` header); [[GdxSource.addColumn]] is one
  *    metadata-only commit, readers null-fill pre-evolution files, and
  *    the classic `(k, v)` prefix keeps zone maps/pushdown/metadata
  *    aggregates valid across every evolution.
  *  - **Time travel by version or timestamp**: `option("version", n)`
  *    pins a snapshot; `option("asOf", ts)` resolves the latest
  *    version published at or before the timestamp (commit time =
  *    manifest mtime). A pinned snapshot reads with its OWN schema.
  *  - **Audit + branching surface**: [[GdxSource.history]] (DESCRIBE
  *    HISTORY from metadata alone), [[GdxSource.restoreSnapshot]]
  *    (rollback as a new time-travelable commit),
  *    [[GdxSource.cloneShallow]] (zero-copy dev branches via
  *    absolute-path manifests), and [[GdxSource.tableChanges]]
  *    (row-level CDF between versions, derived from manifests and
  *    deletion vectors — updates surface as delete/insert pairs).
  *  - **Planner integration**: post-pruning statistics
  *    (`SupportsReportStatistics` — small GDX dimensions broadcast)
  *    and runtime filtering (`SupportsRuntimeFiltering` on `k` — a
  *    join's build-side key set prunes fact files dynamically, the
  *    DSv2 DPP hook).
  *
  * All I/O goes through the Hadoop `FileSystem` resolved from the path
  * (the TableSwap discipline), so the same connector runs on
  * file://, hdfs://, and object stores; executor-side tasks carry the
  * driver's Hadoop configuration via [[SerializableHadoopConf]].
  *
  * Schema starts as (k BIGINT, v STRING) — a digest index (doc_id,
  * digest) or any key-value landing — and may evolve by appending
  * long/string/double columns. Encoding is tab-separated lines (`\N`
  * for NULL); the point here is the PROTOCOL (manifest commit,
  * pushdown), not the byte format. One input partition per committed
  * file.
  *
  * Usage:
  *   df.write.format("graft.sources.GdxSource").option("path", dir)
  *     .mode("append").save()   // commit publishes the manifest
  *   spark.read.format("graft.sources.GdxSource").option("path", dir)
  *     .load().filter(...)
  */
class GdxSource extends TableProvider {
  // accept a user-declared schema (CREATE TABLE ... USING ... — the SQL
  // front door); writes/reads still validate against the manifest
  override def supportsExternalMetadata(): Boolean = true
  // `option("branch", name)` addresses a branch's own table directory
  // for BOTH reads and writes — the write-audit half of WAP
  private def effectivePath(path: String, branch: String): String =
    if (path == null || branch == null) path
    else GdxSource.resolveBranchDir(path, branch)
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = effectivePath(options.get("path"), options.get("branch"))
    if (path == null) GdxSource.schema
    else GdxSource.committedSchema(path, GdxSource.driverConf(),
      GdxSource.resolveVersion(options, path))
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GdxTable(
      effectivePath(properties.get("path"), properties.get("branch")),
      schema, GdxSource.partSpecOfTransforms(partitioning))
}

/** Hadoop Configuration is not Serializable; ship it to executors via
  * its own wire format (the standard Spark-internal trick, re-done here
  * in public API only).
  *
  * The wire form is computed once per Configuration INSTANCE and
  * reused: `Configuration.write` walks and encodes every property
  * (~34 KB / ~2 ms for a session conf), and a lifecycle query's dozens
  * of stages each re-serialized the same immutable session conf —
  * driver stack samples showed the Deflater inside it as a recurring
  * hot frame. The cache is weak-keyed (a conf lives as long as its
  * session) and guarded by the property count, so a caller that ADDS
  * keys after first use (the spec pattern) gets a fresh encoding;
  * in-place overwrites of an existing key between serializations of
  * the same conf object are not supported — snapshot semantics, the
  * same contract construction-time capture would give. */
class SerializableHadoopConf(@transient var conf: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val (token, bytes) = SerializableHadoopConf.wireForm(conf)
    out.writeUTF(SerializableHadoopConf.jvmId)
    out.writeLong(token)
    out.writeInt(bytes.length)
    out.write(bytes)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    val srcJvm = in.readUTF()
    val token = in.readLong()
    val n = in.readInt()
    // same-JVM shortcut (local mode / driver-side replans): the live
    // conf object is still registered — skip the 34 KB inflate+parse
    // and SHARE it, exactly as Spark's own broadcast Hadoop conf is
    // shared read-only across an executor's tasks. Cross-JVM readers
    // (a real cluster) take the wire bytes.
    val local =
      if (srcJvm == SerializableHadoopConf.jvmId)
        SerializableHadoopConf.localConf(token)
      else null
    if (local != null) {
      var skipped = 0
      while (skipped < n) {
        val s = in.skipBytes(n - skipped)
        if (s <= 0) throw new java.io.EOFException(
          "gdx conf wire form truncated")
        skipped += s
      }
      conf = local
    } else {
      val bytes = new Array[Byte](n)
      in.readFully(bytes)
      conf = new Configuration(false)
      conf.readFields(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes)))
    }
  }
}

object SerializableHadoopConf {
  private[graft] val jvmId = java.util.UUID.randomUUID().toString
  private val nextToken = new java.util.concurrent.atomic.AtomicLong()
  // token -> conf for the same-JVM shortcut; weak VALUES so the
  // registry never pins a session's conf after the session is gone
  // (tokens of collected confs simply miss and fall back to bytes)
  private val live = new java.util.concurrent.ConcurrentHashMap[
    java.lang.Long, java.lang.ref.WeakReference[Configuration]]()
  private[graft] def localConf(token: Long): Configuration = {
    val ref = live.get(Long.box(token))
    if (ref == null) null else ref.get()
  }
  private val wireCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Configuration, (Long, Int, Array[Byte])]())

  private[graft] def wireForm(conf: Configuration): (Long, Array[Byte]) = {
    val sz = conf.size()
    val hit = wireCache.get(conf)
    if (hit != null && hit._2 == sz) (hit._1, hit._3)
    else {
      val bos = new java.io.ByteArrayOutputStream(64 * 1024)
      val dos = new java.io.DataOutputStream(bos)
      conf.write(dos)
      dos.flush()
      val bytes = bos.toByteArray
      val token = nextToken.incrementAndGet()
      live.put(Long.box(token),
        new java.lang.ref.WeakReference(conf))
      wireCache.put(conf, (token, sz, bytes))
      (token, bytes)
    }
  }
}

/** A CAS commit (`expectedBaseVersion`) found the snapshot advanced
  * past the version the writer computed against — the write-write
  * conflict signal for non-commutative commits (MERGE/DELETE). The
  * caller re-reads the current snapshot and retries its computation. */
class GdxConcurrentModificationException(msg: String)
    extends RuntimeException(msg)

/** A row offered to a GDX write failed a table CHECK constraint: the
  * write job aborts (tmp files cleaned), no commit is published, and
  * the table is untouched — the Delta constraint-enforcement
  * contract. */
class GdxConstraintViolationException(msg: String)
    extends RuntimeException(msg)

/** A general MERGE found a target row matched by MORE THAN ONE source
  * row while UPDATE/DELETE clauses exist — applying one arbitrary
  * winner would be nondeterministic, so the statement aborts with
  * nothing committed (the ANSI/Delta ambiguous-merge error). */
class GdxMergeCardinalityException(msg: String)
    extends RuntimeException(msg)

/** A version resolved to a multi-table transaction's PREPARED claim
  * whose decision file does not exist yet: the snapshot is undecided.
  * Latest-resolution skips such versions; an explicit pin is loud; a
  * writer blocked on the claim aborts it through `decisionFile`
  * (first PUT wins against the transaction's own commit). */
class GdxTxnUndecidedException(msg: String, val decisionFile: String)
    extends RuntimeException(msg)

/** One clause of a general MERGE ([[GdxSource.mergeGeneral]]):
  * `condSql` is the clause's extra condition (None = unconditional)
  * and `assigns` its column assignments — `Some((col, valueSql)*)` for
  * UPDATE/INSERT (INSERT leaves unlisted columns NULL), `None` for
  * DELETE. All SQL references the merged frame's `__t_<col>` /
  * `__s_<col>` names (sidedness made explicit by name). */
case class GdxMergeClause(condSql: Option[String],
                          assigns: Option[Seq[(String, String)]])

/** Per-file zone map published in the manifest: row count + min/max of
  * `k`, plus OPTIONAL min/max per additional numeric column (`cols`,
  * keyed by column name; values kept as the writer's decimal strings
  * and interpreted against the snapshot schema at planning time —
  * exact for longs, round-trip for doubles). NULLs are excluded from a
  * column's range and an all-NULL (or absent) column publishes no
  * entry — absence always means "cannot prune", never "empty".
  * `rows == 0` files carry an empty k-range (minK > maxK) and are
  * prunable by ANY k-predicate. Legacy manifest lines (file name only)
  * parse to `stats = None` — never pruned. */
case class GdxFileStats(rows: Long, minK: Long, maxK: Long,
                        cols: Map[String, (String, String)] = Map.empty,
                        sums: Map[String, (Long, Long)] = Map.empty,
                        bytes: Option[Long] = None)

/** One committed data file: name, optional zone map, and an optional
  * DELETION VECTOR sidecar (`dv`) — a `.dvx` file listing this data
  * file's deleted line positions. A [[GdxSource.delete]] commit
  * publishes DV references instead of rewriting data files (the
  * Delta deletion-vector / Iceberg position-delete pattern): at 100 TB
  * a sparse delete touches kilobytes of sidecar, not terabytes of
  * data. Readers subtract the DV positions at scan time; `rows` stays
  * the PHYSICAL line count (metadata-only aggregates disable when any
  * DV is present), and the zone map stays a conservative bound. */
/** Per-file BLOOM FILTER over `k` — the point-lookup complement to
  * zone maps (the Delta bloom-filter-index / Parquet bloom pattern):
  * range stats prune RANGE predicates, but a table whose files each
  * span the full key domain (round-robin layout, streaming accretion)
  * keeps every file for `k = x` / `k IN (…)` — exactly the shape a
  * runtime-DPP join delivers. Each data file writes a fixed 64 KiB
  * sidecar (`<file>.bfx`, 2¹⁹ bits, 5 probes — ~1.6% false positives
  * at 60k keys/file; production sizes by expected keys per file, the
  * Delta `fpp` option); planning tests candidate keys against the
  * sidecar and drops files that provably hold none. Absence of a
  * sidecar (legacy files, failed write) means "cannot prune" — and a
  * false positive only plans an extra file; pushed k-predicates are
  * re-evaluated row-level in the readers, so answers never depend on
  * the bloom. Sidecars are immutable and version-named like their data
  * files, so the driver-side cache needs no invalidation. */
private[graft] object GdxBloom {
  val Bits = 1 << 19
  val Hashes = 5
  val Suffix = ".bfx"

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def set(bits: Array[Byte], k: Long): Unit = {
    val h1 = mix(k); val h2 = mix(h1) | 1L
    var i = 0
    while (i < Hashes) {
      val b = ((h1 + i * h2) & (Bits - 1)).toInt
      bits(b >>> 3) = (bits(b >>> 3) | (1 << (b & 7))).toByte
      i += 1
    }
  }

  def mightContain(bits: Array[Byte], k: Long): Boolean = {
    val h1 = mix(k); val h2 = mix(h1) | 1L
    var i = 0
    while (i < Hashes) {
      val b = ((h1 + i * h2) & (Bits - 1)).toInt
      if ((bits(b >>> 3) & (1 << (b & 7))) == 0) return false
      i += 1
    }
    true
  }

  // sidecars are immutable (version-unique names): a loaded bloom — or
  // a confirmed absence — stays valid forever; LRU-capped
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Option[Array[Byte]]](
      256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[Array[Byte]]]): Boolean =
        size() > 1024
    })

  def load(fs: FileSystem, sidecar: Path): Option[Array[Byte]] = {
    val key = sidecar.toString
    val hit = cache.get(key)
    if (hit != null) return hit
    val loaded =
      try {
        if (!fs.exists(sidecar)) None
        else {
          val in = fs.open(sidecar)
          try {
            val buf = new Array[Byte](Bits / 8)
            var off = 0
            var n = 0
            while (off < buf.length && n >= 0) {
              n = in.read(buf, off, buf.length - off)
              if (n > 0) off += n
            }
            if (off == buf.length) Some(buf) else None
          } finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    cache.put(key, loaded)
    loaded
  }
}

case class GdxFileEntry(name: String, stats: Option[GdxFileStats],
                        dv: Option[String] = None,
                        gen: Option[String] = None,
                        enc: Option[String] = None) {
  /** Whether this file's string cells are escape-encoded
    * ([[GdxSource.escapeCell]]) — the per-FILE codec era. Files
    * written before the escape layer carry no `e:` overlay and decode
    * raw (their vocabulary never allowed the escapable characters), so
    * a table freely mixes eras file-by-file; every rewrite re-encodes
    * under the current era. */
  def escaped: Boolean = enc.contains(GdxSource.EscCodec)
  /** Manifest line: `name` | `name\trows\tmin\tmax` |
    * `name\trows\tmin\tmax\tdv` (`-` placeholders when a DV attaches
    * to a legacy stats-less entry). Extended per-column stats, when
    * present, append ONE trailing `x:c=min..max;…` field — the `x:`
    * prefix disambiguates it from a DV name in every arity, and
    * readers that predate the field simply never prune on it.
    * Per-column SUM aggregates (`s:c=<sum>,<nonNullCount>;…` — LONG
    * columns, overflow-checked at write time) trail the same way:
    * their PRESENCE proves the writing era recorded them, which is
    * what lets metadata-only SUM/COUNT(col)/MIN/MAX(col) distinguish
    * an all-NULL column (entry with count 0) from a legacy file
    * (no entry → fall back to a classic plan). */
  def manifestLine: String = {
    val ext = stats.filter(_.cols.nonEmpty).map(s =>
      "\tx:" + s.cols.toSeq.sortBy(_._1).map {
        case (c, (mn, mx)) => s"$c=$mn..$mx"
      }.mkString(";")).getOrElse("")
    val sums = stats.filter(_.sums.nonEmpty).map(s =>
      "\ts:" + s.sums.toSeq.sortBy(_._1).map {
        case (c, (sum, nn)) => s"$c=$sum,$nn"
      }.mkString(";")).getOrElse("")
    // file SIZE rides the manifest the same way (`b:<bytes>`): size-
    // consuming planners (estimateStatistics, DESCRIBE DETAIL,
    // bin-pack sizing) stop issuing O(files) driver-side stat RPCs —
    // at 100 TB on an object store that is the difference between a
    // metadata-only plan and a LIST storm. Absence falls back to a
    // live stat, so legacy entries keep working.
    val size = stats.flatMap(_.bytes).map(b => s"\tb:$b").getOrElse("")
    // recluster GENERATION (`g:<tag>`): files produced by ONE
    // lexicographic rewrite are pairwise lex-disjoint BY CONSTRUCTION
    // (one range partitioner, equal tuples land in one partition) —
    // per-column min/max boxes are too loose to prove that at head-
    // value straddles, so the proof rides as provenance and the
    // overlap closure exempts same-generation clusters. Absence (every
    // non-recluster write) just means "prove it from the boxes".
    val g = gen.map(t => s"\tg:$t").getOrElse("")
    // codec ERA (`e:<v>`): proves this file's string cells are
    // escape-encoded ([[GdxSource.escapeCell]]). Absence = the legacy
    // raw vocabulary (no escapable characters could be written), so
    // readers that predate the overlay only ever meet files they can
    // decode, and new readers decode each file under its own era.
    val e = enc.map(t => s"\te:$t").getOrElse("")
    ((stats, dv) match {
      case (Some(s), Some(d)) => s"$name\t${s.rows}\t${s.minK}\t${s.maxK}\t$d"
      case (Some(s), None)    => s"$name\t${s.rows}\t${s.minK}\t${s.maxK}"
      case (None, Some(d))    => s"$name\t-\t-\t-\t$d"
      case (None, None)       => name
    }) + ext + sums + size + g + e
  }
}

object GdxSource {
  val schema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  /** SCHEMA EVOLUTION (append-only): a table's current schema lives in
    * its manifest (`#schema k:long,v:string,...`) — [[addColumn]]
    * commits an evolved schema as a new snapshot, readers null-fill
    * files written before the evolution (their lines simply have fewer
    * fields), and writes are validated against the manifest schema by
    * Spark's analysis. The classic `(k BIGINT, v STRING)` core is
    * always the prefix, so zone maps, k/v pushdown, and metadata-only
    * aggregates stay valid across every evolution. Manifests without a
    * schema line (pre-evolution directories) read as the classic
    * schema — full back-compat. */
  /** Manifest type vocabulary. Beyond the classic {long, string,
    * double}, the format stores DATE (as its epoch-day ordinal),
    * TIMESTAMP (epoch-micros — Catalyst's own internal form, so the
    * DSv2 reader materializes it without conversion), BOOLEAN
    * (true/false), and exact DECIMAL(p,s) (plain, non-scientific
    * text — the only new type whose stats compare as big decimals
    * rather than longs). Every cell encoding is ORDER-PRESERVING in
    * its numeric form, which is what lets zone maps, partition
    * transforms, and metadata aggregates treat typed columns exactly
    * like longs. */
  private[graft] def typeNameOf(dt: DataType): String = dt match {
    case LongType       => "long"
    case StringType     => "string"
    case DoubleType     => "double"
    case DateType       => "date"
    case TimestampType  => "timestamp"
    case BooleanType    => "boolean"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    // VARIANT — the semi-structured escape hatch for shapes the typed
    // matrix doesn't declare (arbitrary-depth traces, ragged metadata;
    // the role SQL:2023 JSON / Parquet VARIANT plays). Cells store the
    // value's canonical JSON rendering, escape-encoded like any string
    // ([[escapeCell]] — arbitrary content is inert to the splitters),
    // and decode through Spark's own parser back to a VariantVal, so
    // `variant_get`/`try_variant_get` work directly over the scan.
    // Fidelity contract is the JSON type system: a variant built by
    // parse_json round-trips exactly (the builder is deterministic);
    // one CAST from a native type normalizes through its JSON
    // rendering (timestamps → strings), the same contract to_json has.
    // Equal stored values always render equal cell bytes — the
    // canonical-bytes property restatements rely on. JSON `null` is a
    // variant-null VALUE; SQL NULL keeps the \N marker — distinct and
    // both representable. Platform note: Spark's variant library
    // decodes strings with the DEFAULT charset (charset-less
    // `new String(bytes, pos, len)` in variant.VariantUtil), so a
    // C-locale Java 17 JVM mangles non-ASCII variant content in ANY
    // storage format — every launcher this repo owns pins
    // -Dfile.encoding=UTF-8 (build.sbt, tools/*.sh); Java 18+
    // defaults to it (JEP 400).
    case org.apache.spark.sql.types.VariantType => "variant"
    // numeric ARRAYS — the embedding / token-id column shapes: cells
    // encode as comma-joined element text ("" = the empty array);
    // NULL elements are refused at write time (the encoding has no
    // element-null marker, and an embedding or token list never
    // carries one). containsNull is deliberately NOT part of the
    // name: both flags read back as the permissive form.
    case ArrayType(FloatType, _)  => "array<float>"
    case ArrayType(DoubleType, _) => "array<double>"
    case ArrayType(LongType, _)   => "array<bigint>"
    // STRUCT-ELEMENT ARRAYS — the conversation/SFT-record shape
    // (`messages: array<struct<role:string,content:string>>`): the
    // element type recurses through the struct vocabulary below;
    // cells encode as comma-joined parenthesized element cells
    // (`(u,hi),(a,yo)`, "" = the empty array) — the parens make the
    // element boundary unambiguous (struct leaf strings can never
    // carry , ( ) ), so trailing-field evolution inside the element
    // struct null-fills old elements exactly like top-level structs.
    // NULL elements are refused at write time (a turn list has no
    // holes; the encoding keeps no element-null marker).
    case ArrayType(st: StructType, _) => "array<" + typeNameOf(st) + ">"
    // string-to-string MAPS — the document-metadata column shape:
    // cells encode as comma-joined `key=value` entries SORTED BY KEY
    // (one canonical text per map value, so equal maps are equal
    // bytes), "" = the empty map, NULL cells via the normal marker.
    // Keys must not contain ',' or '='; values must not contain ','
    // (the first '=' splits, so values may carry '='); NULL keys or
    // values are refused loudly — the encoding has no entry-null
    // marker and metadata never carries one. valueContainsNull is
    // not part of the name: both flags read back permissive.
    case org.apache.spark.sql.types.MapType(StringType, StringType, _) =>
      "map<string,string>"
    // STRUCT-VALUED MAPS — the named-annotation shape
    // (`scores: map<string,struct<v:double,n:long>>`): entries encode
    // as `key=(sub,sub),key=(...)` SORTED BY KEY — the value's parens
    // make the entry boundary depth-trackable (struct leaf strings
    // can never carry , ( ) ), keys keep the string-map vocabulary
    // (no ','/'='), and the value struct follows the positional
    // struct codec including trailing-field evolution.
    case org.apache.spark.sql.types.MapType(StringType,
        st: StructType, _) =>
      "map<string," + typeNameOf(st) + ">"
    // nested STRUCTS — the training-record metadata shape
    // (`{source: {url, domain}, scores: {...}}`): the type name nests
    // recursively (`struct<a:long,b:struct<c:string>>`); cells encode
    // as `(sub,sub,...)` — parenthesized so a NULL sub-field (`\N`)
    // never collides with a NULL cell, positional like the top-level
    // line so ADD-a-trailing-field evolution null-fills old cells for
    // free. Sub-fields may be scalars, nested structs, or COLLECTIONS
    // (arrays/maps — the tool-call-trace shape `messages:
    // array<struct<role, content, tool_calls: array<struct<...>>>>`):
    // a collection sub-cell wraps its ordinary top-level text in ONE
    // extra paren pair, which keeps the parent's comma-depth tracker
    // exact at any nesting depth (string leaves escape their own
    // parens, so depth never lies). nullable flags are deliberately
    // NOT part of the name: everything reads back permissive.
    case st: StructType =>
      require(st.fields.nonEmpty, "gdx: empty STRUCT is not supported")
      "struct<" + st.fields.map { sf =>
        require(sf.name.nonEmpty && !sf.name.exists(ch =>
            ch == ':' || ch == ',' || ch == '<' || ch == '>' ||
            ch == '(' || ch == ')' || ch == '=' || ch == '.' ||
            ch == '^' || ch == '\t' || ch == '\n' || ch == '\r'),
          s"gdx: illegal struct field name '${sf.name}' " +
            "(':,<>()=.^' and whitespace delimit the schema encoding)")
        s"${sf.name}:${typeNameOf(sf.dataType)}"
      }.mkString(",") + ">"
    case other => throw new IllegalArgumentException(
      s"gdx: unsupported column type $other")
  }
  private val DecimalNameRe = """decimal\((\d+),(\d+)\)""".r
  private[graft] def namedType(t: String): DataType = t match {
    case "long"      => LongType
    case "string"    => StringType
    case "double"    => DoubleType
    case "date"      => DateType
    case "timestamp" => TimestampType
    case "boolean"   => BooleanType
    case "variant"   => org.apache.spark.sql.types.VariantType
    case "array<float>"  => ArrayType(FloatType)
    case "array<double>" => ArrayType(DoubleType)
    case "array<bigint>" => ArrayType(LongType)
    case "map<string,string>" =>
      org.apache.spark.sql.types.MapType(StringType, StringType)
    case _ if t.startsWith("map<string,struct<") && t.endsWith(">") =>
      org.apache.spark.sql.types.MapType(StringType,
        namedType(t.substring("map<string,".length, t.length - 1)))
    case DecimalNameRe(p, s) => org.apache.spark.sql.types
      .DecimalType(p.toInt, s.toInt)
    case _ if t.startsWith("array<struct<") && t.endsWith(">") =>
      ArrayType(namedType(t.substring("array<".length, t.length - 1)))
    case _ if t.startsWith("struct<") && t.endsWith(">") =>
      StructType(splitTypeFields(
        t.substring("struct<".length, t.length - 1)).map { fld =>
        val j = fld.indexOf(':')
        require(j > 0, s"gdx: unparseable struct field '$fld'")
        StructField(fld.substring(0, j), namedType(fld.substring(j + 1)))
      })
    case _ => throw new IllegalArgumentException(s"gdx: unknown type $t")
  }

  /** Split a struct type name's field list on TOP-LEVEL commas only
    * (`decimal(12,2)` and nested `struct<...>` carry their own). */
  private def splitTypeFields(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' | '<'         => depth += 1
        case ')' | '>'         => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i)
                                  start = i + 1
        case _                 => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.result()
  }

  // ------------------------------------- column DEFAULTs (era fill)
  /** A column's INITIAL DEFAULT (the Iceberg initial-default /
    * Spark EXISTS_DEFAULT contract): declared by ADD COLUMN ... DEFAULT,
    * stored IN the schema line as a `=<cellText>` field suffix (the
    * canonical manifest cell encoding), so it rides every commit path
    * that carries the schema — DML, OPTIMIZE, clone, branch publish,
    * txn stage, RESTORE — and is ERA-CORRECT under time travel for
    * free. Rows in files written BEFORE the column existed (fewer
    * physical slots) read the default; an explicit `\N` written after
    * stays NULL. [[parseSchemaSpec]] also surfaces the default through
    * Spark's own CURRENT_DEFAULT/EXISTS_DEFAULT field metadata, so the
    * analyzer fills it for INSERTs that omit the column. */
  private[graft] val DefaultCellKey = "gdx.default"

  /** The stored default cell text of a field, if declared. */
  private[graft] def defaultCellOf(f: StructField): Option[String] =
    if (f.metadata.contains(DefaultCellKey))
      Some(f.metadata.getString(DefaultCellKey))
    else None

  // --------------------------------------------------- variant shredding
  // A SHREDDED column is a real, stored, stats-bearing column whose
  // value is GENERATED AT WRITE from a top-level key of a sibling
  // VARIANT column (`try_variant_get(v, '$.key', type)` semantics —
  // NULL when the key is absent or uncastable). It is the Parquet
  // variant-shredding idea re-expressed for this format: the typed
  // leaf rides every existing lane (cells, zone maps incl. the
  // truncated string bounds, pruning, SPJ) with ZERO new read-side
  // machinery, and [[graft.plans.GdxShredRewrite]] rewrites
  // variant_get calls over the table onto it, so a `variant_get(v,
  // '$.lang', 'string') = 'uk'` predicate PLANS like a plain column
  // filter — a corpus slice by a semi-structured field reads
  // proportionally to the slice at 100 TB. Writers OVERWRITE any
  // user-supplied value (generated-always), so the shadow can never
  // drift from its source.
  private[graft] val ShredOfKey  = "gdxShredOf"
  private[graft] val ShredKeyKey = "gdxShredKey"

  /** (source variant column, top-level key) of a shredded field. */
  private[graft] def shredOf(f: StructField): Option[(String, String)] =
    if (f.metadata.contains(ShredOfKey))
      Some((f.metadata.getString(ShredOfKey),
        f.metadata.getString(ShredKeyKey)))
    else None

  /** Declare `f` as shredded from `of`'s top-level `key`. v1 scope:
    * string/long/double targets and a single top-level object key —
    * the lang/source/quality slice shapes; deeper paths stay behind
    * variant_get. The field also gets NULL CURRENT/EXISTS defaults so
    * INSERTs may omit it (the analyzer fills NULL, the writer
    * overwrites with the derived value). */
  private[graft] def withShred(f: StructField, of: String,
                               key: String): StructField = {
    require(f.dataType == StringType || f.dataType == LongType ||
        f.dataType == DoubleType,
      s"gdx: shredded column ${f.name} must be string, long or " +
        s"double (got ${f.dataType.catalogString})")
    require(key.nonEmpty && key.forall(c => c.isLetterOrDigit || c == '_'),
      s"gdx: shred key '$key' must be a simple top-level object key " +
        "([A-Za-z0-9_]+)")
    require(of.nonEmpty && !of.exists(c => c == '^' || c == '.' ||
        c == ':' || c == ',' || c == '=' || c == '\t' || c == '\n'),
      s"gdx: illegal shred source column name '$of'")
    require(!f.metadata.contains(DefaultCellKey),
      s"gdx: shredded column ${f.name} is generated - DEFAULT is " +
        "meaningless on it")
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putString(ShredOfKey, of)
      .putString(ShredKeyKey, key)
      .putString("CURRENT_DEFAULT", "NULL")
      .putString("EXISTS_DEFAULT", "NULL")
      .build())
  }

  /** Overlay the TABLE's shred annotations onto a write schema: Spark
    * hands the write builder the input FRAME's schema, which carries
    * no field metadata — without the overlay a path-based append
    * would silently skip the generated-always derive. */
  private[graft] def overlayShreds(write: StructType,
                                   table: StructType): StructType =
    if (!table.fields.exists(f => shredOf(f).isDefined)) write
    else StructType(write.fields.map { f =>
      table.fields.find(_.name.equalsIgnoreCase(f.name))
        .flatMap(shredOf) match {
        case Some((of, key)) if !f.metadata.contains(ShredOfKey) =>
          withShred(f, of, key)
        case _ => f
      }
    })

  /** Re-derive every shredded column of `schema` present in `rows`
    * from its variant source (generated-always: user-supplied values
    * are overwritten, so the shadow can never drift). A no-op on
    * schemas with no shredded fields. */
  private[graft] def deriveShreds(rows: org.apache.spark.sql.DataFrame,
      schema: StructType): org.apache.spark.sql.DataFrame = {
    val shreds = schema.fields.filter(f => shredOf(f).isDefined)
    if (shreds.isEmpty) rows
    else shreds.foldLeft(rows) { (df, f) =>
      if (!df.columns.exists(_.equalsIgnoreCase(f.name))) df
      else {
        val (of, key) = shredOf(f).get
        df.withColumn(f.name, org.apache.spark.sql.functions
          .try_variant_get(org.apache.spark.sql.functions.col(of),
            "$." + key, f.dataType.sql))
      }
    }
  }

  /** Attach a validated default to a field: the text must be a
    * parseable cell of the field's type and must stay out of the
    * schema-line vocabulary (no tab/newline/',' — the field separator
    * — and not the null marker; later '='s are fine, the FIRST one
    * after the type delimits). */
  private[graft] def withDefaultCell(f: StructField,
                                     text: String): StructField = {
    require(!text.exists(c => c == '\t' || c == '\n' || c == '\r' ||
        c == ',') && text != NullMarker && text.nonEmpty,
      s"gdx: default for ${f.name} must be non-empty and free of " +
        "tab/newline/',' (schema-line encoding)")
    require(!f.metadata.contains(ShredOfKey),
      s"gdx: shredded column ${f.name} is generated - DEFAULT is " +
        "meaningless on it")
    f.dataType match {
      case _: org.apache.spark.sql.types.MapType | ArrayType(_, _) |
           _: StructType | org.apache.spark.sql.types.VariantType =>
        throw new IllegalArgumentException(
          s"gdx: DEFAULT is not supported for ${f.dataType.catalogString}")
      case dt =>
        try parseInternalCell(dt, text) catch {
          case e: Exception => throw new IllegalArgumentException(
            s"gdx: default '$text' is not a valid " +
              s"${dt.catalogString} cell for ${f.name}", e)
        }
    }
    val sqlLit = defaultSqlLiteral(f.dataType, text)
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata)
      .putString(DefaultCellKey, text)
      // Spark's own default machinery: the analyzer fills
      // CURRENT_DEFAULT for INSERTs omitting the column; readers that
      // honor EXISTS_DEFAULT agree with the engine's own era fill
      .putString("CURRENT_DEFAULT", sqlLit)
      .putString("EXISTS_DEFAULT", sqlLit)
      .build())
  }

  /** A catalyst-INTERNAL value rendered as canonical cell text — how
    * the catalog turns `ALTER TABLE ... ADD COLUMN ... DEFAULT <lit>`
    * (a connector Literal) into the stored default. */
  private[graft] def internalCellText(dt: DataType, v: Any): String =
    dt match {
      case d: DecimalType =>
        v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString
      case _: org.apache.spark.sql.types.MapType | ArrayType(_, _) |
           _: StructType | org.apache.spark.sql.types.VariantType =>
        throw new IllegalArgumentException(
          s"gdx: no cell-text literal for ${dt.catalogString}")
      case _ => v.toString // long/double/boolean/date-int/ts-micros/utf8
    }

  /** A SQL literal equivalent to the canonical cell text — what the
    * analyzer folds when filling an INSERT's omitted column. */
  private[graft] def defaultSqlLiteral(dt: DataType, text: String)
      : String = dt match {
    case LongType       => s"${text}L"
    case DoubleType     => s"CAST($text AS DOUBLE)"
    case BooleanType    => text
    case d: DecimalType => s"CAST($text AS ${d.sql})"
    case DateType       => s"DATE'${java.time.LocalDate
      .ofEpochDay(text.toLong)}'"
    case TimestampType  =>
      s"TIMESTAMP'${org.apache.spark.sql.catalyst.util.DateTimeUtils
        .microsToInstant(text.toLong)}'"
    case _              =>
      s"'${text.replace("\\", "\\\\").replace("'", "\\'")}'"
  }

  private[graft] def schemaSpec(st: StructType): String =
    st.fields.map { f =>
      val tn = try typeNameOf(f.dataType) catch {
        case _: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"gdx: unsupported column type ${f.dataType} for ${f.name}")
      }
      require(!f.name.contains('=') && !f.name.contains('^'),
        s"gdx: illegal column name '${f.name}' ('=' delimits defaults," +
          " '^' delimits shred annotations)")
      // a shredded field rides the schema line as a `^source.key`
      // suffix on its type — the annotation is correctness-bearing
      // (the writer derives from it), so it must travel with the
      // schema through EVERY commit path, not in a sidecar
      val shred = shredOf(f).map { case (of, key) =>
        val si = st.fieldNames.indexWhere(_.equalsIgnoreCase(of))
        require(si >= 0 &&
            st.fields(si).dataType == org.apache.spark.sql.types.VariantType,
          s"gdx: shredded column ${f.name} references '$of', which is " +
            "not a variant column of this table")
        s"^$of.$key"
      }.getOrElse("")
      s"${f.name}:$tn$shred" + defaultCellOf(f).map("=" + _).getOrElse("")
    }.mkString(",")

  private[graft] def parseSchemaSpec(s: String): StructType = {
    // split on TOP-LEVEL commas only: `decimal(12,2)` and
    // `map<string,string>` each carry one inside their brackets.
    // Brackets stop counting once a field's first top-level '='
    // opens its DEFAULT text — a default like `n/a (unknown` must
    // not skew the depth for every later field (commas are banned in
    // default text by [[withDefaultCell]], so inside a default the
    // next comma is always the real field separator).
    val fields = Seq.newBuilder[String]
    var depth = 0; var start = 0; var i = 0; var inDefault = false
    while (i < s.length) {
      s.charAt(i) match {
        case '(' | '<' if !inDefault        => depth += 1
        case ')' | '>' if !inDefault        => depth -= 1
        case '=' if depth == 0              => inDefault = true
        case ',' if depth == 0 || inDefault => fields += s.substring(start, i)
                                               start = i + 1
                                               inDefault = false
        case _                              => ()
      }
      i += 1
    }
    fields += s.substring(start)
    StructType(fields.result().map { fld =>
      val j = fld.indexOf(':')
      require(j > 0, s"gdx: unparseable schema field '$fld'")
      val name = fld.substring(0, j)
      val rest = fld.substring(j + 1)
      // within the type part, a '^' opens the shred annotation
      // (`type^source.key`) — '^' is banned in every name surface, so
      // the first one is always the delimiter
      def typed(t: String): StructField = t.indexOf('^') match {
        case -1 => StructField(name, namedType(t))
        case c  =>
          val ann = t.substring(c + 1)
          val dot = ann.indexOf('.')
          require(dot > 0, s"gdx: unparseable shred annotation '$ann'")
          withShred(StructField(name, namedType(t.substring(0, c))),
            ann.substring(0, dot), ann.substring(dot + 1))
      }
      // the FIRST '=' delimits an optional default cell (type names
      // never contain '='; the default may — strings keep their '='s)
      rest.indexOf('=') match {
        case -1 => typed(rest)
        case k  => withDefaultCell(typed(rest.substring(0, k)),
          rest.substring(k + 1))
      }
    })
  }

  // ------------------------------------------------- typed-cell codecs
  // One canonical text form per type (scaladoc at [[typeNameOf]]);
  // every read/write surface — the DSv2 reader/writer (Catalyst
  // internal forms), the DML substrate and changefeed (external Row
  // forms) — goes through these four functions, so a new type is
  // added in exactly one place.
  import org.apache.spark.sql.catalyst.util.DateTimeUtils

  /** Codec era tag for escape-encoded files (the `e:` manifest
    * overlay): every data file written since the escape layer landed
    * carries `e:1`, and its string cells round-trip ARBITRARY Unicode.
    * Files without the overlay predate the layer; their vocabulary
    * never admitted an escapable character, so they decode raw. */
  private[graft] val EscCodec = "1"

  /** Escape one string VALUE into its canonical cell text. The escape
    * set is exactly the line format's structural vocabulary — tab/
    * newline (field and row separators), comma (array/map-entry and
    * struct-field separators), parens (struct/collection cell
    * delimiters), '=' (map key=value), and the backslash itself:
    *
    *   \  → \\    TAB → \t    LF → \n    CR → \r
    *   ,  → \c    (   → \p    )  → \q    =  → \e
    *
    * Applied uniformly to every string surface (top-level cells,
    * struct leaves at any depth, map keys, map values), so escaped
    * content contains NO raw structural character and every splitter
    * stays a plain depth/separator scan. The mapping is injective and
    * deterministic — equal values always render equal cell bytes
    * (the canonical-bytes property dedup and DV restatements rely
    * on) — and a string with no escapable characters renders as
    * itself, which keeps the new era byte-identical with the legacy
    * one on the legacy vocabulary. A literal "\N" escapes its
    * backslash (→ `\\N`), so the raw `\N` cell text still uniquely
    * means NULL. */
  private[graft] def escapeCell(s: String): String = {
    var i = 0
    val n = s.length
    // fast path: most cells carry none of the 8 escapable characters
    while (i < n && !isEscapable(s.charAt(i))) i += 1
    if (i == n) return s
    val sb = new java.lang.StringBuilder(n + 8)
    sb.append(s, 0, i)
    while (i < n) {
      val c = s.charAt(i)
      c match {
        case '\\' => sb.append("\\\\")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case ','  => sb.append("\\c")
        case '('  => sb.append("\\p")
        case ')'  => sb.append("\\q")
        case '='  => sb.append("\\e")
        case _    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def isEscapable(c: Char): Boolean =
    c == '\\' || c == '\t' || c == '\n' || c == '\r' ||
    c == ','  || c == '('  || c == ')'  || c == '='

  /** Invert [[escapeCell]]. Only ever applied to cells of an
    * escape-era file (`e:1` entries), whose writers emit no other
    * escape sequences — an unknown sequence or a trailing lone
    * backslash is file corruption and fails loudly. The extended
    * sequences `\d` (.) and `\m` (;) are produced only by
    * [[escapeStatText]] (manifest string bounds) and decode here so
    * both surfaces share one inverse. */
  private[graft] def unescapeCell(s: String): String = {
    var i = s.indexOf('\\')
    if (i < 0) return s
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    sb.append(s, 0, i)
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\\') {
        require(i + 1 < n, s"gdx decode: dangling escape in '$s'")
        i += 1
        s.charAt(i) match {
          case '\\' => sb.append('\\')
          case 't'  => sb.append('\t')
          case 'n'  => sb.append('\n')
          case 'r'  => sb.append('\r')
          case 'c'  => sb.append(',')
          case 'p'  => sb.append('(')
          case 'q'  => sb.append(')')
          case 'e'  => sb.append('=')
          case 'd'  => sb.append('.')
          case 'm'  => sb.append(';')
          case bad  => throw new IllegalArgumentException(
            s"gdx decode: unknown escape '\\$bad' in '$s'")
        }
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Parse one cell into its Catalyst INTERNAL form (what a
    * PartitionReader emits): Int days, Long micros, Decimal,
    * Boolean, UTF8String. */
  private[graft] def parseInternalCell(dt: DataType, s: String,
                                       esc: Boolean = false): Any =
    dt match {
      case LongType       => s.toLong
      case DoubleType     => s.toDouble
      case DateType       => s.toInt
      case TimestampType  => s.toLong
      case BooleanType    => s.toBoolean
      case d: DecimalType =>
        Decimal(new java.math.BigDecimal(s), d.precision, d.scale)
      case ArrayType(st: StructType, _) =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          splitArrayStructCells(s).map(e =>
            parseStructInternal(st, st, e, esc): Any))
      case ArrayType(et, _) =>
        val parts: Array[String] =
          if (s.isEmpty) Array.empty else s.split(',')
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          et match {
            case FloatType  => parts.map(p => Float.box(p.toFloat))
            case DoubleType => parts.map(p => Double.box(p.toDouble))
            case _          => parts.map(p => Long.box(p.toLong))
          })
      case org.apache.spark.sql.types.MapType(_, st: StructType, _) =>
        val entries: Array[(String, String)] =
          parseMapEntries(s, structValued = true)
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            entries.map(e => UTF8String.fromString(
              decodeText(e._1, esc)): Any)),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            entries.map(e => parseStructInternal(st, st, e._2, esc): Any)))
      case _: org.apache.spark.sql.types.MapType =>
        val entries: Array[(String, String)] = parseMapEntries(s)
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            entries.map(e => UTF8String.fromString(
              decodeText(e._1, esc)): Any)),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            entries.map(e => UTF8String.fromString(
              decodeText(e._2, esc)): Any)))
      case st: StructType => parseStructInternal(st, st, s, esc)
      case org.apache.spark.sql.types.VariantType =>
        // the stored cell is the value's canonical JSON text; Spark's
        // own parser rebuilds the VariantVal (deterministic builder —
        // re-rendering an unchanged value reproduces the same bytes)
        org.apache.spark.sql.catalyst.expressions.variant
          .VariantExpressionEvalUtils.parseJson(
            UTF8String.fromString(decodeText(s, esc)),
            allowDuplicateKeys = false, failOnError = true)
      case _              => UTF8String.fromString(decodeText(s, esc))
    }

  /** Terminal string decode under the file's codec era: escape-era
    * cells invert [[escapeCell]], legacy cells pass through raw (their
    * vocabulary never allowed an escape sequence to exist). */
  @inline private def decodeText(s: String, esc: Boolean): String =
    if (esc) unescapeCell(s) else s

  /** Split one struct cell's `(a,b,...)` text into its positional
    * sub-cells; nested struct sub-cells keep their own parens (the
    * depth tracker skips their commas — leaf strings are forbidden
    * from carrying ','/'('/')', so parens are unambiguous). */
  private[graft] def splitStructCells(s: String): Array[String] = {
    require(s.length >= 2 && s.charAt(0) == '(' &&
      s.charAt(s.length - 1) == ')',
      s"gdx: malformed struct cell '$s' (expected parenthesized form)")
    val inner = s.substring(1, s.length - 1)
    val out = Array.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    while (i < inner.length) {
      inner.charAt(i) match {
        case '('               => depth += 1
        case ')'               => depth -= 1
        case ',' if depth == 0 => out += inner.substring(start, i)
                                  start = i + 1
        case _                 => ()
      }
      i += 1
    }
    out += inner.substring(start)
    out.result()
  }

  /** Split an `array<struct<...>>` cell's `(..),(..)` text into its
    * element cells ("" = the empty array) — the paren depth tracker
    * skips commas inside elements (struct leaf strings never carry a
    * RAW , ( ) in any era: the legacy vocabulary banned them, the
    * escape era encodes them). */
  private[graft] def splitArrayStructCells(s: String): Array[String] = {
    if (s.isEmpty) return Array.empty
    val out = Array.newBuilder[String]
    var depth = 0; var start = 0; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '('               => depth += 1
        case ')'               => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i)
                                  start = i + 1
        case _                 => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.result()
  }

  /** Decode one INTERNAL cell under a possibly NARROWED requested
    * type — Catalyst's nested schema pruning may request a struct (or
    * a struct-element array) with fewer sub-fields than the file
    * stores; the cell decodes by the STORED positional layout and
    * projects the requested sub-fields by name. Identical types take
    * the plain path. */
  private[graft] def parseInternalCellPruned(requested: DataType,
      stored: DataType, s: String, esc: Boolean = false): Any =
    (requested, stored) match {
    case (rq: StructType, sv: StructType) if rq ne sv =>
      parseStructInternal(sv, rq, s, esc)
    case (ArrayType(rq: StructType, _), ArrayType(sv: StructType, _))
        if rq ne sv =>
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        splitArrayStructCells(s).map(e =>
          parseStructInternal(sv, rq, e, esc): Any))
    case (org.apache.spark.sql.types.MapType(_, rq: StructType, _),
          org.apache.spark.sql.types.MapType(_, sv: StructType, _))
        if rq ne sv =>
      val entries = parseMapEntries(s, structValued = true)
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          entries.map(e => UTF8String.fromString(
            decodeText(e._1, esc)): Any)),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          entries.map(e => parseStructInternal(sv, rq, e._2, esc): Any)))
    case _ => parseInternalCell(requested, s, esc)
  }

  /** Decode a struct cell written under `stored` into the (possibly
    * nested-pruned) `requested` shape — sub-fields are matched by
    * NAME against the stored layout, a requested field past the
    * cell's arity reads NULL (trailing-field evolution: old cells
    * simply have fewer sub-cells). */
  private[graft] def parseStructInternal(stored: StructType,
      requested: StructType, s: String,
      esc: Boolean = false): InternalRow = {
    val parts = splitStructCells(s)
    val vals = new Array[Any](requested.length)
    var i = 0
    while (i < requested.length) {
      val f = requested.fields(i)
      val si = stored.fieldNames.indexOf(f.name)
      require(si >= 0, s"gdx read: unknown struct field '${f.name}'")
      vals(i) =
        if (si >= parts.length || parts(si) == NullMarker) null
        else (f.dataType, stored.fields(si).dataType) match {
          case (rq: StructType, sv: StructType) =>
            parseStructInternal(sv, rq, parts(si), esc)
          case (rq @ (ArrayType(_, _) |
                _: org.apache.spark.sql.types.MapType), sv) =>
            // collection sub-cells wrap their top-level text in one
            // paren pair; the pruned decode handles a narrowed
            // element/value struct exactly like a top-level column
            parseInternalCellPruned(rq, sv,
              stripCollectionWrap(parts(si)), esc)
          case (dt, _) => parseInternalCell(dt, parts(si), esc)
        }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(vals)
  }

  /** Decode one map cell's `k=v,k=v` text (keys pre-sorted at write
    * time): the FIRST '=' of each entry splits key from value, so
    * values may carry '='. STRING-valued maps split entries on every
    * comma (their vocabulary bans ',' in keys and values but ALLOWS
    * unbalanced parens — a depth tracker would silently swallow
    * entry boundaries after a value like `a(b`); STRUCT-valued maps
    * (`structValued`) split on TOP-LEVEL commas only — their values
    * are parenthesized cells with commas inside, and their write
    * vocabulary bans parens everywhere else (keys included), so the
    * depth is always well-formed. */
  private def parseMapEntries(s: String,
                              structValued: Boolean = false)
      : Array[(String, String)] =
    if (s.isEmpty) Array.empty
    else (if (structValued) splitArrayStructCells(s)
          else s.split(',')).map { e =>
      val j = e.indexOf('=')
      require(j >= 0, s"gdx: malformed map entry '$e'")
      (e.substring(0, j), e.substring(j + 1))
    }

  /** Parse one cell into its EXTERNAL (Row) form — what
    * `createDataFrame(rdd, schema)` converts: LocalDate / Instant /
    * java BigDecimal / boxed primitives. */
  private[graft] def parseExternalCell(dt: DataType, s: String,
                                       esc: Boolean = false): Any =
    dt match {
      case LongType       => Long.box(s.toLong)
      case DoubleType     => Double.box(s.toDouble)
      case DateType       => java.time.LocalDate.ofEpochDay(s.toLong)
      case TimestampType  => DateTimeUtils.microsToInstant(s.toLong)
      case BooleanType    => Boolean.box(s.toBoolean)
      case d: DecimalType => new java.math.BigDecimal(s).setScale(d.scale)
      case ArrayType(st: StructType, _) =>
        splitArrayStructCells(s).toSeq
          .map(e => parseExternalCell(st, e, esc))
      case ArrayType(et, _) =>
        val parts: Array[String] =
          if (s.isEmpty) Array.empty else s.split(',')
        (et match {
          case FloatType  => parts.map(_.toFloat).toSeq
          case DoubleType => parts.map(_.toDouble).toSeq
          case _          => parts.map(_.toLong).toSeq
        })
      case org.apache.spark.sql.types.MapType(_, st: StructType, _) =>
        scala.collection.immutable.ListMap(
          parseMapEntries(s, structValued = true).toSeq
            .map(e => decodeText(e._1, esc) ->
              parseExternalCell(st, e._2, esc)): _*)
      case _: org.apache.spark.sql.types.MapType =>
        // ListMap preserves the stored (key-sorted) order, keeping the
        // external round-trip byte-identical with the internal one
        scala.collection.immutable.ListMap(parseMapEntries(s).toSeq
          .map(e => (decodeText(e._1, esc), decodeText(e._2, esc))): _*)
      case st: StructType =>
        val parts = splitStructCells(s)
        org.apache.spark.sql.Row.fromSeq(
          st.fields.zipWithIndex.map { case (f, i) =>
            if (i >= parts.length || parts(i) == NullMarker) null
            else f.dataType match {
              case ArrayType(_, _) |
                   _: org.apache.spark.sql.types.MapType =>
                parseExternalCell(f.dataType,
                  stripCollectionWrap(parts(i)), esc)
              case dt => parseExternalCell(dt, parts(i), esc)
            }
          }.toSeq)
      case org.apache.spark.sql.types.VariantType =>
        // external form of VariantType IS VariantVal (no Row wrapper)
        org.apache.spark.sql.catalyst.expressions.variant
          .VariantExpressionEvalUtils.parseJson(
            UTF8String.fromString(decodeText(s, esc)),
            allowDuplicateKeys = false, failOnError = true)
      case _              => decodeText(s, esc)
    }

  /** Strip the ONE paren pair a collection-typed struct sub-cell
    * wraps its top-level text in. */
  private def stripCollectionWrap(s: String): String = {
    require(s.length >= 2 && s.charAt(0) == '(' &&
      s.charAt(s.length - 1) == ')',
      s"gdx: malformed collection sub-cell '$s' (expected a " +
        "parenthesized wrap)")
    s.substring(1, s.length - 1)
  }

  /** Render one INTERNAL-form cell (non-null) onto the line being
    * written. `ctx` names the writing surface in the unescapable-
    * string error. */
  private[graft] def appendInternalCell(sb: java.lang.StringBuilder,
      dt: DataType,
      r: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int, ctx: String, field: String): Unit = dt match {
    case LongType       => sb.append(r.getLong(i)); ()
    case DoubleType     => sb.append(r.getDouble(i)); ()
    case DateType       => sb.append(r.getInt(i)); ()
    case TimestampType  => sb.append(r.getLong(i)); ()
    case BooleanType    => sb.append(r.getBoolean(i)); ()
    case d: DecimalType =>
      sb.append(r.getDecimal(i, d.precision, d.scale)
        .toJavaBigDecimal.toPlainString); ()
    case ArrayType(st: StructType, _) =>
      val arr = r.getArray(i)
      var j = 0
      while (j < arr.numElements()) {
        if (j > 0) sb.append(',')
        require(!arr.isNullAt(j),
          s"gdx $ctx: array field $field must not contain NULL " +
            "elements (the comma-joined encoding has no element-null " +
            "marker)")
        appendStructCellInternal(sb, st, arr.getStruct(j, st.length),
          ctx, s"$field[]")
        j += 1
      }
    case ArrayType(et, _) =>
      val arr = r.getArray(i)
      var j = 0
      while (j < arr.numElements()) {
        if (j > 0) sb.append(',')
        require(!arr.isNullAt(j),
          s"gdx $ctx: array field $field must not contain NULL " +
            "elements (the comma-joined encoding has no element-null " +
            "marker)")
        et match {
          case FloatType  => sb.append(arr.getFloat(j)); ()
          case DoubleType => sb.append(arr.getDouble(j)); ()
          case _          => sb.append(arr.getLong(j)); ()
        }
        j += 1
      }
    case org.apache.spark.sql.types.MapType(_, st: StructType, _) =>
      val m = r.getMap(i)
      val ks = m.keyArray(); val vs = m.valueArray()
      val entries = new Array[(String, String)](m.numElements())
      var j = 0
      while (j < entries.length) {
        require(!ks.isNullAt(j) && !vs.isNullAt(j),
          s"gdx $ctx: map field $field must not contain NULL keys " +
            "or values (the k=v encoding has no entry-null marker)")
        val vb = new java.lang.StringBuilder
        appendStructCellInternal(vb, st, vs.getStruct(j, st.length),
          ctx, s"$field{}")
        entries(j) = (ks.getUTF8String(j).toString, vb.toString)
        j += 1
      }
      appendMapEntries(sb, entries, ctx, field, structValued = true)
    case _: org.apache.spark.sql.types.MapType =>
      val m = r.getMap(i)
      val ks = m.keyArray(); val vs = m.valueArray()
      val entries = new Array[(String, String)](m.numElements())
      var j = 0
      while (j < entries.length) {
        require(!ks.isNullAt(j) && !vs.isNullAt(j),
          s"gdx $ctx: map field $field must not contain NULL keys " +
            "or values (the k=v encoding has no entry-null marker)")
        entries(j) = (ks.getUTF8String(j).toString,
          vs.getUTF8String(j).toString)
        j += 1
      }
      appendMapEntries(sb, entries, ctx, field)
    case st: StructType =>
      appendStructCellInternal(sb, st, r.getStruct(i, st.length),
        ctx, field)
    case org.apache.spark.sql.types.VariantType =>
      // canonical JSON rendering, escape-encoded like any string —
      // arbitrary nested content is inert to the positional splitters
      sb.append(escapeCell(
        r.getVariant(i).toJson(java.time.ZoneOffset.UTC))); ()
    case _ =>
      // escape-era write: arbitrary Unicode round-trips ([[escapeCell]]
      // removes every structural character; a literal "\N" escapes its
      // backslash so the raw NULL marker stays unambiguous)
      sb.append(escapeCell(r.getUTF8String(i).toString)); ()
  }

  /** Render one struct value as its canonical `(sub,sub,...)` cell.
    * Scalar leaves reuse the normal cell forms (none can carry a raw
    * ','), string leaves escape-encode ([[escapeCell]]), nested
    * structs recurse, COLLECTION sub-fields wrap their ordinary
    * top-level cell text in one extra paren pair (depth-exact for the
    * splitters at any nesting), NULL sub-fields write the `\N` marker
    * (parens keep it unambiguous with a NULL cell). */
  private def appendStructCellInternal(sb: java.lang.StringBuilder,
      st: StructType,
      sr: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      ctx: String, field: String): Unit = {
    sb.append('(')
    var j = 0
    while (j < st.length) {
      if (j > 0) sb.append(',')
      val dt = st.fields(j).dataType
      val fname = s"$field.${st.fields(j).name}"
      if (sr.isNullAt(j)) sb.append(NullMarker)
      else dt match {
        case nested: StructType =>
          appendStructCellInternal(sb, nested,
            sr.getStruct(j, nested.length), ctx, fname)
        case StringType =>
          appendStructLeafString(sb, sr.getUTF8String(j).toString,
            ctx, fname)
        case ArrayType(_, _) | _: org.apache.spark.sql.types.MapType =>
          sb.append('(')
          appendInternalCell(sb, dt, sr, j, ctx, fname)
          sb.append(')')
        case _ => appendInternalCell(sb, dt, sr, j, ctx, fname)
      }
      j += 1
    }
    sb.append(')'); ()
  }

  private def appendStructLeafString(sb: java.lang.StringBuilder,
      s: String, ctx: String, field: String): Unit = {
    // escape-era write: the leaf's commas/parens/newlines escape, so
    // the positional encoding's depth tracker never sees them raw and
    // real chat text ("Hi, how are you? (thanks)") lives in struct
    // content columns without flattening or a JSON round-trip
    sb.append(escapeCell(s)); ()
  }

  /** Render map entries SORTED BY KEY (one canonical text per map
    * value), enforcing the vocabulary the decoder can invert: keys
    * carry no ','/'='/tab/newline; STRING values no ','/tab/newline;
    * STRUCT values (`structValued`) are pre-rendered parenthesized
    * cells whose own leaf vocabulary already guarantees depth-
    * trackable commas. */
  private def appendMapEntries(sb: java.lang.StringBuilder,
      entries: Array[(String, String)], ctx: String,
      field: String, structValued: Boolean = false): Unit = {
    // canonical order: sorted by the key VALUE (pre-escape), which
    // coincides with the legacy sorted-key-text order on the legacy
    // vocabulary (escape-free keys render as themselves)
    java.util.Arrays.sort(entries,
      Ordering.by((e: (String, String)) => e._1))
    var j = 0
    while (j < entries.length) {
      val (k, v) = entries(j)
      if (j > 0) sb.append(',')
      // keys escape ',' '=' (entry structure) and parens (the
      // struct-valued depth splitter); STRING values escape the same
      // set. STRUCT values (`structValued`) are pre-rendered
      // parenthesized cells whose own leaves already escaped — they
      // append verbatim.
      sb.append(escapeCell(k)).append('=')
      if (structValued) sb.append(v) else sb.append(escapeCell(v))
      j += 1
    }
    // "" must stay unambiguous: an EMPTY map is "" by construction,
    // and a single-entry map is never "" (it carries its '=')
  }

  /** Render one EXTERNAL-form cell (non-null): external Rows carry
    * either the java.sql or the java.time flavor depending on the
    * session's datetime-API setting — both are accepted. */
  private[graft] def appendExternalCell(sb: java.lang.StringBuilder,
      dt: DataType, r: org.apache.spark.sql.Row, i: Int,
      ctx: String, field: String): Unit = dt match {
    case LongType   => sb.append(r.getLong(i)); ()
    case DoubleType => sb.append(r.getDouble(i)); ()
    case DateType   => sb.append(r.get(i) match {
      case d: java.sql.Date        => DateTimeUtils.fromJavaDate(d)
      case ld: java.time.LocalDate => ld.toEpochDay.toInt
    }); ()
    case TimestampType => sb.append(r.get(i) match {
      case t: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(t)
      case in: java.time.Instant => DateTimeUtils.instantToMicros(in)
    }); ()
    case BooleanType    => sb.append(r.getBoolean(i)); ()
    case _: DecimalType =>
      sb.append(r.getDecimal(i).toPlainString); ()
    case ArrayType(st: StructType, _) =>
      val arr = r.getSeq[org.apache.spark.sql.Row](i)
      var j = 0
      arr.foreach { v =>
        if (j > 0) sb.append(',')
        require(v != null,
          s"gdx $ctx: array field $field must not contain NULL " +
            "elements (the comma-joined encoding has no element-null " +
            "marker)")
        appendStructCellExternal(sb, st, v, ctx, s"$field[]")
        j += 1
      }
    case ArrayType(_, _) =>
      val arr = r.getSeq[Any](i)
      var j = 0
      arr.foreach { v =>
        if (j > 0) sb.append(',')
        require(v != null,
          s"gdx $ctx: array field $field must not contain NULL " +
            "elements (the comma-joined encoding has no element-null " +
            "marker)")
        sb.append(v.toString)
        j += 1
      }
    case org.apache.spark.sql.types.MapType(_, st: StructType, _) =>
      val m = r.getMap[Any, Any](i)
      val entries = m.toArray.map { case (k, v) =>
        require(k != null && v != null,
          s"gdx $ctx: map field $field must not contain NULL keys " +
            "or values (the k=v encoding has no entry-null marker)")
        val vb = new java.lang.StringBuilder
        appendStructCellExternal(vb, st,
          v.asInstanceOf[org.apache.spark.sql.Row], ctx, s"$field{}")
        (k.toString, vb.toString)
      }
      appendMapEntries(sb, entries, ctx, field, structValued = true)
    case _: org.apache.spark.sql.types.MapType =>
      val m = r.getMap[Any, Any](i)
      val entries = m.toArray.map { case (k, v) =>
        require(k != null && v != null,
          s"gdx $ctx: map field $field must not contain NULL keys " +
            "or values (the k=v encoding has no entry-null marker)")
        (k.toString, v.toString)
      }
      appendMapEntries(sb, entries, ctx, field)
    case st: StructType =>
      appendStructCellExternal(sb, st, r.getStruct(i), ctx, field)
    case org.apache.spark.sql.types.VariantType =>
      sb.append(escapeCell(r.getAs[org.apache.spark.unsafe.types
        .VariantVal](i).toJson(java.time.ZoneOffset.UTC))); ()
    case _ =>
      // escape-era write (see the internal twin)
      sb.append(escapeCell(r.getString(i))); ()
  }

  /** External-Row twin of [[appendStructCellInternal]]. */
  private def appendStructCellExternal(sb: java.lang.StringBuilder,
      st: StructType, sr: org.apache.spark.sql.Row,
      ctx: String, field: String): Unit = {
    sb.append('(')
    var j = 0
    while (j < st.length) {
      if (j > 0) sb.append(',')
      val dt = st.fields(j).dataType
      val fname = s"$field.${st.fields(j).name}"
      if (sr.isNullAt(j)) sb.append(NullMarker)
      else dt match {
        case nested: StructType =>
          appendStructCellExternal(sb, nested, sr.getStruct(j),
            ctx, fname)
        case StringType =>
          appendStructLeafString(sb, sr.getString(j), ctx, fname)
        case ArrayType(_, _) | _: org.apache.spark.sql.types.MapType =>
          sb.append('(')
          appendExternalCell(sb, dt, sr, j, ctx, fname)
          sb.append(')')
        case _ => appendExternalCell(sb, dt, sr, j, ctx, fname)
      }
      j += 1
    }
    sb.append(')'); ()
  }

  /** Extended-stats lane of a column: 0 = long repr (LONG, DATE,
    * TIMESTAMP, BOOLEAN — min/max tracked as longs), 1 = double,
    * 2 = exact decimal, 3 = string (TRUNCATED bounds — see
    * [[truncLowerBound]]/[[truncUpperBound]]); -1 = no stats. */
  private[graft] def extStatKind(dt: DataType): Int = dt match {
    case LongType | DateType | TimestampType | BooleanType => 0
    case DoubleType     => 1
    case _: DecimalType => 2
    case StringType     => 3
    case _              => -1
  }

  /** Max UTF-16 code units a published string bound keeps — the
    * Iceberg truncate(16) default: long content contributes a 16-char
    * prefix window, which is what makes `lang = 'uk'` / domain-prefix
    * predicates prune files while a 100 KB document costs 32 bytes of
    * manifest. */
  private[graft] val StatStringPrefix = 16

  /** How much of each string the accumulator RETAINS while streaming
    * rows (memory bound for content columns): longer than the
    * published prefix + 1, so the final truncation is exact. */
  private[graft] val StatStringTrack = 64

  /** LOWER bound of every string sharing `s`'s prefix window:
    * truncation only ever shortens, and a prefix sorts ≤ all its
    * extensions. A split surrogate pair at the cut shortens one more
    * unit (bounds must stay valid UTF-8-encodable text). */
  private[graft] def truncLowerBound(s: String): String =
    if (s.length <= StatStringPrefix) s
    else {
      val cut = if (Character.isHighSurrogate(
          s.charAt(StatStringPrefix - 1))) StatStringPrefix - 1
        else StatStringPrefix
      s.substring(0, cut)
    }

  /** STRICT UPPER bound of every string sharing `s`'s prefix window:
    * truncate, then increment the last incrementable UTF-16 unit
    * (skipping increments that would land in — or strand — the
    * surrogate block, so the bound stays valid encodable text; the
    * order is Java's code-unit compareTo, the same order the
    * accumulator and the prune comparisons use). None = every unit is
    * U+FFFF — unbounded, publish nothing. Short strings are exact
    * (inclusive). */
  private[graft] def truncUpperBound(s: String): Option[String] = {
    if (s.length <= StatStringPrefix) return Some(s)
    val cut = if (Character.isHighSurrogate(
        s.charAt(StatStringPrefix - 1))) StatStringPrefix - 1
      else StatStringPrefix
    var j = cut - 1
    while (j >= 0) {
      val c = s.charAt(j)
      if (c == '\uFFFF' || c == '\uDFFF') j -= 1 // move left
      else if (Character.isHighSurrogate(c))
        // dropping the pair's low half would strand c; U+E000 sorts
        // above every surrogate and stands alone
        return Some(s.substring(0, j) + '\uE000')
      else {
        var next = (c + 1).toChar
        if (next >= '\uD800' && next <= '\uDFFF' &&
            !Character.isLowSurrogate(c)) next = '\uE000'
        return Some(s.substring(0, j) + next)
      }
    }
    None
  }

  /** Escape a string BOUND for the manifest's `x:c=min..max;…` field:
    * [[escapeCell]]'s set plus the overlay's own delimiters ('.' and
    * ';'); [[unescapeCell]] inverts both. */
  private[graft] def escapeStatText(s: String): String =
    escapeCell(s).replace(".", "\\d").replace(";", "\\m")

  /** One extended-stats lane: a top-level orderable column (empty
    * `steps`) or a statable LEAF of a struct column, addressed by the
    * field index at each nesting level (`steps`) with the struct
    * arity at each level (`arities` — what `getStruct` needs). Stats
    * publish under the DOT-JOINED name (`meta.score`) — exactly how
    * Spark names a pushed nested predicate, so [[pruneByStats]] zone-
    * maps leaf fields with zero extra machinery. */
  private[graft] final class StatLane(val col: Int,
      val steps: Array[Int], val arities: Array[Int],
      val kind: Int, val name: String, val leafDt: DataType)
    extends Serializable

  /** Every stats lane of a schema: orderable top-level columns (k
    * excluded — it has its own min/max slot) plus every orderable
    * struct leaf, depth-first. */
  private[graft] def statLanes(schema: StructType): Array[StatLane] = {
    val out = Array.newBuilder[StatLane]
    def walk(col: Int, st: StructType, steps: List[Int],
             arities: List[Int], prefix: String): Unit =
      st.fields.zipWithIndex.foreach { case (sf, j) =>
        sf.dataType match {
          case nested: StructType =>
            walk(col, nested, steps :+ j, arities :+ st.length,
              s"$prefix.${sf.name}")
          case dt if extStatKind(dt) >= 0 =>
            out += new StatLane(col, (steps :+ j).toArray,
              (arities :+ st.length).toArray, extStatKind(dt),
              s"$prefix.${sf.name}", dt)
          case _ => ()
        }
      }
    schema.fields.zipWithIndex.drop(1).foreach { case (f, i) =>
      f.dataType match {
        case st: StructType => walk(i, st, Nil, Nil, f.name)
        case dt if extStatKind(dt) >= 0 =>
          out += new StatLane(i, Array.empty, Array.empty,
            extStatKind(dt), f.name, dt)
        case _ => ()
      }
    }
    out.result()
  }

  /** Feed lane `e` of `acc` from an INTERNAL row (descending nested
    * structs; a NULL at any step contributes nothing). */
  private[graft] def addLaneInternal(acc: ExtStatAcc, e: Int,
      lane: StatLane,
      r: org.apache.spark.sql.catalyst.expressions.SpecializedGetters)
      : Unit = {
    var g = r
    var idx = lane.col
    var p = 0
    var live = !g.isNullAt(idx)
    while (live && p < lane.steps.length) {
      g = g.getStruct(idx, lane.arities(p))
      idx = lane.steps(p)
      live = !g.isNullAt(idx)
      p += 1
    }
    if (live) lane.kind match {
      case 0 => acc.addL(e, longReprInternal(lane.leafDt, g, idx))
      case 1 => acc.addD(e, g.getDouble(idx))
      case 3 => acc.addS(e, g.getUTF8String(idx).toString)
      case _ =>
        val d = lane.leafDt.asInstanceOf[DecimalType]
        acc.addB(e,
          g.getDecimal(idx, d.precision, d.scale).toJavaBigDecimal)
    }
  }

  /** External-Row twin of [[addLaneInternal]]. */
  private[graft] def addLaneExternal(acc: ExtStatAcc, e: Int,
      lane: StatLane, r: org.apache.spark.sql.Row): Unit = {
    var g = r
    var idx = lane.col
    var p = 0
    var live = !g.isNullAt(idx)
    while (live && p < lane.steps.length) {
      g = g.getStruct(idx)
      idx = lane.steps(p)
      live = !g.isNullAt(idx)
      p += 1
    }
    if (live) lane.kind match {
      case 0 => acc.addL(e, longReprExternal(g.get(idx)))
      case 1 => acc.addD(e, g.getDouble(idx))
      case 3 => acc.addS(e, g.getString(idx))
      case _ => acc.addB(e, g.getDecimal(idx))
    }
  }

  /** A kind-0 column's INTERNAL value as its canonical long repr. */
  private[graft] def longReprInternal(dt: DataType,
      r: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int): Long = dt match {
    case LongType      => r.getLong(i)
    case DateType      => r.getInt(i).toLong
    case TimestampType => r.getLong(i)
    case BooleanType   => if (r.getBoolean(i)) 1L else 0L
    case other => throw new IllegalArgumentException(
      s"gdx: $other has no long repr")
  }

  /** A kind-0 column's EXTERNAL value as its canonical long repr. */
  private[graft] def longReprExternal(v: Any): Long = v match {
    case l: java.lang.Long       => l.longValue
    case d: java.sql.Date        => DateTimeUtils.fromJavaDate(d).toLong
    case ld: java.time.LocalDate => ld.toEpochDay
    case t: java.sql.Timestamp   => DateTimeUtils.fromJavaTimestamp(t)
    case in: java.time.Instant   => DateTimeUtils.instantToMicros(in)
    case b: java.lang.Boolean    => if (b.booleanValue) 1L else 0L
    case other => throw new IllegalArgumentException(
      s"gdx: $other has no long repr")
  }

  /** A pushed-filter literal as the BigDecimal its column's stats
    * compare in — numbers as themselves, date/time literals as their
    * canonical long repr, booleans as 0/1. None = cannot prune. */
  private[graft] def statLiteral(w: Any): Option[BigDecimal] = w match {
    case n: Number => try Some(BigDecimal(n.toString)) catch {
      case _: NumberFormatException => None
    }
    case d: java.sql.Date =>
      Some(BigDecimal(DateTimeUtils.fromJavaDate(d)))
    case ld: java.time.LocalDate => Some(BigDecimal(ld.toEpochDay))
    case t: java.sql.Timestamp =>
      Some(BigDecimal(DateTimeUtils.fromJavaTimestamp(t)))
    case in: java.time.Instant =>
      Some(BigDecimal(DateTimeUtils.instantToMicros(in)))
    case b: java.lang.Boolean =>
      Some(BigDecimal(if (b.booleanValue) 1 else 0))
    case _ => None
  }

  /** Streaming min/max tracker for the extended-stats columns of ONE
    * output file, one lane per [[extStatKind]]. The NaN rule is the
    * double lane's: a NaN POISONS the column's range for this file
    * (Spark orders NaN above every double, so a min/max computed from
    * the non-NaN values could wrongly prune a file whose NaN rows
    * satisfy a > predicate) — `result` suppresses poisoned columns,
    * and absence is never a prune. */
  private[graft] final class ExtStatAcc(n: Int, kinds: Array[Int]) {
    val seen = new Array[Boolean](n)
    val nan = new Array[Boolean](n)
    private val minL = Array.fill(n)(Long.MaxValue)
    private val maxL = Array.fill(n)(Long.MinValue)
    private val minD = Array.fill(n)(Double.MaxValue)
    private val maxD = Array.fill(n)(Double.MinValue)
    private val minB = new Array[java.math.BigDecimal](n)
    private val maxB = new Array[java.math.BigDecimal](n)
    private val minS = new Array[String](n)
    private val maxS = new Array[String](n)
    def addL(e: Int, v: Long): Unit = {
      seen(e) = true
      if (v < minL(e)) minL(e) = v
      if (v > maxL(e)) maxL(e) = v
    }
    def addD(e: Int, v: Double): Unit = {
      seen(e) = true
      if (java.lang.Double.isNaN(v)) nan(e) = true
      else {
        if (v < minD(e)) minD(e) = v
        if (v > maxD(e)) maxD(e) = v
      }
    }
    def addB(e: Int, v: java.math.BigDecimal): Unit = {
      seen(e) = true
      if (minB(e) == null || v.compareTo(minB(e)) < 0) minB(e) = v
      if (maxB(e) == null || v.compareTo(maxB(e)) > 0) maxB(e) = v
    }
    def addS(e: Int, v: String): Unit = {
      seen(e) = true
      // retain a bounded window per row (memory cap for content
      // columns): the published bounds only consult the first
      // StatStringPrefix+1 units, and min/max over tracked prefixes
      // stay valid lower/upper sources (a prefix sorts ≤ its
      // extensions, and the upper bound construction dominates every
      // string sharing the max's prefix window)
      val t = if (v.length <= GdxSource.StatStringTrack) v
        else v.substring(0, GdxSource.StatStringTrack)
      if (minS(e) == null || t.compareTo(minS(e)) < 0) minS(e) = t
      if (maxS(e) == null || t.compareTo(maxS(e)) > 0) maxS(e) = t
    }
    def result(name: Int => String): Map[String, (String, String)] =
      (0 until n).iterator.filter(e => seen(e) && !nan(e)).flatMap { e =>
        kinds(e) match {
          case 0 => Some(name(e) -> (minL(e).toString, maxL(e).toString))
          case 1 => Some(name(e) -> (minD(e).toString, maxD(e).toString))
          case 3 =>
            // string bounds publish TRUNCATED + escaped (the overlay's
            // own delimiters must never appear raw); an unboundable
            // max (all U+FFFF) publishes nothing — absence = keep
            GdxSource.truncUpperBound(maxS(e)).map { up =>
              name(e) -> (GdxSource.escapeStatText(
                GdxSource.truncLowerBound(minS(e))),
                GdxSource.escapeStatText(up))
            }
          case _ =>
            Some(name(e) -> (minB(e).toPlainString, maxB(e).toPlainString))
        }
      }.toMap
  }

  /** Line prefix carrying the snapshot's schema; written in EVERY
    * manifest (full and delta) so schema resolution is one read. */
  private val SchemaHeader = "#schema "

  /** Line prefix carrying one CHECK constraint (`#check <name> <expr
    * SQL>`); like the schema, every manifest records the snapshot's
    * full constraint set, so resolution is one read and RESTORE /
    * time travel see the constraints of their era. */
  private val ConstraintHeader = "#check "

  /** COLUMN MAPPING (`#colmap 0,1,3`): physical line slot of each
    * `#schema` field, in field order — the logical→physical
    * indirection that makes RENAME COLUMN (names live only in
    * `#schema`) and DROP COLUMN (the field and its slot leave the
    * mapping; the slot's bytes stay in existing files and new writes
    * null-fill it) METADATA-ONLY commits, the Delta column-mapping /
    * Iceberg field-id contract reduced to the line format. Absent =
    * identity (slot i = field i) — full back-compat, and what every
    * truncate resets to (a rewrite materializes the logical layout,
    * physically dropping dead slots). Carried by EVERY manifest like
    * `#schema`/`#check`, so time travel, RESTORE, and clones see the
    * names and slots of their era. */
  private val ColmapHeader = "#colmap "

  /** Line prefix declaring the table's hive-style partition column
    * (`#partition p`): writers demux rows into `p=<value>/` subdirs
    * and the partition column's per-file stats collapse to `v..v`, so
    * static partition pruning IS a zone-map prune — composed with
    * bloom sidecars and every other skipping overlay. Declared on the
    * first partitioned write (`option("partitionBy", col)`) and
    * carried by every manifest; appends inherit it with no option. */
  private val PartitionHeader = "#partition "

  /** The partition SPEC the chosen snapshot recorded, as its raw
    * manifest text (None = unpartitioned): either a bare column name
    * (identity/hive layout, `#partition p`) or a bucket transform
    * (`#partition bucket(16,k)`). Callers that only CARRY the layout
    * (commit headers, DML carry-forward, OPTIMIZE re-declaration) pass
    * the raw text through; callers that INTERPRET it parse via
    * [[parsePartSpec]]. */
  def committedPartitionCol(path: String, conf: Configuration,
                            version: Int = -1): Option[String] = {
    val fs = new Path(path).getFileSystem(conf)
    targetManifest(path, conf, version)
      .flatMap(readManifestHeaders(fs, _).partitionCol)
  }

  /** Parsed view of [[committedPartitionCol]]. */
  def committedPartSpec(path: String, conf: Configuration,
                        version: Int = -1): Option[GdxPartSpec] =
    committedPartitionCol(path, conf, version).map(parsePartSpec)

  /** A table's declared storage layout. `col` is the source column the
    * layout derives from; `dirName` the hive-style directory key the
    * writers demux under (`<dirName>=<key>/`); `keyOf` maps a column
    * value to its directory key. Identity layouts key by the value
    * itself (so partition pruning IS a zone-map prune — the column's
    * per-file stats collapse to v..v); bucket layouts key by a stable
    * hash modulo the bucket count, the Iceberg `bucket(n, col)`
    * transform — the layout that makes a fact⋈fact equi-join on a
    * HIGH-CARDINALITY key storage-partitioned: both sides bucketed the
    * same way join with zero shuffle at any scale. */
  sealed trait GdxPartSpec {
    def col: String
    def dirName: String
    def render: String
    def keyOf(v: Long): Long
    /** Type-aware key: `v` is the column's canonical LONG REPR
      * ([[longReprInternal]] — epoch-micros for TIMESTAMP, epoch-day
      * for DATE, the raw value for BIGINT). Temporal transforms scale
      * their divisor to the repr; everything else ignores the type.
      * The BIGINT interpretation stays the historical epoch-millis
      * contract, so every pre-typed-column table keeps its layout. */
    def keyOf(v: Long, dt: DataType): Long = keyOf(v)
  }
  final case class GdxIdentityPart(col: String) extends GdxPartSpec {
    def dirName: String = col
    def render: String = col
    def keyOf(v: Long): Long = v
  }
  final case class GdxBucketPart(n: Int, col: String) extends GdxPartSpec {
    def dirName: String = col + "_bucket"
    def render: String = s"bucket($n,$col)"
    def keyOf(v: Long): Long = GdxSource.bucketId(n, v).toLong
  }
  /** Iceberg-style TRUNCATION transform, `trunc(w, col)`: directory
    * key = floorDiv(value, w) — MONOTONE in the value, so RANGE
    * predicates on the raw column prune whole directories (the hidden-
    * partitioning contract: the user filters on the data column and
    * never names the layout). */
  final case class GdxTruncPart(w: Long, col: String) extends GdxPartSpec {
    def dirName: String = col + "_trunc"
    def render: String = s"trunc($w,$col)"
    def keyOf(v: Long): Long = Math.floorDiv(v, w)
  }
  /** Iceberg-style DAILY transform over an epoch-millis BIGINT column:
    * directory key = the day ordinal (floorDiv by 86 400 000). The
    * time-series 100 TB layout — a dashboard's `ts BETWEEN a AND b`
    * plans only the covered day directories, and day-scoped
    * maintenance (compaction, retention) addresses whole
    * directories. */
  final case class GdxDaysPart(col: String) extends GdxPartSpec {
    def dirName: String = col + "_day"
    def render: String = s"days($col)"
    def keyOf(v: Long): Long = Math.floorDiv(v, GdxSource.DayMillis)
    override def keyOf(v: Long, dt: DataType): Long =
      GdxSource.epochDayOf(v, dt)
  }
  /** HOURLY transform — the intraday time-series grain: TIMESTAMP
    * columns key on floorDiv(epoch-micros, hour), BIGINT keeps the
    * epoch-millis contract; refused on DATE (a date has no hour). */
  final case class GdxHoursPart(col: String) extends GdxPartSpec {
    def dirName: String = col + "_hour"
    def render: String = s"hours($col)"
    def keyOf(v: Long): Long = Math.floorDiv(v, GdxSource.HourMillis)
    override def keyOf(v: Long, dt: DataType): Long = dt match {
      case TimestampType => Math.floorDiv(v, GdxSource.HourMicros)
      case _             => keyOf(v)
    }
  }
  /** CALENDAR-MONTH transform: key = year*12 + (month-1) of the
    * value's epoch day — not fixed-width, but still MONOTONE, so the
    * same range-to-key-bounds pruning applies. */
  final case class GdxMonthsPart(col: String) extends GdxPartSpec {
    def dirName: String = col + "_month"
    def render: String = s"months($col)"
    def keyOf(v: Long): Long =
      GdxSource.monthKey(Math.floorDiv(v, GdxSource.DayMillis))
    override def keyOf(v: Long, dt: DataType): Long =
      GdxSource.monthKey(GdxSource.epochDayOf(v, dt))
  }
  /** CALENDAR-YEAR transform: key = the value's proleptic year. */
  final case class GdxYearsPart(col: String) extends GdxPartSpec {
    def dirName: String = col + "_year"
    def render: String = s"years($col)"
    def keyOf(v: Long): Long =
      GdxSource.yearKey(Math.floorDiv(v, GdxSource.DayMillis))
    override def keyOf(v: Long, dt: DataType): Long =
      GdxSource.yearKey(GdxSource.epochDayOf(v, dt))
  }
  val DayMillis = 86400000L
  val DayMicros = 86400000000L
  val HourMillis = 3600000L
  val HourMicros = 3600000000L
  /** The epoch-day ordinal of a canonical long repr. */
  private[graft] def epochDayOf(v: Long, dt: DataType): Long = dt match {
    case TimestampType => Math.floorDiv(v, DayMicros)
    case DateType      => v
    case _             => Math.floorDiv(v, DayMillis)
  }
  private[graft] def monthKey(epochDay: Long): Long = {
    val d = java.time.LocalDate.ofEpochDay(epochDay)
    d.getYear * 12L + (d.getMonthValue - 1)
  }
  private[graft] def yearKey(epochDay: Long): Long =
    java.time.LocalDate.ofEpochDay(epochDay).getYear.toLong
  /** The partition-column types a spec accepts: BIGINT everywhere
    * (identity/bucket/trunc keep it exclusive — directory keys must
    * be the value itself or its hash); temporal transforms also take
    * their natural time types. Loud otherwise. */
  def validatePartColType(sp: GdxPartSpec, dt: DataType,
                          ctx: String): Unit = {
    val ok = sp match {
      case _: GdxDaysPart | _: GdxMonthsPart | _: GdxYearsPart =>
        dt == LongType || dt == TimestampType || dt == DateType
      case _: GdxHoursPart => dt == LongType || dt == TimestampType
      case _ => dt == LongType
    }
    require(ok, s"gdx $ctx: partition column ${sp.col} of ${sp.render} " +
      s"must be ${sp match {
        case _: GdxHoursPart => "BIGINT or TIMESTAMP"
        case _: GdxDaysPart | _: GdxMonthsPart | _: GdxYearsPart =>
          "BIGINT, TIMESTAMP, or DATE"
        case _ => "BIGINT"
      }} (got ${dt.catalogString})")
  }
  /** Whether the transform preserves value order — the property that
    * lets range predicates on the raw column become directory-key
    * bounds. Buckets hash; everything else here truncates. */
  def monotonePart(sp: GdxPartSpec): Boolean =
    !sp.isInstanceOf[GdxBucketPart]
  private val BucketSpecRe = """(?i)bucket\(\s*(\d+)\s*,\s*([^\s,()]+)\s*\)""".r
  private val TruncSpecRe =
    """(?i)trunc(?:ate)?\(\s*(\d+)\s*,\s*([^\s,()]+)\s*\)""".r
  private val DaysSpecRe = """(?i)days?\(\s*([^\s,()]+)\s*\)""".r
  private val HoursSpecRe = """(?i)hours?\(\s*([^\s,()]+)\s*\)""".r
  private val MonthsSpecRe = """(?i)months?\(\s*([^\s,()]+)\s*\)""".r
  private val YearsSpecRe = """(?i)years?\(\s*([^\s,()]+)\s*\)""".r
  /** Split a recorded `#partition` header into (current spec text,
    * former spec texts). The grammar is `current[;former1[;...]]` —
    * PARTITION-SPEC EVOLUTION appends the replaced layout to the tail
    * instead of forgetting it, so files written under a former spec
    * keep pruning under their own era's transform. An un-evolved
    * header has no `;` and splits to (itself, Nil) — full
    * back-compat. */
  def splitPartRaw(raw: String): (String, Seq[String]) = {
    val ps = raw.split(';').toSeq.map(_.trim).filter(_.nonEmpty)
    (ps.head, ps.tail)
  }
  /** The CURRENT spec text of a recorded header (history stripped). */
  def partHeadOf(raw: String): String = splitPartRaw(raw)._1
  /** The FORMER specs of a recorded header, parsed and deduped. */
  def partHistoryOf(raw: String): Seq[GdxPartSpec] =
    splitPartRaw(raw)._2.map(parsePartSpec).distinct
  /** Canonical header text: normalized current spec + normalized,
    * deduped formers (the current spec never repeats in its tail). */
  def normalizePartRaw(raw: String): String = {
    val (h, t) = splitPartRaw(raw)
    val head = parsePartSpec(h)
    (head.render +: t.map(parsePartSpec).distinct.filterNot(_ == head)
      .map(_.render)).mkString(";")
  }
  /** Whether a former spec shares the CURRENT spec's directory key
    * while meaning something else (bucket(4,k) → bucket(8,k), or a
    * pathological identity column named like another transform's
    * directory). Then `<dirName>=<key>` no longer identifies one
    * transform, so every consumer that PROVES a file's key from its
    * name (SPJ, grouped metadata aggregates, replaceWhere slices,
    * transform-directory pruning for that dirName) must stand down —
    * residual row-level evaluation keeps every read correct, a full
    * OPTIMIZE clears the history. */
  def partDirAmbiguous(raw: String): Boolean = {
    val (h, t) = splitPartRaw(raw)
    val head = parsePartSpec(h)
    t.map(parsePartSpec).exists(f => f != head && f.dirName == head.dirName)
  }
  def parsePartSpec(s: String): GdxPartSpec = {
    // a recorded header may carry an evolution-history tail
    // (`cur;former;...`): interpretation always targets the CURRENT
    // spec. Write options refuse `;` up front (build()), so user text
    // can never silently lose a tail here.
    val t = s.indexOf(';') match {
      case -1 => s.trim
      case i  => s.substring(0, i).trim
    }
    // fast path: bare column names (the overwhelmingly common case —
    // partKeyOf parses the spec once per planned manifest entry)
    if (t.indexOf('(') < 0) GdxIdentityPart(t)
    else t match {
      case BucketSpecRe(n, c) =>
        require(n.toInt > 0, s"gdx: bucket count must be positive in '$s'")
        GdxBucketPart(n.toInt, c)
      case TruncSpecRe(w, c) =>
        require(w.toLong > 0, s"gdx: trunc width must be positive in '$s'")
        GdxTruncPart(w.toLong, c)
      case DaysSpecRe(c)   => GdxDaysPart(c)
      case HoursSpecRe(c)  => GdxHoursPart(c)
      case MonthsSpecRe(c) => GdxMonthsPart(c)
      case YearsSpecRe(c)  => GdxYearsPart(c)
      case other => throw new IllegalArgumentException(
        s"gdx: unparseable partition spec '$other' - expected a column " +
          "name, bucket(<n>,<col>), trunc(<w>,<col>), or " +
          "days/hours/months/years(<col>)")
    }
  }

  /** The bucket function: a 64-bit finalizer (splitmix64's mixing
    * steps, public-domain constants) folded to a non-negative bucket
    * id. Shared verbatim by the write-side demux, the read-side SPJ
    * partition values, file pruning, and the catalog's V2 `bucket`
    * ScalarFunction ([[GdxBucketBound]]) — Spark's one-side-shuffle
    * SPJ evaluates that function to hash an unpartitioned side into
    * this exact layout, so all four MUST agree. */
  def bucketId(n: Int, k: Long): Int = {
    var z = k + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    (((z % n) + n) % n).toInt
  }

  /** `CREATE TABLE ... PARTITIONED BY (...)` (SQL or catalog): ONE
    * single-column identity transform or ONE `bucket(n, col)` becomes
    * the table's declared partition spec (the first write records it
    * in the manifest; appends inherit it). Anything else — multiple
    * columns, temporal transforms — is refused loudly: silently
    * truncating PARTITIONED BY (a, b) to 'a' would hand the user a
    * layout they did not declare. */
  def partSpecOfTransforms(partitioning: Array[Transform])
      : Option[String] = {
    val specs = partitioning.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case t if t.name == "bucket" && t.references.length == 1 =>
        val n = t.arguments.collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_]
              if lit.value.isInstanceOf[Number] =>
            lit.value.asInstanceOf[Number].intValue
        }.getOrElse(throw new IllegalArgumentException(
          s"gdx: bucket transform $t carries no literal bucket count"))
        s"bucket($n,${t.references.head.fieldNames.mkString(".")})"
      case t if (t.name == "days" || t.name == "day") &&
          t.references.length == 1 =>
        s"days(${t.references.head.fieldNames.mkString(".")})"
      case t if (t.name == "hours" || t.name == "hour") &&
          t.references.length == 1 =>
        s"hours(${t.references.head.fieldNames.mkString(".")})"
      case t if (t.name == "months" || t.name == "month") &&
          t.references.length == 1 =>
        s"months(${t.references.head.fieldNames.mkString(".")})"
      case t if (t.name == "years" || t.name == "year") &&
          t.references.length == 1 =>
        s"years(${t.references.head.fieldNames.mkString(".")})"
      case t if (t.name == "truncate" || t.name == "trunc") &&
          t.references.length == 1 =>
        val w = t.arguments.collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_]
              if lit.value.isInstanceOf[Number] =>
            lit.value.asInstanceOf[Number].longValue
        }.getOrElse(throw new IllegalArgumentException(
          s"gdx: truncate transform $t carries no literal width"))
        s"trunc($w,${t.references.head.fieldNames.mkString(".")})"
      case other => throw new IllegalArgumentException(
        s"gdx: unsupported partition transform $other - only a single " +
          "identity column (PARTITIONED BY (col)), bucket(n, col), " +
          "days/hours/months/years(col), or truncate(w, col) is " +
          "supported")
    }
    if (specs.length > 1) throw new IllegalArgumentException(
      s"gdx: multi-column partitioning (${specs.mkString(",")}) is " +
        "not supported - declare one column (compose further " +
        "dimensions with Z-order clustering instead)")
    specs.headOption
  }

  /** A snapshot's column mapping: `slots(i)` = physical line slot of
    * logical field i; `arity` = total physical slots ever written
    * (dead DROPPED slots included — [[addColumn]] allocates from here,
    * so a dropped column's slot is never reused and old files can
    * never leak a dead column's bytes into a new one). */
  private[graft] case class Colmap(slots: Seq[Int], arity: Int)

  /** Physical slot per logical field: identity when unmapped. */
  private[graft] def slotsOf(schema: StructType,
                             colmap: Option[Colmap]): Seq[Int] =
    colmap.map(_.slots).getOrElse(schema.indices)

  /** Write-side inverse of the mapping: physical slot → logical field
    * index (-1 = dead/dropped slot, written as the NULL marker so the
    * line keeps its full physical arity and every era's reader parses
    * every era's file). Identity when unmapped. */
  private[graft] def writeLayout(schema: StructType,
                                 colmap: Option[Colmap]): Array[Int] =
    colmap match {
      case None => schema.indices.toArray
      case Some(cm) =>
        require(cm.slots.length == schema.length,
          s"gdx write: schema/colmap arity mismatch (${schema.length} " +
            s"fields, ${cm.slots.length} slots)")
        val l = Array.fill(cm.arity)(-1)
        cm.slots.zipWithIndex.foreach { case (sl, i) => l(sl) = i }
        l
    }

  /** The slot-positioned view of a logical schema: a StructType whose
    * position s holds the logical field mapped to slot s (dropped
    * slots get never-requested placeholder fields), so every positional
    * consumer — readers resolving required columns to line slots —
    * works unchanged with mapping active. Loud on a schema/mapping
    * arity mismatch (a stale catalog schema after an out-of-band drop
    * must fail, not misread slots). */
  private[graft] def physicalized(schema: StructType,
                                  colmap: Option[Colmap]): StructType =
    colmap match {
      case None => schema
      case Some(cm) =>
        require(cm.slots.length == schema.length,
          s"gdx: schema/colmap arity mismatch (${schema.length} fields, " +
            s"${cm.slots.length} slots) - the table metadata is stale; " +
            "re-read the table (or repair the catalog entry)")
        val bySlot = cm.slots.zip(schema.fields).toMap
        StructType((0 until cm.arity).map(s =>
          bySlot.getOrElse(s, StructField(s"__gdx_dropped_$s", StringType))))
    }

  /** NULL marker in the line format (hive-style); rejected as a
    * literal string value at write time. */
  private[graft] val NullMarker = "\\N"

  /** Driver-side Hadoop conf (active session's, else defaults). */
  def driverConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** A planned file's hive-partition key, proven from its entry name
    * (`p=<v>/part-...`, or `k_bucket=<b>/part-...` for bucket
    * layouts): Some(Some(v)), Some(None) for the `__null__` directory,
    * None when the name carries no parseable prefix (legacy
    * pre-partitioning files, root-level DML rewrite files, absolute
    * SHALLOW-CLONE references). `pc` is the RAW recorded spec text.
    * Storage-partitioned joins group on it; manifest-grouped
    * aggregates fold by it. */
  private[graft] def partKeyOf(pc: String,
                               name: String): Option[Option[Long]] = {
    val pre = parsePartSpec(pc).dirName + "="
    val slash = name.indexOf('/')
    if (!name.startsWith(pre) || slash <= pre.length) None
    else {
      val v = name.substring(pre.length, slash)
      if (v == "__null__") Some(None)
      else scala.util.Try(v.toLong).toOption.map(Some(_))
    }
  }

  /** Resolve a manifest entry name against its table directory. Names
    * are normally directory-relative; a SHALLOW CLONE's entries are
    * absolute (scheme-qualified) references into the source table and
    * resolve to themselves. */
  private[graft] def entryPath(dir: String, name: String): Path = {
    if (isAbsoluteName(name)) new Path(name)
    else new Path(dir, name)
  }

  /** Whether a manifest entry name is an absolute (scheme-qualified)
    * reference — a SHALLOW CLONE's pointer into its source table.
    * Every rewrite surface must treat these specially: new files they
    * produce belong under the CLONE's root, never the source's. */
  private[graft] def isAbsoluteName(name: String): Boolean = {
    val p = new Path(name)
    p.isAbsolute || p.toUri.getScheme != null
  }

  def manifest(path: String) = new Path(path, "_manifest")
  def manifestFor(path: String, version: Int) =
    new Path(path, f"_manifest-$version%08d")

  /** Full (checkpoint) manifest cadence: versions 1, every
    * `CheckpointInterval`-th, and every truncate hold the complete file
    * list; versions in between hold only their commit's additions.
    * Bounds snapshot reconstruction to `CheckpointInterval` manifest
    * reads while keeping append-commit cost O(files added). */
  val CheckpointInterval = 10

  /** First line of a delta (additions-only) manifest. Full manifests
    * have no header — byte-compatible with every pre-delta directory. */
  private val DeltaHeader = "#delta"

  /** MULTI-TABLE TRANSACTION redirect (`#txn\t<decisionFile>\t<stage>`):
    * a claimed-but-prepared version. The line sits AFTER the base
    * snapshot's headers inside an otherwise-empty `#delta` manifest,
    * so the claim itself reads as "nothing changed" — which is exactly
    * the ABORT semantics, and what a reader that predates transactions
    * would safely see. Resolution: the decision file says `commit` →
    * the version IS the staged manifest (read through); `abort` → the
    * empty delta stands forever; missing → undecided, loud on explicit
    * pins and skipped by latest-resolution. The single decision-file
    * PUT (create-exclusive) is the atomic commit point for EVERY
    * participating table at once. */
  private val TxnHeader = "#txn\t"

  /** Retained snapshot versions, ascending (empty for a pre-versioning
    * or never-committed directory). One LIST call. */
  def listVersions(path: String, conf: Configuration): Seq[Int] = {
    val base = new Path(path)
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) Seq.empty
    else fs.globStatus(new Path(base, "_manifest-*")).toSeq
      .map(_.getPath.getName.stripPrefix("_manifest-").toInt).sorted
  }

  /** Decide a stale in-flight transaction claim at version `v` —
    * called by a writer whose own claim of `v` just failed (or any
    * maintenance entering a table): an undecided claim is ABORTED
    * through its decision file (create-exclusive, so the
    * transaction's own commit PUT wins any race and the writer then
    * simply chains past a committed version), then materialized so
    * reads stop consulting the decision file. This is what keeps the
    * "a claimed version is decided before anyone claims past it"
    * invariant, and what stops a crashed transaction from wedging a
    * table forever. */
  private def decideStaleTxn(path: String, conf: Configuration,
                             v: Int): Unit = {
    val fs = new Path(path).getFileSystem(conf)
    val m = manifestFor(path, v)
    if (!fs.exists(m)) return
    undecidedClaimOf(fs, m, conf).foreach { dpStr =>
      val dp = new Path(dpStr)
      val dfs = dp.getFileSystem(conf)
      // a MISSING decision file normally means a crashed PREPARER —
      // abortable. But a missing PARENT directory means the
      // coordinating table was dropped or moved: the transaction may
      // well have COMMITTED (its decision destroyed with the
      // directory), and writing `abort` here would silently delete
      // committed rows. That must be a loud wedge, never an
      // inference.
      if (!dfs.exists(dp.getParent))
        throw new IllegalStateException(
          s"gdx txn: claim $m references decision file $dpStr whose " +
            "coordinating directory no longer exists - the " +
            "transaction's outcome is unknowable; restore the " +
            "coordinator or resolve the claim manually")
      val aborted = publishExclusive(dfs, conf, dp, Seq("abort"))
      if (aborted &&
          !readAllLines(fs, m).exists(_.startsWith(TxnHeader))) {
        // the committer materialized this claim between our probe and
        // the abort PUT: the abort file we just created is a stray a
        // reader still holding pre-materialization redirect bytes
        // could misread as the outcome — remove it (an abort decision
        // is always re-derivable by the next blocked writer, so
        // deleting it can never lose information)
        dfs.delete(dp, false)
        ()
      } else materializeClaim(path, conf, v)
    }
  }

  /** Rewrite a DECIDED transaction claim as a SELF-CONTAINED manifest
    * — committed → the staged content verbatim; aborted → the empty
    * delta it already reads as — and drop the stage file. After this
    * the version never consults the decision file again, which is
    * what removes the cross-directory dependency a committed redirect
    * would otherwise carry forever (destroying the coordinator's
    * directory must never be able to un-commit another table's
    * snapshot). Idempotent; a no-op on plain manifests and on claims
    * still undecided. */
  private[graft] def materializeClaim(dir: String, conf: Configuration,
                                      v: Int): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    val m = manifestFor(dir, v)
    if (!fs.exists(m)) return
    val lines = readAllLines(fs, m)
    val txnIdx = lines.indexWhere(_.startsWith(TxnHeader))
    if (txnIdx < 0) return
    val parts = lines(txnIdx).split('\t')
    if (parts.length != 3) return
    val dp = new Path(parts(1))
    val dfs = dp.getFileSystem(conf)
    // exists-then-read races retire()'s delete: a vanished decision
    // file means a concurrent materializer finished the whole job
    val decision: Option[String] =
      try readFirstLine(dfs, dp).map(_.trim)
      catch { case _: java.io.FileNotFoundException => None }
    if (decision.isEmpty) return // undecided or fully retired: not ours
    val committed = decision.contains("commit")
    val stage = new Path(dir, parts(2))
    val resolved =
      if (!committed) lines.patch(txnIdx, Nil, 1)
      else try readAllLines(fs, stage)
      catch { case _: java.io.FileNotFoundException =>
        // a CONCURRENT materializer consumed the stage: the manifest
        // must already be (or be about to become) self-contained —
        // re-read; only a still-redirecting manifest with no stage is
        // real corruption
        val again = readAllLines(fs, m)
        if (!again.exists(_.startsWith(TxnHeader))) return
        throw new IllegalStateException(
          s"gdx txn: committed claim $m references a missing stage " +
            s"${parts(2)} and was never materialized")
      }
    replaceAtomic(fs, conf, m, resolved)
    if (fs.exists(stage)) fs.delete(stage, false)
    ()
  }

  /** Shared small-file readers (manifests, decision files, stages):
    * one place owns the UTF-8/close discipline. */
  private def readAllLines(fs: FileSystem, p: Path): List[String] = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    finally in.close()
  }
  private def readFirstLine(fs: FileSystem, p: Path): Option[String] = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), "UTF-8"))
    try Option(in.readLine()) finally in.close()
  }

  /** Light decidedness probe: scan ONLY the manifest's header block
    * (the `#txn` line sits among the headers; entries never start
    * `#`) — a latest-resolution must not pay a full entry parse just
    * to learn whether a version is readable. Returns the undecided
    * claim's decision-file path, or None for any decided/plain
    * manifest. */
  private def undecidedClaimOf(fs: FileSystem, m: Path,
                               conf: Configuration): Option[String] = {
    def headerScan(): Option[String] = {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(m), "UTF-8"))
      try {
        var line = in.readLine()
        while (line != null && (line.isEmpty || line.startsWith("#"))) {
          if (line.startsWith(TxnHeader)) {
            val parts = line.split('\t')
            return if (parts.length == 3) Some(parts(1)) else None
          }
          line = in.readLine()
        }
        None
      } finally in.close()
    }
    headerScan() match {
      case None => None
      case Some(dpStr) =>
        val dp = new Path(dpStr)
        val dfs = dp.getFileSystem(conf)
        if (dfs.exists(dp)) None // decided (either way): readable
        else if (!dfs.exists(dp.getParent))
          // the coordinating directory is GONE: the outcome is
          // unknowable — a silent "undecided" here would make every
          // latest-resolution serve the pre-transaction snapshot of a
          // possibly-committed transaction forever. Loud, like the
          // writer path.
          throw new IllegalStateException(
            s"gdx txn: claim $m references decision file $dpStr whose " +
              "coordinating directory no longer exists - the " +
              "transaction's outcome is unknowable; restore the " +
              "coordinator or resolve the claim manually")
        else
          // decision missing may also mean RETIRED-after-commit (the
          // file is deleted once every claim materialized): re-scan —
          // only a STILL-redirecting manifest is genuinely undecided
          headerScan().map(_ => dpStr)
    }
  }

  /** Decided-verdict memo: once a version's manifest is plain or its
    * claim decided it can NEVER become undecided again (decisions are
    * monotone; materialization only makes manifests plainer), so a
    * positive verdict caches permanently and the steady-state cost of
    * latest-resolution stays ONE manifest read — only a never-probed
    * head version pays the extra header scan. Undecided verdicts are
    * the unstable ones and are never cached. */
  private val decidedCache =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Drop every cached decided-verdict under `dir` — a table directory
    * deleted or renamed and later recreated at the same path restarts
    * its version numbers, so a stale positive verdict could hide a NEW
    * table's undecided claim from latest-resolution. Called by the
    * catalog's dropTable/renameTable (path-level deletes outside the
    * catalog should call it too). */
  private[graft] def invalidateDecidedCache(dir: String,
                                            conf: Configuration): Unit = {
    val prefix = new Path(dir).getFileSystem(conf)
      .makeQualified(new Path(dir)).toString + "/"
    decidedCache.removeIf(_.startsWith(prefix))
    ()
  }

  /** The newest version whose snapshot is DECIDED — every latest-
    * resolution goes through here, so an in-flight multi-table
    * transaction's claimed-but-undecided version is invisible to
    * readers (its predecessor is the live snapshot) and flips in
    * atomically with the decision PUT. */
  private[graft] def latestDecidedVersion(path: String,
                                          conf: Configuration): Int = {
    val fs = new Path(path).getFileSystem(conf)
    listVersions(path, conf).sorted.reverse.find { v =>
      val m = manifestFor(path, v)
      val key = fs.makeQualified(m).toString
      decidedCache.contains(key) || {
        val ok = undecidedClaimOf(fs, m, conf).isEmpty
        if (ok) {
          if (decidedCache.size > 100000) decidedCache.clear()
          decidedCache.add(key)
        }
        ok
      }
    }.getOrElse(0)
  }

  /** The table's head version AFTER deciding any stale transaction
    * claim sitting there — the entry point of every writer and
    * maintenance loop (the claim invariant: nobody reads past or
    * claims over an undecided version). */
  private[graft] def decidedHead(dir: String, conf: Configuration): Int = {
    val v = (listVersions(dir, conf) :+ 0).max
    if (v > 0) decideStaleTxn(dir, conf, v)
    v
  }

  /** TIMESTAMP AS OF: the latest retained version whose manifest was
    * published at or before `tsMillis` — commit time IS the manifest
    * file's mtime, the same reduction Delta makes (one fs metadata
    * field, no extra bookkeeping; vacuum's in-place checkpoint rewrite
    * touches only the OLDEST retained version, so ordering among
    * retained versions survives retention). Errors on a timestamp
    * before the first retained commit — like a vacuumed version, an
    * unanswerable time travel must be loud, not empty. */
  def versionAsOf(path: String, conf: Configuration, tsMillis: Long): Int = {
    val base = new Path(path)
    val fs = base.getFileSystem(conf)
    val stamped = fs.globStatus(new Path(base, "_manifest-*")).toSeq
      .map(st => (st.getPath.getName.stripPrefix("_manifest-").toInt,
        st.getModificationTime))
    require(stamped.nonEmpty, s"gdx: no snapshots under $path")
    val eligible = stamped.filter(_._2 <= tsMillis).map(_._1)
    require(eligible.nonEmpty,
      s"gdx: no snapshot at or before timestamp $tsMillis under $path " +
        s"(earliest retained commit: ${stamped.map(_._2).min})")
    eligible.max
  }

  /** The snapshot a read pins: explicit `version`, else `asOf`
    * timestamp resolution, else -1 (latest). `version` wins if both
    * are given. */
  private[graft] def resolveVersion(options: CaseInsensitiveStringMap,
                                    path: String): Int =
    Option(options.get("version"))
      .map(resolveVersionRef(path, driverConf(), _))
      .orElse(Option(options.get("asOf")).map(s =>
        versionAsOf(path, driverConf(), parseAsOf(s))))
      .getOrElse(-1)

  /** Parse the `asOf` read option: epoch millis or an ISO-8601
    * instant/local datetime (session-agnostic: bare datetimes read as
    * UTC, the engine's report discipline). */
  private[graft] def parseAsOf(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong
    else try java.time.Instant.parse(s).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  /** One manifest, fully parsed. Header order: `#delta` (if any),
    * then `#schema`, `#colmap`, `#partition`, the `#check`s, then
    * entries; unknown future `#`-headers are skipped, never mistaken
    * for entries. */
  private[graft] case class ManifestData(isDelta: Boolean,
      schema: Option[StructType], colmap: Option[Colmap],
      partitionCol: Option[String], checks: Seq[(String, String)],
      entries: Seq[GdxFileEntry])

  /** Whether snapshot `v` committed as a DELTA manifest (an append's
    * file list, replayed over the previous snapshot) rather than a
    * full checkpoint — the `history` metadata table surfaces it. */
  private[graft] def isDeltaVersion(path: String, conf: Configuration,
                                    v: Int): Boolean = {
    val fs = new Path(path).getFileSystem(conf)
    val m = manifestFor(path, v)
    fs.exists(m) && readManifestHeaders(fs, m).isDelta
  }

  private def readManifest(fs: FileSystem, m: Path,
                           headersOnly: Boolean = false): ManifestData =
    try readManifestOnce(fs, m, headersOnly)
    catch {
      // self-heal a directory poisoned before the crc-hygiene fix: a
      // manifest rewritten through the NIO fast path under a stale
      // fs.create-era sidecar. The sidecar is advisory (atomic publish
      // guards manifest integrity); drop it and reread. Every header
      // accessor routes through here, so they all share the heal.
      case _: org.apache.hadoop.fs.ChecksumException =>
        dropStaleCrc(m)
        readManifestOnce(fs, m, headersOnly)
    }

  /** HEADER-ONLY manifest read: parses the leading `#` block and stops
    * at the first entry line — O(headers), not O(entries). Every
    * `committed*` header accessor uses this; at the 100M-file regime a
    * schema/colmap/constraint lookup must never pay a full manifest
    * parse (it was the planning path's hidden O(entries) driver cost
    * after entry resolution itself went distributed). `entries` is
    * EMPTY in the returned data — header callers never touch it. */
  private def readManifestHeaders(fs: FileSystem, m: Path): ManifestData =
    readManifest(fs, m, headersOnly = true)

  private def readManifestOnce(fs: FileSystem, m: Path,
                               headersOnly: Boolean = false)
      : ManifestData = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(m), "UTF-8"))
    try {
      var lines =
        if (!headersOnly)
          Iterator.continually(in.readLine()).takeWhile(_ != null)
            .filter(_.nonEmpty).toList
        else {
          // headers LEAD the file by construction (headerLines): stop
          // at the first entry line
          val buf = List.newBuilder[String]
          var l = in.readLine()
          var go = true
          while (go && l != null) {
            if (l.nonEmpty) {
              if (l.startsWith("#")) buf += l else go = false
            }
            if (go) l = in.readLine()
          }
          buf.result()
        }
      // transaction-claim resolution (scaladoc at [[TxnHeader]]): a
      // committed claim READS THROUGH to its staged manifest; an
      // aborted one falls through below and parses as the empty delta
      // it already is; undecided is loud (latest-resolution catches)
      lines.find(_.startsWith(TxnHeader)).foreach { t =>
        val parts = t.split('\t')
        require(parts.length == 3, s"gdx: malformed txn line in $m")
        val decisionPath = new Path(parts(1))
        val dfs = decisionPath.getFileSystem(driverConf())
        // exists-then-read races retire()'s delete: a vanished
        // decision file reads as missing, never as a crash
        val decision: Option[String] =
          try readFirstLine(dfs, decisionPath).map(_.trim)
          catch { case _: java.io.FileNotFoundException => None }
        // the reparse heal, shared by two races: the stage consumed by
        // a concurrent materializer, and the decision file retired
        // after this reader snapshotted redirect bytes — in both the
        // manifest's CURRENT bytes must be self-contained
        def reparse(what: String): Unit = {
          val again = readAllLines(fs, m).filter(_.nonEmpty)
          require(!again.exists(_.startsWith(TxnHeader)),
            s"gdx txn: claim $m $what and was never materialized")
          lines = again
        }
        decision match {
          case Some("commit") =>
            val stage = new Path(m.getParent, parts(2))
            try return readManifest(fs, stage, headersOnly)
            catch { case _: java.io.FileNotFoundException =>
              reparse(s"references missing stage ${parts(2)}") }
          case Some(_) => () // aborted: the empty delta stands
          case None if !dfs.exists(decisionPath.getParent) =>
            throw new IllegalStateException(
              s"gdx txn: claim $m references decision file " +
                s"$decisionPath whose coordinating directory no longer " +
                "exists - the transaction's outcome is unknowable; " +
                "restore the coordinator or resolve the claim manually")
          case None =>
            // retired-after-commit heals here; only a manifest STILL
            // redirecting with no decision is genuinely undecided
            val again = readAllLines(fs, m).filter(_.nonEmpty)
            if (again.exists(_.startsWith(TxnHeader)))
              throw new GdxTxnUndecidedException(
                s"gdx: version ${m.getName} of ${m.getParent} belongs " +
                  "to an UNDECIDED multi-table transaction (decision " +
                  s"file $decisionPath) - commit or abort it, or let " +
                  "the next writer decide it", decisionPath.toString)
            lines = again
        }
      }
      val isDelta = lines.headOption.exists(_.startsWith(DeltaHeader))
      if (isDelta) lines = lines.tail
      val sch = lines.headOption.filter(_.startsWith(SchemaHeader))
        .map(h => parseSchemaSpec(h.stripPrefix(SchemaHeader).trim))
      if (sch.isDefined) lines = lines.tail
      val colmap = lines.headOption.filter(_.startsWith(ColmapHeader))
        .map { h =>
          val body = h.stripPrefix(ColmapHeader).trim
          val (slotPart, arityPart) = body.indexOf(';') match {
            case -1 => (body, None)
            case i  => (body.substring(0, i),
              Some(body.substring(i + 1).trim.toInt))
          }
          val slots = slotPart.split(',').toSeq.map(_.trim.toInt)
          Colmap(slots, arityPart.getOrElse((slots :+ -1).max + 1))
        }
      if (colmap.isDefined) lines = lines.tail
      val part = lines.headOption.filter(_.startsWith(PartitionHeader))
        .map(_.stripPrefix(PartitionHeader).trim)
      if (part.isDefined) lines = lines.tail
      val checks = lines.takeWhile(_.startsWith("#"))
        .filter(_.startsWith(ConstraintHeader)).map { l =>
          val body = l.stripPrefix(ConstraintHeader)
          val sp = body.indexOf(' ')
          body.substring(0, sp) -> body.substring(sp + 1)
        }
      // entries never start '#' (readers that predate a header kind
      // skip it here — forward-compatible)
      lines = lines.dropWhile(_.startsWith("#"))
      ManifestData(isDelta, sch, colmap, part, checks,
        lines.map(parseManifestLine))
    } finally in.close()
  }

  /** Resolve the manifest a header accessor should read: an explicit
    * version, else the latest, else the legacy un-numbered file — the
    * one resolution every committed* accessor shares. */
  private def targetManifest(path: String, conf: Configuration,
                             version: Int): Option[Path] = {
    val fs = new Path(path).getFileSystem(conf)
    val t: Option[Path] =
      if (version >= 0) Some(manifestFor(path, version))
      else latestDecidedVersion(path, conf) match {
        case v if v > 0 => Some(manifestFor(path, v))
        case _ =>
          val legacy = manifest(path)
          if (fs.exists(legacy)) Some(legacy) else None
      }
    t.filter(fs.exists(_))
  }

  /** The column mapping the chosen snapshot recorded (None = identity). */
  def committedColmap(path: String, conf: Configuration,
                      version: Int = -1): Option[Colmap] = {
    val fs = new Path(path).getFileSystem(conf)
    targetManifest(path, conf, version)
      .flatMap(readManifestHeaders(fs, _).colmap)
  }

  /** The `(name, expr SQL)` CHECK constraints the chosen snapshot
    * recorded (empty for pre-constraint manifests). */
  def committedConstraints(path: String, conf: Configuration,
                           version: Int = -1): Seq[(String, String)] = {
    val fs = new Path(path).getFileSystem(conf)
    targetManifest(path, conf, version).toSeq
      .flatMap(readManifestHeaders(fs, _).checks)
  }

  /** The header block every manifest writes: schema, column mapping
    * (only when non-identity), then the full constraint set — all
    * resolved in one read by any snapshot consumer. */
  private def headerLines(schema: StructType,
                          checks: Seq[(String, String)],
                          colmap: Option[Colmap] = None,
                          partitionCol: Option[String] = None): Seq[String] =
    Seq(SchemaHeader + schemaSpec(schema)) ++
      colmap.filterNot(cm =>
          cm.slots == schema.indices && cm.arity == schema.length)
        .map(cm => ColmapHeader + cm.slots.mkString(",") + ";" + cm.arity)
        .toSeq ++
      partitionCol.map(PartitionHeader + _).toSeq ++
      checks.map { case (n, e) => s"$ConstraintHeader$n $e" }

  /** The schema the chosen snapshot recorded (classic `(k, v)` for
    * pre-evolution manifests or never-written directories). */
  def committedSchema(path: String, conf: Configuration,
                      version: Int = -1): StructType = {
    val fs = new Path(path).getFileSystem(conf)
    targetManifest(path, conf, version)
      .flatMap(readManifestHeaders(fs, _).schema).getOrElse(schema)
  }

  /** Manifest entries (file name + optional zone-map stats) the chosen
    * snapshot has published (empty if never committed). `version < 0`
    * resolves the LATEST version — falling back to the legacy
    * un-numbered `_manifest` for directories written before versioning;
    * an explicit version must exist (a vacuumed or never-written
    * snapshot is an error, not an empty read). A delta manifest is
    * resolved by walking back to the nearest full manifest and
    * replaying the additions forward — at most [[CheckpointInterval]]
    * reads; a broken chain (a vacuumed base under a retained delta)
    * fails loudly rather than returning a partial snapshot. */
  def committedEntries(path: String, conf: Configuration,
                       version: Int = -1): Seq[GdxFileEntry] = {
    val fs = new Path(path).getFileSystem(conf)
    val target: Option[Int] =
      if (version >= 0) {
        require(fs.exists(manifestFor(path, version)),
          s"gdx: snapshot version $version does not exist under $path")
        Some(version)
      } else latestDecidedVersion(path, conf) match {
        case v if v > 0 => Some(v)
        case _          => None
      }
    target match {
      case None => // pre-versioning directory: single full `_manifest`
        val m = manifest(path)
        if (!fs.exists(m)) Seq.empty else readManifest(fs, m).entries
      case Some(v) =>
        var deltas = List.empty[Seq[GdxFileEntry]]
        var base = Seq.empty[GdxFileEntry]
        var cur = v
        var walking = true
        while (walking) {
          val mp = manifestFor(path, cur)
          require(fs.exists(mp),
            s"gdx: snapshot version $v is unreadable - its delta " +
              s"chain is broken at version $cur (vacuumed or never " +
              "written)")
          val md = readManifest(fs, mp)
          if (md.isDelta) {
            deltas = md.entries :: deltas
            cur -= 1
            if (cur == 0) { walking = false } // delta at v1: empty base
          } else { base = md.entries; walking = false }
        }
        (base ++ deltas.flatten).sortBy(_.name)
    }
  }

  /** Resolve + zone-map-prune a snapshot's entries in ONE step,
    * pushing the prune INTO the distributed parse when it engages
    * ([[planDistributedMinBytes]]): executors parse the manifest
    * chain's entry lines and collect only the SURVIVORS — at 100M
    * entries the driver pays for the kept files, not the snapshot.
    * Falls back to `pruneByStats(committedEntries(...))` (identical
    * result) below the threshold or on anything exotic. */
  def plannedEntries(path: String, conf: Configuration, version: Int,
                     filters: Seq[Filter]): Seq[GdxFileEntry] =
    distributedEntries(path, conf,
      if (version >= 0) version else latestDecidedVersion(path, conf),
      filters).getOrElse(
      pruneByStats(committedEntries(path, conf, version), filters))

  /** Manifest bytes above which snapshot-entry parsing runs as a
    * SPARK JOB instead of a driver loop (`SET
    * spark.gdx.plan.distributedMinBytes=n`; default 32 MB ≈ several
    * hundred thousand entries). Below it the driver loop wins — job
    * scheduling costs more than the parse. */
  private[graft] def planDistributedMinBytes: Long =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.gdx.plan.distributedMinBytes",
        (32L * 1024 * 1024).toString).toLong
    catch { case _: Exception => 32L * 1024 * 1024 }

  /** How many times the DISTRIBUTED planner actually served an entry
    * resolution (success only — stand-downs don't count). Observability
    * for specs and SlopeLab: proves a `spark.read` engaged the Spark-
    * job planning path rather than the driver loop. */
  private[graft] val distributedPlanCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** DISTRIBUTED METADATA PLANNING — the 100M-file regime's answer to
    * the driver-side manifest replay becoming the planning bottleneck
    * (the Iceberg manifest-partitioning idea, reduced to this format's
    * line manifests): the driver walks the delta chain reading ONLY
    * each manifest's header block (O(chain), not O(entries)), then the
    * entry LINES parse as a Spark job over the manifest files' natural
    * splits and the parsed entries collect back. Engages only when an
    * active session exists and the chain's manifest bytes exceed
    * [[planDistributedMinBytes]]; stands down (None → the classic
    * driver loop) on anything exotic — an unresolved transaction-claim
    * redirect in the chain, a header-peek failure — so the full
    * race-healing logic of [[readManifest]] keeps owning those paths.
    * Output is byte-identical to the driver loop's: same entries, same
    * name order. */
  private def distributedEntries(path: String, conf: Configuration,
                                 v: Int, filters: Seq[Filter])
      : Option[Seq[GdxFileEntry]] = {
    val spark = SparkSession.getActiveSession.orNull
    if (spark == null || v <= 0) return None
    val minBytes = planDistributedMinBytes
    val fs = new Path(path).getFileSystem(conf)
    // header peek: (isDelta, hasTxnRedirect) from the leading '#'
    // block alone — never materializes the entry lines
    def peek(mp: Path): Option[(Boolean, Boolean)] = {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(mp), "UTF-8"))
      try {
        var isDelta = false; var hasTxn = false
        var line = in.readLine()
        var headers = true
        while (headers && line != null) {
          if (line.isEmpty || line.startsWith("#")) {
            if (line.startsWith(DeltaHeader)) isDelta = true
            if (line.startsWith(TxnHeader)) hasTxn = true
            line = in.readLine()
          } else headers = false
        }
        Some((isDelta, hasTxn))
      } catch { case _: Exception => None }
      finally in.close()
    }
    val files = Seq.newBuilder[Path]
    var bytes = 0L
    var cur = v
    var walking = true
    while (walking) {
      val mp = manifestFor(path, cur)
      if (!fs.exists(mp)) return None // loud error belongs to the caller
      peek(mp) match {
        case None | Some((_, true)) => return None // exotic → driver
        case Some((isDelta, _)) =>
          files += mp
          bytes += (try fs.getFileStatus(mp).getLen
                    catch { case _: Exception => return None })
          if (isDelta) {
            cur -= 1
            if (cur == 0) walking = false
          } else walking = false
      }
    }
    if (bytes < minBytes) return None
    // manual byte-range splits (LineRecordReader's boundary
    // convention: a split's last line runs past `end`; a non-first
    // split discards the partial first line it seeks into) —
    // Hadoop's input formats hide `_`-prefixed files, so textFile
    // would refuse the manifests outright
    val splitBytes = math.max(4L * 1024 * 1024, bytes / 64)
    val splits = files.result().flatMap { p =>
      val len = fs.getFileStatus(p).getLen
      val q = fs.makeQualified(p).toString
      (0L until math.max(len, 1L) by splitBytes)
        .map(s => (q, s, math.min(s + splitBytes, len)))
    }
    val sconf = new SerializableHadoopConf(conf)
    val fl = filters // stable local for the closure
    try Some(spark.sparkContext
      .parallelize(splits, splits.size)
      .flatMap { case (file, start, end) =>
        val pth = new Path(file)
        val in = pth.getFileSystem(sconf.conf).open(pth)
        try {
          if (start != 0) in.seek(start)
          val lr = new org.apache.hadoop.util.LineReader(in)
          val txt = new org.apache.hadoop.io.Text()
          var pos = start
          if (start != 0) pos += lr.readLine(txt) // partial first line
          val out = scala.collection.mutable.ArrayBuffer
            .empty[GdxFileEntry]
          var reading = pos <= end
          while (reading) {
            val n = lr.readLine(txt)
            if (n == 0) reading = false
            else {
              pos += n
              val line = txt.toString
              if (line.nonEmpty && !line.startsWith("#")) {
                val e = parseManifestLine(line)
                // full pruneByStats semantics per entry (zero-row
                // drop included): either path returns the same set
                if (pruneByStats(e :: Nil, fl).nonEmpty) out += e
              }
              reading = pos <= end
            }
          }
          out
        } finally in.close()
      }
      .collect().toSeq.sortBy(_.name))
      .map { es => distributedPlanCount.incrementAndGet(); es }
    catch { case _: Exception => None } // any job failure → driver loop
  }

  private def parseManifestLine(line: String): GdxFileEntry = {
    // the stats overlays are always TRAILING and prefix-tagged (`x:`
    // ranges, `s:` sums) — peel them first, in any order, so every
    // legacy arity parses unchanged
    var raw = line.split('\t')
    var ext = Map.empty[String, (String, String)]
    var sums = Map.empty[String, (Long, Long)]
    var bytes: Option[Long] = None
    var gen: Option[String] = None
    var enc: Option[String] = None
    var peeling = raw.length > 1
    while (peeling) {
      if (raw.last.startsWith("x:")) {
        ext = parseExtStats(raw.last.drop(2)); raw = raw.init
      } else if (raw.last.startsWith("s:")) {
        sums = parseSumStats(raw.last.drop(2)); raw = raw.init
      } else if (raw.last.startsWith("b:")) {
        bytes = raw.last.drop(2).toLongOption; raw = raw.init
      } else if (raw.last.startsWith("g:")) {
        gen = Some(raw.last.drop(2)); raw = raw.init
      } else if (raw.last.startsWith("e:")) {
        enc = Some(raw.last.drop(2)); raw = raw.init
      } else peeling = false
      if (raw.length <= 1) peeling = false
    }
    raw match {
      // a stats-less, DV-less entry that carried overlays must keep
      // the PEELED name — matching the raw `line` here would bake the
      // overlay text into the file name and readers would stat a
      // nonexistent path
      case Array(name) =>
        GdxFileEntry(name, None, None, gen, enc)
      case Array(name, rows, mn, mx) =>
        GdxFileEntry(name,
          Some(GdxFileStats(rows.toLong, mn.toLong, mx.toLong, ext,
            sums, bytes)), None, gen, enc)
      case Array(name, "-", "-", "-", dv) =>
        GdxFileEntry(name, None, Some(dv), gen, enc)
      case Array(name, rows, mn, mx, dv) =>
        GdxFileEntry(name,
          Some(GdxFileStats(rows.toLong, mn.toLong, mx.toLong, ext,
            sums, bytes)),
          Some(dv), gen, enc)
      case _ => GdxFileEntry(line, None)
    }
  }

  private def parseExtStats(s: String): Map[String, (String, String)] =
    s.split(';').iterator.flatMap { part =>
      val eq = part.indexOf('=')
      val dots = part.indexOf("..", eq + 1)
      if (eq < 0 || dots < 0) None
      else Some(part.substring(0, eq) ->
        (part.substring(eq + 1, dots), part.substring(dots + 2)))
    }.toMap

  private def parseSumStats(s: String): Map[String, (Long, Long)] =
    s.split(';').iterator.flatMap { part =>
      val eq = part.indexOf('=')
      val comma = part.indexOf(',', eq + 1)
      if (eq < 0 || comma < 0) None
      else try Some(part.substring(0, eq) ->
        (part.substring(eq + 1, comma).toLong,
          part.substring(comma + 1).toLong))
      catch { case _: NumberFormatException => None }
    }.toMap

  /** File paths of the chosen snapshot (stats dropped). */
  def committedFiles(path: String, conf: Configuration,
                     version: Int = -1): Seq[Path] =
    committedEntries(path, conf, version).map(e => entryPath(path, e.name))

  /** Counts the bytes a data-file writer pushes, so the manifest can
    * carry the file's exact size (`b:`) without a post-write stat. */
  private[graft] final class CountingOutputStream(
      underlying: java.io.OutputStream) extends java.io.OutputStream {
    var count: Long = 0L
    override def write(b: Int): Unit = {
      underlying.write(b); count += 1
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      underlying.write(b, off, len); count += len
    }
    override def flush(): Unit = underlying.flush()
    override def close(): Unit = underlying.close()
  }

  private def writeLines(fs: FileSystem, p: Path,
                         lines: Seq[String]): Unit = {
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), "UTF-8"))
    try lines.foreach(out.println) finally out.close()
    failOnWriteError(out, p)
  }

  /** A `PrintWriter` never throws: a failed write, flush or close only
    * sets its error flag. Checked after `close()`, so a short write
    * (disk full, a lost stream) raises instead of passing for a whole
    * manifest, sidecar or data file. */
  private[graft] def failOnWriteError(out: java.io.PrintWriter,
                                      p: Path): Unit =
    if (out.checkError())
      throw new java.io.IOException(s"gdx: write to $p failed")

  /** In-process commit serialization, striped by table path: writers in
    * the same JVM (concurrent queries on a local[n] session, parallel
    * streaming sinks) never race the version claim at all. Cross-process
    * writers are handled by [[publishExclusive]]'s atomic no-replace
    * publish + retry. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Atomically publish `lines` as `dst` — failing (returning false)
    * if `dst` already exists, so two writers claiming the same version
    * cannot clobber each other's manifest. The content is written to a
    * temp sibling first and moved into place whole; readers never see a
    * partial manifest. Local FS claims via hard-link creation
    * (O_CREAT-exclusive, POSIX-atomic); HDFS via FileContext rename
    * with Rename.NONE (namenode-atomic no-replace). True object stores
    * swap this for a conditional PUT (If-None-Match) — same contract,
    * documented at the head of this file. */
  private[graft] def publishExclusive(fs: FileSystem, conf: Configuration,
                                      dst: Path, lines: Seq[String]): Boolean = {
    if (fs.exists(dst)) return false // cheap early reject; claim is below
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.tmp-${java.util.UUID.randomUUID}")
    try {
      writeLines(fs, tmp, lines)
      if ("file" == Option(dst.toUri.getScheme).getOrElse("file")) {
        // the content link below bypasses ChecksumFileSystem, so a
        // stale `.dst.crc` from an fs.create-era write of the same
        // name (a vacuumed+reclaimed version) would poison every later
        // read — drop it before claiming, and link tmp's fresh crc in
        // after winning (a missing crc is fine; a WRONG one is not)
        dropStaleCrc(dst)
        val dstNio = java.nio.file.Paths.get(dst.toUri.getPath)
        val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
        try {
          java.nio.file.Files.createLink(dstNio, tmpNio)
          linkCrc(tmp, dst)
          true
        }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: UnsupportedOperationException =>
            // filesystem without hard links: best-effort check-then-move
            !fs.exists(dst) && fs.rename(tmp, dst)
        }
      } else {
        try {
          org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
            .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.io.FileNotFoundException => false
        }
      }
    } finally if (fs.exists(tmp)) fs.delete(tmp, false)
  }

  /** ChecksumFileSystem sidecar for a local path. The NIO fast paths
    * below write CONTENT without Hadoop's checksum layer; any crc that
    * no longer matches must go (readers verify only when a crc exists,
    * so "no crc" is safe and "stale crc" is a read-time
    * ChecksumException on every subsequent open). */
  private def crcPath(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(
      new Path(p.getParent, s".${p.getName}.crc").toUri.getPath)
  private def dropStaleCrc(p: Path): Unit = {
    java.nio.file.Files.deleteIfExists(crcPath(p)); ()
  }
  private def linkCrc(src: Path, dst: Path): Unit =
    try {
      if (java.nio.file.Files.exists(crcPath(src)))
        java.nio.file.Files.createLink(crcPath(dst), crcPath(src))
    } catch { case _: Exception => () } // crc is best-effort metadata

  /** Atomically REPLACE `dst` with `lines` (vacuum's checkpoint
    * materialization rewrites an existing manifest in place): content
    * goes to a temp sibling, then an atomic overwriting move — a
    * concurrent reader sees the old manifest or the new one, never a
    * truncated in-progress write. */
  private def replaceAtomic(fs: FileSystem, conf: Configuration,
                            dst: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.tmp-${java.util.UUID.randomUUID}")
    writeLines(fs, tmp, lines)
    if ("file" == Option(dst.toUri.getScheme).getOrElse("file")) {
      // same crc discipline as publishExclusive: the NIO move changes
      // content under any existing sidecar — drop it, then adopt tmp's
      dropStaleCrc(dst)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      linkCrc(tmp, dst)
      java.nio.file.Files.deleteIfExists(crcPath(tmp))
    } else
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The single publish routine every commit path shares: rename each
    * task's tmp file to its version-prefixed final name, then write
    * snapshot N+1's manifest. Append commits publish a DELTA manifest
    * listing only this commit's files — O(files added), no read of the
    * previous snapshot at all; truncate, version 1, and every
    * [[CheckpointInterval]]-th version publish a full checkpoint (prior
    * entries carried forward WITH their zone-map stats).
    *
    * OPTIMISTIC CONCURRENCY: the version number is a claim, not a fact
    * — the manifest is published atomically with no-replace semantics
    * ([[publishExclusive]]), and a writer that loses the race recomputes
    * the next version (re-reading the now-advanced snapshot for
    * checkpoint content) and retries. Appends are commutative, so
    * NO conflict check is needed — both writers' rows land, in two
    * consecutive snapshots (the Delta/Iceberg append path). Truncates
    * are last-writer-wins by design. Within one JVM the race is
    * eliminated outright by a per-table commit lock. Returns the
    * committed version.
    *
    * `expectedBase >= 0` turns the claim into a CAS: the commit must
    * land as exactly `expectedBase + 1` or throw
    * [[GdxConcurrentModificationException]] — the conflict-DETECTING
    * path non-commutative commits (a maintenance rewrite's
    * read-compute-truncate) need, where silently landing on a later
    * version would erase a concurrent writer's rows. The caller
    * re-reads and retries the whole computation (see
    * [[rewriteWithCas]]); commutative appends keep the
    * retry-forward default. */
  /** A replaceWhere slice: the raw partition-spec text, the allowed
    * directory keys, and the slice's entries (name, dv) OBSERVED when
    * the write was built. The commit conflict-checks the live slice
    * against the observation: a concurrent writer that landed (or
    * DV'd) rows inside the slice between build and publish would be
    * silently erased by the restatement — that is a serialization
    * conflict, surfaced loudly, exactly as Delta treats a txn that
    * wrote into a replaceWhere range. Commits OUTSIDE the slice stay
    * benign: the CAS-retry recomputes the carried set and proceeds. */
  case class GdxReplaceWhere(spec: String, allowed: Set[Long],
                             observedSlice: Set[(String, Option[String])])

  /** `replaceWhere = Some(slice)`: PARTIAL overwrite — the commit
    * carries forward every previous entry OUTSIDE the allowed
    * partition directories, drops every entry inside them, and adds
    * this write's files (which must all land inside). The Delta
    * `replaceWhere` contract: a selective backfill/compaction replaces
    * one partition's files in one atomic snapshot while the other
    * 99.9% of a 100 TB table is carried by reference. Refused loudly
    * when any previous entry cannot PROVE its partition key from its
    * name (a legacy/root-level file might hold matching rows), when
    * a written row escaped the predicate (its file landed in a
    * disallowed directory), or when the slice changed concurrently
    * (see [[GdxReplaceWhere]]). */
  def commitFiles(path: String, conf: Configuration, replace: Boolean,
                  messages: Seq[
                    org.apache.spark.sql.connector.write
                      .WriterCommitMessage],
                  expectedBase: Int = -1,
                  writeSchema: StructType = schema,
                  enforcedConstraints: Option[Seq[(String, String)]] = None,
                  partitionCol: Option[String] = None,
                  replaceWhere: Option[GdxReplaceWhere] = None)
      : Int = {
    val base = new Path(path)
    val fs = base.getFileSystem(conf)
    val lockKey = fs.makeQualified(base).toString
    commitLocks.computeIfAbsent(lockKey, _ => new Object).synchronized {
      val finals = messages.collect { case m: GdxCommitMessage =>
        m.files
      }.flatten
      var attempt = (listVersions(path, conf) :+ 0).max + 1
      var committed = -1
      var renamed: Map[String, GdxFileEntry] = Map.empty
      def tidyTmps(): Unit = finals.foreach { case (tmp, _) =>
        // names are DIRECTORY-RELATIVE (a partitioned file lives under
        // p=v/): the sidecar path must keep the subdir, so build it
        // from the relative name, never from getName (leaf only)
        val rel = renamed.get(tmp).map(_.name).getOrElse(tmp)
        val p = new Path(base, rel)
        if (fs.exists(p)) fs.delete(p, false)
        val bs = new Path(base, rel + GdxBloom.Suffix)
        if (fs.exists(bs)) fs.delete(bs, false)
      }
      // replaceWhere contract, write side: every written row must
      // satisfy the predicate — the writer demuxes rows into partition
      // directories, so a file landing OUTSIDE the allowed set proves a
      // row escaped (Delta refuses these writes too; silently keeping
      // them would make "replace p=5" also insert into p=7)
      replaceWhere.foreach { rw0 =>
        val escaped = finals.map(_._1).filterNot(t =>
          partKeyOf(rw0.spec, t).exists(_.exists(rw0.allowed.contains)))
        if (escaped.nonEmpty) {
          tidyTmps()
          throw new IllegalArgumentException(
            s"gdx replaceWhere: written file(s) " +
              s"${escaped.take(3).mkString(", ")} hold rows outside the " +
              "predicate's partitions - every written row must satisfy " +
              "the replaceWhere condition")
        }
      }
      while (committed < 0) {
        // the claim invariant every reader relies on ("if v+1 exists,
        // v is decided"): before claiming `attempt`, decide any stale
        // txn claim sitting at the current head — otherwise this
        // commit's own chain would run through an unresolvable
        // snapshot
        decideStaleTxn(path, conf, attempt - 1)
        // METADATA CONFLICT: a constraint committed AFTER this write
        // captured its enforcement set means these rows were NEVER
        // validated against it — publishing would land unvalidated
        // rows under a constraint-bearing manifest. Re-checked every
        // retry (a lost race may be exactly the constraint commit);
        // the read below also feeds the manifest header, so the set
        // the header declares is the set that was checked.
        val liveChecks = committedConstraints(path, conf)
        enforcedConstraints.foreach { enforced =>
          val missed = liveChecks.filterNot(enforced.contains)
          if (missed.nonEmpty) {
            tidyTmps()
            throw new GdxConcurrentModificationException(
              s"gdx commit: constraint(s) ${missed.map(_._1).mkString(",")} " +
                s"were added to $path while this write was in flight - " +
                "its rows were not validated against them; re-run the write")
          }
        }
        if (expectedBase >= 0 && attempt != expectedBase + 1) {
          // tidy this attempt's tmp files (and bloom sidecars) before
          // surfacing the conflict
          tidyTmps()
          throw new GdxConcurrentModificationException(
            s"gdx commit: expected to publish version ${expectedBase + 1} " +
              s"of $path but the snapshot advanced to ${attempt - 1} - " +
              "re-read and retry the operation")
        }
        // (re)name each task file under the attempted version — names
        // are cosmetic (the manifest is authoritative) but keeping the
        // prefix equal to the committing version preserves the
        // lexicographic file ordering invariant
        val entries = finals.map { case (tmp, stats) =>
          // the version prefix applies to the FILE name; a partitioned
          // tmp keeps its `col=value/` subdirectory
          val slash = tmp.lastIndexOf('/')
          val (sub, leaf) =
            if (slash < 0) ("", tmp)
            else (tmp.substring(0, slash + 1), tmp.substring(slash + 1))
          val fin = sub + f"v$attempt%08d-" + leaf.stripSuffix(".tmp")
          val srcRel = renamed.get(tmp).map(_.name).getOrElse(tmp)
          val src = new Path(base, srcRel)
          val dst = new Path(base, fin)
          if (src != dst) {
            // never delete an existing dst: tmp names carry a per-write
            // UUID so dst can only exist if a concurrent writer's
            // committed manifest already references it — deleting it
            // would orphan that snapshot. Collision = loud failure.
            require(!fs.exists(dst),
              s"gdx commit: destination $fin already exists — " +
                "refusing to clobber a possibly-committed file")
            require(fs.rename(src, dst),
              s"gdx commit: rename $src -> $fin failed")
            // the bloom sidecar follows its data file through every
            // (re)name (relative path — subdir preserved); a missing
            // sidecar (empty task) is fine
            val bsrc = new Path(base, srcRel + GdxBloom.Suffix)
            if (fs.exists(bsrc))
              fs.rename(bsrc, new Path(base, fin + GdxBloom.Suffix))
          }
          // every freshly committed file is escape-era: its writer
          // encoded string cells through [[escapeCell]]
          renamed += tmp -> GdxFileEntry(fin, Some(stats),
            enc = Some(EscCodec))
          renamed(tmp)
        }
        val checkpoint = replace || replaceWhere.isDefined ||
          attempt == 1 || attempt % CheckpointInterval == 0
        // every manifest records the snapshot's schema: a truncate pins
        // the write's schema AND resets the column mapping to identity
        // (the rewrite materialized the logical layout — dead slots are
        // physically gone); an append carries the evolved table schema
        // and its mapping forward (analysis already proved the write
        // matches it). Constraints are TABLE metadata — carried through
        // appends and truncates alike.
        val headers = headerLines(
          if (replace) writeSchema
          else {
            // the table's schema wins only when the table EXISTS — on
            // a fresh-directory append committedSchema's legacy (k,v)
            // fallback must not shadow the write's declared types (a
            // first `variant`/`double` append would otherwise commit a
            // string schema line and corrupt every later read)
            val cur = targetManifest(path, conf, -1)
              .flatMap(m => readManifestHeaders(
                new Path(path).getFileSystem(conf), m).schema)
            cur match {
              case Some(c) if c.length >= writeSchema.length => c
              case _ => writeSchema
            }
          },
          liveChecks,
          if (replace) None else committedColmap(path, conf),
          // a truncate (re)declares the layout it was written with; an
          // append records the union of declared and already-recorded
          // (they were proven consistent at build())
          if (replace) partitionCol
          else partitionCol.orElse(committedPartitionCol(path, conf)))
        val published =
          if (checkpoint) {
            val prev =
              if (replace) Seq.empty
              else replaceWhere match {
                case Some(rw0) =>
                  // partial replace: carry entries OUTSIDE the allowed
                  // directories (the `__null__` dir included — an
                  // equality/IN predicate never matches NULL), drop the
                  // ones inside. Every entry must PROVE its key; a
                  // legacy or root-level-DML file could hold matching
                  // rows, and dropping/keeping it blind would lose or
                  // duplicate them — refuse and point at full OPTIMIZE.
                  val all = committedEntries(path, conf)
                  val unproven =
                    all.filterNot(e => partKeyOf(rw0.spec, e.name)
                      .isDefined)
                  if (unproven.nonEmpty) {
                    tidyTmps()
                    throw new IllegalArgumentException(
                      "gdx replaceWhere: file(s) " +
                        s"${unproven.take(3).map(_.name).mkString(", ")} " +
                        "carry no provable partition key (legacy or " +
                        "DML-rewrite era) - run a full OPTIMIZE first " +
                        "to restore the partitioned layout")
                  }
                  def inSlice(e: GdxFileEntry): Boolean =
                    partKeyOf(rw0.spec, e.name).get
                      .exists(rw0.allowed.contains)
                  // serialization check: the slice this commit DROPS
                  // must be exactly the slice the write observed — a
                  // concurrent commit that added or DV'd rows inside it
                  // would be silently erased by the restatement
                  val liveSlice =
                    all.filter(inSlice).map(e => (e.name, e.dv)).toSet
                  if (liveSlice != rw0.observedSlice) {
                    tidyTmps()
                    throw new GdxConcurrentModificationException(
                      s"gdx replaceWhere: the predicate's partitions of " +
                        s"$path changed while this write was in flight - " +
                        "re-read and retry the restatement")
                  }
                  all.filterNot(inSlice)
                case None => committedEntries(path, conf)
              }
            headers ++ (prev ++ entries).sortBy(_.name).map(_.manifestLine)
          } else
            (DeltaHeader +: headers) ++
              entries.sortBy(_.name).map(_.manifestLine)
        if (publishExclusive(fs, conf, manifestFor(path, attempt),
            published)) {
          // legacy mirror for pre-versioning readers of `_manifest`;
          // only consulted when NO numbered manifest exists, so
          // checkpoint-cadence refresh costs nothing in correctness and
          // keeps commits O(delta)
          if (checkpoint) writeLines(fs, manifest(path), published)
          committed = attempt
        } else {
          // lost the race: another writer published this version —
          // recompute against the advanced snapshot and try again. If
          // the winner was an in-flight multi-table transaction's
          // claim, DECIDE it first (abort-or-observe-commit): claiming
          // past an undecided version would leave readers of this
          // commit chaining through an unresolvable snapshot
          decideStaleTxn(path, conf, attempt)
          attempt = math.max(attempt + 1,
            (listVersions(path, conf) :+ 0).max + 1)
        }
      }
      committed
    }
  }

  /** Zone-map file skipping: keep an entry unless its published k-range
    * PROVES no row can satisfy every pushed k-predicate. Stats-less
    * (legacy) entries are never skipped; empty files (minK > maxK) are
    * skipped by any k-predicate. `In` comes from RUNTIME filtering
    * (dynamic pruning: the join build side's key set, delivered after
    * it materializes) — a file survives if ANY key can land in its
    * range. Pure — unit-testable without a FileSystem. */
  def pruneByStats(entries: Seq[GdxFileEntry],
                   pushed: Seq[Filter]): Seq[GdxFileEntry] =
    entries.filter { e =>
      // a manifest-proven EMPTY file (a zero-row task's output, an
      // empty seed commit) contributes nothing to any scan — drop it
      // at planning unconditionally
      !e.stats.exists(_.rows == 0L) &&
      e.stats.forall { st =>
        // extended per-column range check: exact decimal compare of the
        // manifest's min/max strings against the literal (BigDecimal —
        // a double-rounded compare of a large long could prune a file
        // that actually matches). Typed literals (date / timestamp /
        // boolean) compare through their canonical long repr
        // ([[statLiteral]] — the exact form the stats were recorded
        // in). Any unparseable side (±Infinity, a legacy line, an
        // unconvertible literal) keeps the file: absence of a provable
        // miss is never a prune.
        def dec(s: String): Option[BigDecimal] =
          try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }
        def extRange(c: String): Option[(BigDecimal, BigDecimal)] =
          st.cols.get(c).flatMap { case (mn, mx) =>
            dec(mn).zip(dec(mx)) }
        def cmp(c: String, w: Any)(miss: (BigDecimal, BigDecimal,
            BigDecimal) => Boolean): Boolean =
          (extRange(c), statLiteral(w)) match {
            case (Some((mn, mx)), Some(v)) => !miss(mn, mx, v)
            case _ => true
          }
        // STRING bounds (kind-3 lanes): `mn` is a valid lower bound
        // (truncation shortens) and `mx` a valid upper bound (strict
        // when truncated — see [[truncUpperBound]]); comparisons are
        // Java code-unit order, the exact order the bounds were
        // accumulated and constructed in. A string literal identifies
        // the column as a string lane (predicates never mix types).
        def strKeep(c: String)(miss: (String, String) => Boolean)
            : Boolean =
          st.cols.get(c) match {
            case Some((mn, mx)) =>
              !miss(unescapeCell(mn), unescapeCell(mx))
            case None => true
          }
        pushed.forall {
          case EqualTo("k", w: Number) =>
            st.minK <= w.longValue && w.longValue <= st.maxK
          case GreaterThan("k", b: Number)        => st.maxK > b.longValue
          case GreaterThanOrEqual("k", b: Number) => st.maxK >= b.longValue
          case LessThan("k", b: Number)           => st.minK < b.longValue
          case LessThanOrEqual("k", b: Number)    => st.minK <= b.longValue
          case org.apache.spark.sql.sources.In("k", vs) =>
            vs.exists {
              case w: Number => st.minK <= w.longValue && w.longValue <= st.maxK
              case _         => true
            }
          case EqualTo(c, w: String)    => strKeep(c)((mn, mx) =>
            w < mn || w > mx)
          case GreaterThan(c, w: String) =>
            strKeep(c)((_, mx) => mx <= w)
          case GreaterThanOrEqual(c, w: String) =>
            strKeep(c)((_, mx) => mx < w)
          case LessThan(c, w: String)   =>
            strKeep(c)((mn, _) => mn >= w)
          case LessThanOrEqual(c, w: String) =>
            strKeep(c)((mn, _) => mn > w)
          case org.apache.spark.sql.sources.StringStartsWith(c, p) =>
            // p-prefixed values form the interval [p, p·∞): miss when
            // the file sits entirely below p, or entirely at/above the
            // first non-p-prefixed string after p (mn > p and mn not
            // itself p-prefixed)
            strKeep(c)((mn, mx) =>
              mx < p || (mn > p && !mn.startsWith(p)))
          case EqualTo(c, w)            => cmp(c, w)((mn, mx, v) =>
            v < mn || v > mx)
          case GreaterThan(c, w)        => cmp(c, w)((_, mx, v) => mx <= v)
          case GreaterThanOrEqual(c, w) => cmp(c, w)((_, mx, v) => mx < v)
          case LessThan(c, w)           => cmp(c, w)((mn, _, v) => mn >= v)
          case LessThanOrEqual(c, w)    => cmp(c, w)((mn, _, v) => mn > v)
          case org.apache.spark.sql.sources.In(c, vs)
              if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
            st.cols.get(c) match {
              case Some((mnE, mxE)) =>
                val mn = unescapeCell(mnE); val mx = unescapeCell(mxE)
                vs.exists { case w: String => w >= mn && w <= mx }
              case None => true
            }
          case org.apache.spark.sql.sources.In(c, vs) =>
            extRange(c) match {
              case Some((mn, mx)) => vs.exists(w =>
                statLiteral(w).forall(v => mn <= v && v <= mx))
              case None => true
            }
          case _                                  => true
        }
      }
    }

  /** OPTIMIZE for the GDX table: rewrite the current snapshot's many
    * small files (the streaming-sink accretion shape) as `target`
    * files, committed as a NEW truncate snapshot with identical rows.
    * Snapshot isolation does all the heavy lifting: readers planning
    * from the old manifest are untouched (their files are never
    * rewritten), time travel to the pre-compaction version keeps
    * working, and retention ([[vacuum]]) reclaims the small files once
    * no retained snapshot references them — the Delta OPTIMIZE /
    * Iceberg rewrite_data_files contract. Returns (files before,
    * files after); a no-op when already at or under `target`. */
  def compact(spark: SparkSession, dir: String, target: Int = 1): (Int, Int) =
    rewriteWithCas(dir) { readV =>
      val conf = driverConf()
      val before = committedEntries(dir, conf).size
      // a full OPTIMIZE is the advertised remedy for an ambiguous
      // partition-spec evolution history (replaceWhere/SPJ/grouped
      // aggregates point at it) — the already-compact short-circuit
      // must not leave that history in place, so any evolution tail
      // forces the materializing rewrite even at/below target
      val evolved = committedPartitionCol(dir, conf)
        .exists(_.contains(";"))
      if (before <= target && !evolved) None
      else Some((before, snapshotReader(spark, dir, readV).coalesce(target)))
    }

  /** BIN-PACKING OPTIMIZE — rewrite ONLY the small-file tail (and any
    * DV-carrying file), carry every file at or above `smallBytes` by
    * reference. This is what OPTIMIZE must mean at 100 TB: a table's
    * steady state is a few thousand large immutable files plus the
    * small-file tail today's commits landed, and maintenance cost has
    * to track the TAIL, not the table — the full [[compact]] rewrite
    * is for layout migrations, this is for the nightly cadence. On a
    * partitioned/transformed layout each directory compacts WITHIN
    * itself (rewrites keep the `col=key/` prefix, so names still
    * prove their keys and SPJ/slice contracts survive); DVs of
    * rewritten files fold away. Groups with nothing to gain (at most
    * `target` small DV-free files) are untouched; large files are
    * never OPENED, only re-listed. One CAS'd checkpoint commit (the
    * evolution-history tail and every header carry through — this is
    * a partial rewrite, never a materialization); lost races
    * recompute. Returns (files before, files after). */
  def compactSmall(spark: SparkSession, dir: String,
                   smallBytes: Long, target: Int = 1,
                   maxRetries: Int = 10): (Int, Int) = {
    require(smallBytes > 0 && target >= 1,
      "gdx compactSmall: smallBytes and target must be positive")
    val conf0 = driverConf()
    val sconf = new SerializableHadoopConf(conf0)
    val base = new Path(dir)
    val fs = base.getFileSystem(conf0)
    var attempt = 0
    while (true) {
      val vs = listVersions(dir, conf0)
      require(vs.nonEmpty, s"gdx compactSmall: no snapshot under $dir")
      decideStaleTxn(dir, conf0, vs.max) // claim-aware maintenance
      val readV = vs.max
      val entries = committedEntries(dir, conf0, readV)
      // ONE manifest read supplies every header (a delta manifest
      // carries them too); committedEntries above still resolves the
      // delta chain for the file list
      val md = readManifest(fs, manifestFor(dir, readV))
      val tblSchema = md.schema.getOrElse(schema)
      val tblColmap = md.colmap
      // sizes from the manifest's `b:` field when carried; the
      // remainder (legacy eras, clone refs) from ONE listing per
      // directory (the steady-state table this targets has thousands
      // of entries — per-entry getFileStatus RPCs would dominate);
      // absolute (clone-ref) names fall back to a direct stat
      lazy val sized: Map[String, Long] = entries.map(e =>
        e.name.lastIndexOf('/') match {
          case -1 => ""
          case i  => e.name.substring(0, i + 1)
        }).distinct.flatMap { pre =>
        val d = if (pre.isEmpty) base else new Path(base, pre)
        try fs.listStatus(d).toSeq
          .map(st => s"$pre${st.getPath.getName}" -> st.getLen)
        catch { case _: Exception => Seq.empty }
      }.toMap
      def sizeOf(e: GdxFileEntry): Long =
        e.stats.flatMap(_.bytes).getOrElse(sized.getOrElse(e.name,
          try fs.getFileStatus(entryPath(dir, e.name)).getLen
          catch { case _: Exception => Long.MaxValue })) // unknowable: large
      // candidates: small by bytes, or carrying a DV worth folding —
      // grouped by their directory so the layout survives the rewrite.
      // The threshold doubles as the TARGET BIN SIZE: a directory
      // whose tail totals many times smallBytes splits into
      // ~smallBytes output files instead of one unbounded merge, and
      // a group that would not shrink (and folds no DV) is untouched.
      val cand = entries.filter(e =>
        e.dv.isDefined || sizeOf(e) < smallBytes)
      // A clone-ref (absolute) entry must NEVER be rewritten into the
      // source's directory: its absolute prefix would become the
      // output's namePrefix and the new files would land in the SOURCE
      // table — unreferenced by the source's manifests, so a routine
      // source-side VACUUM would reap them and the clone would lose
      // committed rows. Localize such entries under the CLONE's own
      // root instead, keeping the `col=key/` component when the source
      // directory carries one (the name keeps proving its key).
      // The same rule localizes published-branch adoptions
      // (`_branches/<name>.t/...` relative paths): anything not living
      // in a plain `col=key/` partition directory of THIS table
      // rewrites at the table root, keeping only the partition
      // component when the origin directory proves one.
      def groupPrefix(e: GdxFileEntry): String = {
        val pre = e.name.lastIndexOf('/') match {
          case -1 => ""
          case i  => e.name.substring(0, i + 1)
        }
        if (!isAbsoluteName(e.name) && pre.count(_ == '/') <= 1 &&
            !pre.startsWith(BranchesDir)) pre
        else {
          val trimmed = pre.stripSuffix("/")
          val seg = trimmed.substring(trimmed.lastIndexOf('/') + 1)
          if (seg.contains('=')) seg + "/" else ""
        }
      }
      // each term capped at smallBytes (the unknowable-size sentinel is
      // Long.MaxValue) and the sum saturates, so the bin count can
      // never collapse to 1 through signed overflow
      def binSize(e: GdxFileEntry): Long = math.min(sizeOf(e), smallBytes)
      val groups = cand.groupBy(groupPrefix).toSeq.map {
        case (prefix, es) =>
          val total = es.foldLeft(0L)((a, e) =>
            if (a > Long.MaxValue - binSize(e)) Long.MaxValue
            else a + binSize(e))
          val bins = math.max(target, math.min(es.size.toLong,
            (total + smallBytes - 1) / smallBytes).toInt)
          (prefix, es, bins)
      }.filter { case (_, es, bins) =>
        es.exists(_.dv.isDefined) || es.size > bins
      }
      val rewriteSet = groups.flatMap(_._2)
      val before = entries.size
      if (rewriteSet.isEmpty) return (before, before)
      val rewritten = groups.sortBy(_._1).flatMap {
        case (prefix, es, bins) =>
          writeDataFiles(
            liveFrame(spark, dir, es, tblSchema, sconf, tblColmap)
              .drop("_file", "_pos").coalesce(bins),
            dir, tblSchema, sconf, tblColmap, prefix)
      }
      val rewriteNames = rewriteSet.map(_.name).toSet
      val updated = entries.filterNot(e => rewriteNames(e.name)) ++
        rewritten
      val lines = headerLines(tblSchema, md.checks, tblColmap,
        md.partitionCol) ++
        updated.sortBy(_.name).map(_.manifestLine)
      if (publishExclusive(fs, conf0, manifestFor(dir, readV + 1), lines)) {
        writeLines(fs, manifest(dir), lines)
        return (before, updated.size)
      }
      // lost the race; orphan rewrites await vacuum. A stale txn claim
      // is decided before retrying (same invariant as commitFiles)
      decideStaleTxn(dir, conf0, readV + 1)
      attempt += 1
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx compactSmall: lost the publish race $maxRetries times " +
          s"on $dir")
    }
    (-1, -1) // unreachable
  }

  /** The `<partitionCol> = <n>` / `<partitionCol> IN (n, ...)` slice
    * predicate shared by the replaceWhere write option and
    * `OPTIMIZE ... WHERE` — anything richer is refused loudly (the
    * Delta replaceWhere surface). */
  private[graft] def parsePartPredicate(txt: String): (String, Set[Long]) = {
    val RwEq = """(?is)^\s*(\w+)\s*=\s*(-?\d+)\s*$""".r
    val RwIn =
      """(?is)^\s*(\w+)\s+IN\s*\(\s*(-?\d+(?:\s*,\s*-?\d+)*)\s*\)\s*$""".r
    txt match {
      case RwEq(c, v)  => (c, Set(v.toLong))
      case RwIn(c, vs) => (c, vs.split(',').map(_.trim.toLong).toSet)
      case other => throw new IllegalArgumentException(
        s"gdx: unsupported partition predicate '$other' - use " +
          "<partitionCol> = <n> or <partitionCol> IN (n, ...)")
    }
  }

  /** Did a commit lose a CAS race? Spark wraps a commit-time
    * [[GdxConcurrentModificationException]] in its own job/write
    * exceptions, so the cause chain is walked (a bounded depth). */
  private[graft] def isConflict(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.isInstanceOf[GdxConcurrentModificationException])

  /** `OPTIMIZE ... WHERE`: partial compaction — rewrite ONLY the
    * predicate's partitions (DVs folded in, small files merged),
    * carry every other partition's files by reference through a
    * replaceWhere commit. At 100 TB this is how maintenance actually
    * runs: the hot partitions (today's ingest, the DV-accreting GDPR
    * targets) compact on a cadence, the cold 99.9% is never read or
    * written. Same serializable loop as [[compact]] (CAS on the read
    * version, recompute on a lost race); refused on bucket layouts and
    * on tables with unproven-key files (the replaceWhere contract).
    * Returns (touched files before, touched files after). */
  def compactWhere(spark: SparkSession, dir: String, whereTxt: String,
                   target: Int = 1, maxRetries: Int = 10): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val (c, values) = parsePartPredicate(whereTxt)
    var attempt = 0
    while (true) {
      val conf = driverConf()
      val readV = decidedHead(dir, conf)
      val spec = committedPartSpec(dir, conf, readV).getOrElse(
        throw new IllegalArgumentException(
          "gdx OPTIMIZE WHERE: the table declares no partition layout"))
      // a former spec colliding with the current directory key means
      // `touched` could claim another era's files — refuse; a full
      // OPTIMIZE materializes the layout and clears the history
      require(!committedPartitionCol(dir, conf, readV)
          .exists(partDirAmbiguous),
        "gdx OPTIMIZE WHERE: a former partition spec shares the " +
          "current spec's directory key - run a full OPTIMIZE first")
      require(spec.isInstanceOf[GdxIdentityPart],
        s"gdx OPTIMIZE WHERE: ${spec.render} layouts are not " +
          "value-replaceable - a bucket directory mixes key values")
      require(c.equalsIgnoreCase(spec.col),
        s"gdx OPTIMIZE WHERE: $c is not the table's partition " +
          s"column (${spec.col})")
      def touched(es: Seq[GdxFileEntry]): Seq[GdxFileEntry] =
        es.filter(e => partKeyOf(spec.render, e.name)
          .exists(_.exists(values.contains)))
      val touch = touched(committedEntries(dir, conf, readV))
      // no-op only when EVERY slice value is already compact and
      // DV-free — an aggregate count would let an imbalanced IN
      // (4 files in p=1, none in p=2) skip a needed rewrite
      val perValue = touch.groupBy(e => partKeyOf(spec.render, e.name))
      if (perValue.values.forall(es =>
          es.size <= target && es.forall(_.dv.isEmpty)))
        return (touch.size, touch.size)
      try {
        snapshotReader(spark, dir, readV)
          .filter(col(spec.col).isin(values.toSeq: _*))
          .coalesce(target)
          .write.format("graft.sources.GdxSource").option("path", dir)
          .option("expectedBaseVersion", readV.toString)
          .option("replaceWhere",
            s"${spec.col} IN (${values.mkString(",")})")
          .option("clusterWrite", "false")
          .mode("overwrite").save()
        return (touch.size, touched(committedEntries(dir, conf)).size)
      } catch {
        case t: Throwable if isConflict(t) && attempt < maxRetries =>
          attempt += 1 // lost the race — recompute on the new snapshot
      }
    }
    (-1, -1) // unreachable
  }

  /** The maintenance-rewrite serializable loop shared by [[compact]] and
    * [[optimizeZOrder]]: read-rewrite-truncate is NOT commutative — a
    * commit landing between the snapshot read and the overwrite publish
    * would be silently dropped from the live table by a blind truncate
    * (it would survive only in history). So the rewrite pins its READ to
    * the version it observed, publishes with a CAS
    * (`expectedBaseVersion`), and on a lost race recomputes against the
    * advanced snapshot — the same loop [[mergeGeneral]]/[[delete]]
    * run, and the conflict check Delta's OPTIMIZE performs. `body`
    * returns None for a no-op (already at/under target), or
    * (files_before, rewritten frame) to publish. */
  private def rewriteWithCas(dir: String, maxRetries: Int = 10)
      (body: Int => Option[(Int, org.apache.spark.sql.DataFrame)])
      : (Int, Int) = {
    var attempt = 0
    while (true) {
      val readV = decidedHead(dir, driverConf())
      body(readV) match {
        case None => return {
          val n = committedEntries(dir, driverConf()).size; (n, n)
        }
        case Some((before, rewritten)) =>
          try {
            // a maintenance rewrite preserves the table's declared
            // hive-style layout: the truncate re-declares it, so
            // OPTIMIZE compacts WITHIN partitions instead of silently
            // un-partitioning the table
            val w0 = rewritten.write.format("graft.sources.GdxSource")
              .option("path", dir)
              .option("expectedBaseVersion", readV.toString)
              // the rewrite's own layout (Z-order range partitioning,
              // compaction's target split) is the product — never
              // re-cluster it on the partition column
              .option("clusterWrite", "false")
            // HEAD spec only: the full rewrite lands every live row
            // under the CURRENT layout, so the truncate clears the
            // evolution-history tail — OPTIMIZE is how a layout
            // migration materializes
            val w = committedPartitionCol(dir, driverConf())
              .map(c => w0.option("partitionBy", partHeadOf(c)))
              .getOrElse(w0)
            w.mode("overwrite").save()
            return (before, committedEntries(dir, driverConf()).size)
          } catch {
            case t: Throwable if isConflict(t) && attempt < maxRetries =>
              attempt += 1 // lost the race — recompute on the new snapshot
          }
      }
    }
    (-1, -1) // unreachable
  }

  /** Reader pinned at `readV` (the CAS loop's observed snapshot) so the
    * rewrite job and its CAS guard agree on the exact version — a scan
    * of the LIVE table could silently include a commit the guard then
    * fails to detect. */
  private def snapshotReader(spark: SparkSession, dir: String, readV: Int)
      : org.apache.spark.sql.DataFrame = {
    val r = spark.read.format("graft.sources.GdxSource").option("path", dir)
    (if (readV > 0) r.option("version", readV.toString) else r).load()
  }

  /** OPTIMIZE … ZORDER BY for the GDX table: rewrite the current
    * snapshot CLUSTERED on the Morton (Z-order) curve over `by` —
    * equi-depth bucketize each listed column (one sampled
    * `approxQuantile` pass per column), interleave the bucket bits
    * ([[graft.functions.ZValue]], codegen'd), range-partition on the
    * Z-value into ~`target` files, and publish as ONE truncate commit.
    * Every listed column then has file-level locality simultaneously,
    * so the manifest's extended zone maps (min/max per numeric column)
    * prune on EVERY listed dimension — a linear sort gives its leading
    * key tight file ranges and leaves every other column's range as
    * wide as the table (the Delta OPTIMIZE ZORDER BY / Iceberg sort
    * rewrite contract; ZOrderSpec measures the difference). Snapshot
    * isolation as in [[compact]]: old versions keep their files, time
    * travel works, [[vacuum]] reclaims. At 100 TB this runs range-wise
    * like any maintenance rewrite; the quantile pass is sample-sized
    * and the clustering job is one range shuffle of the rewritten
    * slice. Returns (files before, files after). */
  def optimizeZOrder(spark: SparkSession, dir: String, by: Seq[String],
                     target: Int = 8): (Int, Int) =
    rewriteWithCas(dir) { readV =>
      import org.apache.spark.sql.functions.col
      val before = committedEntries(dir, driverConf()).size
      val df = snapshotReader(spark, dir, readV)
      val sch = df.schema
      require(by.nonEmpty, "gdx zorder: at least one clustering column")
      by.foreach { c =>
        require(sch.fieldNames.contains(c), s"gdx zorder: no column $c")
        require(graft.functions.ZValue.supportedType(sch(c).dataType),
          s"gdx zorder: $c is not numeric (${sch(c).dataType})")
      }
      // 256 equi-depth buckets per column: file-level clustering only
      // needs bucket count to comfortably exceed the target file count.
      // ONE multi-column quantile pass — per-column calls would scan the
      // table once per clustering dimension
      val probs = (1 until 256).map(_ / 256.0).toArray
      val bounds = df.stat.approxQuantile(by.toArray, probs, 0.001)
      val z = org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.ZValue(
          by.map(c => org.apache.spark.sql.graft.ColumnBridge
            .expression(df.col(c))),
          bounds))
      Some((before,
        df.withColumn("__z", z)
          .repartitionByRange(target, col("__z"))
          .drop("__z")))
    }

  // ---------------------------------------------- CLUSTER BY (layout)
  /** Declared clustering columns — the Delta liquid-clustering shape
    * of the contract: a LAYOUT PREFERENCE, not a correctness boundary
    * (zone maps prove every file's real range regardless), stored in
    * an atomic `_cluster` sidecar. Every INSERT-path write then asks
    * Spark for an ORDERED distribution on these columns
    * ([[GdxWrite]]'s `RequiresDistributionAndOrdering` — the engine
    * never hand-sorts; the planner adds the range exchange), so each
    * file's zone-map range over the cluster columns is narrow and
    * range/equality predicates prune files from day one, no OPTIMIZE
    * required. `OPTIMIZE t` with no arguments re-clusters history.
    * Restricted to stats-tracked (orderable) columns — clustering on a
    * column the zone maps cannot prune would be pure cost. */
  private def clusterFile(path: String): Path = new Path(path, "_cluster")

  def setClusterBy(dir: String, cols: Seq[String]): Unit = {
    val conf = driverConf()
    require(cols.nonEmpty, "gdx clusterBy: at least one column")
    // a partitioned table's writes already demux by the partition
    // spec; a clustering declaration would be silently ignored there —
    // refuse loudly instead (evolve the partition spec away first)
    require(committedPartitionCol(dir, conf).isEmpty,
      s"gdx clusterBy: $dir is partitioned - CLUSTER BY composes with " +
        "zone maps on unpartitioned layouts only")
    val sch = committedSchema(dir, conf)
    val resolved = cols.map(c => resolveClusterRef(sch, c).getOrElse(
      throw new IllegalArgumentException(
        s"gdx clusterBy: $c is not an orderable column or struct " +
          s"leaf of ${sch.fieldNames.mkString(",")} - clustering " +
          "needs a zone-map lane to ever prune")))
    val fs = new Path(dir).getFileSystem(conf)
    replaceAtomic(fs, conf, clusterFile(dir), Seq(resolved.mkString(",")))
  }

  /** Resolve a clustering reference — a top-level column or a DOTTED
    * STRUCT LEAF (`meta.tokens`) — to its canonical-case name, only
    * when it has a zone-map lane (struct leaves publish per-file
    * ranges under exactly these dotted names, so clustering on one
    * prunes like any flat column). None = unknown or unorderable. */
  private[graft] def resolveClusterRef(sch: StructType,
                                       ref: String): Option[String] = {
    val parts = ref.split('.')
    def walk(st: StructType, depth: Int,
             acc: List[String]): Option[String] =
      st.fields.find(_.name.equalsIgnoreCase(parts(depth))).flatMap {
        f =>
          if (depth == parts.length - 1)
            // NUMERIC-ordered lanes only: string bounds are truncated
            // (the overlap closure's decimal interval math cannot
            // prove lex-disjointness on them), so clustering on a
            // string column would never converge
            if (extStatKind(f.dataType) >= 0 &&
                extStatKind(f.dataType) != 3)
              Some((f.name :: acc).reverse.mkString("."))
            else None
          else f.dataType match {
            case nested: StructType =>
              walk(nested, depth + 1, f.name :: acc)
            case _ => None
          }
      }
    if (parts.isEmpty) None else walk(sch, 0, Nil)
  }

  def clusterByOf(dir: String, conf: Configuration): Seq[String] = {
    val fs = new Path(dir).getFileSystem(conf)
    val p = clusterFile(dir)
    if (!fs.exists(p)) Seq.empty
    else readFirstLine(fs, p).map(_.trim).filter(_.nonEmpty)
      .map(_.split(',').toSeq).getOrElse(Seq.empty)
  }

  def clearClusterBy(dir: String): Boolean = {
    val conf = driverConf()
    new Path(dir).getFileSystem(conf).delete(clusterFile(dir), false)
  }

  /** The declared clustering columns VALIDATED against the live table:
    * columns that left the schema (DROP/RENAME without sidecar upkeep,
    * or a sidecar from before a RESTORE) are dropped, and a partition
    * spec voids the declaration entirely (partitioned writes demux by
    * the spec — an ordered distribution on top would fight it). Bare
    * OPTIMIZE routes on THIS, so a stale registry degrades to plain
    * compaction instead of failing or mis-clustering. */
  def effectiveClusterBy(dir: String, conf: Configuration): Seq[String] = {
    val declared = clusterByOf(dir, conf)
    if (declared.isEmpty) Seq.empty
    else if (committedPartitionCol(dir, conf).isDefined) Seq.empty
    else {
      val sch = committedSchema(dir, conf)
      declared.flatMap(resolveClusterRef(sch, _))
    }
  }

  /** Keep the advisory `_cluster` sidecar in step with a schema DDL:
    * a rename carries the declaration to the new name, a drop removes
    * the column (deleting the sidecar when nothing remains). Called
    * AFTER the CAS'd metadata publish — the sidecar is a layout
    * preference, not correctness, so a crash between the two leaves
    * only a stale preference that [[effectiveClusterBy]] filters. */
  private def reconcileClusterSidecar(dir: String, from: String,
                                      to: Option[String]): Unit = {
    val conf = driverConf()
    val declared = clusterByOf(dir, conf)
    val fl = from.toLowerCase(java.util.Locale.ROOT)
    // a dotted declaration (`meta.tokens`) follows its COLUMN: rename
    // carries the prefix, drop removes every leaf under it
    def hit(c: String): Boolean = {
      val cl = c.toLowerCase(java.util.Locale.ROOT)
      cl == fl || cl.startsWith(fl + ".")
    }
    if (declared.exists(hit)) {
      val next = declared.flatMap {
        case c if hit(c) =>
          to.map(t => t + c.substring(from.length))
        case c => Some(c)
      }
      if (next.isEmpty) clearClusterBy(dir)
      else {
        val fs = new Path(dir).getFileSystem(conf)
        replaceAtomic(fs, conf, clusterFile(dir), Seq(next.mkString(",")))
      }
    }
  }

  /** Canonical cluster-column spec a generation tag embeds ('+'
    * joined, canonical-case resolved names). Tag equality on
    * `@<spec>` is what scopes the same-generation cleanliness
    * exemption to the columns it was actually proven on; a mismatch
    * only ever re-enters files into the closure (layout cost, never
    * a wrong answer — zone maps keep scans correct regardless). */
  private[graft] def genClusterSpec(byC: Seq[String]): String =
    byC.mkString("+")

  /** OVERLAP CLOSURE of a snapshot's files on the cluster-column
    * prefix, in LEXICOGRAPHIC order: the entries that provably
    * interleave (interval-merge clusters of ≥ 2 under per-file lex
    * bounds). Each file's bounds come from its zone-map ranges —
    * `(min_1, min_2, …)` is a valid lex LOWER bound of every row even
    * though trailing mins are file-global (a row tying the leading
    * bound still has its trailing value inside the file's trailing
    * range), and the maxes are a valid upper bound symmetrically. A
    * column the file cannot prove pads as −∞/+∞, which only ever
    * MERGES (conservative); a file with no leading-column range is
    * not ranged at all and is excluded (the caller decides its fate).
    * Versus the head-only proof this is strictly finer exactly at
    * boundary equality: two files touching at one head value but with
    * disjoint trailing ranges there are now provably clean — and
    * trailing-column interleave among same-head files is always
    * caught, so an incremental pass can never undo a full pass's
    * trailing-range separation. */
  private[graft] def clusterOverlapClosure(entries: Seq[GdxFileEntry],
      byC: Seq[String]): Seq[GdxFileEntry] = {
    def dec(s: String): Option[BigDecimal] =
      try Some(BigDecimal(s)) catch {
        case _: NumberFormatException => None }
    // per-file lex bounds over the declared prefix; None past the
    // file's PROVEN prefix (= ±∞ in the comparisons below)
    def bounds(e: GdxFileEntry)
        : Option[(Array[Option[BigDecimal]], Array[Option[BigDecimal]])] = {
      val st = e.stats.filter(_.rows > 0)
      val ranges = byC.map(c => st.flatMap(_.cols.get(c))
        .flatMap { case (mn, mx) => dec(mn).zip(dec(mx)) })
      ranges.head.map { _ =>
        val proven = ranges.takeWhile(_.isDefined).length
        (byC.indices.map(i =>
           if (i < proven) ranges(i).map(_._1) else None).toArray,
         byC.indices.map(i =>
           if (i < proven) ranges(i).map(_._2) else None).toArray)
      }
    }
    // lower bound strictly after an upper bound? (None = −∞ on the
    // lower side, +∞ on the upper side; ties and unknowns MERGE)
    def loGtHi(lo: Array[Option[BigDecimal]],
               hi: Array[Option[BigDecimal]]): Boolean = {
      var i = 0
      while (i < lo.length) {
        (lo(i), hi(i)) match {
          case (Some(a), Some(b)) =>
            if (a > b) return true
            if (a < b) return false
          case _ => return false // −∞ / +∞ can never separate
        }
        i += 1
      }
      false // equal bounds touch — not strictly after
    }
    // upper bound strictly greater (None = +∞ on both sides)
    def hiGt(a: Array[Option[BigDecimal]],
             b: Array[Option[BigDecimal]]): Boolean = {
      var i = 0
      while (i < a.length) {
        (a(i), b(i)) match {
          case (Some(x), Some(y)) =>
            if (x > y) return true
            if (x < y) return false
          case (None, Some(_)) => return true
          case (Some(_), None) => return false
          case (None, None)    => ()
        }
        i += 1
      }
      false
    }
    // sort by lower bound (None = −∞)
    def loLt(a: Array[Option[BigDecimal]],
             b: Array[Option[BigDecimal]]): Boolean = {
      var i = 0
      while (i < a.length) {
        (a(i), b(i)) match {
          case (Some(x), Some(y)) =>
            if (x < y) return true
            if (x > y) return false
          case (None, Some(_)) => return true
          case (Some(_), None) => return false
          case (None, None)    => ()
        }
        i += 1
      }
      false
    }
    val ranged = entries.flatMap(e => bounds(e).map(b => (e, b)))
      .sortWith { case ((_, (la, _)), (_, (lb, _))) => loLt(la, lb) }
    val overlapping = Seq.newBuilder[GdxFileEntry]
    var clusterEnd: Array[Option[BigDecimal]] = null
    var clusterMembers = List.empty[GdxFileEntry]
    val spec = genClusterSpec(byC)
    def flush(): Unit = {
      // a cluster whose members all carry ONE recluster generation is
      // clean BY CONSTRUCTION (one range partitioner emitted them —
      // pairwise lex-disjoint even where the min/max boxes straddle a
      // head value), which is what makes a low-cardinality leading
      // column CONVERGE: without the provenance exemption the
      // boundary-straddling files of every pass would re-enter the
      // closure forever. The exemption is honored ONLY when the tag's
      // embedded column spec matches the CURRENT cluster columns — a
      // generation proves lex-disjointness on the columns it was
      // partitioned by, and after `ALTER TABLE … CLUSTER BY` changes
      // the set, same-gen files may freely interleave on the new one.
      // Legacy tags (no spec suffix) prove nothing here and re-enter
      // the closure once.
      if (clusterMembers.lengthCompare(1) > 0) {
        val gens = clusterMembers.map(_.gen).distinct
        if (!(gens.sizeIs == 1 &&
            gens.head.exists(_.endsWith(s"@$spec"))))
          overlapping ++= clusterMembers
      }
      clusterMembers = Nil
    }
    ranged.foreach { case (e, (lo, hi)) =>
      if (clusterEnd == null || loGtHi(lo, clusterEnd)) flush()
      clusterMembers ::= e
      clusterEnd = if (clusterEnd == null || hiGt(hi, clusterEnd)) hi
        else clusterEnd
    }
    flush()
    overlapping.result()
  }

  /** `OPTIMIZE t` under a declared CLUSTER BY — INCREMENTAL: rewrite
    * ONLY the unclustered tail. A file whose lexicographic
    * cluster-prefix bounds ([[clusterOverlapClosure]]) overlap no
    * other file's is already where a recluster would put it — it is
    * carried by reference, untouched.
    * The rewrite set is the OVERLAP CLOSURE (interval-merge clusters
    * of ≥ 2 files) plus anything that cannot prove cleanliness
    * (missing stats, zero-row seeds, DV carriers — their deletes fold
    * in), range-clustered lexicographically on the cluster columns
    * (for one or two columns this beats the Morton curve — each file
    * owns one contiguous run of the leading column) and committed as
    * untouched ++ rewritten under CAS, the rewritten files stamped
    * with ONE generation tag ([[GdxFileEntry.gen]]) that proves them
    * pairwise clean to future closures. After one clean recluster, a
    * daily OPTIMIZE touches only the day's appends — at 100 TB the
    * recluster costs the delta, not the decade (s40's bin-pack rule
    * applied to layout). Caveat, stated: a LOW-CARDINALITY leading
    * column makes every output boundary straddle a head value, so an
    * append overlapping one such file can chain the whole snapshot
    * into the rewrite (exactness is chosen over delta size there —
    * pick a selective leading column; the steady state is still a
    * provable no-op via the generation proof, and DESCRIBE DETAIL's
    * `cluster_interleaved_files` makes any degradation observable).
    * Returns (files before, files after). */
  def optimizeClustered(spark: SparkSession, dir: String,
                        by: Seq[String], target: Int = 8): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    require(by.nonEmpty, "gdx optimize: no cluster columns")
    val conf0 = driverConf()
    val sconf = new SerializableHadoopConf(conf0)
    val base = new Path(dir)
    val fs = base.getFileSystem(conf0)
    var attempt = 0
    while (true) {
      val vs = listVersions(dir, conf0)
      require(vs.nonEmpty, s"gdx optimize: no snapshot under $dir")
      decideStaleTxn(dir, conf0, vs.max)
      val readV = vs.max
      val entries = committedEntries(dir, conf0, readV)
      val md = readManifest(fs, manifestFor(dir, readV))
      val tblSchema = md.schema.getOrElse(schema)
      val tblColmap = md.colmap
      // canonical-case the references BEFORE any range lookup: zone-map
      // stats publish under canonical dotted names, so a direct API
      // caller's differently-cased `by` would otherwise read every file
      // as rangeless and degrade each OPTIMIZE to a full rewrite
      val byC = by.map(c => resolveClusterRef(tblSchema, c).getOrElse(
        throw new IllegalArgumentException(
          s"gdx optimize: no orderable cluster column or struct leaf $c")))
      val head = byC.head
      val before = entries.size
      def dec(s: String): Option[BigDecimal] =
        try Some(BigDecimal(s)) catch {
          case _: NumberFormatException => None }
      def range(e: GdxFileEntry): Option[(BigDecimal, BigDecimal)] =
        e.stats.filter(_.rows > 0).flatMap(_.cols.get(head))
          .flatMap { case (mn, mx) => dec(mn).zip(dec(mx)) }
      // interval-merge on the LEXICOGRAPHIC cluster prefix: clusters
      // of ≥2 ranged files must co-rewrite (their rows interleave); a
      // singleton cluster is PROVABLY clean and is carried untouched
      val over = clusterOverlapClosure(entries, byC)
      // rangeless files (all-NULL leading column, legacy eras) can
      // never PROVE cleanliness — but rewriting a lone one forever
      // would make OPTIMIZE non-convergent. One rangeless file is the
      // steady state (carried); two or more merge, and any is folded
      // in whenever a real rewrite happens anyway.
      val rangeless = entries.filter(e =>
        range(e).isEmpty && e.dv.isEmpty &&
          !e.stats.exists(_.rows == 0L))
      val unproven =
        entries.filter(e => e.dv.isDefined ||
          e.stats.exists(_.rows == 0L)) ++
        (if (rangeless.size > 1 || (rangeless.nonEmpty && over.nonEmpty))
          rangeless else Nil)
      val rewriteNames = (over ++ unproven).map(_.name).toSet
      val rewriteSet = entries.filter(e => rewriteNames(e.name))
      if (rewriteSet.isEmpty) return (before, before)
      // output-file budget proportional to the rewritten share, so a
      // small delta recluster emits delta-sized files, not 1/target
      // of the table per file
      val totalRows = entries.flatMap(_.stats).map(_.rows).sum
      val subsetRows = rewriteSet.flatMap(_.stats).map(_.rows).sum
      val bins =
        if (totalRows <= 0 || rewriteSet.exists(_.stats.isEmpty)) target
        else math.max(1, math.min(target.toLong,
          (target * subsetRows + totalRows - 1) / totalRows).toInt)
      // one generation tag per rewrite: the output files are pairwise
      // lex-disjoint by construction, and the tag carries that proof
      // into future closures (see [[clusterOverlapClosure]]). The tag
      // EMBEDS the canonical cluster-column spec it was proven under
      // (`<uuid>@<col+col>`), so the exemption self-invalidates when
      // the declared columns change.
      val genTag = java.util.UUID.randomUUID().toString
        .replace("-", "").take(12) + "@" + genClusterSpec(byC)
      val rewritten = writeDataFiles(
        liveFrame(spark, dir, rewriteSet, tblSchema, sconf, tblColmap)
          .drop("_file", "_pos")
          .repartitionByRange(bins, byC.map(col): _*)
          .sortWithinPartitions(byC.map(col): _*),
        dir, tblSchema, sconf, tblColmap)
        .map(_.copy(gen = Some(genTag)))
      val updated = entries.filterNot(e => rewriteNames(e.name)) ++
        rewritten
      val lines = headerLines(tblSchema, md.checks, tblColmap,
        md.partitionCol) ++
        updated.sortBy(_.name).map(_.manifestLine)
      if (publishExclusive(fs, conf0, manifestFor(dir, readV + 1),
          lines)) {
        writeLines(fs, manifest(dir), lines)
        return (before, updated.size)
      }
      decideStaleTxn(dir, conf0, readV + 1)
      attempt += 1
      if (attempt > 10) throw new GdxConcurrentModificationException(
        s"gdx optimize: lost the publish race 10 times on $dir")
    }
    (-1, -1) // unreachable
  }

  /** Bloom-sidecar point-lookup pruning: for every pushed
    * `k = x` / `k IN (…)` predicate, drop files whose sidecar proves
    * NONE of the candidate keys is present. A file without a sidecar
    * (legacy, empty-task, failed write) is always kept; a false
    * positive only plans an extra file — the pushed predicate is still
    * evaluated row-level in the readers. Sidecar reads are driver-side
    * and cached ([[GdxBloom.load]] — immutable version-unique names). */
  def pruneByBloom(dir: String, entries: Seq[GdxFileEntry],
                   filters: Seq[Filter]): Seq[GdxFileEntry] = {
    val keySets: Seq[Seq[Long]] = filters.collect {
      case EqualTo("k", w: Number) => Seq(w.longValue)
      case org.apache.spark.sql.sources.In("k", vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
        vs.toSeq.map(_.asInstanceOf[Number].longValue)
    }
    if (keySets.isEmpty) return entries
    val fs = new Path(dir).getFileSystem(driverConf())
    entries.filter { e =>
      GdxBloom.load(fs,
        entryPath(dir, e.name + GdxBloom.Suffix)) match {
        case None => true
        case Some(bits) =>
          keySets.forall(_.exists(GdxBloom.mightContain(bits, _)))
      }
    }
  }

  /** Greedy bin-packing of per-file partitions into task-sized
    * groups, mirroring Spark's FilePartition packing: the split
    * target is `min(spark.sql.files.maxPartitionBytes,
    * max(spark.sql.files.openCostInBytes, totalCost/parallelism))`
    * where each file costs its manifest-carried size (`b:`; an
    * unknown size counts as the max split — it gets its own
    * partition) plus the open cost. Every file adds the open cost, so
    * the total is at least `files × openCost` and the target is at
    * most `totalCost/parallelism`: while there are at least as many
    * files as cores, packing never plans fewer partitions than cores
    * (a 12-file table plans 12 tasks on 32 cores and 4 on 4). Past
    * that, groups bound by BYTES, not file count — 100M surviving
    * small files plan as task-sized groups, not 100M tasks. Files pack
    * in name order (the manifest's canonical order), so a group's rows
    * stream file-after-file with no reorder. */
  private[graft] def packFilePartitions(
      files: Seq[(GdxFilePartition, Option[Long])])
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val maxBytes = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val parallelism =
      try SparkSession.active.sparkContext.defaultParallelism
      catch { case NonFatal(_) => 1 }
    val totalCost = files.map { case (_, sz) =>
      sz.getOrElse(maxBytes) + openCost }.sum
    val target = math.min(maxBytes,
      math.max(openCost, totalCost / math.max(parallelism, 1)))
    val out = Array.newBuilder[
      org.apache.spark.sql.connector.read.InputPartition]
    val cur = Seq.newBuilder[GdxFilePartition]
    var curN = 0
    var curBytes = 0L
    def flush(): Unit = if (curN > 0) {
      val fs = cur.result()
      out += (if (fs.length == 1) fs.head else GdxFileGroupPartition(fs))
      cur.clear(); curN = 0; curBytes = 0L
    }
    files.foreach { case (p, sz) =>
      val len = sz.getOrElse(maxBytes)
      if (curN > 0 && curBytes + len > target) flush()
      cur += p; curN += 1; curBytes += len + openCost
    }
    flush()
    out.result()
  }

  /** Manifest-plus-sidecar count of the files a scan with `filters`
    * would plan against the current snapshot — the skipping
    * effectiveness probe (zone maps + bloom; no data file is
    * opened). */
  def plannedFiles(dir: String, filters: Seq[Filter]): (Int, Int) = {
    val entries = committedEntries(dir, driverConf())
    (pruneByBloom(dir, pruneByStats(entries, filters), filters).size,
      entries.size)
  }

  /** Row-level DELETE via deletion vectors: rows matching `condition`
    * (over any snapshot column, evolved ones included) are subtracted
    * from the table WITHOUT
    * rewriting any data file — per affected file, the matching line
    * positions are written to a `.dvx` sidecar and the new manifest
    * references it (the Delta deletion-vector / Iceberg position-delete
    * design). At 100 TB this is the difference between a GDPR delete
    * costing kilobytes of sidecar writes and one costing a full-table
    * rewrite; [[compact]] later rewrites DV-carrying files clean, and
    * [[vacuum]] reaps superseded sidecars.
    *
    * Execution shape: one distributed pass — a task per candidate file
    * parses its lines (already-deleted positions skipped), the Catalyst
    * `condition` filters them, and surviving (file, position) pairs
    * aggregate per file; DV sidecars are written executor-side (UUID
    * names: a retried task leaves an unreferenced orphan, never a
    * clobbered committed sidecar). Zone maps pre-prune: files whose
    * k-range cannot intersect a k-only condition never even get a task.
    * The commit is a FULL manifest publish at `readVersion + 1` under
    * CAS — a concurrent commit surfaces as conflict and the delete
    * recomputes, same serializable loop as [[mergeGeneral]]. Time
    * travel to the pre-delete snapshot still sees every row (DVs are
    * new files; nothing is rewritten). Returns (committed version,
    * rows deleted); a no-match delete publishes nothing and returns
    * the current version with 0. */
  def delete(spark: SparkSession, dir: String,
             condition: org.apache.spark.sql.Column,
             maxRetries: Int = 10): (Int, Long) =
    mutateWithDvs(spark, dir, condition, rewrite = None, maxRetries)

  /** Row-level UPDATE: rows matching `condition` are DV'd out of their
    * files and their updated versions land in fresh data files — BOTH
    * sides of the swap published in ONE manifest commit, so a reader
    * sees either every pre-update row or every post-update row, never
    * a torn mix (the Delta UPDATE-with-deletion-vectors shape). `set`
    * maps column name → new-value Column (may reference any snapshot
    * column); untouched columns carry over. Cost at 100 TB: one
    * zone-map-scoped scan of candidate files + data files proportional
    * to MATCHED rows, never a table rewrite. Same CAS/retry contract
    * as [[delete]]. Returns (committed version, rows updated). */
  def update(spark: SparkSession, dir: String,
             condition: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column],
             maxRetries: Int = 10): (Int, Long) =
    mutateWithDvs(spark, dir, condition, rewrite = Some(set), maxRetries)

  /** Shared engine for DELETE (rewrite = None) and UPDATE (rewrite =
    * Some(set)): scan candidates under the snapshot's full schema,
    * write DV sidecars for matched positions, optionally write the
    * rewritten rows as new data files, publish one full manifest under
    * CAS. */
  private def mutateWithDvs(spark: SparkSession, dir: String,
                            condition: org.apache.spark.sql.Column,
                            rewrite: Option[
                              Map[String, org.apache.spark.sql.Column]],
                            maxRetries: Int): (Int, Long) = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val conf0 = driverConf()
    val sconf = new SerializableHadoopConf(conf0)
    var attempt = 0
    while (true) {
      val readV = decidedHead(dir, conf0)
      val entries = committedEntries(dir, conf0,
        if (readV > 0) readV else -1)
      if (entries.isEmpty) return (readV, 0L)
      val dvByName = entries.map(e => e.name -> e.dv).toMap
      val dirStr = dir
      val tblSchema = committedSchema(dir, conf0,
        if (readV > 0) readV else -1)
      val tblColmap = committedColmap(dir, conf0,
        if (readV > 0) readV else -1)
      val live = liveFrame(spark, dirStr, entries, tblSchema, sconf,
        tblColmap)
      // DELETE consumes the matched frame exactly once (the DV write),
      // so checkpointing it first is a full-width extra job per
      // statement; UPDATE's matched rows feed three consumers (DV
      // write, constraint probe, rewrite), where one materialization
      // still wins and keeps the consumers consistent under retries.
      // The UPDATE checkpoint is LAZY: the DV-sidecar write is the
      // first consumer and drains every partition (a shuffle by file
      // over the full matched set), so it doubles as the materializing job —
      // the eager form paid a separate full-width line-parse job per
      // UPDATE statement for the same blocks.
      val matched =
        if (rewrite.isEmpty) live.filter(condition)
        else live.filter(condition).localCheckpoint(eager = false)
      val newDvs = writeDvSidecars(
        matched.select(col("_file"), col("_pos"), lit(2).as("_act")),
        dirStr, dvByName, sconf)
      if (newDvs.sidecars.isEmpty) return (readV, 0L)
      // UPDATE: the matched rows, with `set` applied, land as fresh
      // data files (same line format, written executor-side with UUID
      // names — a lost CAS leaves only vacuumable orphans)
      val rewrittenEntries: Seq[GdxFileEntry] = rewrite match {
        case None => Seq.empty
        case Some(set) =>
          // SQL UPDATE semantics: every SET expression is evaluated
          // against the OLD row — simultaneous assignment, so
          // `SET v = w, w = v` SWAPS. All assignments therefore land
          // in ONE select over the matched snapshot rows; a
          // sequential withColumn chain would feed each assignment
          // the previous one's output (and make >4-assignment results
          // depend on Map iteration order)
          val byName = set.map { case (k, c) =>
            k.toLowerCase(java.util.Locale.ROOT) -> c }
          val unknown = byName.keySet.diff(tblSchema.fieldNames
            .map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
          require(unknown.isEmpty, "gdx update: SET references " +
            s"unknown column(s) ${unknown.mkString(",")}")
          val updatedRows = matched.drop("_file", "_pos").select(
            tblSchema.fieldNames.map { f =>
              byName.get(f.toLowerCase(java.util.Locale.ROOT))
                .map(_.as(f)).getOrElse(col(f))
            }: _*)
          // UPDATE's rewrite path must enforce CHECK constraints like
          // every other write: ALL constraints are validated in one
          // aggregate job over the rewritten (matched) rows before any
          // file lands — a violation aborts with nothing committed
          // (SQL semantics, NULL passes)
          val checks = committedConstraints(dirStr, conf0)
          if (checks.nonEmpty) {
            val aggs = checks.map { case (n, sql) =>
              count(when(not(coalesce(expr(sql), lit(true))), 1)).as(n) }
            val counts = updatedRows.agg(aggs.head, aggs.tail: _*).head()
            checks.zipWithIndex.foreach { case ((n, sql), i) =>
              val bad = counts.getLong(i)
              if (bad > 0) throw new GdxConstraintViolationException(
                s"gdx update: $bad updated row(s) would violate CHECK " +
                  s"constraint $n ($sql)")
            }
          }
          writeDataFiles(updatedRows, dirStr, tblSchema, sconf,
            tblColmap)
      }
      val dvFor = newDvs.sidecars.toMap
      val updated = entries.map(e =>
        dvFor.get(e.name).map(d => e.copy(dv = Some(d))).getOrElse(e)) ++
        rewrittenEntries
      // CAS publish of the full manifest at readV + 1 (schema and
      // constraints carried)
      val lines = headerLines(tblSchema,
        committedConstraints(dirStr, conf0), tblColmap,
        committedPartitionCol(dirStr, conf0)) ++
        updated.sortBy(_.name).map(_.manifestLine)
      val base = new Path(dir)
      val fs = base.getFileSystem(conf0)
      val published = publishExclusive(fs, conf0,
        manifestFor(dir, readV + 1), lines)
      if (published) {
        writeLines(fs, manifest(dir), lines)
        val touched = newDvs.deleted
        // only a DELETE removes rows (UPDATE rewrites them 1:1) —
        // a large one invalidates the ANALYZE sidecar
        if (rewrite.isEmpty) decayColStats(dirStr, conf0, touched)
        return (readV + 1, touched)
      }
      attempt += 1 // lost the race; orphan sidecars/files await vacuum
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx delete/update: lost the publish race $maxRetries times on $dir")
    }
    (-1, -1L) // unreachable
  }

  /** [[writeDvSidecars]]'s outcome: the new sidecar of every file
    * that had an applied position, the positions applied as UPDATE
    * and as DELETE, and whether some target position came twice. */
  private final case class DvWrite(sidecars: Seq[(String, String)],
                                   updated: Long, deleted: Long,
                                   repeated: Boolean)

  /** Write DV sidecars for the `(_file, _pos, _act)` rows in
    * `positions`, `_act` being 1 for a position an UPDATE replaces, 2
    * for one a DELETE removes, and 0 for a matched position no clause
    * applies to: one task-side sidecar per file with an applied
    * position, each folding the file's EXISTING deleted positions in
    * (a DV supersedes, never chains). A position seen twice is a target
    * row matched by two source rows — its file gets no sidecar and the
    * result says `repeated`, for the caller to refuse. Executor-side
    * UUID names — a retried task or a lost CAS leaves only
    * unreferenced orphans for [[vacuum]], never a clobbered committed
    * sidecar. One job: an RDD shuffle by file, no separate aggregate. */
  private def writeDvSidecars(positions: org.apache.spark.sql.DataFrame,
                              dirStr: String,
                              dvByName: Map[String, Option[String]],
                              sconf: SerializableHadoopConf): DvWrite = {
    val perFile = positions.rdd
      .mapPartitions { rows =>
        // packed map-side as `_pos << 2 | _act`: the shuffle moves one
        // primitive array per (partition, file), not a record per row
        val byFile = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
        rows.foreach { r =>
          byFile.getOrElseUpdate(r.getString(0),
            new scala.collection.mutable.ArrayBuilder.ofLong) +=
            (r.getLong(1) << 2 | r.getInt(2))
        }
        byFile.iterator.map { case (f, b) => (f, b.result()) }
      }
      .reduceByKey(_ ++ _)
      .map { case (name, packed) =>
        // sorted, a repeated position sits next to its twin
        java.util.Arrays.sort(packed)
        var upd = 0L; var del = 0L; var repeated = false
        var i = 0
        while (i < packed.length) {
          if (i > 0 && (packed(i) >>> 2) == (packed(i - 1) >>> 2))
            repeated = true
          val act = packed(i) & 3
          if (act == 1) upd += 1 else if (act == 2) del += 1
          i += 1
        }
        if (repeated || upd + del == 0) (name, null: String, 0L, 0L, repeated)
        else {
          val base = new Path(dirStr)
          val fs = base.getFileSystem(sconf.conf)
          val old = dvByName(name).map(d =>
            GdxSource.readDvPositions(fs, GdxSource.entryPath(dirStr, d)))
            .getOrElse(java.util.Collections.emptySet[Long]())
          val all = new java.util.TreeSet[Long](old)
          packed.foreach(p => if ((p & 3) != 0) all.add(p >>> 2))
          val dvName = s"dv-${java.util.UUID.randomUUID}.dvx"
          val dvPath = new Path(base, dvName)
          val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
            fs.create(dvPath, false), "UTF-8"))
          try all.forEach(p => out.println(p)) finally out.close()
          GdxSource.failOnWriteError(out, dvPath)
          (name, dvName, upd, del, false)
        }
      }
      .collect()
    DvWrite(perFile.collect { case (f, d, _, _, _) if d != null => (f, d) },
      perFile.map(_._3).sum, perFile.map(_._4).sum, perFile.exists(_._5))
  }

  /** GENERAL MERGE — the full ANSI/Delta clause matrix over a GDX
    * table, built on the same DV + rewrite + CAS substrate as
    * [[update]]/[[delete]] (reference analogue: the refresh-upsert in
    * `/root/reference/src/transform.py:31-38`, generalized to the
    * conditional multi-clause statement a warehouse MERGE provides).
    *
    * `source` must arrive with every column renamed `__s_<name>`;
    * `onSql` and each clause's condition/assignment-value SQL reference
    * the joined frame's `__t_<col>` (target) / `__s_<col>` (source)
    * names — sidedness is thereby explicit in the carried text, which
    * is what lets `t.v` and `s.v` survive the engine's re-parse
    * unambiguously ([[graft.plans.GdxDmlRule]] produces these).
    *
    * Clause semantics (ANSI): per joined row the FIRST clause of its
    * branch whose condition holds applies — matched rows (both sides
    * present) walk `matched`, source-only rows walk `notMatched`
    * (INSERT), target-only rows walk `notMatchedBySource`; a row whose
    * branch has no applicable clause is untouched. An applied UPDATE
    * or DELETE removes the old image via a deletion-vector position;
    * UPDATE and INSERT images land in fresh data files; BOTH sides
    * publish in ONE CAS'd manifest commit, so readers see the entire
    * merge or none of it, and time travel to the pre-merge snapshot
    * still sees every original row. A target row matched by MORE THAN
    * ONE source row raises [[GdxMergeCardinalityException]] (the
    * Delta/ANSI ambiguous-merge error) instead of applying an
    * arbitrary winner.
    *
    * Jobs: the source-key pre-scan (one pass), the join (one broadcast
    * job when the target's manifest bytes fit the broadcast threshold),
    * the image write and the DV write. The ambiguity check, the
    * NULL-key/CHECK gate and the inserted/updated/deleted counts ride
    * the two writes, so every
    * refusal is decided after them and before the publish; the files
    * already written are unreferenced orphans for [[vacuum]].
    *
    * 100 TB shape: the cost driver is one shuffle join of target and
    * source on the merge key plus data files proportional to AFFECTED
    * rows — never a table rewrite. When `pruneKeySql` is given (the ON
    * condition is an equality on the table's key column) and no
    * NOT-MATCHED-BY-SOURCE clause forces a whole-table walk, candidate
    * files are pre-pruned by the manifest's key zone maps against the
    * source's key range: files that cannot contain a match are carried
    * by reference — never opened, never scheduled (the Delta/Iceberg
    * MERGE file-pruning path). Returns (version, inserted, updated,
    * deleted); a merge that changes nothing publishes nothing. */
  def mergeGeneral(spark: SparkSession, dir: String,
                   source: org.apache.spark.sql.DataFrame,
                   onSql: String,
                   matched: Seq[GdxMergeClause],
                   notMatched: Seq[GdxMergeClause],
                   notMatchedBySource: Seq[GdxMergeClause],
                   pruneKeySql: Option[String] = None,
                   maxRetries: Int = 10,
                   staticLo: Option[Long] = None,
                   staticHi: Option[Long] = None): (Int, Long, Long, Long) = {
    import org.apache.spark.sql.functions._
    val conf0 = driverConf()
    val sconf = new SerializableHadoopConf(conf0)
    // materialized once: every retry and every downstream pass below
    // must see the same source rows (a lazy source re-scanning a live
    // table across a CAS retry would tear the statement's snapshot).
    // LAZY checkpoint: the first consuming job (the source-key min/max
    // pre-scan, or the joined frame's own materializing aggregate —
    // every path below drains the source fully) caches the blocks, so
    // no separate materialization job runs; the snapshot is pinned from
    // that first action on, which is still before any manifest publish.
    // presence marker name can never collide with a renamed user
    // column: the DML rule prefixes source columns `__s_<name>`, so a
    // source column would have to be literally named "_gdx_present"
    // to land on `__s__gdx_present` — still distinct from this
    val src = source.localCheckpoint(eager = false)
      .withColumn("__gdx_s_present", lit(true))
    val root = java.util.Locale.ROOT
    var attempt = 0
    while (true) {
      val readV = decidedHead(dir, conf0)
      val ver = if (readV > 0) readV else -1
      val entries = committedEntries(dir, conf0, ver)
      val tblSchema = committedSchema(dir, conf0, ver)
      val tblColmap = committedColmap(dir, conf0, ver)
      val checks = committedConstraints(dir, conf0, ver)
      // refuse assignment targets outside the snapshot schema loudly,
      // before any work
      val known = tblSchema.fieldNames.map(_.toLowerCase(root)).toSet
      (matched ++ notMatched ++ notMatchedBySource)
        .flatMap(_.assigns.getOrElse(Seq.empty)).map(_._1.toLowerCase(root))
        .find(!known.contains(_)).foreach(c => throw new IllegalArgumentException(
          s"gdx merge: assignment references unknown column $c"))
      // zone-map file pruning: a merge with no NOT-MATCHED-BY-SOURCE
      // branch (NMBS must test EVERY live row) may scope the target
      // scan by the intersection of two key windows — the SOURCE-KEY
      // pre-scan (one small min/max aggregate over the materialized
      // source, for a key-equality ON conjunct) and the STATIC bounds
      // the ON's literal range conjuncts pin. A file whose k-range
      // misses the window can satisfy no conjunct set and is carried
      // BY REFERENCE (never opened) — the range-scoped point-update
      // MERGE touches the day's files, not the decade's. Stats-less
      // legacy files always stay candidates (absence means "cannot
      // prune", never "skip").
      val (cands, carried) =
        if (notMatchedBySource.nonEmpty ||
            (pruneKeySql.isEmpty && staticLo.isEmpty && staticHi.isEmpty))
          (entries, Seq.empty[GdxFileEntry])
        else {
          // one job: each partition folds its keys' min/max and the
          // driver merges them (an aggregate is two jobs under AQE).
          // An empty/all-NULL source key set matches nothing: the fold
          // stays at the inverted window, which carries every file
          val srcWin: Option[(Long, Long)] = pruneKeySql.map { keySql =>
            src.select(expr(keySql).cast("long")).rdd.mapPartitions { rs =>
              var lo = Long.MaxValue; var hi = Long.MinValue
              rs.foreach { r =>
                if (!r.isNullAt(0)) {
                  val k = r.getLong(0)
                  if (k < lo) lo = k
                  if (k > hi) hi = k
                }
              }
              Iterator((lo, hi))
            }.collect().foldLeft((Long.MaxValue, Long.MinValue)) {
              case ((lo, hi), (l, h)) => (math.min(lo, l), math.max(hi, h))
            }
          }
          val lo = math.max(staticLo.getOrElse(Long.MinValue),
            srcWin.map(_._1).getOrElse(Long.MinValue))
          val hi = math.min(staticHi.getOrElse(Long.MaxValue),
            srcWin.map(_._2).getOrElse(Long.MaxValue))
          entries.partition(e =>
            e.stats.forall(s => s.minK <= hi && s.maxK >= lo))
        }
      val dvByName = cands.map(e => e.name -> e.dv).toMap
      val target = liveFrame(spark, dir, cands, tblSchema, sconf,
        tblColmap)
        .select(col("_file") +: col("_pos") +:
          tblSchema.fieldNames.map(f => col(f).as("__t_" + f)): _*)
      val tPresent = col("_file").isNotNull
      val sPresent = coalesce(col("__gdx_s_present"), lit(false))
      // index of the first applicable clause of a branch (-1 = none):
      // a chained when is first-match by construction — clause order
      // IS the statement's clause order
      def firstMatch(clauses: Seq[GdxMergeClause])
          : org.apache.spark.sql.Column =
        clauses.zipWithIndex
          .foldRight(lit(-1): org.apache.spark.sql.Column) {
          case ((c, i), rest) =>
            when(c.condSql.map(expr(_)).getOrElse(lit(true)), lit(i))
              .otherwise(rest)
        }
      // one materialization of the joined + classified frame; both
      // writes below (images, then DVs) scan it. The
      // join keeps only the sides the clause matrix can touch: a
      // matched-only merge never materializes the unmatched bulk of a
      // large target (inner), INSERT-bearing merges keep unmatched
      // source rows (right), NOT MATCHED BY SOURCE must see every
      // live target row (left/full) — semantics identical, the
      // checkpointed row set is what shrinks
      val joinType = (notMatched.nonEmpty, notMatchedBySource.nonEmpty) match {
        case (true, true)   => "full_outer"
        case (true, false)  => "right_outer"
        case (false, true)  => "left_outer"
        case (false, false) => "inner"
      }
      // LAZY checkpoint: the image write below is its first consumer
      // and drains every partition (a union of whole-frame filters, no
      // limits), so it doubles as the materializing job and the DV
      // write reads the cached blocks; with no image clause the DV
      // write is the first consumer and drains every partition itself.
      val ann = target.join(src, expr(onSql), joinType)
        .withColumn("__m",
          when(tPresent && sPresent, firstMatch(matched)).otherwise(-1))
        .withColumn("__n",
          when(!tPresent && sPresent, firstMatch(notMatched)).otherwise(-1))
        .withColumn("__b",
          when(tPresent && !sPresent, firstMatch(notMatchedBySource))
            .otherwise(-1))
        .localCheckpoint(eager = false)
      val mUpd = matched.zipWithIndex.collect {
        case (c, i) if c.assigns.isDefined => i }
      val bUpd = notMatchedBySource.zipWithIndex.collect {
        case (c, i) if c.assigns.isDefined => i }
      def inIdx(c: org.apache.spark.sql.Column, idx: Seq[Int])
          : org.apache.spark.sql.Column =
        if (idx.isEmpty) lit(false) else idx.map(c === _).reduce(_ || _)
      val updFlag = inIdx(col("__m"), mUpd) || inIdx(col("__b"), bUpd)
      // new row images, schema order: SQL simultaneous-assignment
      // semantics — every value evaluates against the OLD joined row
      def images(clauses: Seq[GdxMergeClause], act: String,
                 fallback: StructField => org.apache.spark.sql.Column)
          : Seq[org.apache.spark.sql.DataFrame] =
        clauses.zipWithIndex.collect {
          case (cl, i) if cl.assigns.isDefined =>
            val byName = cl.assigns.get.map {
              case (k, v) => k.toLowerCase(root) -> v }.toMap
            ann.filter(col(act) === i).select(tblSchema.fields.map { f =>
              byName.get(f.name.toLowerCase(root))
                .map(sql => expr(sql).cast(f.dataType).as(f.name))
                .getOrElse(fallback(f).as(f.name))
            }.toSeq: _*)
        }
      val imgs =
        images(matched, "__m", f => col("__t_" + f.name)) ++
        images(notMatched, "__n", f => lit(null).cast(f.dataType)) ++
        images(notMatchedBySource, "__b", f => col("__t_" + f.name))
      // the write gates itself: NULL keys (the line format requires
      // a key) and one violation flag per CHECK constraint ride each
      // image as trailing columns the writer counts and never writes
      val (rewrittenEntries, gate) =
        imgs.reduceOption(_.unionByName(_)) match {
          case None =>
            (Seq.empty[GdxFileEntry], new Array[Long](checks.size + 1))
          case Some(newRows) =>
            writeGatedDataFiles(newRows.select(col("*") +:
              checks.zipWithIndex.map { case ((_, sql), i) =>
                not(coalesce(expr(sql), lit(true))).as(s"__gdx_chk$i")
              }: _*), dir, tblSchema, sconf, tblColmap, "", gated = true)
        }
      // every matched target position (when a matched clause exists)
      // and every NOT MATCHED BY SOURCE one a clause applies to, with
      // its action: a position seen twice is a target row matched by
      // more than one source row, whichever clause applies
      val dvRows =
        (if (matched.nonEmpty) tPresent && sPresent else lit(false)) ||
          col("__b") >= 0
      val newDvs = writeDvSidecars(ann.filter(dvRows).select(col("_file"),
        col("_pos"), when(updFlag, 1)
          .when(col("__m") >= 0 || col("__b") >= 0, 2).otherwise(0)),
        dir, dvByName, sconf)
      // refusals decide after both writes and before the publish: the
      // files written so far are unreferenced orphans for [[vacuum]]
      if (newDvs.repeated) throw new GdxMergeCardinalityException(
        "gdx merge: the ON condition matched a target row to more " +
          "than one source row — an UPDATE/DELETE would be ambiguous")
      if (gate(0) > 0) throw new IllegalArgumentException(
        s"gdx merge: ${gate(0)} merged row(s) have a NULL key " +
          s"(${tblSchema.fields.head.name}) — the key column is required")
      checks.zipWithIndex.foreach { case ((n, sql), i) =>
        val bad = gate(i + 1)
        if (bad > 0) throw new GdxConstraintViolationException(
          s"gdx merge: $bad merged row(s) would violate CHECK " +
            s"constraint $n ($sql)")
      }
      if (rewrittenEntries.isEmpty && newDvs.sidecars.isEmpty)
        return (readV, 0L, 0L, 0L)
      val (nUpd, nDel) = (newDvs.updated, newDvs.deleted)
      val nIns = rewrittenEntries.flatMap(_.stats).map(_.rows).sum - nUpd
      val dvFor = newDvs.sidecars.toMap
      val updated = carried ++ cands.map(e =>
        dvFor.get(e.name).map(d => e.copy(dv = Some(d))).getOrElse(e)) ++
        rewrittenEntries
      val lines = headerLines(tblSchema, checks, tblColmap,
        committedPartitionCol(dir, conf0, ver)) ++
        updated.sortBy(_.name).map(_.manifestLine)
      val base = new Path(dir)
      val fs = base.getFileSystem(conf0)
      if (publishExclusive(fs, conf0, manifestFor(dir, readV + 1), lines)) {
        writeLines(fs, manifest(dir), lines)
        return (readV + 1, nIns, nUpd, nDel)
      }
      attempt += 1 // lost the race; orphan sidecars/files await vacuum
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx merge: lost the publish race $maxRetries times on $dir")
    }
    (-1, -1L, -1L, -1L) // unreachable
  }

  /** The snapshot's LIVE rows as a DataFrame of (_file, _pos, cols...):
    * one task per file, already-DV'd positions skipped, fields parsed
    * under the snapshot's full schema (missing trailing fields = NULL,
    * pre-evolution files). The substrate DELETE/UPDATE predicates run
    * on, and MERGE's target. Its plan's size statistics are the
    * entries' manifest bytes, so the planner broadcasts a small target
    * at planning time instead of shuffling both join sides for AQE to
    * convert; with any entry's size unrecorded it keeps no stats. */
  private def liveFrame(spark: SparkSession, dirStr: String,
                        entries: Seq[GdxFileEntry],
                        tblSchema: StructType,
                        sconf: SerializableHadoopConf,
                        colmap: Option[Colmap] = None)
      : org.apache.spark.sql.DataFrame = {
    val types = tblSchema.fields.map(_.dataType)
    // physical line slot per logical field (identity when unmapped)
    val slots = slotsOf(tblSchema, colmap).toArray
    // era fill: pre-column files read the declared initial default
    val dflts: Array[Any] = tblSchema.fields.map(f =>
      defaultCellOf(f).map(parseExternalCell(f.dataType, _)).orNull)
    val dvByName = entries.map(e => e.name -> e.dv).toMap
    val liveSchema = StructType(
      StructField("_file", StringType) +:
      StructField("_pos", LongType) +: tblSchema.fields)
    val rdd = spark.sparkContext
      .parallelize(entries.map(e => (e.name, e.escaped)),
        math.min(math.max(entries.size, 1),
          spark.sparkContext.defaultParallelism))
      .flatMap { case (name, esc) =>
        val p = GdxSource.entryPath(dirStr, name)
        val fs = p.getFileSystem(sconf.conf)
        val old = dvByName(name).map(d =>
          GdxSource.readDvPositions(fs, GdxSource.entryPath(dirStr, d)))
          .getOrElse(java.util.Collections.emptySet[Long]())
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(p), "UTF-8"))
        val it = Iterator.continually(in.readLine())
          .takeWhile(_ != null).zipWithIndex
          .flatMap { case (line, idx) =>
            val fields = line.split("\t", -1)
            if (fields.length >= 2 && fields(0).nonEmpty &&
                !old.contains(idx.toLong)) {
              val vals = types.zipWithIndex.map { case (dt, li) =>
                val i = slots(li)
                if (i >= fields.length) dflts(li)
                else if (fields(i) == GdxSource.NullMarker) null
                else GdxSource.parseExternalCell(dt, fields(i), esc)
              }
              Some(org.apache.spark.sql.Row.fromSeq(
                name +: Long.box(idx.toLong) +: vals.toSeq))
            } else None
          }
        new Iterator[org.apache.spark.sql.Row] {
          def hasNext: Boolean = { val h = it.hasNext; if (!h) in.close(); h }
          def next(): org.apache.spark.sql.Row = it.next()
        }
      }
    val df = spark.createDataFrame(rdd, liveSchema)
    val sizes = entries.map(_.stats.flatMap(_.bytes))
    org.apache.spark.sql.graft.ColumnBridge.analyzed(df) match {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if sizes.forall(_.isDefined) =>
        org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, l.copy()(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
            BigInt(sizes.flatten.sum))), None))
      case _ => df
    }
  }

  /** Write `rows` (in `tblSchema` column order) as GDX line files, one
    * per non-empty partition, executor-side with UUID names; returns
    * the manifest entries (zone-map stats included). Used by UPDATE's
    * rewrite half — the files become committed only when the caller's
    * manifest publish wins. */
  private def writeDataFiles(rows: org.apache.spark.sql.DataFrame,
                             dirStr: String, tblSchema: StructType,
                             sconf: SerializableHadoopConf,
                             colmap: Option[Colmap] = None,
                             namePrefix: String = "")
      : Seq[GdxFileEntry] =
    writeGatedDataFiles(rows, dirStr, tblSchema, sconf, colmap,
      namePrefix, gated = false)._1

  /** [[writeDataFiles]], optionally gated. A `gated` write's rows carry
    * one trailing boolean column per CHECK constraint after the
    * `tblSchema` columns, true where the row violates it. The writer
    * counts those flags and NULL keys, never writes the flag columns,
    * and skips a NULL-key row (the line format needs a key). Returns
    * the entries and the gate counts: NULL keys first, then one
    * violation count per CHECK column (empty when not gated). Any
    * non-zero count must refuse the publish; the files are then
    * unreferenced orphans. */
  private def writeGatedDataFiles(rows: org.apache.spark.sql.DataFrame,
                                  dirStr: String, tblSchema: StructType,
                                  sconf: SerializableHadoopConf,
                                  colmap: Option[Colmap],
                                  namePrefix: String, gated: Boolean)
      : (Seq[GdxFileEntry], Array[Long]) = {
    val types = tblSchema.fields.map(_.dataType)
    // shredded columns re-derive from their variant source before the
    // rows render (generated-always — a rewrite can never drift them)
    val rows2 = deriveShreds(rows, tblSchema)
    // physical slot -> logical field (-1 = dead slot, written \N)
    val layout = writeLayout(tblSchema, colmap)
    // extended stats like the main writer (numeric non-key columns,
    // NULLs excluded, NaN suppresses): on a partitioned table the
    // UPDATE rewrite lands at the root, so the partition column's
    // v..v range on these stats is what keeps updated rows PRUNABLE —
    // without them every p = x query would plan every upd file forever
    val lanes: Array[StatLane] = statLanes(tblSchema)
    val first = tblSchema.length
    val nChecks = rows.columns.length - first
    val nGates = if (gated) nChecks + 1 else 0
    val written = rows2.rdd.mapPartitions { all =>
      if (!all.hasNext) Iterator.empty
      else {
        // a `col=key/` prefix keeps a partitioned rewrite INSIDE its
        // directory, so the name still proves its key (SPJ, slices)
        val name = s"${namePrefix}upd-${java.util.UUID.randomUUID}.gdx"
        val p = GdxSource.entryPath(dirStr, name)
        val fs = p.getFileSystem(sconf.conf)
        val counter = new CountingOutputStream(fs.create(p, false))
        val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
          counter, "UTF-8"))
        var n = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
        val acc = new ExtStatAcc(lanes.length, lanes.map(_.kind))
        val gate = new Array[Long](nGates)
        val it = if (!gated) all else all.filter { r =>
          var c = 0
          while (c < nChecks) {
            if (r.getBoolean(first + c)) gate(c + 1) += 1
            c += 1
          }
          if (r.isNullAt(0)) { gate(0) += 1; false } else true
        }
        try it.foreach { r =>
          val sb = new java.lang.StringBuilder
          var pSlot = 0
          while (pSlot < layout.length) {
            if (pSlot > 0) sb.append('\t')
            val i = layout(pSlot)
            if (i < 0 || r.isNullAt(i)) sb.append(GdxSource.NullMarker)
            else appendExternalCell(sb, types(i), r, i, "update",
              tblSchema(i).name)
            pSlot += 1
          }
          out.println(sb)
          val k = r.getLong(0)
          n += 1
          if (k < mn) mn = k
          if (k > mx) mx = k
          var e = 0
          while (e < lanes.length) {
            addLaneExternal(acc, e, lanes(e), r)
            e += 1
          }
        } finally out.close()
        GdxSource.failOnWriteError(out, p)
        val ext = acc.result(e => lanes(e).name)
        Iterator((name, n, mn, mx, ext, counter.count, gate))
      }
    }.collect().toSeq
    val gates = new Array[Long](nGates)
    written.foreach(w => w._7.indices.foreach(i => gates(i) += w._7(i)))
    (written.map { case (name, n, mn, mx, ext, bytes, _) =>
      GdxFileEntry(name, Some(GdxFileStats(n, mn, mx, ext,
        Map.empty, Some(bytes))), enc = Some(EscCodec))
    }, gates)
  }

  /** SHALLOW CLONE: a new table whose first manifest references the
    * SOURCE's data files by absolute path — zero bytes copied (the
    * Delta shallow-clone / Iceberg snapshot-ref pattern). The clone is
    * immediately writable and mutable: appends/deletes/updates/
    * compaction land clone-local files and sidecars, the source is
    * never touched, and the clone's vacuum can only reap files that
    * live IN the clone directory — the 100 TB dev-branch workflow
    * (experiment on a fork of production for the cost of one
    * manifest). Clones a pinned `version`/latest; the source must not
    * vacuum away the referenced files while clones depend on them
    * (same retention contract as any pinned reader). Returns the
    * clone's committed version. */
  def cloneShallow(srcDir: String, dstDir: String,
                   version: Int = -1): Int = {
    val conf = driverConf()
    val src = new Path(srcDir)
    val fs = src.getFileSystem(conf)
    val entries = committedEntries(srcDir, conf, version)
    val schema = committedSchema(srcDir, conf, version)
    val absolute = entries.map { e =>
      def abs(n: String) =
        fs.makeQualified(new Path(srcDir, n)).toString
      e.copy(name = abs(e.name), dv = e.dv.map(abs))
    }
    val dst = new Path(dstDir)
    val dfs = dst.getFileSystem(conf)
    dfs.mkdirs(dst)
    val v = (listVersions(dstDir, conf) :+ 0).max + 1
    val lines = headerLines(schema,
      committedConstraints(srcDir, conf, version),
      committedColmap(srcDir, conf, version),
      committedPartitionCol(srcDir, conf, version)) ++
      absolute.map(_.manifestLine)
    require(publishExclusive(dfs, conf, manifestFor(dstDir, v), lines),
      s"gdx clone: version $v of $dstDir was claimed concurrently")
    writeLines(dfs, manifest(dstDir), lines)
    v
  }

  /** ROW-LEVEL CHANGE FEED (CDF): the exact inserted/deleted rows
    * between two retained versions, derived ENTIRELY from the format's
    * structure — no change journal is ever written. Per version step:
    * files added by the commit contribute their live rows as
    * `insert`s, files dropped (truncate/restore) contribute their
    * prior live rows as `delete`s, and a grown deletion vector on a
    * surviving file contributes exactly the newly-DV'd positions as
    * `delete`s. An UPDATE therefore appears as its delete+insert pair,
    * a MERGE as the rewritten snapshot's diff — the Delta CDF
    * reduction. Cost: proportional to CHANGED files/positions, never a
    * table diff; one task per (version, file) pair. Output:
    * (version, change_type, <table columns at `toV`>), pre-evolution
    * rows null-filled. */
  /** True when every commit in (fromV, toV] only ADDED files — no
    * file removal (truncate/restore) and no deletion-vector growth.
    * Decided from manifest entry sets alone (driver-side, no data
    * read): the precondition for folding the window's changefeed into
    * a summary incrementally, checked WITHOUT materializing the
    * changefeed (the fold itself is the one scan). */
  def changesAreInsertOnly(dir: String, fromV: Int, toV: Int): Boolean = {
    val conf = driverConf()
    ((fromV + 1) to toV).forall { v =>
      val prev =
        if (v - 1 == 0) Seq.empty else committedEntries(dir, conf, v - 1)
      val cur = committedEntries(dir, conf, v)
      val curBy = cur.map(e => e.name -> e).toMap
      prev.forall(p => curBy.get(p.name).exists(_.dv == p.dv))
    }
  }

  def tableChanges(spark: SparkSession, dir: String,
                   fromV: Int, toV: Int)
      : org.apache.spark.sql.DataFrame = {
    require(fromV < toV, s"gdx changes: fromV $fromV must precede $toV")
    val conf = driverConf()
    val sconf = new SerializableHadoopConf(conf)
    val outSchema = committedSchema(dir, conf, toV)
    val types = outSchema.fields.map(_.dataType)
    // the changefeed reads every era's file under toV's schema: the
    // column mapping resolves each logical field to its physical slot
    val slots = slotsOf(outSchema, committedColmap(dir, conf, toV)).toArray
    // era fill: pre-column files feed the declared initial default
    val dflts: Array[Any] = outSchema.fields.map(f =>
      defaultCellOf(f).map(parseExternalCell(f.dataType, _)).orNull)
    // (version, resolved file path, positions-to-skip dv, mode) where
    // mode "insert"/"delete" reads all live rows and "dvdelta" reads
    // exactly the freshly deleted positions (old dv, new dv)
    case class Task(version: Int, file: String, dvSkip: Option[String],
                    dvOld: Option[String], dvNew: Option[String],
                    change: String, esc: Boolean)
    val tasks = ((fromV + 1) to toV).flatMap { v =>
      val prev =
        if (v - 1 == 0) Seq.empty else committedEntries(dir, conf, v - 1)
      val cur = committedEntries(dir, conf, v)
      val prevBy = prev.map(e => e.name -> e).toMap
      val curBy = cur.map(e => e.name -> e).toMap
      def abs(n: String) = entryPath(dir, n).toString
      val inserts = cur.filterNot(e => prevBy.contains(e.name)).map(e =>
        Task(v, abs(e.name), e.dv.map(abs), None, None, "insert",
          e.escaped))
      val deletes = prev.filterNot(e => curBy.contains(e.name)).map(e =>
        Task(v, abs(e.name), e.dv.map(abs), None, None, "delete",
          e.escaped))
      val dvGrown = cur.flatMap { e =>
        prevBy.get(e.name) match {
          case Some(p) if p.dv != e.dv && e.dv.isDefined =>
            Some(Task(v, abs(e.name), None, p.dv.map(abs),
              e.dv.map(abs), "dvdelta", e.escaped))
          case _ => None
        }
      }
      inserts ++ deletes ++ dvGrown
    }
    val changeSchema = StructType(
      StructField("version", IntegerType) +:
      StructField("change_type", StringType) +: outSchema.fields)
    val rdd = spark.sparkContext
      .parallelize(tasks, math.min(math.max(tasks.size, 1),
        spark.sparkContext.defaultParallelism))
      .flatMap { t =>
        val p = new Path(t.file)
        val fs = p.getFileSystem(sconf.conf)
        def dvSet(d: Option[String]): java.util.Set[Long] = d
          .map(x => GdxSource.readDvPositions(fs, new Path(x)))
          .getOrElse(java.util.Collections.emptySet[Long]())
        val (skip, only) = t.change match {
          case "dvdelta" =>
            val fresh = new java.util.HashSet[Long](dvSet(t.dvNew))
            fresh.removeAll(dvSet(t.dvOld))
            (java.util.Collections.emptySet[Long](), Some(fresh))
          case _ => (dvSet(t.dvSkip), None)
        }
        val kind = if (t.change == "dvdelta") "delete" else t.change
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(p), "UTF-8"))
        val it = Iterator.continually(in.readLine())
          .takeWhile(_ != null).zipWithIndex
          .flatMap { case (line, idx) =>
            val pos = idx.toLong
            val wanted = only match {
              case Some(set) => set.contains(pos)
              case None      => !skip.contains(pos)
            }
            val fields = line.split("\t", -1)
            if (wanted && fields.length >= 2 && fields(0).nonEmpty) {
              val vals = types.zipWithIndex.map { case (dt, li) =>
                val i = slots(li)
                if (i >= fields.length) dflts(li)
                else if (fields(i) == GdxSource.NullMarker) null
                else GdxSource.parseExternalCell(dt, fields(i), t.esc)
              }
              Some(org.apache.spark.sql.Row.fromSeq(
                Int.box(t.version) +: kind +: vals.toSeq))
            } else None
          }
        new Iterator[org.apache.spark.sql.Row] {
          def hasNext: Boolean = { val h = it.hasNext; if (!h) in.close(); h }
          def next(): org.apache.spark.sql.Row = it.next()
        }
      }
    spark.createDataFrame(rdd, changeSchema)
  }

  /** RESTORE: roll the table back to retained snapshot `version` by
    * publishing that snapshot's file list (and schema) as a NEW
    * checkpoint commit — history is never rewritten, the rollback is
    * itself a versioned, time-travelable event (the Delta RESTORE
    * shape). Metadata-only: no data file moves; the restored files
    * must still be retained (vacuum contract). CAS + retry. Returns
    * the new version. */
  def restoreSnapshot(dir: String, version: Int,
                      maxRetries: Int = 10): Int = {
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    val entries = committedEntries(dir, conf, version) // loud if dropped
    val schemaAt = committedSchema(dir, conf, version)
    // the restored snapshot's OWN constraints and column mapping come
    // back with it
    val lines = headerLines(schemaAt,
      committedConstraints(dir, conf, version),
      committedColmap(dir, conf, version),
      committedPartitionCol(dir, conf, version)) ++
      entries.map(_.manifestLine)
    var attempt = 0
    while (true) {
      val v = (listVersions(dir, conf) :+ 0).max + 1
      if (publishExclusive(fs, conf, manifestFor(dir, v), lines)) {
        writeLines(fs, manifest(dir), lines)
        return v
      }
      attempt += 1
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx restore: lost the publish race $maxRetries times on $dir")
    }
    -1 // unreachable
  }

  /** DESCRIBE HISTORY: one row per retained snapshot — version, commit
    * timestamp (manifest mtime, the [[versionAsOf]] clock), manifest
    * kind (delta vs checkpoint), file/DV counts, row count from zone
    * maps, and the snapshot's schema spec. Pure metadata: one LIST +
    * one manifest read per retained version, regardless of table size
    * — the audit surface every table format owes its operators. */
  def history(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    listVersions(dir, conf).map { v =>
      val mp = manifestFor(dir, v)
      val md = readManifest(fs, mp)
      val entries = committedEntries(dir, conf, v)
      (v, fs.getFileStatus(mp).getModificationTime,
        if (md.isDelta) "delta" else "checkpoint",
        entries.size.toLong, entries.count(_.dv.isDefined).toLong,
        entries.flatMap(_.stats).map(_.rows).sum,
        schemaSpec(md.schema.getOrElse(schema)))
    }.toDF("version", "commit_ts", "manifest_kind", "n_files", "n_dvs",
      "n_rows_physical", "schema")
  }

  /** DESCRIBE DETAIL (the Delta operator-console surface): ONE row of
    * table-level facts, all from metadata — manifest headers, zone-map
    * row sums, ref listings, one file-status pass for bytes. No data
    * file is opened at any table size. */
  def describeDetail(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val conf = driverConf()
    val v = latestDecidedVersion(dir, conf)
    require(v > 0 || {
      val fs = new Path(dir).getFileSystem(conf)
      fs.exists(manifest(dir))
    }, s"gdx describeDetail: no committed snapshot under $dir")
    val entries = committedEntries(dir, conf)
    val fs = new Path(dir).getFileSystem(conf)
    // manifest-carried sizes keep DETAIL metadata-only; legacy
    // entries without `b:` fall back to a live stat each
    val bytes = entries.map { e =>
      e.stats.flatMap(_.bytes).getOrElse(
        try fs.getFileStatus(entryPath(dir, e.name)).getLen
        catch { case _: Exception => 0L })
    }.sum
    // layout-quality observability: under a declared CLUSTER BY, how
    // many files provably interleave on the lexicographic cluster
    // prefix (the exact set the next OPTIMIZE would rewrite) — the
    // metric that makes trailing-column degradation VISIBLE instead
    // of silently priced into future scans. Metadata-only (zone-map
    // ranges ride the manifest).
    val clusterBy = effectiveClusterBy(dir, conf)
    val interleaved =
      if (clusterBy.isEmpty) 0L
      else clusterOverlapClosure(entries, clusterBy).size.toLong
    Seq((
      "gdx",
      fs.makeQualified(new Path(dir)).toString,
      v.toLong,
      entries.size.toLong,
      entries.count(_.dv.isDefined).toLong,
      entries.flatMap(_.stats).map(_.rows).sum,
      bytes,
      schemaSpec(committedSchema(dir, conf)),
      committedPartitionCol(dir, conf).getOrElse(""),
      clusterByOf(dir, conf).mkString(","),
      interleaved,
      committedConstraints(dir, conf).size.toLong,
      listTags(dir, conf).size.toLong,
      listBranches(dir, conf).size.toLong,
      readColStats(dir, conf).map(_.version.toLong).getOrElse(-1L)))
      .toDF("format", "location", "version", "n_files", "n_dvs",
        "n_rows", "size_bytes", "schema", "partition_spec",
        "cluster_by", "cluster_interleaved_files", "n_constraints",
        "n_tags", "n_branches", "analyzed_version")
  }

  // --------------------------- column statistics (ANALYZE TABLE / CBO)
  /** One column's table-level statistics, as written by
    * [[analyzeTable]] and served back through the scan's DSv2
    * `Statistics.columnStats()` so Spark's cost-based optimizer
    * (`spark.sql.cbo.enabled`) can estimate predicate selectivity and
    * join sizes. `typeName` pins the column's manifest type AT ANALYZE
    * TIME: min/max are served only while the live schema still agrees
    * (a dropped-and-recreated column of another type must not feed the
    * estimator mistyped bounds — that would fail the query, not just
    * the estimate); ndv/null counts survive a rename-era mismatch
    * harmlessly (they are scale facts, not typed values). */
  case class GdxColStat(typeName: String, ndv: Long, nullCount: Long,
                        avgLen: Long, maxLen: Long,
                        min: Option[String], max: Option[String],
                        hist: Option[GdxHistogram] = None)
  /** Equi-height histogram over the column's ESTIMATION domain (the
    * same double the optimizer converts internal values to: epoch-day
    * for DATE, epoch-micros for TIMESTAMP, the numeric value
    * otherwise) — what turns a range predicate's selectivity from
    * uniform min/max interpolation into the data's real shape. */
  case class GdxHistogram(height: Double,
                          bins: Seq[(Double, Double, Long)])
  case class GdxTableStats(version: Int, rowCount: Long,
                           cols: Map[String, GdxColStat])

  private def colStatsFile(path: String): Path =
    new Path(path, "_colstats")

  /** ANALYZE TABLE ... COMPUTE STATISTICS [FOR ALL COLUMNS]: ONE
    * distributed aggregate pass over the current snapshot computes,
    * per column, NDV (HyperLogLog++ via `approx_count_distinct` — the
    * same mergeable-sketch reduction every engine uses; an exact
    * distinct over 100 TB would shuffle the world), null count,
    * average/max byte length (measured for strings, the type's fixed
    * width otherwise), and min/max in the column's canonical text form
    * (the manifest cell encoding, so the reader re-materializes exact
    * internal values). The result lands in a `_colstats` sidecar via
    * one atomic replace — version-stamped, O(columns) bytes, advisory
    * by contract (stale statistics after later writes mislead the
    * OPTIMIZER's estimates only, never a result; the Hive/Delta
    * ANALYZE contract). Numeric ARRAY columns are skipped — no CBO
    * estimator consumes array statistics. Returns the stats written.
    *
    * At 100 TB this sidecar is what turns the optimizer from
    * size-only heuristics into real planning: a filtered dimension's
    * estimated rows shrink by 1/ndv, the join side that actually fits
    * broadcasts without a hint, and multi-join queries reorder on
    * estimated cardinalities instead of file bytes. */
  def analyzeTable(spark: SparkSession, dir: String): GdxTableStats = {
    import org.apache.spark.sql.functions._
    val conf = driverConf()
    val v = latestDecidedVersion(dir, conf)
    require(v > 0, s"gdx analyze: no committed snapshot under $dir")
    val tblSchema = committedSchema(dir, conf, v)
    val df = spark.read.format("graft.sources.GdxSource")
      .option("path", dir).option("version", v.toString).load()
    val fields = tblSchema.fields.filterNot(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
        f.dataType.isInstanceOf[StructType])
    // a column's ESTIMATION domain — the double the optimizer itself
    // converts internal values to, so histogram bins land in the same
    // coordinate system range-predicate literals are compared in
    def domainExpr(f: StructField): Option[org.apache.spark.sql.Column] = {
      val c = col(s"`${f.name}`")
      f.dataType match {
        // NaN discipline matches the zone maps': a NaN must never
        // enter a range estimate (Spark orders it above every
        // double), so the double domain nulls NaNs out — they still
        // count in ndv/null tallies, just not in the range shape
        case DoubleType =>
          Some(when(!isnan(c), c).otherwise(lit(null)))
        case LongType | _: DecimalType => Some(c.cast("double"))
        case DateType      => Some(unix_date(c).cast("double"))
        case TimestampType => Some(unix_micros(c).cast("double"))
        case _             => None // strings/booleans: no range shape
      }
    }
    val nb = HistogramBins
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("__rows") +: fields.toSeq.flatMap { f =>
        val c = col(s"`${f.name}`")
        val base = Seq(
          approx_count_distinct(c).as(s"__ndv_${f.name}"),
          count(c).as(s"__nn_${f.name}"))
        val typed = f.dataType match {
          case StringType => Seq(
            ceil(coalesce(avg(length(c)), lit(0))).cast("long")
              .as(s"__avg_${f.name}"),
            coalesce(max(length(c)), lit(0)).cast("long")
              .as(s"__max_${f.name}"))
          // doubles: min/max over the NaN-nulled value (Spark orders
          // NaN above every double — a NaN max would poison every
          // range estimate, the zone maps' own rule)
          case DoubleType =>
            val nn = when(!isnan(c), c)
            Seq(min(nn).as(s"__lo_${f.name}"),
              max(nn).as(s"__hi_${f.name}"))
          case _ => Seq(min(c).as(s"__lo_${f.name}"),
            max(c).as(s"__hi_${f.name}"))
        }
        // equi-height bin BOUNDARIES ride the same pass (nb+1
        // percentiles of the estimation domain)
        // accuracy 2000 ⇒ rank error ≤ 0.05% — two orders of magnitude
        // finer than a 16-bin boundary needs, at a fraction of the
        // default sketch's update cost
        val pct = domainExpr(f).map(dom =>
          percentile_approx(dom,
            array((0 to nb).map(i => lit(i.toDouble / nb)): _*),
            lit(2000)).as(s"__pct_${f.name}")).toSeq
        base ++ typed ++ pct
      }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getLong(r.fieldIndex("__rows"))
    // SECOND (and last) pass: per-bin NDV for every histogram column
    // at once — one aggregate of nb sketches per column, the
    // equi-height histogram's only extra scan
    val histBounds: Map[String, Seq[Double]] = fields.toSeq.flatMap { f =>
      if (domainExpr(f).isEmpty) None
      else Option(r.getSeq[Double](r.fieldIndex(s"__pct_${f.name}")))
        .filter(b => b != null && b.length == nb + 1 && b.head != null)
        .map(f.name -> _)
    }.toMap
    val histNdv: Map[String, Seq[Long]] =
      if (histBounds.isEmpty) Map.empty
      else {
        // one scan, one sketch update per row: each row MELTS to
        // (column, bin, value) cells and the per-bin sketches build in
        // a 16·columns-group hash aggregate. Bin membership uses the
        // exact comparison chain the conditional form used (first bin
        // closed, later bins lo-open/hi-closed; out-of-range and NaN
        // rows carry a NULL bin and are dropped), and
        // approx_count_distinct is a deterministic function of each
        // group's value multiset, so the estimates are bit-identical
        // to the previous one-wide-buffer formulation — which paid 16
        // conditional sketch-buffer columns PER histogram column in a
        // single ~3k-word aggregate row and ran ~3× slower.
        val cells = histBounds.toSeq.map { case (name, b) =>
          val dom = domainExpr(fields.find(_.name == name).get).get
          val bin = (1 until nb).foldLeft(
            when(dom >= lit(b(0)) && dom <= lit(b(1)), lit(0))) {
            case (acc, i) =>
              acc.when(dom > lit(b(i)) && dom <= lit(b(i + 1)), lit(i))
          }
          struct(lit(name).as("c"), bin.as("b"), dom.as("v"))
        }
        val br = df.select(explode(array(cells: _*)).as("m"))
          .filter(col("m.b").isNotNull)
          .groupBy(col("m.c"), col("m.b"))
          .agg(approx_count_distinct(col("m.v")).as("nd"))
          .collect()
          .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
        // absent groups are empty bins: the old aggregate reported 0
        // there and the writer floors at 1 — preserved
        histBounds.map { case (name, _) =>
          name -> (0 until nb).map(i =>
            br.getOrElse((name, i), 0L))
        }
      }
    // min/max render through the SAME canonical text forms the
    // manifest cells use ([[appendExternalCell]]'s vocabulary), so
    // parseInternalCell re-materializes exact internal values
    def statText(dt: DataType, value: Any): Option[String] =
      Option(value).map {
        case d: java.sql.Date        =>
          DateTimeUtils.fromJavaDate(d).toString
        case ld: java.time.LocalDate => ld.toEpochDay.toString
        case t: java.sql.Timestamp   =>
          DateTimeUtils.fromJavaTimestamp(t).toString
        case in: java.time.Instant   =>
          DateTimeUtils.instantToMicros(in).toString
        case bd: java.math.BigDecimal => bd.toPlainString
        case other                    => other.toString
      }
    val cols = fields.map { f =>
      val ndv = r.getLong(r.fieldIndex(s"__ndv_${f.name}"))
      val nulls = rows - r.getLong(r.fieldIndex(s"__nn_${f.name}"))
      val (avgL, maxL, lo, hi) = f.dataType match {
        case StringType =>
          (r.getLong(r.fieldIndex(s"__avg_${f.name}")),
            r.getLong(r.fieldIndex(s"__max_${f.name}")),
            None, None)
        case dt =>
          val w = dt.defaultSize.toLong
          (w, w,
            statText(dt, r.get(r.fieldIndex(s"__lo_${f.name}"))),
            statText(dt, r.get(r.fieldIndex(s"__hi_${f.name}"))))
      }
      val hist = histBounds.get(f.name).map { b =>
        val nn = r.getLong(r.fieldIndex(s"__nn_${f.name}"))
        GdxHistogram(nn.toDouble / nb,
          (0 until nb).map(i =>
            (b(i), b(i + 1), math.max(1L, histNdv(f.name)(i)))))
      }
      f.name -> GdxColStat(typeNameOf(f.dataType), ndv, nulls,
        avgL, maxL, lo, hi, hist)
    }.toMap
    val lines = (s"#analyzed\t$v\t$rows" +:
      fields.toSeq.map { f =>
        val cs = cols(f.name)
        Seq(f.name, cs.typeName, cs.ndv, cs.nullCount, cs.avgLen,
          cs.maxLen, cs.min.getOrElse(NullMarker),
          cs.max.getOrElse(NullMarker)).mkString("\t")
      }) ++
      fields.toSeq.flatMap { f =>
        cols(f.name).hist.map(h => (Seq("#hist", f.name, h.height) ++
          h.bins.map { case (lo, hi, nd) => s"$lo:$hi:$nd" })
          .mkString("\t"))
      }
    val fs = new Path(dir).getFileSystem(conf)
    replaceAtomic(fs, conf, colStatsFile(dir), lines)
    GdxTableStats(v, rows, cols)
  }

  /** Equi-height bins per ANALYZE histogram — deliberately coarser
    * than Hive's 254: the sidecar stays O(columns) small and 16 bins
    * already separate a skewed tail from its body. */
  private[graft] val HistogramBins = 16

  /** Drop the ANALYZE sidecar (TRUNCATE's stats hygiene). */
  private[graft] def clearColStats(dir: String,
                                   conf: Configuration): Unit = {
    new Path(dir).getFileSystem(conf).delete(colStatsFile(dir), false)
    ()
  }

  /** How many commits the snapshot may move past `analyzed_version`
    * before the sidecar's NDV/min/max stop serving the CBO (the scan
    * degrades to manifest-only sizes — never worse than un-ANALYZEd).
    * Session-configurable: `SET spark.gdx.stats.maxVersionDrift=n`. */
  private[graft] def statsMaxVersionDrift: Int =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.gdx.stats.maxVersionDrift", "64").toInt
    catch { case _: Exception => 64 }

  /** Stats hygiene after a row-DELETING commit: a delete that removes
    * a large share of the analyzed rows makes the sidecar's NDV and
    * range shape actively misleading (the TRUNCATE rule, scaled), so
    * ≥ 25% deleted clears it — smaller deletes leave it in place and
    * the version-drift guard ages it out. Advisory by contract:
    * failure to clear only costs estimate quality. */
  private[graft] def decayColStats(dir: String, conf: Configuration,
                                   deletedRows: Long): Unit =
    if (deletedRows > 0)
      readColStats(dir, conf).foreach { ts =>
        if (deletedRows * 4L >= ts.rowCount) clearColStats(dir, conf)
      }

  /** The table's ANALYZE sidecar, if one exists — one small read,
    * served by every scan's `estimateStatistics` as DSv2 column
    * statistics (advisory; absence simply means size-only planning).
    * A corrupt sidecar reads as ABSENT, never as a failed scan — the
    * file is advisory by contract, so damage must only cost
    * estimates. */
  def readColStats(dir: String, conf: Configuration)
      : Option[GdxTableStats] =
    try readColStatsOnce(dir, conf)
    catch { case _: Exception => None }

  private def readColStatsOnce(dir: String, conf: Configuration)
      : Option[GdxTableStats] = {
    val fs = new Path(dir).getFileSystem(conf)
    val p = colStatsFile(dir)
    if (!fs.exists(p)) return None
    val lines = readAllLines(fs, p).filter(_.nonEmpty)
    val head = lines.headOption.filter(_.startsWith("#analyzed"))
      .getOrElse(return None)
    val hp = head.split('\t')
    val hists: Map[String, GdxHistogram] = lines.tail
      .filter(_.startsWith("#hist\t")).flatMap { ln =>
        val f = ln.split('\t')
        if (f.length < 4) None
        else scala.util.Try {
          f(1) -> GdxHistogram(f(2).toDouble,
            f.drop(3).toSeq.map { b =>
              val Array(lo, hi, nd) = b.split(':')
              (lo.toDouble, hi.toDouble, nd.toLong)
            })
        }.toOption
      }.toMap
    val cols = lines.tail.filterNot(_.startsWith("#")).flatMap { ln =>
      val f = ln.split('\t')
      if (f.length != 8) None
      else Some(f(0) -> GdxColStat(f(1), f(2).toLong, f(3).toLong,
        f(4).toLong, f(5).toLong,
        Some(f(6)).filter(_ != NullMarker),
        Some(f(7)).filter(_ != NullMarker),
        hists.get(f(0))))
    }.toMap
    Some(GdxTableStats(hp(1).toInt, hp(2).toLong, cols))
  }

  /** Append a column to the table's schema — a METADATA-ONLY commit:
    * the new manifest carries the evolved `#schema` line and the same
    * file entries; no data file is touched (the Delta/Iceberg ADD
    * COLUMN contract — at 100 TB, evolution costs one manifest write).
    * Existing files' rows read as NULL for the new column; subsequent
    * writes must carry it. Append-only by construction: the classic
    * (k, v) prefix — and with it zone maps, pushdown, and metadata
    * aggregates — survives every evolution. CAS + retry, same loop as
    * [[delete]]. Returns the committed version. */
  def addColumn(dir: String, name: String, dataType: DataType,
                maxRetries: Int = 10,
                default: Option[String] = None): Int = {
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    var attempt = 0
    while (true) {
      val vs = listVersions(dir, conf)
      require(vs.nonEmpty, s"gdx addColumn: no snapshot under $dir")
      decideStaleTxn(dir, conf, vs.max) // claim-aware maintenance
      val readV = vs.max
      val cur = committedSchema(dir, conf, readV)
      require(!cur.fieldNames.contains(name),
        s"gdx addColumn: column $name already exists")
      // an INITIAL DEFAULT (validated canonical cell text) makes every
      // pre-evolution row read the default instead of NULL — still one
      // metadata commit, era-correct under time travel by construction
      val newField = default.foldLeft(StructField(name, dataType))(
        (f, d) => withDefaultCell(f, d))
      val evolved = StructType(cur.fields :+ newField)
      // under a column mapping the new field claims the next free
      // PHYSICAL slot (the recorded arity) - a dropped column's slot is
      // never reused, so old files can never leak a dead column's
      // bytes into a new one
      val colmap = committedColmap(dir, conf, readV)
        .map(cm => Colmap(cm.slots :+ cm.arity, cm.arity + 1))
      val lines = headerLines(evolved,
        committedConstraints(dir, conf, readV), colmap,
        committedPartitionCol(dir, conf, readV)) ++
        committedEntries(dir, conf, readV).map(_.manifestLine)
      if (publishExclusive(fs, conf, manifestFor(dir, readV + 1), lines)) {
        writeLines(fs, manifest(dir), lines)
        return readV + 1
      }
      attempt += 1
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx addColumn: lost the publish race $maxRetries times on $dir")
    }
    -1 // unreachable
  }

  /** ADD A NESTED FIELD to an existing struct column — a METADATA-ONLY
    * commit, the Iceberg add-nested-field contract reduced to the line
    * format: the struct's type name in `#schema` grows one TRAILING
    * field; cells written before the evolution simply have fewer
    * sub-cells inside their parens, so the positional decoder
    * null-fills the new leaf for free (the same era rule the
    * top-level line follows), and time travel to a pre-evolution
    * snapshot sees the old struct shape. `path` addresses the struct
    * by dotted name (`meta` or `meta.source` for a nested target);
    * the new field lands at the END of the addressed struct. Because
    * the field is appended, existing physical slots never move and
    * the column's cell encoding stays decodable by every era's
    * schema. CAS + retry; returns the committed version. */
  def addNestedField(dir: String, path: String, fieldName: String,
                     dataType: DataType, maxRetries: Int = 10): Int = {
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    val parts = path.split('.')
    require(parts.nonEmpty && fieldName.nonEmpty,
      "gdx addNestedField: empty path or field name")
    var attempt = 0
    while (true) {
      val vs = listVersions(dir, conf)
      require(vs.nonEmpty, s"gdx addNestedField: no snapshot under $dir")
      decideStaleTxn(dir, conf, vs.max) // claim-aware maintenance
      val readV = vs.max
      val cur = committedSchema(dir, conf, readV)
      def grow(st: StructType, depth: Int): StructType =
        if (depth == parts.length) {
          require(!st.fieldNames.exists(_.equalsIgnoreCase(fieldName)),
            s"gdx addNestedField: field $fieldName already exists " +
              s"in $path")
          StructType(st.fields :+ StructField(fieldName, dataType))
        } else {
          val i = st.fieldNames.indexWhere(
            _.equalsIgnoreCase(parts(depth)))
          require(i >= 0, s"gdx addNestedField: no field " +
            s"'${parts(depth)}' under ${parts.take(depth).mkString(".")}")
          st.fields(i).dataType match {
            case nested: StructType => StructType(st.fields.updated(i,
              st.fields(i).copy(dataType = grow(nested, depth + 1))))
            // `ADD COLUMN messages.ts` where messages is
            // array<struct<...>>: the new TRAILING field lands inside
            // the ELEMENT struct — old cells' elements simply have
            // fewer sub-cells, so the positional decoder null-fills
            // the new leaf per element, the same era rule as flat
            // structs
            case ArrayType(nested: StructType, cn) =>
              StructType(st.fields.updated(i, st.fields(i).copy(
                dataType = ArrayType(grow(nested, depth + 1), cn))))
            // `ADD COLUMN scores.n` where scores is
            // map<string,struct<...>>: same trailing-arity era rule,
            // applied to every entry's value cell
            case org.apache.spark.sql.types.MapType(kt,
                nested: StructType, vn) =>
              StructType(st.fields.updated(i, st.fields(i).copy(
                dataType = org.apache.spark.sql.types.MapType(kt,
                  grow(nested, depth + 1), vn))))
            case other => throw new IllegalArgumentException(
              s"gdx addNestedField: ${parts.take(depth + 1).mkString(".")}" +
                s" is ${other.catalogString}, not a struct")
          }
        }
      val evolved = grow(cur, 0)
      // validate the evolved struct renders (leaf vocabulary, names)
      typeNameOf(evolved.fields(
        cur.fieldNames.indexWhere(_.equalsIgnoreCase(parts(0))))
        .dataType)
      val lines = headerLines(evolved,
        committedConstraints(dir, conf, readV),
        committedColmap(dir, conf, readV),
        committedPartitionCol(dir, conf, readV)) ++
        committedEntries(dir, conf, readV).map(_.manifestLine)
      if (publishExclusive(fs, conf, manifestFor(dir, readV + 1), lines)) {
        writeLines(fs, manifest(dir), lines)
        return readV + 1
      }
      attempt += 1
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx addNestedField: lost the publish race $maxRetries times")
    }
    -1 // unreachable
  }

  /** RENAME A NESTED FIELD — metadata-only like the top-level rename,
    * and SIMPLER: struct cells are positional, so names live ONLY in
    * the `#schema` type text and no column mapping is needed; the
    * cell bytes never move. Existing files' zone-map stats for the
    * leaf stay recorded under the OLD dotted name — lookups under the
    * new name find nothing and simply cannot prune those files
    * (conservative, never wrong); new writes publish under the new
    * name. Nested DROP is refused loudly ([[dropColumn]]'s slot
    * machinery has no positional analogue inside a cell — dropping a
    * middle sub-field would shift every later one). CAS + retry;
    * returns the committed version. */
  def renameNestedField(dir: String, path: String, to: String,
                        maxRetries: Int = 10): Int = {
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    val parts = path.split('.')
    require(parts.length >= 2,
      s"gdx renameNestedField: '$path' does not address a nested " +
        "field (use renameColumn for top-level columns)")
    var attempt = 0
    while (true) {
      val vs = listVersions(dir, conf)
      require(vs.nonEmpty, s"gdx renameNestedField: no snapshot under $dir")
      decideStaleTxn(dir, conf, vs.max)
      val readV = vs.max
      val cur = committedSchema(dir, conf, readV)
      def rename(st: StructType, depth: Int): StructType = {
        val i = st.fieldNames.indexWhere(
          _.equalsIgnoreCase(parts(depth)))
        require(i >= 0, s"gdx renameNestedField: no field " +
          s"'${parts(depth)}' under ${parts.take(depth).mkString(".")}")
        if (depth == parts.length - 1) {
          require(!st.fieldNames.exists(_.equalsIgnoreCase(to)),
            s"gdx renameNestedField: field $to already exists")
          StructType(st.fields.updated(i, st.fields(i).copy(name = to)))
        } else st.fields(i).dataType match {
          case nested: StructType => StructType(st.fields.updated(i,
            st.fields(i).copy(dataType = rename(nested, depth + 1))))
          // rename a field INSIDE an array's element struct — cells
          // are positional, so this is metadata-only like every
          // other nested rename
          case ArrayType(nested: StructType, cn) =>
            StructType(st.fields.updated(i, st.fields(i).copy(
              dataType = ArrayType(rename(nested, depth + 1), cn))))
          case org.apache.spark.sql.types.MapType(kt,
              nested: StructType, vn) =>
            StructType(st.fields.updated(i, st.fields(i).copy(
              dataType = org.apache.spark.sql.types.MapType(kt,
                rename(nested, depth + 1), vn))))
          case other => throw new IllegalArgumentException(
            s"gdx renameNestedField: " +
              s"${parts.take(depth + 1).mkString(".")} is " +
              s"${other.catalogString}, not a struct")
        }
      }
      val evolved = rename(cur, 0)
      // validate the evolved struct renders (new-name vocabulary)
      typeNameOf(evolved.fields(
        cur.fieldNames.indexWhere(_.equalsIgnoreCase(parts(0))))
        .dataType)
      val lines = headerLines(evolved,
        committedConstraints(dir, conf, readV),
        committedColmap(dir, conf, readV),
        committedPartitionCol(dir, conf, readV)) ++
        committedEntries(dir, conf, readV).map(_.manifestLine)
      if (publishExclusive(fs, conf, manifestFor(dir, readV + 1), lines)) {
        writeLines(fs, manifest(dir), lines)
        reconcileClusterSidecar(dir, path,
          Some((parts.dropRight(1) :+ to).mkString(".")))
        return readV + 1
      }
      attempt += 1
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx renameNestedField: lost the publish race $maxRetries times")
    }
    -1 // unreachable
  }

  /** PARTITION-SPEC EVOLUTION — change the table's layout without
    * rewriting a byte (the Iceberg `ALTER TABLE ... PARTITION FIELD`
    * contract, reduced to this format's single-spec header): a
    * METADATA-ONLY commit records `newSpec` as the layout for FUTURE
    * writes and appends the replaced spec to the header's history
    * tail (`#partition new;old;older`). Existing files stay in their
    * old directories and keep pruning under their own era's transform
    * (the scan prunes with every recorded spec whose directory key is
    * unambiguous); new writes demux (and range/hash-cluster) under
    * the new spec. Consumers that need one directory key = one
    * meaning — SPJ, grouped metadata aggregates, replaceWhere /
    * OPTIMIZE WHERE slices — stand down exactly while a former spec
    * collides with the current one ([[partDirAmbiguous]]) or a file
    * cannot prove its key; a full OPTIMIZE materializes the current
    * layout and clears the history. At 100 TB this is the layout
    * migration story: switching a decade-old fact table from monthly
    * to daily partitioning costs one manifest write, not a rewrite,
    * and the old years keep their old pruning. CAS + retry; returns
    * the committed version. */
  def evolvePartitionSpec(dir: String, newSpec: String,
                          maxRetries: Int = 10): Int = {
    require(!newSpec.contains(";"),
      s"gdx evolvePartitionSpec: '$newSpec' is one spec, not a history")
    val ns = parsePartSpec(newSpec)
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    var attempt = 0
    while (true) {
      val vs = listVersions(dir, conf)
      require(vs.nonEmpty, s"gdx evolvePartitionSpec: no snapshot " +
        s"under $dir")
      decideStaleTxn(dir, conf, vs.max) // claim-aware maintenance
      val readV = vs.max
      val cur = committedSchema(dir, conf, readV)
      val f = cur.fields.find(_.name.equalsIgnoreCase(ns.col))
        .getOrElse(throw new IllegalArgumentException(
          s"gdx evolvePartitionSpec: partition column ${ns.col} is " +
            "not in the table schema"))
      validatePartColType(ns, f.dataType, "evolvePartitionSpec")
      val curRaw = committedPartitionCol(dir, conf, readV)
      curRaw.map(partHeadOf).map(parsePartSpec).foreach(head =>
        require(head != ns, s"gdx evolvePartitionSpec: ${ns.render} is " +
          "already the table's layout"))
      // the replaced head joins the formers; evolving BACK to a former
      // spec promotes it out of the tail (its era's files prove keys
      // under the current spec again)
      val newRaw = normalizePartRaw(
        (ns.render +: curRaw.toSeq.flatMap(r =>
          partHeadOf(r) +: splitPartRaw(r)._2)).mkString(";"))
      val lines = headerLines(cur,
        committedConstraints(dir, conf, readV),
        committedColmap(dir, conf, readV), Some(newRaw)) ++
        committedEntries(dir, conf, readV).map(_.manifestLine)
      if (publishExclusive(fs, conf, manifestFor(dir, readV + 1), lines)) {
        writeLines(fs, manifest(dir), lines)
        // a partition spec and a CLUSTER BY cannot coexist (setClusterBy
        // refuses partitioned tables; guard the reverse order too)
        clearClusterBy(dir)
        return readV + 1
      }
      attempt += 1
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx evolvePartitionSpec: lost the publish race $maxRetries " +
          s"times on $dir")
    }
    -1 // unreachable
  }

  /** Constraints whose expression references `col` — rename/drop must
    * refuse while one exists (the stored SQL would silently bind to
    * nothing, or to a re-added column): the Delta contract is "drop
    * the constraint first", stated loudly. */
  private def constraintsReferencing(spark: SparkSession,
                                     checks: Seq[(String, String)],
                                     colName: String): Seq[String] =
    checks.filter { case (_, sql) =>
      spark.sessionState.sqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }.exists(_.equalsIgnoreCase(colName))
    }.map(_._1)

  /** Guards shared by RENAME/DROP COLUMN: the column must exist, must
    * not be one of the CLASSIC CORE slots (physical 0 = the key k,
    * physical 1 = v — zone maps, blooms, k/v pushdown, DPP, metadata
    * aggregates, and MERGE's file-pruning key all bind to them by name and
    * position; they are part of the format's contract, exactly like a
    * partition column in Delta), and no CHECK constraint may reference
    * it. Returns (field index, its physical slot). */
  private def mappableColumn(spark: SparkSession, dir: String, readV: Int,
                             conf: Configuration, stmt: String,
                             colName: String): (Int, Int) = {
    val cur = committedSchema(dir, conf, readV)
    val idx = cur.fieldNames.indexWhere(_.equalsIgnoreCase(colName))
    require(idx >= 0, s"gdx $stmt: no column $colName")
    val slot = slotsOf(cur, committedColmap(dir, conf, readV))(idx)
    require(slot > 1, s"gdx $stmt: ${cur.fieldNames(idx)} is a classic " +
      "core column (physical slot 0/1) - the key and its value anchor " +
      "zone maps, pushdown, DPP, and the merge contract, and cannot be " +
      "renamed or dropped (rewrite the table into a new layout instead)")
    val refs = constraintsReferencing(spark,
      committedConstraints(dir, conf, readV), colName)
    require(refs.isEmpty, s"gdx $stmt: CHECK constraint(s) " +
      s"${refs.mkString(",")} reference $colName - drop them first")
    // the declared partition spec references the column by name: a
    // rename would orphan the `#partition` header (subsequent writes
    // would fail to find the column) and a drop would strand the
    // layout entirely — refuse, like Delta does for partition columns
    committedPartSpec(dir, conf, readV).foreach { sp =>
      require(!sp.col.equalsIgnoreCase(colName),
        s"gdx $stmt: ${cur.fieldNames(idx)} is the table's partition " +
          s"column (${sp.render}) - rewrite the table into a new " +
          "layout instead")
    }
    (idx, slot)
  }

  /** The partition header a rename/drop of `colName` should carry:
    * the CURRENT spec is refused above while it references the
    * column, but a FORMER (evolution-history) spec may — its era's
    * files simply stop pruning under a name that no longer exists
    * (absence = cannot prune, never a correctness boundary), so the
    * dead spec leaves the tail instead of binding to a re-added
    * column later. */
  private def partRawWithout(dir: String, conf: Configuration,
                             readV: Int, colName: String): Option[String] =
    committedPartitionCol(dir, conf, readV).map { raw =>
      val (h, t) = splitPartRaw(raw)
      (h +: t.filterNot(f =>
        parsePartSpec(f).col.equalsIgnoreCase(colName))).mkString(";")
    }

  /** RENAME COLUMN — a METADATA-ONLY commit: logical names live only
    * in the `#schema` header, physical slots don't move, so no data
    * file is touched and every retained snapshot keeps (and time
    * travel sees) the name of its own era. Extended zone-map stats are
    * keyed by the name AT WRITE TIME, so pre-rename files simply stop
    * pruning on the renamed column (absence = cannot prune — an
    * overlay, never a correctness boundary) until a rewrite
    * (OPTIMIZE) re-keys them. CAS + retry. Returns the version. */
  def renameColumn(spark: SparkSession, dir: String, from: String,
                   to: String, maxRetries: Int = 10): Int = {
    require(to.nonEmpty && !to.exists(_.isWhitespace) &&
      !to.contains(':') && !to.contains(','),
      s"gdx renameColumn: invalid target name '$to'")
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    var attempt = 0
    while (true) {
      val vs = listVersions(dir, conf)
      require(vs.nonEmpty, s"gdx renameColumn: no snapshot under $dir")
      decideStaleTxn(dir, conf, vs.max) // claim-aware maintenance
      val readV = vs.max
      val cur = committedSchema(dir, conf, readV)
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"gdx renameColumn: column $to already exists")
      val (idx, _) = mappableColumn(spark, dir, readV, conf,
        "renameColumn", from)
      val renamed = StructType(
        cur.fields.updated(idx, cur.fields(idx).copy(name = to)))
      val lines = headerLines(renamed,
        committedConstraints(dir, conf, readV),
        committedColmap(dir, conf, readV),
        partRawWithout(dir, conf, readV, from)) ++
        committedEntries(dir, conf, readV).map(_.manifestLine)
      if (publishExclusive(fs, conf, manifestFor(dir, readV + 1), lines)) {
        writeLines(fs, manifest(dir), lines)
        reconcileClusterSidecar(dir, from, Some(to))
        return readV + 1
      }
      attempt += 1
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx renameColumn: lost the publish race $maxRetries times")
    }
    -1 // unreachable
  }

  /** DROP COLUMN — a METADATA-ONLY commit: the field leaves `#schema`
    * and its slot leaves the `#colmap` mapping; the slot's bytes stay
    * in existing files (time travel still reads them under the old
    * schema), new writes null-fill it, and the recorded physical arity
    * ensures a later ADD COLUMN never reuses it. A truncate-rewrite
    * (OPTIMIZE) materializes the logical layout and physically drops
    * dead slots, resetting the mapping to identity. CAS + retry.
    * Returns the version. */
  def dropColumn(spark: SparkSession, dir: String, name: String,
                 maxRetries: Int = 10): Int = {
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    var attempt = 0
    while (true) {
      val vs = listVersions(dir, conf)
      require(vs.nonEmpty, s"gdx dropColumn: no snapshot under $dir")
      decideStaleTxn(dir, conf, vs.max) // claim-aware maintenance
      val readV = vs.max
      val cur = committedSchema(dir, conf, readV)
      val (idx, _) = mappableColumn(spark, dir, readV, conf,
        "dropColumn", name)
      val slots = slotsOf(cur, committedColmap(dir, conf, readV))
      val arity = committedColmap(dir, conf, readV).map(_.arity)
        .getOrElse(cur.length)
      val remaining = StructType(
        cur.fields.zipWithIndex.filterNot(_._2 == idx).map(_._1))
      val newColmap = Colmap(
        slots.zipWithIndex.filterNot(_._2 == idx).map(_._1), arity)
      val lines = headerLines(remaining,
        committedConstraints(dir, conf, readV), Some(newColmap),
        partRawWithout(dir, conf, readV, name)) ++
        committedEntries(dir, conf, readV).map(_.manifestLine)
      if (publishExclusive(fs, conf, manifestFor(dir, readV + 1), lines)) {
        writeLines(fs, manifest(dir), lines)
        reconcileClusterSidecar(dir, name, None)
        return readV + 1
      }
      attempt += 1
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx dropColumn: lost the publish race $maxRetries times")
    }
    -1 // unreachable
  }

  /** DROP A NESTED FIELD — ERA-CORRECT BY REWRITE. Struct cells are
    * positional text with no per-struct slot mapping, so a
    * metadata-only nested drop would need a nested column-mapping
    * layer (the Delta column-mapping shape, one level down); the
    * engine instead trades ONE bounded rewrite for zero ongoing
    * mapping complexity: the live rows are rewritten under the
    * evolved schema (`dropFields` on the struct column — positions
    * after the dropped leaf shift in the NEW files only; DVs fold
    * away) and committed as a truncate snapshot under CAS. Old
    * snapshots keep their files AND their era's schema, so time
    * travel still reads the dropped leaf. Works one array level deep
    * (`messages.ts` inside `array<struct<...>>`). Refused while a
    * CHECK constraint references the leaf or anything under it
    * (the stored SQL would silently bind to nothing), and refused
    * for a struct's last field (empty structs are not a type). The
    * `_cluster` sidecar drops the leaf's declaration. Returns
    * (files before, files after). */
  def dropNestedField(spark: SparkSession, dir: String, path: String,
                      maxRetries: Int = 10): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, transform => htransform}
    val conf = driverConf()
    val parts = path.split('.')
    require(parts.length >= 2,
      s"gdx dropNestedField: '$path' does not address a nested field " +
        "(use dropColumn for top-level columns)")
    // a CHECK referencing the leaf (or anything under it) must go
    // first — its stored SQL would bind to nothing after the drop
    val pl = path.toLowerCase(java.util.Locale.ROOT)
    val referencing = committedConstraints(dir, conf).filter {
      case (_, sql) =>
        spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute =>
            a.name.toLowerCase(java.util.Locale.ROOT)
        }.exists(n => n == pl || n.startsWith(pl + "."))
    }
    require(referencing.isEmpty,
      s"gdx dropNestedField: constraint(s) " +
        s"${referencing.map(_._1).mkString(", ")} reference $path - " +
        "drop them first")
    val out = rewriteWithCas(dir, maxRetries) { readV =>
      val cur = committedSchema(dir, conf,
        if (readV > 0) readV else -1)
      // canonical-case the path while validating the evolved shape
      val canon = new Array[String](parts.length)
      def remove(st: StructType, depth: Int): StructType = {
        val i = st.fieldNames.indexWhere(
          _.equalsIgnoreCase(parts(depth)))
        require(i >= 0, s"gdx dropNestedField: no field " +
          s"'${parts(depth)}' under ${parts.take(depth).mkString(".")}")
        canon(depth) = st.fields(i).name
        if (depth == parts.length - 1) {
          require(st.length > 1, s"gdx dropNestedField: $path is its " +
            "struct's last field - drop the column instead")
          StructType(st.fields.zipWithIndex.filterNot(_._2 == i)
            .map(_._1))
        } else st.fields(i).dataType match {
          case nested: StructType => StructType(st.fields.updated(i,
            st.fields(i).copy(dataType = remove(nested, depth + 1))))
          case ArrayType(nested: StructType, cn) =>
            StructType(st.fields.updated(i, st.fields(i).copy(
              dataType = ArrayType(remove(nested, depth + 1), cn))))
          case org.apache.spark.sql.types.MapType(kt,
              nested: StructType, vn) =>
            StructType(st.fields.updated(i, st.fields(i).copy(
              dataType = org.apache.spark.sql.types.MapType(kt,
                remove(nested, depth + 1), vn))))
          case other => throw new IllegalArgumentException(
            s"gdx dropNestedField: " +
              s"${parts.take(depth + 1).mkString(".")} is " +
              s"${other.catalogString}, not a struct")
        }
      }
      remove(cur, 0)
      val colName = canon(0)
      val colIdx = cur.fieldNames.indexWhere(
        _.equalsIgnoreCase(colName))
      val newCol = cur.fields(colIdx).dataType match {
        case ArrayType(_: StructType, _) =>
          require(parts.length == 2, "gdx dropNestedField: an array " +
            "element path addresses exactly one leaf (messages.<leaf>)")
          htransform(col(colName), m => m.dropFields(canon(1)))
        case org.apache.spark.sql.types.MapType(_, _: StructType, _) =>
          require(parts.length == 2, "gdx dropNestedField: a map " +
            "value path addresses exactly one leaf (scores.<leaf>)")
          org.apache.spark.sql.functions.transform_values(col(colName),
            (_, v) => v.dropFields(canon(1)))
        case _: StructType =>
          col(colName).dropFields(canon.tail.mkString("."))
        case other => throw new IllegalArgumentException(
          s"gdx dropNestedField: $colName is ${other.catalogString}")
      }
      val before = committedEntries(dir, conf,
        if (readV > 0) readV else -1).size
      Some((before, snapshotReader(spark, dir, readV)
        .withColumn(colName, newCol)))
    }
    reconcileClusterSidecar(dir, path, None)
    out
  }

  /** CHECK CONSTRAINTS (the Delta `ALTER TABLE ADD CONSTRAINT`
    * contract): `exprSql` must hold — SQL semantics, NULL passes — for
    * every EXISTING row (validated here with one scan; a violated
    * table refuses the constraint) and every FUTURE write (enforced
    * row-level inside the writers; a violating job aborts before any
    * commit). The constraint is a METADATA-ONLY commit (`#check`
    * manifest header, carried by every subsequent manifest like the
    * schema); RESTORE and clone resurrect the constraint set of their
    * source snapshot. Returns the committed version. */
  def addConstraint(spark: SparkSession, dir: String, name: String,
                    exprSql: String, maxRetries: Int = 10): Int = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty && !name.exists(_.isWhitespace),
      s"gdx addConstraint: name must be a single token, got '$name'")
    // the expression lives on ONE manifest header line — a newline
    // would make its continuation parse as a data-file entry
    require(!exprSql.exists(c => c == '\n' || c == '\r'),
      "gdx addConstraint: expression must be a single line " +
        "(manifest header format)")
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    var attempt = 0
    while (true) {
      val vs = listVersions(dir, conf)
      require(vs.nonEmpty, s"gdx addConstraint: no snapshot under $dir")
      decideStaleTxn(dir, conf, vs.max) // claim-aware maintenance
      val readV = vs.max
      val cur = committedConstraints(dir, conf, readV)
      require(!cur.exists(_._1 == name),
        s"gdx addConstraint: constraint $name already exists")
      // compile early: an unparseable/unresolvable expression must
      // fail HERE, not on the first write
      compileChecks(spark, committedSchema(dir, conf, readV),
        Seq(name -> exprSql))
      // existing data must satisfy the constraint (NULL passes)
      val reader = spark.read.format("graft.sources.GdxSource")
        .option("path", dir).option("version", readV.toString)
      val bad = reader.load()
        .filter(not(coalesce(expr(exprSql), lit(true)))).count()
      if (bad > 0) throw new GdxConstraintViolationException(
        s"gdx addConstraint: $bad existing row(s) violate $name " +
          s"($exprSql) - constraint refused")
      val lines = headerLines(committedSchema(dir, conf, readV),
        cur :+ (name -> exprSql),
        committedColmap(dir, conf, readV),
        committedPartitionCol(dir, conf, readV)) ++
        committedEntries(dir, conf, readV).map(_.manifestLine)
      if (publishExclusive(fs, conf, manifestFor(dir, readV + 1), lines)) {
        writeLines(fs, manifest(dir), lines)
        return readV + 1
      }
      attempt += 1
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx addConstraint: lost the publish race $maxRetries times")
    }
    -1 // unreachable
  }

  /** Drop a CHECK constraint — one metadata commit. Returns the
    * committed version. */
  def dropConstraint(dir: String, name: String,
                     maxRetries: Int = 10): Int = {
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    var attempt = 0
    while (true) {
      val vs = listVersions(dir, conf)
      require(vs.nonEmpty, s"gdx dropConstraint: no snapshot under $dir")
      decideStaleTxn(dir, conf, vs.max) // claim-aware maintenance
      val readV = vs.max
      val cur = committedConstraints(dir, conf, readV)
      require(cur.exists(_._1 == name),
        s"gdx dropConstraint: no constraint named $name")
      val lines = headerLines(committedSchema(dir, conf, readV),
        cur.filterNot(_._1 == name),
        committedColmap(dir, conf, readV),
        committedPartitionCol(dir, conf, readV)) ++
        committedEntries(dir, conf, readV).map(_.manifestLine)
      if (publishExclusive(fs, conf, manifestFor(dir, readV + 1), lines)) {
        writeLines(fs, manifest(dir), lines)
        return readV + 1
      }
      attempt += 1
      if (attempt > maxRetries) throw new GdxConcurrentModificationException(
        s"gdx dropConstraint: lost the publish race $maxRetries times")
    }
    -1 // unreachable
  }

  /** A CAPTURED constraint set, compiled against the WRITE schema
    * (driver-side, where the active session and its analyzer live).
    * The caller snapshots `committedConstraints` ONCE per write and
    * passes the same set here and to the commit conflict check — so
    * "what the tasks enforced" and "what the commit claims was
    * enforced" can never diverge. An evolved write schema still
    * binds: constraints reference existing columns and the classic
    * prefix is stable. */
  private[graft] def activeChecks(checks: Seq[(String, String)],
                                  writeSchema: StructType)
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)]
      = {
    if (checks.isEmpty) return Seq.empty
    val spark = SparkSession.active
    val writeCols =
      writeSchema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    // a classic-prefix append to an EVOLVED table may not carry a
    // constrained column at all — those rows store NULL for it, so the
    // absent reference substitutes a NULL literal (exact SQL CHECK
    // semantics: `w > 0` becomes vacuous, but `w > 0 AND k > 5` still
    // enforces the k half). Resolvability against the full table
    // schema was proven at ADD time; failing the write here would
    // reject legal appends.
    val applicable = checks.map { case (n, sql) =>
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      n -> parsed.transform {
        // membership tests the FIRST name part: a nested reference
        // (`meta.score`) is present whenever its COLUMN is — nulling
        // it because the dotted name is not a column would silently
        // vacate every nested-leaf constraint
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if !writeCols.contains(
              ua.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
          org.apache.spark.sql.catalyst.expressions
            .Literal.create(null, NullType)
      }.sql
    }
    compileChecks(spark, writeSchema, applicable)
  }

  /** Resolve + type-coerce each constraint against `schema` through
    * the session analyzer (a literal like `0` must coerce against a
    * BIGINT column exactly as SQL would) and bind it to row ordinals
    * for executor-side eval. Bound Catalyst expressions are
    * Serializable — they ride to the writers in the factory. */
  private[graft] def compileChecks(spark: SparkSession,
      schema: StructType, checks: Seq[(String, String)])
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)]
      = {
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter => LFilter, LocalRelation}
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(schema)
    checks.map { case (n, sql) =>
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val analyzed = spark.sessionState.analyzer
        .execute(LFilter(parsed, LocalRelation(attrs)))
      val cond = analyzed match {
        case f: LFilter => f.condition
        case other => throw new IllegalArgumentException(
          s"gdx constraint $n: cannot analyze '$sql' ($other)")
      }
      require(cond.resolved,
        s"gdx constraint $n: '$sql' does not resolve against " +
          s"${schema.simpleString}")
      n -> BindReferences.bindReference(cond, attrs)
    }
  }

  /** Parse a `.dvx` sidecar into its deleted-position set. */
  private[graft] def readDvPositions(fs: FileSystem,
                                     p: Path): java.util.Set[Long] = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), "UTF-8"))
    try {
      val s = new java.util.HashSet[Long]()
      Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).foreach(l => s.add(l.toLong))
      s
    } finally in.close()
  }

  // ------------------------------------------------------------ tags
  /** TAGS — immutable named refs to snapshot versions (the Iceberg
    * tag contract): `createTag(dir, "train_v1")` pins the exact file
    * set a consumer read — the reproducible-training-snapshot story
    * at 100 TB: a model card cites a NAME, anyone replays the exact
    * bytes years later, and VACUUM can never reclaim a tagged
    * snapshot (untagged history still ages out). A tag is one file
    * (`_tags/<name>` holding the version number), created atomically
    * and never rewritten — re-pointing is DROP + CREATE, loudly. */
  private def tagFile(path: String, name: String): Path =
    new Path(new Path(path, TagsDir), name)
  private[graft] val TagsDir = "_tags"
  private val TagNameRe = "[A-Za-z0-9][A-Za-z0-9._-]*".r
  def createTag(dir: String, name: String, version: Int = -1): Int = {
    require(TagNameRe.matches(name),
      s"gdx createTag: invalid tag name '$name'")
    // an all-digit name could never be read back: version refs parse
    // numbers as manifest versions FIRST, so '7' would silently bind
    // to snapshot 7, not the tag
    require(!name.forall(_.isDigit),
      s"gdx createTag: tag name '$name' is all digits - it would " +
        "resolve as a version number, never as the tag")
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    val vs = listVersions(dir, conf)
    require(vs.nonEmpty, s"gdx createTag: no snapshot under $dir")
    val v = if (version >= 0) version else vs.max
    require(vs.contains(v),
      s"gdx createTag: version $v is not a retained snapshot of $dir")
    require(publishExclusive(fs, conf, tagFile(dir, name),
        Seq(v.toString)),
      s"gdx createTag: tag '$name' already exists on $dir - tags are " +
        "immutable; DROP it first to re-point")
    v
  }
  def dropTag(dir: String, name: String): Boolean = {
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    fs.delete(tagFile(dir, name), false)
  }
  def listTags(dir: String, conf: Configuration): Map[String, Int] = {
    val td = new Path(dir, TagsDir)
    val fs = td.getFileSystem(conf)
    if (!fs.exists(td)) Map.empty
    else fs.listStatus(td).toSeq.map(_.getPath)
      .filterNot(_.getName.startsWith("."))
      .flatMap { p =>
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(p), "UTF-8"))
        try Option(in.readLine()).flatMap(_.trim.toIntOption)
          .map(p.getName -> _)
        finally in.close()
      }.toMap
  }
  /** A `version` read option / `FOR VERSION AS OF` value: a number is
    * a manifest version, anything else resolves as a tag name. */
  private[graft] def resolveVersionRef(dir: String, conf: Configuration,
                                       ref: String): Int =
    ref.trim.toIntOption.getOrElse(
      listTags(dir, conf).getOrElse(ref.trim,
        throw new IllegalArgumentException(
          s"gdx: '$ref' is neither a version number nor a tag of $dir " +
            s"(tags: ${listTags(dir, conf).keys.toSeq.sorted
              .mkString(", ")})")))

  // --------------------------------------- multi-table transactions
  /** One table's staged write inside a multi-table transaction:
    * `rows` must match the table's current schema by name; `overwrite`
    * stages a truncate (the new snapshot starts from these rows),
    * otherwise an append. `expectedBase` (≥ 0) makes the write
    * CONFLICT-DETECTING: the claim must land on exactly that base
    * version or the whole transaction aborts loudly — the contract a
    * non-commutative restatement (a staged MERGE/DELETE computed FROM
    * the base snapshot) needs, where landing past a concurrent commit
    * would silently erase its rows. Appends keep the default (-1):
    * they commute, so they land on whatever base is current. */
  case class GdxTxnWrite(dir: String,
                         rows: org.apache.spark.sql.DataFrame,
                         overwrite: Boolean = false,
                         expectedBase: Int = -1)

  /** A prepared (claimed, staged, UNDECIDED) multi-table transaction:
    * every participating table's next version is claimed by a redirect
    * manifest pointing at this transaction's decision file, and ONE
    * create-exclusive PUT of that file commits (or aborts) all of
    * them atomically — readers resolve the claims through the
    * decision, so there is no instant at which table A shows the
    * transaction and table B does not. */
  final class GdxPreparedTxn private[GdxSource] (
      val id: String, decisionFile: Path,
      val claims: Seq[(String, Int)]) {
    private def decide(verdict: String): Boolean = {
      val conf = driverConf()
      val fs = decisionFile.getFileSystem(conf)
      if (publishExclusive(fs, conf, decisionFile, Seq(verdict))) true
      else readFirstLine(fs, decisionFile).map(_.trim)
        .contains(verdict) // idempotent re-decision is fine
    }
    /** Materialize every claim, then retire the decision file: once
      * no redirect references it, it is consultable by nobody, so
      * deleting it can never regress a committed snapshot — while a
      * crash ANYWHERE before the delete keeps it in place for the
      * remaining redirects to resolve through. This is what bounds
      * decision-file accumulation to crashed transactions instead of
      * one file per transact(). */
    private def retire(): Unit = {
      claims.foreach { case (dir, v) =>
        materializeClaim(dir, driverConf(), v) }
      val conf = driverConf()
      decisionFile.getFileSystem(conf).delete(decisionFile, false)
      ()
    }
    // this handle's own settled verdict: once retire() deleted the
    // decision file, a later decide() on the same handle must answer
    // from memory — re-PUTting the file would let a late abort()
    // claim it "stood" after the commit already materialized
    @volatile private var settled: Option[String] = None
    /** Commit every claim at once. Throws if a blocked writer stole
      * the decision (aborted the transaction) first — re-run the
      * whole transaction. Returns the committed (dir, version)s. */
    def commit(): Seq[(String, Int)] = {
      settled match {
        case Some("commit") => return claims // idempotent
        case Some(_) => throw new GdxConcurrentModificationException(
          s"gdx txn $id: already aborted")
        case None => ()
      }
      if (!decide("commit"))
        throw new GdxConcurrentModificationException(
          s"gdx txn $id: a concurrent writer aborted this transaction " +
            "before its commit - re-run it")
      settled = Some("commit")
      retire()
      claims
    }
    /** Abort every claim at once (idempotent; loses to a commit that
      * already landed). Returns whether the abort stands. */
    def abort(): Boolean = settled match {
      case Some("abort") => true
      case Some(_)       => false
      case None =>
        val stood = decide("abort")
        if (stood) { settled = Some("abort"); retire() }
        stood
    }
  }

  /** PREPARE a multi-table transaction: stage each table's data files
    * and manifest, then claim each table's next version with a
    * redirect manifest (scaladoc at [[TxnHeader]]). Constraints are
    * enforced at stage time; claims serialize against concurrent
    * commits through the same create-exclusive manifest PUT every
    * writer uses. The returned handle's `commit()` is ONE decision-
    * file PUT — the atomic cross-table commit point. A crash before
    * the decision leaves claims a later writer aborts (and vacuum
    * then reaps the staged files); a crash after it leaves a fully
    * committed transaction readers resolve lazily. */
  def prepareTransaction(spark: SparkSession,
                         writes: Seq[GdxTxnWrite]): GdxPreparedTxn = {
    import org.apache.spark.sql.functions.{col, expr, not, coalesce, lit}
    require(writes.nonEmpty, "gdx txn: no writes")
    require(writes.map(_.dir).distinct.size == writes.size,
      "gdx txn: one write per table")
    val conf = driverConf()
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val headDir = new Path(writes.head.dir)
    val decisionFile = headDir.getFileSystem(conf)
      .makeQualified(new Path(headDir, s"_txndecision-$id"))
    val sconf = new SerializableHadoopConf(conf)
    // a staging failure on a LATER table must not strand the EARLIER
    // tables' already-published claims undecided: abort the whole
    // transaction (the decision file exists before any claim can
    // resolve it) and rethrow
    def stageAll(): Seq[(String, Int)] = writes.map { w =>
      val dir = w.dir
      val fs = new Path(dir).getFileSystem(conf)
      val tblSchema = committedSchema(dir, conf)
      val tblColmap = committedColmap(dir, conf)
      val checks = committedConstraints(dir, conf)
      val partRaw = committedPartitionCol(dir, conf)
      require(w.rows.columns.map(_.toLowerCase(java.util.Locale.ROOT))
          .toSeq ==
        tblSchema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT))
          .toSeq,
        s"gdx txn: columns ${w.rows.columns.mkString(",")} do not match " +
          s"$dir's schema ${tblSchema.fieldNames.mkString(",")}")
      require(w.rows.schema.fields.map(_.dataType).toSeq ==
          tblSchema.fields.map(_.dataType).toSeq,
        s"gdx txn: column types ${w.rows.schema.simpleString} do not " +
          s"match $dir's schema ${tblSchema.simpleString}")
      val aligned = w.rows.select(tblSchema.fieldNames.map(col).toSeq: _*)
      // CHECK constraints, SQL semantics (NULL passes), enforced at
      // stage time — the decision PUT must never publish unvalidated
      // rows
      checks.foreach { case (n, sql) =>
        if (aligned.filter(not(coalesce(expr(sql), lit(true))))
            .limit(1).count() > 0)
          throw new GdxConstraintViolationException(
            s"gdx txn: rows for $dir violate CHECK constraint $n")
      }
      val staged = writeDataFiles(aligned, dir, tblSchema, sconf,
        tblColmap)
      val headers = headerLines(tblSchema, checks, tblColmap, partRaw)
      // claim the next version; a stale foreign claim is decided first
      // (the same invariant every writer keeps)
      var claimed = -1
      var attempts = 0
      while (claimed < 0) {
        val base = decidedHead(dir, conf)
        // a restatement computed FROM a basis snapshot must land ON
        // it — a moved base means a concurrent commit this write
        // would erase; abort the whole transaction (the catch below
        // publishes the abort decision) instead
        if (w.expectedBase >= 0 && base != w.expectedBase)
          throw new GdxConcurrentModificationException(
            s"gdx txn: $dir moved from version ${w.expectedBase} to " +
              s"$base while the transaction was staged - its " +
              "restatement would erase the concurrent commit; " +
              "ROLLBACK and re-run the transaction")
        val v = base + 1
        val stageName = f"_txnstage-$v%08d-$id"
        val stageLines =
          if (w.overwrite) headers ++
            staged.sortBy(_.name).map(_.manifestLine)
          else (DeltaHeader +: headers) ++
            staged.sortBy(_.name).map(_.manifestLine)
        val claimLines = (DeltaHeader +: headers) :+
          s"#txn\t$decisionFile\t$stageName"
        writeLines(fs, new Path(dir, stageName), stageLines)
        if (publishExclusive(fs, conf, manifestFor(dir, v), claimLines))
          claimed = v
        else {
          fs.delete(new Path(dir, stageName), false)
          attempts += 1
          require(attempts <= 20,
            s"gdx txn: lost the claim race 20 times on $dir")
        }
      }
      dir -> claimed
    }
    val claims =
      try stageAll()
      catch {
        case t: Throwable =>
          val dfs = decisionFile.getFileSystem(conf)
          publishExclusive(dfs, conf, decisionFile, Seq("abort"))
          throw t
      }
    new GdxPreparedTxn(id, decisionFile, claims)
  }

  /** Atomically commit one staged write per table — either every
    * table shows its new snapshot or none does. */
  def transact(spark: SparkSession,
               writes: Seq[GdxTxnWrite]): Seq[(String, Int)] =
    prepareTransaction(spark, writes).commit()

  // ------------------------------------------------------- branches
  /** BRANCHES — WRITABLE named refs (the Iceberg branch / Delta WAP
    * contract, reduced to manifests): a branch is a zero-copy shallow
    * clone of one snapshot living INSIDE the table at
    * `_branches/<name>.t/`, registered by an atomic `_branches/<name>`
    * ref file that records the MAIN version the branch depends on —
    * [[vacuum]] retains that version exactly like a tagged one, so the
    * branch's absolute references can never be reclaimed under it.
    * Write-audit-publish: write freely to the branch (appends, DML,
    * schema evolution — all invisible on main), audit it by reading
    * the branch, then [[publishBranch]] fast-forwards main to the
    * audited HEAD as ONE CAS'd metadata commit. A concurrent main
    * commit forces the loud conflict path (re-create the branch to
    * rebase) — publish never silently drops anyone's commit. */
  private[graft] val BranchesDir = "_branches"
  private def branchFile(path: String, name: String): Path =
    new Path(new Path(path, BranchesDir), name)
  private[graft] def branchDir(path: String, name: String): String =
    new Path(new Path(path, BranchesDir), name + ".t").toString

  def createBranch(dir: String, name: String, version: Int = -1): Int = {
    require(TagNameRe.matches(name),
      s"gdx createBranch: invalid branch name '$name'")
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    val vs = listVersions(dir, conf)
    require(vs.nonEmpty, s"gdx createBranch: no snapshot under $dir")
    val v = if (version >= 0) version else vs.max
    require(vs.contains(v),
      s"gdx createBranch: version $v is not a retained snapshot of $dir")
    // the ref file is the atomic claim; the nested clone follows (a
    // crash in between leaves a ref whose dir the next createBranch
    // of the same name refuses — DROP BRANCH cleans both)
    require(publishExclusive(fs, conf, branchFile(dir, name),
        Seq(v.toString)),
      s"gdx createBranch: branch '$name' already exists on $dir")
    try cloneShallow(dir, branchDir(dir, name), v)
    catch { case t: Throwable =>
      fs.delete(branchFile(dir, name), false); throw t }
    v
  }

  def listBranches(dir: String, conf: Configuration): Map[String, Int] = {
    val bd = new Path(dir, BranchesDir)
    val fs = bd.getFileSystem(conf)
    if (!fs.exists(bd)) Map.empty
    else fs.listStatus(bd).toSeq.map(_.getPath)
      .filter(p => !p.getName.startsWith(".") && !p.getName.endsWith(".t"))
      .flatMap { p =>
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(p), "UTF-8"))
        try Option(in.readLine()).flatMap(_.trim.toIntOption)
          .map(p.getName -> _)
        finally in.close()
      }.toMap
  }

  /** Resolve a read/write `branch` option to the branch's own table
    * directory — loud on unknown names. */
  private[graft] def resolveBranchDir(dir: String, name: String): String = {
    val bs = listBranches(dir, driverConf())
    require(bs.contains(name),
      s"gdx: no branch '$name' on $dir (branches: " +
        s"${bs.keys.toSeq.sorted.mkString(", ")})")
    branchDir(dir, name)
  }

  /** DROP BRANCH: release the ref (the vacuum pin goes with it). The
    * working directory is deleted immediately ONLY when no retained
    * MAIN manifest references files under it — a published-but-not-
    * yet-localized branch's files are main's data, and deleting them
    * would tear rows out of committed snapshots. A still-referenced
    * directory is left in place and reclaimed by [[vacuum]] once the
    * referencing manifests age out (a full OPTIMIZE localizes the
    * rows into main's root and accelerates that). */
  def dropBranch(dir: String, name: String): Boolean = {
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    if (!fs.exists(branchFile(dir, name))) return false
    fs.delete(branchFile(dir, name), false)
    reclaimBranchDirs(dir, conf)
    true
  }

  /** Delete `_branches/<name>.t` working directories whose ref file is
    * gone AND which no retained main manifest references — the shared
    * reclaim of [[dropBranch]] and [[vacuum]]. */
  private def reclaimBranchDirs(dir: String, conf: Configuration): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    val bd = new Path(dir, BranchesDir)
    if (!fs.exists(bd)) return
    val live = listBranches(dir, conf).keySet.map(_ + ".t")
    val dead = fs.listStatus(bd).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.endsWith(".t") &&
        !live.contains(st.getPath.getName))
    if (dead.isEmpty) return
    // an undecided claim at the head would make the reference walk
    // loud — decide it first (same contract as every maintenance)
    decideStaleTxn(dir, conf, (listVersions(dir, conf) :+ 0).max)
    // one pass over retained manifests names every branch dir any
    // snapshot still depends on
    val referenced: Set[String] = listVersions(dir, conf)
      .flatMap(v => committedEntries(dir, conf, v))
      .flatMap(e => e.name +: e.dv.toSeq)
      .filter(_.startsWith(BranchesDir + "/"))
      .map(_.split('/')(1)).toSet
    dead.filterNot(st => referenced.contains(st.getPath.getName))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** WRITE-AUDIT-PUBLISH: fast-forward MAIN to branch `name`'s audited
    * HEAD as ONE CAS'd metadata commit — no data file moves, ever.
    * Branch entries referencing main's own files relativize back to
    * their main names; branch-LOCAL files are adopted by reference
    * under their `_branches/<name>.t/` path (vacuum's victim sweep
    * never lists that directory, so adopted files are safe; a later
    * OPTIMIZE localizes them into main's root). The branch's OWN
    * headers publish with it, so schema evolution audited on the
    * branch lands on main in the same commit. Refuses (loudly, the
    * documented conflict path) when main has advanced past the
    * branch's base — re-create the branch on the new head to rebase.
    * On success the branch ref re-points to the published version
    * (still protected by vacuum) and stays readable. Returns the new
    * main version. */
  def publishBranch(dir: String, name: String): Int = {
    val conf = driverConf()
    val fs = new Path(dir).getFileSystem(conf)
    val bases = listBranches(dir, conf)
    val base = bases.getOrElse(name, throw new IllegalArgumentException(
      s"gdx publishBranch: no branch '$name' on $dir (branches: " +
        s"${bases.keys.toSeq.sorted.mkString(", ")})"))
    val bdir = branchDir(dir, name)
    val mainMax = (listVersions(dir, conf) :+ 0).max
    if (mainMax != base) throw new GdxConcurrentModificationException(
      s"gdx publishBranch: $dir advanced to version $mainMax past " +
        s"branch '$name''s base $base - the branch no longer descends " +
        "from main's head; re-create it on the new head to rebase " +
        "(write-audit-publish refuses to drop anyone's commit)")
    val bv = listVersions(bdir, conf).max
    val qualifiedMain = fs.makeQualified(new Path(dir)).toString
    def adopt(n: String): String =
      if (!isAbsoluteName(n)) s"$BranchesDir/$name.t/$n"
      else {
        require(n.startsWith(qualifiedMain + "/"),
          s"gdx publishBranch: branch entry $n references neither the " +
            "branch nor its own table")
        n.substring(qualifiedMain.length + 1)
      }
    val adopted = committedEntries(bdir, conf, bv)
      .map(e => e.copy(name = adopt(e.name), dv = e.dv.map(adopt)))
    val lines = headerLines(committedSchema(bdir, conf, bv),
      committedConstraints(bdir, conf, bv),
      committedColmap(bdir, conf, bv),
      committedPartitionCol(bdir, conf, bv)) ++
      adopted.sortBy(_.name).map(_.manifestLine)
    val v = mainMax + 1
    if (!publishExclusive(fs, conf, manifestFor(dir, v), lines))
      throw new GdxConcurrentModificationException(
        s"gdx publishBranch: version $v of $dir was claimed while " +
          "publishing - a concurrent commit won; re-create the branch " +
          "to rebase")
    writeLines(fs, manifest(dir), lines) // full manifest: mirror too
    // re-point the ref: vacuum now protects the published version
    replaceAtomic(fs, conf, branchFile(dir, name), Seq(v.toString))
    v
  }

  /** Retention: keep the last `keepLast` snapshots PLUS every tagged
    * version PLUS every branch-referenced base version (the ref file's
    * recorded dependency — reclaiming it would tear the files out
    * from under the branch's absolute references), drop other
    * manifests, then delete every data file NO retained manifest
    * references (the VACUUM of the manifest-table pattern). Any
    * RETAINED delta whose predecessor manifest is being dropped is
    * first materialized as a full checkpoint — its reconstruction
    * chain would run through manifests about to go, and retention
    * must never strand a delta (ascending order: a later kept delta
    * may chain through an earlier kept version only once that one is
    * full). Safe order: checkpoint, then old manifests, then data — a
    * reader planning from a retained manifest never loses a file it
    * references. Returns deleted data-file count. */
  def vacuum(path: String, conf: Configuration, keepLast: Int = 1,
             retainHours: Option[Double] = None,
             sweepOrphanHours: Option[Double] = None,
             nowMillis: Long = System.currentTimeMillis(),
             dryRun: Boolean = false): Int = {
    require(keepLast >= 1, "gdx vacuum: must retain at least one snapshot")
    require(retainHours.forall(_ >= 0) && sweepOrphanHours.forall(_ >= 0),
      "gdx vacuum: hour thresholds must be non-negative")
    val base = new Path(path)
    val fs = base.getFileSystem(conf)
    val vs = listVersions(path, conf)
    if (vs.isEmpty) return 0
    // DRY RUN: report what the same statement WOULD reclaim, touching
    // nothing — no claim decisions, no checkpoint rewrites, no
    // deletes. (An undecided transaction claim at the head therefore
    // surfaces loudly instead of being decided — a dry run must not
    // decide anyone's transaction.)
    // maintenance is claim-aware: an undecided transaction claim at
    // the head (a crashed preparer) is DECIDED here — vacuum must
    // never wedge forever on it, and the referenced-set sweep below
    // must never treat a decided-committed claim's files as victims.
    // Every retained claim then materializes to a self-contained
    // manifest (its stage file is reclaimed with it).
    if (!dryRun) {
      decideStaleTxn(path, conf, vs.max)
      vs.foreach(materializeClaim(path, conf, _))
    }
    val tagged = listTags(path, conf).values.toSet ++
      listBranches(path, conf).values.toSet
    // AGE-BASED retention (`RETAIN n HOURS` — what real retention
    // policies are written in): every version whose manifest is
    // younger than the cutoff is kept IN ADDITION to the keepLast
    // tail and the tag/branch pins — retention clauses only ever
    // WIDEN the kept set, so composing them can never reclaim what
    // another clause protects
    val ageKept: Seq[Int] = retainHours.map { h =>
      val cutoff = nowMillis - (h * 3600 * 1000).toLong
      vs.filter(v => fs.getFileStatus(manifestFor(path, v))
        .getModificationTime >= cutoff)
    }.getOrElse(Seq.empty)
    val keep = (vs.takeRight(keepLast) ++ ageKept ++ vs.filter(tagged))
      .distinct.sorted
    val keepSet = keep.toSet
    if (!dryRun) {
      keep.foreach { v =>
        if ((v == keep.head || isDeltaVersion(path, conf, v)) &&
            !keepSet.contains(v - 1))
          replaceAtomic(fs, conf, manifestFor(path, v),
            headerLines(committedSchema(path, conf, v),
              committedConstraints(path, conf, v),
              committedColmap(path, conf, v),
              committedPartitionCol(path, conf, v)) ++
              committedEntries(path, conf, v).map(_.manifestLine))
      }
      vs.filterNot(keepSet.contains)
        .foreach(v => fs.delete(manifestFor(path, v), false))
    }
    val keptEntries = keep.flatMap(v => committedEntries(path, conf, v))
    val referenced =
      (keptEntries.map(_.name) ++ keptEntries.flatMap(_.dv)).toSet
    // table root plus one level of hive-style partition subdirs
    // (`col=value/`): manifest names are DIRECTORY-RELATIVE, so the
    // referenced-set compare must use the relative path, not the leaf
    val listed: Seq[(org.apache.hadoop.fs.FileStatus, String)] =
      fs.listStatus(base).toSeq.flatMap { st =>
        if (st.isDirectory && st.getPath.getName.contains("="))
          fs.listStatus(st.getPath).toSeq
            .map(c => c -> s"${st.getPath.getName}/${c.getPath.getName}")
        else Seq(st -> st.getPath.getName)
      }
    val victims = listed.filter { case (_, n) =>
      ((n.endsWith(".gdx") || n.endsWith(".dvx")) && !referenced(n)) ||
        // bloom sidecars die with their data file (excluded from the
        // returned count — the contract stays "data/DV files deleted").
        // A `.tmp` stem is an IN-FLIGHT write's sidecar: protected
        // exactly like its tmp data file — commit renames both
        (n.endsWith(GdxBloom.Suffix) && {
          val stem = n.stripSuffix(GdxBloom.Suffix)
          !stem.endsWith(".tmp") && !referenced(stem)
        })
    }
    if (!dryRun)
      victims.foreach { case (st, _) => fs.delete(st.getPath, false) }
    // CRASH-ORPHAN sweep (opt-in, age-thresholded): a hard-killed
    // writer strands `*.gdx.tmp` files (plus their bloom sidecars and
    // dot-prefixed manifest tmps) no manifest will ever reference and
    // the referenced-set sweep above can never touch — at 100 TB
    // churn a real storage leak. Only files OLDER than the threshold
    // go: a young tmp is an in-flight write about to be renamed by
    // its commit, and deleting it would fail the writing job (the
    // Iceberg remove_orphan_files contract: explicit, age-guarded,
    // never a side effect).
    val swept = sweepOrphanHours.map { h =>
      val cutoff = nowMillis - (h * 3600 * 1000).toLong
      val orphans = listed.filter { case (st, n) =>
        st.isFile && st.getModificationTime < cutoff &&
          (n.endsWith(".tmp") || n.contains(".tmp-") ||
            n.endsWith(".tmp" + GdxBloom.Suffix))
      }
      if (!dryRun)
        orphans.foreach { case (st, _) => fs.delete(st.getPath, false) }
      orphans.count { case (_, n) => !n.endsWith(GdxBloom.Suffix) }
    }.getOrElse(0)
    // dropped branches' working dirs reclaim once nothing retained
    // references them (dropBranch may have had to leave them behind)
    if (!dryRun) reclaimBranchDirs(path, conf)
    victims.count { case (_, n) => !n.endsWith(GdxBloom.Suffix) } + swept
  }
}

class GdxTable(path: String, tableSchema: StructType = GdxSource.schema,
               declaredPartition: Option[String] = None,
               viaCatalog: Boolean = false,
               pinnedVersion: Option[Int] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  override def partitioning(): Array[
      org.apache.spark.sql.connector.expressions.Transform] =
    declaredPartition.map(c => GdxSource.parsePartSpec(c) match {
      case GdxSource.GdxBucketPart(n, bc) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, bc)
      case GdxSource.GdxDaysPart(dc) =>
        org.apache.spark.sql.connector.expressions.Expressions.days(dc)
      case GdxSource.GdxHoursPart(hc) =>
        org.apache.spark.sql.connector.expressions.Expressions.hours(hc)
      case GdxSource.GdxMonthsPart(mc) =>
        org.apache.spark.sql.connector.expressions.Expressions.months(mc)
      case GdxSource.GdxYearsPart(yc) =>
        org.apache.spark.sql.connector.expressions.Expressions.years(yc)
      case GdxSource.GdxTruncPart(w, tc) =>
        org.apache.spark.sql.connector.expressions.Expressions.apply(
          "truncate",
          org.apache.spark.sql.connector.expressions.Expressions
            .literal(w),
          org.apache.spark.sql.connector.expressions.Expressions
            .column(tc))
      case spec =>
        org.apache.spark.sql.connector.expressions.Expressions
          .identity(spec.col)
    }).toArray
  /** The table's directory — the snapshot-version lookup key MV
    * staleness pinning uses (plans/MvRewrite.gdxSnapshots). */
  private[graft] def tablePath: String = path
  /** `TRUNCATE TABLE` (SQL) → one EMPTY truncate commit that re-declares
    * the snapshot's schema and layout: rows vanish from the live view,
    * every retained version still time-travels (nothing is deleted —
    * vacuum reclaims), and the next append inherits the same
    * partitioning. Metadata-cost at any scale. */
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty,
      s"gdx: cannot truncate a time-travel (version-pinned) view of $path")
    // like DML, a truncate commits its own snapshot immediately — it
    // must not run half-inside an open SQL transaction
    SparkSession.getActiveSession.foreach(
      graft.plans.GdxSqlTxn.refuseIfOpen(_, "TRUNCATE TABLE"))
    val conf = GdxSource.driverConf()
    GdxSource.commitFiles(path, conf, replace = true, Seq.empty,
      writeSchema = GdxSource.committedSchema(path, conf),
      // HEAD spec only: an empty snapshot has no former-era files
      // left to prune, so the truncate clears the evolution history
      // along with the rows
      partitionCol = GdxSource.committedPartitionCol(path, conf)
        .map(GdxSource.partHeadOf))
    // the ANALYZE sidecar described the truncated content — clear it
    // rather than serve estimates of rows that no longer exist (the
    // `_cluster` layout preference survives: it describes future
    // writes, not past rows)
    GdxSource.clearColStats(path, conf)
    true
  }

  /** Catalog time-travel pin (None = live) — MV rewrite consults it:
    * a `FOR VERSION AS OF` relation must never match a summary of the
    * CURRENT snapshot, exactly like the `version`/`asOf` read
    * options. */
  private[graft] def pinned: Option[Int] = pinnedVersion
  /** This table pinned at snapshot `v` — stage-time source resolution
    * for SQL transactions (plans/GdxTxnSql.pinSnapshots). */
  private[graft] def pinnedAt(v: Int): GdxTable =
    new GdxTable(path, tableSchema, declaredPartition, viaCatalog,
      Some(v))
  override def name(): String = s"gdx($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)
    // `MERGE WITH SCHEMA EVOLUTION`: the analyzer routes the source's
    // extra columns through TableCatalog.alterTable (AddColumn → one
    // addColumn metadata commit) and re-resolves against the evolved
    // schema — only CATALOG-managed live tables can honor that
    // contract (a session-catalog/path table would evolve the
    // metastore but not the manifest; a pinned time-travel view is
    // immutable), so only they advertise it
    if (viaCatalog && pinnedVersion.isEmpty)
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GdxScanBuilder(path, {
      // a catalog time-travel load (`FOR VERSION/TIMESTAMP AS OF`)
      // pins the snapshot at table resolution; an explicit read
      // option on the scan would be a contradiction — refuse rather
      // than pick one silently
      val optV = GdxSource.resolveVersion(options, path)
      (pinnedVersion, optV) match {
        case (Some(p), v) if v >= 0 && v != p =>
          throw new IllegalArgumentException(
            s"gdx: version option $v contradicts the catalog's " +
              s"time-travel pin $p for $path")
        case (Some(p), _) => p
        case (None, v) => v
      }
    },
      tableSchema,
      Option(options.get("maxVersionsPerTrigger")).map(_.toInt)
        .getOrElse(Int.MaxValue),
      // `startingVersion` (streaming only, SHOW CHANGES parity): the
      // stream's base snapshot — batches cover (base, latest], exactly
      // `SHOW CHANGES t FROM base`'s window; accepts a tag name. A
      // base past the table's head is a typo, not a future
      // subscription — silently waiting there would DROP every change
      // committed before the table reaches it
      Option(options.get("startingVersion"))
        .map(GdxSource.resolveVersionRef(path, GdxSource.driverConf(), _))
        .map { sv =>
          val head = GdxSource.latestDecidedVersion(path,
            GdxSource.driverConf())
          require(sv >= 0 && sv <= head,
            s"gdx: startingVersion $sv is not a committed snapshot of " +
              s"$path (head: $head)")
          sv
        }
        .getOrElse(0))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"gdx: cannot write to a time-travel (version-pinned) view of " +
        s"$path")
    new GdxWriteBuilder(path,
      Option(info.options.get("expectedBaseVersion")).map(_.toInt)
        .getOrElse(-1),
      // the input frame's schema carries no field metadata — fold the
      // table's shred annotations back in so every write door derives
      // (a path-based getTable receives the FRAME schema as
      // tableSchema, so the committed schema is the authority; it
      // falls back to the default on a first write)
      GdxSource.overlayShreds(
        GdxSource.overlayShreds(info.schema(), tableSchema),
        GdxSource.committedSchema(path, GdxSource.driverConf())),
      // the table-side declaration is manifest-sourced (loadTable) and
      // may carry an evolution-history tail — the write declares the
      // HEAD; user options keep their raw text (build() refuses `;`)
      Option(info.options.get("partitionBy"))
        .orElse(declaredPartition.map(GdxSource.partHeadOf)),
      Option(info.options.get("clusterWrite")).forall(_.toBoolean),
      viaCatalog,
      Option(info.options.get("replaceWhere")))
  }
}

// ---------------------------------------------------------------- read

class GdxScanBuilder(path: String, version: Int,
                     tableSchema: StructType = GdxSource.schema,
                     maxVersionsPerTrigger: Int = Int.MaxValue,
                     startingVersion: Int = 0)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownAggregates
    with SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{
    Aggregation, Count, CountStar, Max, Min, Sum}

  private var pushed: Array[Filter] = Array.empty
  private var pruneOnly: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var aggOps: Option[Seq[String]] = None
  private var required: StructType = tableSchema

  /** Column pruning: a k-only read never allocates a v string, a
    * v-only read never boxes k — the reader materializes exactly the
    * requested fields (both still PARSE per line; the byte format has
    * no column stride to skip, the saving is materialization). */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, residual) = filters.partition {
      case EqualTo("k", _: Number)            => true
      case GreaterThan("k", _: Number)        => true
      case GreaterThanOrEqual("k", _: Number) => true
      case LessThan("k", _: Number)           => true
      case LessThanOrEqual("k", _: Number)    => true
      case EqualTo("v", _: String)            => true
      // k is never NULL (the writer rejects null keys), so a derived
      // IsNotNull("k") guard is trivially satisfied reader-side —
      // accepting it keeps the post-scan filter EMPTY, which is the
      // precondition for aggregate pushdown. IsNotNull("v") is NOT
      // vacuous: null v round-trips through the \N marker, so it is
      // accepted as pushed and ENFORCED row-level in the reader's
      // keep() (Spark trusts pushed filters and never re-checks them).
      case IsNotNull("k") | IsNotNull("v")    => true
      case _                                  => false
    }
    pushed = supported
    // Range/equality/IN predicates on OTHER numeric columns are kept as
    // PRUNE-ONLY hints: they drive zone-map file skipping at planning
    // time (extended per-column stats in the manifest) but stay in the
    // residual set, so Spark still evaluates them row-level — the
    // parquet/Delta stats-pruning contract: skipping is an overlay,
    // never the correctness boundary.
    // string literals hint too: the s44 truncated bounds give every
    // string column (shredded variant shadows included) a real per-file
    // window, so `lang = 'uk'` / LIKE-prefix file-skips in the EXECUTED
    // query, not just in planning probes
    def hint(w: Any): Boolean =
      GdxSource.statLiteral(w).isDefined || w.isInstanceOf[String]
    pruneOnly = residual.filter {
      case EqualTo(c, w) if c != "k" && hint(w)            => true
      case GreaterThan(c, w) if c != "k" && hint(w)        => true
      case GreaterThanOrEqual(c, w) if c != "k" && hint(w) => true
      case LessThan(c, w) if c != "k" && hint(w)           => true
      case LessThanOrEqual(c, w) if c != "k" && hint(w)    => true
      case org.apache.spark.sql.sources.StringStartsWith(c, _)
          if c != "k"                                      => true
      case org.apache.spark.sql.sources.In(c, vs) if c != "k" =>
        vs.forall(hint)
      case _                                               => false
    }
    residual // Spark re-checks residuals post-scan; pushed ones it trusts
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT reaches the reader as a per-partition row cap; Spark still
    * applies the global limit (isPartiallyPushed), but each file stops
    * reading after `n` surviving rows instead of draining. */
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  private var topN: Option[(Boolean, Int)] = None

  /** TopN pushdown — `ORDER BY k [ASC|DESC] LIMIT n` directly over the
    * scan: accepted as PARTIALLY pushed (Spark keeps the global
    * TakeOrderedAndProject — files are not internally sorted, so a
    * per-reader row cap would keep the WRONG rows), and planning skips
    * every file whose zone map cannot reach the top n
    * ([[GdxScan.pruneByTopN]]). On a key-clustered table (compacted or
    * range-written) the top-k query then touches O(1) files out of the
    * whole snapshot — LIMIT-LAST-N over 100 TB at metadata cost.
    * Anything but a single direct order on `k` is refused (k is
    * non-null by the format contract, so either null ordering is
    * vacuously honored). */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    val accepted = aggOps.isEmpty && orders.length == 1 &&
      (orders.head.expression() match {
        case r: NamedReference => r.fieldNames().toSeq == Seq("k")
        case _                 => false
      })
    if (accepted)
      topN = Some((orders.head.direction() ==
        org.apache.spark.sql.connector.expressions.SortDirection
          .DESCENDING, n))
    accepted
  }

  /** The committed partition column at this builder's pinned version —
    * the only GROUP BY key manifest-grouped aggregates accept. HEAD
    * spec only (evolution history never names a group key); the
    * ambiguity gate lives in [[completeFor]]. */
  private lazy val builderPartRaw: Option[String] =
    GdxSource.committedPartitionCol(path, GdxSource.driverConf(), version)
  private lazy val builderPartitionCol: Option[String] =
    builderPartRaw.map(GdxSource.partHeadOf)
  // resolved once per builder: supportCompletePushDown and
  // pushAggregation both consult it, and each manifest read is
  // driver-side filesystem I/O
  private lazy val builderEntries: Seq[GdxFileEntry] =
    GdxSource.committedEntries(path, GdxSource.driverConf(), version)

  /** (groupedByPartition, ops) when the aggregate is expressible over
    * manifest stats — ungrouped or grouped by EXACTLY the table's
    * hive partition column:
    *  - COUNT(*) / MIN(k) / MAX(k): zone maps (any manifest era);
    *  - SUM(c) / COUNT(c) over any LONG column, MIN(c) / MAX(c) over
    *    any non-key LONG column: the per-file `s:` sum/count stats +
    *    `x:` ranges — ops encoded `sum:c` / `countc:c` / `min:c` /
    *    `max:c`, answered ONLY completely (never partially pushed). */
  private def aggShape(agg: Aggregation): Option[(Boolean, Seq[String])] = {
    val grouped = agg.groupByExpressions().toSeq match {
      case Seq() => false
      case Seq(r: NamedReference) if builderPartitionCol.exists(pc =>
        r.fieldNames().toSeq == Seq(pc)) => true
      case _ => return None
    }
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        Some(r.fieldNames().head)
      case _ => None
    }
    def longCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = colOf(e).filter(c =>
      tableSchema.fields.exists(f =>
        f.name == c && f.dataType == LongType))
    val ops = agg.aggregateExpressions().map {
      case _: CountStar => "count"
      case m: Min => longCol(m.column) match {
        case Some("k") => "min"
        case Some(c)   => s"min:$c"
        case None      => return None
      }
      case m: Max => longCol(m.column) match {
        case Some("k") => "max"
        case Some(c)   => s"max:$c"
        case None      => return None
      }
      case s: Sum if !s.isDistinct => longCol(s.column) match {
        case Some(c) => s"sum:$c"
        case None    => return None
      }
      case c: Count if !c.isDistinct => longCol(c.column) match {
        // k is non-null by the format contract: COUNT(k) = COUNT(*)
        case Some("k") => "count"
        case Some(col) => s"countc:$col"
        case None      => return None
      }
      case _ => return None
    }
    Some((grouped, ops.toSeq))
  }

  /** Columns an extended op reads through the `s:` sum stats — their
    * per-file presence is the completeness proof (an entry with
    * count 0 means all-NULL; NO entry means a legacy/foreign file and
    * forces the classic plan). */
  private def sumStatCols(ops: Seq[String]): Seq[String] =
    ops.collect {
      case op if op.startsWith("sum:") => op.drop(4)
      case op if op.startsWith("countc:") => op.drop(7)
      case op if op.startsWith("min:") => op.drop(4)
      case op if op.startsWith("max:") => op.drop(4)
    }.distinct

  private var metaComplete = false
  private var aggGrouped = false

  /** Whether this aggregate is COMPLETELY answerable from the manifest
    * (no file opened): every entry publishes a zone map, no deletion
    * vector (a DV invalidates the row counts AND can have deleted the
    * extremal k), no row-filtering predicate pushed, and — for the
    * grouped shape — every file proves its partition value from its
    * name, so the per-value fold is exact. */
  private def completeFor(agg: Aggregation): Boolean =
    aggShape(agg).exists { case (grouped, ops) =>
      pushed.forall { case IsNotNull("k") => true; case _ => false } &&
        builderEntries.forall(e => e.stats.isDefined && e.dv.isEmpty) &&
        // grouped shape: every file proves its key AND no former
        // (evolution-history) spec collides with the current directory
        // key — a collision would let another era's file prove a key
        // with different semantics and mis-bucket the fold
        (!grouped || (builderPartitionCol.exists(pc => builderEntries
          .forall(e => GdxSource.partKeyOf(pc, e.name).isDefined)) &&
          !builderPartRaw.exists(GdxSource.partDirAmbiguous))) &&
        // extended ops need every file's write era to have recorded
        // the column's sum stats (legacy files, DML rewrite files, and
        // pre-rename names fall back to the classic plan)...
        sumStatCols(ops).forall(c => builderEntries.forall(
          _.stats.exists(_.sums.contains(c)))) &&
        // ...and every folded SUM must fit a Long exactly — an
        // overflow answer from metadata could differ from the classic
        // plan's (wrapping) one, so it falls back instead
        ops.filter(_.startsWith("sum:")).map(_.drop(4)).forall { c =>
          def fits(es: Seq[GdxFileEntry]): Boolean =
            es.flatMap(_.stats).map(s => BigInt(s.sums(c)._1))
              .sum.isValidLong
          if (!grouped) fits(builderEntries)
          else builderEntries.groupBy(e => builderPartitionCol
            .flatMap(pc => GdxSource.partKeyOf(pc, e.name)))
            .values.forall(fits)
        }
    }

  /** COMPLETE pushdown — the metadata-only query: when every manifest
    * entry publishes a zone map and no ROW-FILTERING predicate is
    * pushed, COUNT(*)/MIN(k)/MAX(k) — ungrouped, or GROUPED BY the
    * partition column (the per-partition profile every table console
    * shows) — are EXACTLY the manifest sums: no file is opened at all.
    * Only IsNotNull("k") is vacuous here — k never parses as NULL.
    * IsNotNull("v") DOES filter rows (null v round-trips via \N), so
    * its presence forces the per-file fold like any other predicate.
    * Otherwise the UNGROUPED shape falls back to partial pushdown (ONE
    * pre-aggregated row per file, Spark merges); a grouped aggregate
    * that cannot be answered completely is refused outright and plans
    * as a classic scan + aggregate. */
  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    metaComplete = completeFor(agg)
    metaComplete
  }

  override def pushAggregation(agg: Aggregation): Boolean =
    aggShape(agg) match {
      // extended (sum/count-col/min-col/max-col) ops are COMPLETE-only:
      // the per-file partial fold readers implement covers the classic
      // k trio, and a partially-pushed sum would re-scan anyway
      case Some((_, ops))
          if sumStatCols(ops).nonEmpty && !completeFor(agg) =>
        metaComplete = false; false
      case Some((false, ops)) =>
        aggOps = Some(ops); aggGrouped = false
        metaComplete = completeFor(agg); true
      case Some((true, ops)) if completeFor(agg) =>
        // recomputed (not read off metaComplete) so correctness never
        // depends on Spark's supportCompletePushDown-then-push ordering
        aggOps = Some(ops); aggGrouped = true; metaComplete = true; true
      case _ => metaComplete = false; false
    }

  // under TopN the reader-side row cap must NOT apply: the first n
  // rows of an unsorted file are not its top n — the skip is file-level
  override def build(): Scan = new GdxScan(path, version, pushed,
    if (topN.isDefined) -1 else limit,
    aggOps, metaComplete && aggOps.isDefined, required, tableSchema,
    maxVersionsPerTrigger, pruneOnly, aggGrouped, topN, startingVersion)
}

/** One data file of the planned snapshot. `partKey` is the file's
  * hive-partition value when the table is partitioned and planning
  * could prove it from the entry name (outer None = not keyed; inner
  * None = the `__null__` partition) — the handle storage-partitioned
  * joins group on. [[HasPartitionKey]] is only consulted when the scan
  * reports [[KeyGroupedPartitioning]], which [[GdxScan.outputPartitioning]]
  * does only if EVERY planned file carries a key. */
/** Several data files read by ONE task, in order — the bin-packed
  * scan partition ([[GdxSource.packFilePartitions]]). Never carries a
  * partition key: keyed (SPJ) scans stay per-file. */
case class GdxFileGroupPartition(files: Seq[GdxFilePartition])
    extends InputPartition

case class GdxFilePartition(file: String, dv: Option[String] = None,
                            partKey: Option[Option[Long]] = None,
                            bucketed: Boolean = false,
                            esc: Boolean = false)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = partKey match {
    // the key row's type must match the reported transform's result
    // type: identity(col) yields the LONG column value, bucket(n, col)
    // yields the INT bucket id ([[GdxBucketBound]].resultType)
    case Some(k) if bucketed => InternalRow(k.map(v => Int.box(v.toInt))
      .orNull)
    case Some(k) => InternalRow(k.map(Long.box).orNull)
    case None => throw new IllegalStateException(
      s"gdx: partitionKey() on an unkeyed file partition ($file) - " +
        "the scan must not report KeyGroupedPartitioning here")
  }
}

/** The pre-computed answer of a metadata-only aggregate — the driver
  * folds the manifest zone maps at planning time and ships the finished
  * row(s); the "scan" reads nothing. Ungrouped aggregates carry one
  * row; a GROUP BY on the partition column carries one row per
  * partition value (each row = group key then aggregate values, all
  * LONG-or-null). */
case class GdxMetaResultPartition(rows: Seq[Seq[Option[Long]]])
    extends InputPartition

class GdxScan(path: String, version: Int, pushed: Array[Filter], limit: Int,
              aggOps: Option[Seq[String]], metaOnly: Boolean = false,
              required: StructType = GdxSource.schema,
              tableSchema: StructType = GdxSource.schema,
              maxVersionsPerTrigger: Int = Int.MaxValue,
              pruneOnly: Array[Filter] = Array.empty,
              aggGroupedPart: Boolean = false,
              topN: Option[(Boolean, Int)] = None,
              startingVersion: Int = 0)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {

  /** RUNTIME (dynamic) file pruning — the DSv2 DPP hook: when this
    * scan sits under a join on `k`, Spark materializes the build
    * side's key set first and delivers it here as an `In` filter;
    * planning then drops every file whose zone map cannot contain any
    * build key. At 100 TB this is the classic star-join win — a
    * filtered dimension prunes the fact scan to the files its keys
    * live in, before a single fact byte is read. Delivered filters
    * also apply row-level inside the readers (same `keep` path as
    * static pushdown). */
  private var runtime: Array[Filter] = Array.empty
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // the key; plus the partition spec's source column when the table
    // declares one — a join on the partition key then delivers its
    // build-side value set here and prunes whole partition directories
    // at runtime (classic static+dynamic partition pruning composed;
    // for bucket layouts the delivered values map through bucketId to
    // directory keys — see [[pruneByBucket]]). Advertise only columns
    // the PRUNED scan still outputs: Spark resolves these refs against
    // readSchema(), and an unresolvable one fails the query, not just
    // the optimization.
    (Seq("k") ++ partitionSpec.map(_.col).toSeq.filter(_ != "k"))
      .filter(readSchema().fieldNames.contains(_))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  override def filter(filters: Array[Filter]): Unit = { runtime = filters }
  override def readSchema(): StructType = aggOps match {
    case Some(ops) =>
      val aggFields = ops.zipWithIndex.map { case (op, i) =>
        StructField(s"${op.replace(':', '_')}_$i", LongType,
          nullable = op != "count" && !op.startsWith("countc:"))
      }
      // grouped-by-partition shape: the group column LEADS (Spark's
      // pushed-aggregate output contract: groupBy columns, then aggs)
      StructType(if (aggGroupedPart)
        StructField(partitionCol.get, LongType, nullable = true) +: aggFields
      else aggFields)
    case None => required
  }
  override def toBatch: Batch = this

  // the snapshot's manifest entries and the zone-map-surviving subset,
  // resolved once at planning time. The resolved version is shared
  // with the header reads (slot map, partition spec) and the stats
  // drift guard, so a scan pays ONE version resolution per plan, and a
  // commit landing mid-plan (a DROP COLUMN rewrites the slot map)
  // cannot pair one snapshot's files with another's layout.
  private lazy val resolvedVersion: Int =
    if (version >= 0) version
    else GdxSource.latestDecidedVersion(path, GdxSource.driverConf())
  // FULL snapshot (never pruned): only the metadata-only aggregate
  // fold consumes it — that path answers from the stats of EVERY
  // entry, so it must see them all.
  private lazy val allEntries: Seq[GdxFileEntry] =
    if (resolvedVersion <= 0) Seq.empty
    else GdxSource.committedEntries(path, GdxSource.driverConf(),
      resolvedVersion).sortBy(_.name)
  // STATIC-filter survivors — the planning set every downstream
  // overlay refines. Above [[GdxSource.planDistributedMinBytes]] the
  // manifest chain parses as a Spark job with the zone-map prune
  // pushed in and only SURVIVORS collect to the driver (the 100M-file
  // regime's planning path); below it this is byte-identical to the
  // classic driver loop. Static filters only (pushed + pruneOnly,
  // both fixed at scan construction) — runtime DPP filters arrive
  // BETWEEN planning calls and stay a driver-side overlay in [[kept]],
  // so a late-delivered key set can only prune further, never re-plan.
  private lazy val entries: Seq[GdxFileEntry] =
    if (resolvedVersion <= 0) Seq.empty
    else GdxSource.plannedEntries(path, GdxSource.driverConf(),
      resolvedVersion, pushed.toSeq ++ pruneOnly).sortBy(_.name)
  // def, not lazy val: runtime filters arrive between planning calls.
  // pruneOnly filters join the skip set here but never reach the
  // readers — Spark evaluates them row-level as residuals. Zone maps
  // first (manifest-only), then bloom sidecars for point lookups —
  // including the runtime-DPP key sets, the star-join fast path.
  private def kept: Seq[GdxFileEntry] = {
    // under an ACTIVE storage-partitioned join, runtime filters must
    // not drop files: Spark pinned this scan's partition-value set at
    // planning, and a DPP-pruned value would change the grouping it
    // already co-scheduled against. Rows are still runtime-filtered in
    // the readers (createReaderFactory ships pushed ++ runtime) — only
    // the file-skipping overlay stands down, and only while SPJ is on.
    val fl = pushed.toSeq ++ (if (spjActive) Nil else runtime) ++ pruneOnly
    pruneByTopN(GdxSource.pruneByBloom(path,
      GdxSource.pruneByStats(pruneByBucket(entries, fl), fl), fl))
  }

  /** TopN file skipping: with ≥ n rows PROVEN to sort at-or-ahead of a
    * threshold key, no file strictly behind the threshold can reach
    * the top n. The proof pool is files with stats and NO deletion
    * vector (a DV'd file's manifest row count overstates its live
    * rows); sorted by the guarantee bound (minK for DESC — every one
    * of the file's rows is ≥ its minK), rows accumulate until they
    * cover n, and the threshold is the bound of the last file counted.
    * Skipping then drops any file whose RANGE cannot reach the
    * threshold (DV'd and empty files included — maxK upper-bounds
    * whatever survives a DV); a stats-less legacy entry is never
    * dropped. Only active when no row-reducing predicate is in play:
    * a pushed/residual/runtime filter voids the row-count guarantee
    * (the counted rows might not survive it), so the overlay stands
    * down — Spark's global TopN is always still above. */
  private def pruneByTopN(es: Seq[GdxFileEntry]): Seq[GdxFileEntry] =
    topN match {
      case Some((desc, n))
          if runtime.isEmpty && pruneOnly.isEmpty &&
            pushed.forall { case IsNotNull("k") => true; case _ => false } =>
        val pool = es.filter(e => e.dv.isEmpty && e.stats.exists(_.rows > 0))
          .map(_.stats.get)
        // Ordering.reverse, never negation: -Long.MinValue overflows
        // to itself and would sort a minK=Long.MinValue file FIRST,
        // counting its rows toward a threshold they cannot support
        val ordered =
          if (desc) pool.sortBy(_.minK)(Ordering[Long].reverse)
          else pool.sortBy(_.maxK)
        var cum = 0L
        var thr: Option[Long] = None
        val it = ordered.iterator
        while (thr.isEmpty && it.hasNext) {
          val s = it.next(); cum += s.rows
          if (cum >= n) thr = Some(if (desc) s.minK else s.maxK)
        }
        thr.fold(es)(t => es.filter(_.stats.fold(true)(s =>
          s.rows > 0 && (if (desc) s.maxK >= t else s.minK <= t))))
      case _ => es
    }

  /** Transform-directory pruning: predicates on the RAW partition
    * source column (pushed OR runtime-delivered) fix which directory
    * keys its rows can live in — drop every file in any other
    * directory. On a bucket(n, col) table only equality/IN maps
    * (hashing destroys order); on a MONOTONE transform (trunc/days)
    * range predicates additionally become key BOUNDS — the hidden-
    * partitioning read path: the user filters `ts >= a AND ts < b`
    * and only the covered day directories are planned. The
    * identity-layout analog is free through the zone maps (the
    * column's stats collapse to v..v). A file whose name proves no
    * key (legacy, root-level DML rewrite) is never pruned; residual
    * row-level evaluation stands, so a too-coarse key bound is never
    * wrong — only less selective. */
  private def pruneByBucket(es: Seq[GdxFileEntry],
                            fl: Seq[Filter]): Seq[GdxFileEntry] =
    // every unambiguous recorded spec prunes independently — under
    // partition-spec evolution a file's name proves a key under AT
    // MOST one spec (distinct directory keys; colliding specs were
    // excluded), so each era's files are judged by their own
    // transform and everyone else's pass them through
    pruningSpecs.foldLeft(es)((acc, spec) => pruneBySpec(acc, fl, spec))

  private def pruneBySpec(es: Seq[GdxFileEntry], fl: Seq[Filter],
                          spec: GdxSource.GdxPartSpec)
      : Seq[GdxFileEntry] = {
        val c = spec.col
        val monotone = GdxSource.monotonePart(spec)
        // the column's declared type scales the transform divisor
        // (epoch-micros vs epoch-millis vs epoch-day) and converts
        // typed literals to the same long repr the writer demuxed on
        val dt: DataType = tableSchema.fields
          .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
          .getOrElse(LongType)
        def key(w: Any): Option[Long] = (w match {
          case n: Number               => Some(n.longValue)
          case d: java.sql.Date        => Some(
            org.apache.spark.sql.catalyst.util.DateTimeUtils
              .fromJavaDate(d).toLong)
          case ld: java.time.LocalDate => Some(ld.toEpochDay)
          case t: java.sql.Timestamp   => Some(
            org.apache.spark.sql.catalyst.util.DateTimeUtils
              .fromJavaTimestamp(t))
          case in: java.time.Instant   => Some(
            org.apache.spark.sql.catalyst.util.DateTimeUtils
              .instantToMicros(in))
          case _                       => None
        }).map(spec.keyOf(_, dt))
        val allowed: Seq[Set[Long]] = fl.collect {
          case EqualTo(`c`, w) if key(w).isDefined => Set(key(w).get)
          case org.apache.spark.sql.sources.In(`c`, vs)
              if vs.forall(key(_).isDefined) =>
            vs.flatMap(key).toSet
        }
        // key bounds from range predicates (monotone transforms only):
        // the transform keeps order, so value bounds map to key bounds —
        // inclusive on the key grain in both directions (the boundary
        // key's directory may hold both in- and out-of-range rows)
        var lo = Long.MinValue
        var hi = Long.MaxValue
        if (monotone) fl.foreach {
          case GreaterThan(`c`, w) =>
            key(w).foreach(k => lo = math.max(lo, k))
          case GreaterThanOrEqual(`c`, w) =>
            key(w).foreach(k => lo = math.max(lo, k))
          case LessThan(`c`, w) =>
            key(w).foreach(k => hi = math.min(hi, k))
          case LessThanOrEqual(`c`, w) =>
            key(w).foreach(k => hi = math.min(hi, k))
          case _ => ()
        }
        if (allowed.isEmpty && lo == Long.MinValue && hi == Long.MaxValue) es
        else {
          val ids = if (allowed.isEmpty) None
                    else Some(allowed.reduce(_ intersect _))
          es.filter(e => GdxSource.partKeyOf(spec.render, e.name) match {
            case Some(Some(b)) =>
              ids.forall(_.contains(b)) && b >= lo && b <= hi
            case _ => true // __null__ dir or unproven name: keep
          })
        }
  }

  private def partKeyOf(pc: String, name: String): Option[Option[Long]] =
    GdxSource.partKeyOf(pc, name)

  /** STORAGE-PARTITIONED JOIN eligibility (static — never depends on
    * runtime filters): the snapshot declares a partition column, the
    * pruned scan still outputs it, no aggregate was pushed, and EVERY
    * snapshot file proves its partition value from its name. Then each
    * planned file carries a [[HasPartitionKey]] row and
    * [[outputPartitioning]] reports [[KeyGroupedPartitioning]] over
    * identity(partCol) — Spark (with
    * spark.sql.sources.v2.bucketing.enabled) groups the files by value
    * and a join or aggregate keyed on the partition column runs with
    * ZERO shuffle on this side: the 100 TB co-located fact⋈fact join,
    * Iceberg-style, without a bucket function catalog. Any unkeyed
    * file falls back to UnknownPartitioning (= classic planning). */
  private lazy val staticSpjEligible: Boolean = partitionSpec.exists { sp =>
    // identity and bucket layouts only: a trunc/days directory groups
    // DIFFERENT column values, so claiming identity(col) grouping
    // would be a wrong plan, and Spark's own days/truncate transform
    // semantics don't resolve against this format's epoch-longs —
    // those layouts stand down to classic planning (pruning and
    // maintenance still use their directories)
    (sp.isInstanceOf[GdxSource.GdxIdentityPart] ||
      sp.isInstanceOf[GdxSource.GdxBucketPart]) &&
      // partition-spec evolution: a former spec sharing the current
      // directory key (bucket(4,k) → bucket(8,k)) makes an old era's
      // file PROVE a key that means something else — claiming a
      // KeyGroupedPartitioning over it would co-schedule the wrong
      // rows; distinct-key formers fail the per-file proof below and
      // stand down on their own
      !partitionRaw.exists(GdxSource.partDirAmbiguous) &&
      !metaOnly && aggOps.isEmpty &&
      readSchema().fieldNames.contains(sp.col) &&
      entries.nonEmpty &&
      // the proof ranges over the PLANNED (static-filter-surviving)
      // set, which is sound: a pruned file provably holds no row the
      // pushed predicates admit, so every row this scan can output
      // lives in a key-proven file and the reported grouping covers
      // the scan's whole output
      entries.forall(e => partKeyOf(sp.render, e.name).isDefined)
  }
  /** Grouping only activates under the session's SPJ switch: with it
    * off, the scan keeps UnknownPartitioning so runtime DPP file
    * skipping (which SPJ grouping must refuse — see [[kept]]) stays. */
  private def spjActive: Boolean = staticSpjEligible &&
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
      .toBoolean

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjActive) {
      val sp = partitionSpec.get
      val transform = sp match {
        // bucket transforms resolve through the relation's
        // FunctionCatalog (GdxCatalog exposes the `bucket` function);
        // on a path-based read Spark finds no catalog, fails the
        // resolution, and keeps classic planning — a safe stand-down,
        // never a wrong grouping
        case GdxSource.GdxBucketPart(n, c) =>
          org.apache.spark.sql.connector.expressions.Expressions
            .bucket(n, c)
        case _ =>
          org.apache.spark.sql.connector.expressions.Expressions
            .identity(sp.col)
      }
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(Array(transform),
          kept.flatMap(e => partKeyOf(sp.render, e.name)).distinct.size)
    } else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(0)

  override def description(): String =
    s"GdxScan pushed=[${pushed.mkString(", ")}]" +
      (if (pruneOnly.nonEmpty)
        s" pruneOnly=[${pruneOnly.mkString(", ")}]" else "") +
      s" files=${(if (metaOnly) 0 else kept.size)}/${entries.size}" +
      (if (version >= 0) s" version=$version" else "") +
      (if (limit >= 0) s" limit=$limit" else "") +
      // the generic files=kept/total marker above already surfaces the
      // TopN file skip; this tag only names the pushed order
      topN.map { case (desc, n) =>
        s" topn=k ${if (desc) "DESC" else "ASC"},$n" }.getOrElse("") +
      aggOps.map(o => s" agg=[${o.mkString(", ")}]" +
        (if (aggGroupedPart) s" groupBy=${partitionCol.getOrElse("?")}"
        else "") +
        (if (metaOnly) " COMPLETE(manifest)" else "")).getOrElse("")

  // plan ONLY the chosen snapshot's manifest-published files — stray
  // tmp/uncommitted data AND later commits are invisible by
  // construction — and of those, only the files whose manifest zone map
  // ([min,max] of k) can intersect the pushed k-predicates: at scale,
  // stats-based file skipping turns a full-snapshot scan into a slice
  // proportional to the selected range (the Iceberg/Delta data-skipping
  // pattern, reduced to its manifest essentials)
  override def planInputPartitions(): Array[InputPartition] =
    if (metaOnly) {
      // fold the zone maps + sum stats into the finished aggregate
      // row(s) right here — one partition, zero file reads. Sums fold
      // in BigInt and were proven Long-representable at pushdown time
      // (the builder refuses otherwise); SQL NULL semantics: SUM/MIN/
      // MAX over zero non-null values is NULL, COUNT(col) is 0.
      def fold(es: Seq[GdxFileEntry]): Seq[Option[Long]] = {
        val stats = es.flatMap(_.stats)
        val live = stats.filter(_.rows > 0)
        aggOps.get.map {
          case "count" => Some(stats.map(_.rows).sum)
          case "min" => if (live.isEmpty) None else Some(live.map(_.minK).min)
          case "max" => if (live.isEmpty) None else Some(live.map(_.maxK).max)
          case op if op.startsWith("sum:") =>
            val c = op.drop(4)
            if (stats.map(_.sums(c)._2).sum == 0L) None
            else Some(stats.map(s => BigInt(s.sums(c)._1)).sum.toLong)
          case op if op.startsWith("countc:") =>
            Some(stats.map(_.sums(op.drop(7))._2).sum)
          case op if op.startsWith("min:") =>
            val present = stats.flatMap(_.cols.get(op.drop(4)))
            if (present.isEmpty) None
            else Some(present.map(_._1.toLong).min)
          case op if op.startsWith("max:") =>
            val present = stats.flatMap(_.cols.get(op.drop(4)))
            if (present.isEmpty) None
            else Some(present.map(_._2.toLong).max)
        }
      }
      val rows =
        if (aggGroupedPart) {
          // one row per partition value, keyed from the file names the
          // builder already proved parseable; a value whose files hold
          // zero live rows yields NO group (SQL GROUP BY semantics)
          val pc = partitionCol.get
          allEntries.groupBy(e => GdxSource.partKeyOf(pc, e.name).get)
            .toSeq
            .filter { case (_, es) => es.flatMap(_.stats).map(_.rows).sum > 0 }
            .map { case (key, es) => key +: fold(es) }
        } else Seq(fold(allEntries))
      Array(GdxMetaResultPartition(rows))
    } else {
      // keys ride along only while SPJ is active (all-or-nothing, so a
      // reported KeyGroupedPartitioning can never meet an unkeyed file)
      val keyed = spjActive
      val bucketed = partitionSpec
        .exists(_.isInstanceOf[GdxSource.GdxBucketPart])
      val perFile = kept.map(e => GdxFilePartition(
        GdxSource.entryPath(path, e.name).toString,
        e.dv.map(d => GdxSource.entryPath(path, d).toString),
        if (keyed) partKeyOf(partitionSpec.get.render, e.name) else None,
        bucketed = keyed && bucketed,
        esc = e.escaped))
      // BIN-PACK files into scan partitions by the BYTES the manifest
      // records (`b:`), at every file count: a task per small file
      // pays a task's fixed cost to read a few KB, and at the 100M-file
      // regime a partition per file would mean 100M tasks. The per-file
      // open cost keeps at least one partition per core while there
      // are that many files (see [[GdxSource.packFilePartitions]]).
      // Keyed SPJ scans keep their per-file partition keys, and the
      // partial-aggregate reader reports through `required = table
      // schema`, so both stay one file per partition.
      if (keyed || aggOps.isDefined)
        perFile.map(p => p: InputPartition).toArray
      else
        GdxSource.packFilePartitions(
          perFile.zip(kept.map(_.stats.flatMap(_.bytes))))
    }

  // slot-positioned view of the logical schema: readers resolve
  // required columns to PHYSICAL line slots through it, so a mapped
  // (renamed/dropped-column) snapshot reads exactly like an identity
  // one. Resolved ONCE at the scan's pinned version (lazy val, like
  // `entries`) — planning may call the factory/attribute hooks several
  // times and each manifest read is driver-side filesystem I/O.
  private lazy val slotSchema: StructType =
    GdxSource.physicalized(tableSchema, GdxSource.committedColmap(path,
      GdxSource.driverConf(), resolvedVersion))
  private lazy val partitionRaw: Option[String] =
    GdxSource.committedPartitionCol(path, GdxSource.driverConf(),
      resolvedVersion)
  private lazy val partitionCol: Option[String] =
    partitionRaw.map(GdxSource.partHeadOf)
  private lazy val partitionSpec: Option[GdxSource.GdxPartSpec] =
    partitionCol.map(GdxSource.parsePartSpec)
  /** Former layouts (partition-spec evolution): their eras' files
    * still prune under their own transform. */
  private lazy val partHistory: Seq[GdxSource.GdxPartSpec] =
    partitionRaw.toSeq.flatMap(GdxSource.partHistoryOf)
  /** Every recorded spec whose directory key is unambiguous — the set
    * the transform-directory overlay prunes with. Identity layouts
    * are excluded (their pruning IS the zone maps: the column's
    * per-file stats collapse to v..v, in every era). */
  private lazy val pruningSpecs: Seq[GdxSource.GdxPartSpec] = {
    val all = (partitionSpec.toSeq ++ partHistory).distinct
    val byDir = all.groupBy(_.dirName)
    all.filter(s => byDir(s.dirName).sizeIs == 1 &&
      !s.isInstanceOf[GdxSource.GdxIdentityPart])
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GdxReaderFactory(pushed ++ runtime, limit, aggOps, required,
      slotSchema, new SerializableHadoopConf(GdxSource.driverConf()))

  /** Statistics from the POST-PRUNING plan (Spark asks after pushdown,
    * so zone-map file skipping shrinks them): without this a DSv2 scan
    * reports defaultSizeInBytes (= never broadcast), and a GDX dim
    * table on the build side of a join would shuffle both sides at any
    * scale. Bytes come from the planned files' sizes (one driver-side
    * getFileStatus per kept file — the same metadata Delta keeps in
    * its log); row counts from the manifest zone maps. Conservative
    * over DVs (physical counts) — an overestimate can only withhold a
    * broadcast, never choose one that does not fit. */
  override def estimateStatistics(): Statistics = {
    val conf = GdxSource.driverConf()
    val fs = new Path(path).getFileSystem(conf)
    val planned = if (metaOnly) Seq.empty else kept
    // manifest-carried sizes make this METADATA-ONLY; a legacy entry
    // without `b:` falls back to one live stat
    val bytes = planned.map { e =>
      e.stats.flatMap(_.bytes).getOrElse(
        try fs.getFileStatus(GdxSource.entryPath(path, e.name)).getLen
        catch { case NonFatal(_) => 0L })
    }.sum
    val rows = planned.flatMap(_.stats).map(_.rows).sum
    // ANALYZE sidecar → DSv2 column statistics: Spark's
    // transformV2Stats maps these into per-attribute ColumnStat, which
    // is what the CBO's filter/join estimators consume
    // (`spark.sql.cbo.enabled`). Min/max are re-materialized as
    // INTERNAL values and served only while the live schema's type
    // still matches the analyzed one — a recreated column of another
    // type must never feed the estimator mistyped bounds. Skipped for
    // pushed-aggregate scans (their output is the agg row, not table
    // columns).
    val colStats: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      // VERSION-DRIFT GUARD: the sidecar serves only while the scanned
      // snapshot is within a configurable number of commits of the
      // ANALYZE (`analyzed_version`) — a long-unanalyzed table degrades
      // to manifest-only sizes instead of feeding the CBO NDV/ranges
      // of rows that may be long gone
      if (!metaOnly) GdxSource.readColStats(path, conf).filter { ts =>
        resolvedVersion - ts.version <= GdxSource.statsMaxVersionDrift
      }.foreach { ts =>
        ts.cols.foreach { case (name, cs) =>
          tableSchema.fields.find(_.name == name).foreach { f =>
            val typeOk = scala.util.Try(GdxSource.typeNameOf(f.dataType))
              .toOption.contains(cs.typeName)
            def internal(s: Option[String]): java.util.Optional[Object] =
              s.filter(_ => typeOk)
                .flatMap(t => scala.util.Try(
                  GdxSource.parseInternalCell(f.dataType, t)).toOption)
                .map(_.asInstanceOf[Object])
                .fold(java.util.Optional.empty[Object]())(
                  java.util.Optional.of)
            m.put(
              // backtick-quoted (doubled inner backticks): column()
              // PARSES its argument, so an unquoted dotted name would
              // mis-reference a nested field
              org.apache.spark.sql.connector.expressions.Expressions
                .column(s"`${name.replace("`", "``")}`"),
              new org.apache.spark.sql.connector.read.colstats
                  .ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(cs.ndv)
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(cs.nullCount)
                override def avgLen(): java.util.OptionalLong =
                  java.util.OptionalLong.of(math.max(1L, cs.avgLen))
                override def maxLen(): java.util.OptionalLong =
                  java.util.OptionalLong.of(math.max(1L, cs.maxLen))
                override def min(): java.util.Optional[Object] =
                  internal(cs.min)
                override def max(): java.util.Optional[Object] =
                  internal(cs.max)
                override def histogram(): java.util.Optional[
                    org.apache.spark.sql.connector.read.colstats
                      .Histogram] =
                  cs.hist.filter(_ => typeOk).map { h =>
                    new org.apache.spark.sql.connector.read.colstats
                        .Histogram {
                      override def height(): Double = h.height
                      override def bins(): Array[
                          org.apache.spark.sql.connector.read.colstats
                            .HistogramBin] =
                        h.bins.map { case (blo, bhi, bndv) =>
                          new org.apache.spark.sql.connector.read
                              .colstats.HistogramBin {
                            override def lo(): Double = blo
                            override def hi(): Double = bhi
                            override def ndv(): Long = bndv
                          }: org.apache.spark.sql.connector.read
                            .colstats.HistogramBin
                        }.toArray
                    }: org.apache.spark.sql.connector.read.colstats
                      .Histogram
                  }.fold(java.util.Optional.empty[
                      org.apache.spark.sql.connector.read.colstats
                        .Histogram]())(java.util.Optional.of)
              })
          }
        }
      }
      m
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(if (metaOnly) 16L else bytes)
      override def numRows(): java.util.OptionalLong =
        if (planned.forall(_.stats.isDefined))
          java.util.OptionalLong.of(if (metaOnly) 1L else rows)
        else java.util.OptionalLong.empty()
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : rstreaming.MicroBatchStream =
    new GdxMicroBatchStream(path, pushed, required, tableSchema,
      maxVersionsPerTrigger, pruneOnly, startingVersion)
}

/** Offset = manifest version. Snapshot N reconstructs to the COMPLETE
  * published file list (full checkpoint + replayed deltas), so the
  * changefeed between offsets is a set difference of reconstructed
  * entries — no listing, no notification service, no extra bookkeeping
  * beyond what batch commits already write (the Delta/Iceberg "table is
  * its own changefeed" property, manifest-essentials edition). */
case class GdxOffset(version: Int) extends rstreaming.Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** Streaming read of a GDX directory: each micro-batch covers the
  * manifest versions committed since the last processed offset and
  * plans exactly the files those snapshots ADDED (version-unique file
  * names make the set difference exact; an overwrite commit feeds only
  * its fresh files — the old snapshot's rows were already streamed).
  * Pushed k/v predicates apply inside the readers, and zone-map
  * pruning skips added files the k-predicates cannot touch. A restart
  * from an offset whose manifest was vacuumed fails loudly rather than
  * silently re-streaming the world — retention must outlive the
  * longest consumer lag, exactly as with any changefeed. */
class GdxMicroBatchStream(path: String, pushed: Array[Filter],
                          required: StructType = GdxSource.schema,
                          tableSchema: StructType = GdxSource.schema,
                          maxVersionsPerTrigger: Int = Int.MaxValue,
                          pruneOnly: Array[Filter] = Array.empty,
                          startingVersion: Int = 0)
    extends rstreaming.MicroBatchStream
    with rstreaming.SupportsAdmissionControl
    with rstreaming.SupportsTriggerAvailableNow {
  private def conf = GdxSource.driverConf()
  private def entriesAt(v: Int, filters: Seq[Filter]): Seq[GdxFileEntry] =
    if (v <= 0) Seq.empty
    else GdxSource.plannedEntries(path, conf, v, filters)
  // undecided txn claims are invisible to the stream too: an offset
  // must never point past a snapshot readers can't resolve yet
  private def currentLatest: Int =
    GdxSource.latestDecidedVersion(path, conf)

  // ADMISSION CONTROL (`maxVersionsPerTrigger`): bound each micro-batch
  // to N manifest versions, the Delta maxFilesPerTrigger analog — a
  // consumer restarting after a long lag catches up in bounded,
  // checkpointable steps instead of one giant replay batch. AvailableNow
  // pins the catch-up TARGET at query start (prepareForTrigger…), so a
  // drain terminates even while writers keep committing.
  private var availableTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(currentLatest)
  override def getDefaultReadLimit: rstreaming.ReadLimit =
    rstreaming.ReadLimit.allAvailable()
  override def reportLatestOffset(): rstreaming.Offset =
    GdxOffset(currentLatest)
  override def latestOffset(start: rstreaming.Offset,
                            limit: rstreaming.ReadLimit): rstreaming.Offset = {
    val hi = availableTarget.map(math.min(_, currentLatest))
      .getOrElse(currentLatest)
    val s = start.asInstanceOf[GdxOffset].version
    GdxOffset(
      if (maxVersionsPerTrigger == Int.MaxValue) hi
      else math.min(hi, s + maxVersionsPerTrigger))
  }

  // `startingVersion` makes the stream a CDC tail: the base snapshot
  // is treated as already consumed, so the first batch is exactly
  // `SHOW CHANGES t FROM base`'s window (base, latest]
  override def initialOffset(): rstreaming.Offset =
    GdxOffset(math.max(0, startingVersion))
  override def latestOffset(): rstreaming.Offset =
    GdxOffset(currentLatest)
  override def deserializeOffset(json: String): rstreaming.Offset = {
    val re = """\{"version":(\d+)\}""".r
    json.trim match {
      case re(v) => GdxOffset(v.toInt)
      case _ =>
        throw new IllegalArgumentException(s"gdx: bad stream offset $json")
    }
  }

  override def planInputPartitions(start: rstreaming.Offset,
                                   end: rstreaming.Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[GdxOffset].version
    val e = end.asInstanceOf[GdxOffset].version
    if (e <= s) return Array.empty
    // distributed metadata planning serves the stream too: the END
    // snapshot parses with the static prune pushed in (survivors
    // only collect), the START side needs every NAME for the diff so
    // it parses unpruned (still distributed above the threshold).
    // Pruning the end side before the name-diff is exact: the diff is
    // by NAME, and the prune is a per-entry predicate — an entry
    // carried from `s` is excluded by the seen-set either way.
    val seen = entriesAt(s, Nil).map(_.name).toSet
    val added = entriesAt(e, pushed.toSeq ++ pruneOnly)
      .filterNot(en => seen(en.name))
    // a delete commit adds no file names ⇒ contributes an EMPTY batch
    // (the changefeed is append-flavored; deletes surface to consumers
    // via fresh snapshot reads, not retractions); a file added in this
    // window carries whatever DV version `e` attributes to it.
    // pruneOnly (extended zone-map hints) and bloom sidecars skip
    // added files the same way the batch scan does — the engine
    // re-evaluates residuals row-level
    GdxSource.pruneByBloom(path,
      GdxSource.pruneByStats(added, pushed.toSeq ++ pruneOnly),
      pushed.toSeq ++ pruneOnly)
      .sortBy(_.name)
      .map(en => GdxFilePartition(
        GdxSource.entryPath(path, en.name).toString,
        en.dv.map(d => GdxSource.entryPath(path, d).toString),
        esc = en.escaped): InputPartition)
      .toArray
  }

  // the mapping is pinned at STREAM construction, matching the pinned
  // tableSchema: slots never move under a rename, and a mid-stream
  // DROP/ADD changes the logical schema (arity) — physicalizing the
  // old schema against the new mapping would trip the arity check and
  // kill the stream. The stream keeps reading its own era's view;
  // restart picks up the evolved schema.
  private val slotSchema: StructType =
    GdxSource.physicalized(tableSchema,
      GdxSource.committedColmap(path, conf))
  override def createReaderFactory(): PartitionReaderFactory =
    new GdxReaderFactory(pushed, -1, None, required, slotSchema,
      new SerializableHadoopConf(conf))
  override def commit(end: rstreaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

class GdxReaderFactory(pushed: Array[Filter], limit: Int,
                       aggOps: Option[Seq[String]],
                       required: StructType,
                       tableSchema: StructType,
                       conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GdxMetaResultPartition(rows) =>
        new PartitionReader[InternalRow] {
          private val it = rows.iterator
          private var cur: Seq[Option[Long]] = _
          override def next(): Boolean = {
            val r = it.hasNext
            if (r) cur = it.next()
            r
          }
          override def get(): InternalRow =
            InternalRow.fromSeq(cur.map(_.map(Long.box).orNull))
          override def close(): Unit = ()
        }
      case GdxFilePartition(file, dv, _, _, esc) =>
        aggOps match {
          // the agg fold consumes lastK off the UNPRUNED base — its own
          // output schema is the aggregate row, not `required`
          case Some(ops) => new GdxAggReader(
            new GdxFileReader(file, pushed, limit, conf,
              tableSchema, tableSchema, dv, esc), ops)
          case None => new GdxFileReader(file, pushed, limit, conf,
            required, tableSchema, dv, esc)
        }
      // a bin-packed group: chain the per-file readers in order; a
      // pushed LIMIT is enforced across the WHOLE chain (each file's
      // reader gets the remainder)
      case GdxFileGroupPartition(files) =>
        new PartitionReader[InternalRow] {
          private val it = files.iterator
          private var cur: GdxFileReader = _
          private var emitted = 0L
          override def next(): Boolean = {
            if (limit >= 0 && emitted >= limit) return false
            while (true) {
              if (cur == null) {
                if (!it.hasNext) return false
                val p = it.next()
                cur = new GdxFileReader(p.file, pushed,
                  if (limit < 0) -1 else (limit - emitted).toInt,
                  conf, required, tableSchema, p.dv, p.esc)
              }
              if (cur.next()) { emitted += 1; return true }
              cur.close(); cur = null
            }
            false // unreachable
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
    }
}

/** Line reader applying the pushed predicates before materializing and
  * honoring a pushed per-partition limit. Rows are PROJECTED to
  * `required` — the pruned schema [[GdxScanBuilder.pruneColumns]]
  * accepted and [[GdxScan.readSchema]] advertises — in required order:
  * the reader's output contract is exactly readSchema(), for every
  * column subset and ordering Catalyst may request (v-only, k-only,
  * (v,k), or none, as a pruned-to-empty count-style scan plans). Both
  * columns still PARSE per line (the byte format has no column stride
  * to skip); the saving is materialization — a k-only read never
  * allocates a UTF8String. */
class GdxFileReader(file: String, pushed: Array[Filter], limit: Int,
                    conf: SerializableHadoopConf,
                    required: StructType = GdxSource.schema,
                    tableSchema: StructType = GdxSource.schema,
                    dv: Option[String] = None,
                    esc: Boolean = false)
    extends PartitionReader[InternalRow] {
  private val p = new Path(file)
  private val fs = p.getFileSystem(conf.conf)
  private val in = new java.io.BufferedReader(new java.io.InputStreamReader(
    fs.open(p), "UTF-8"))
  // deletion vector: line positions subtracted from this file's rows
  // (loaded once per task; empty when the snapshot carries no DV)
  private val deleted: java.util.Set[Long] = dv
    .map(d => GdxSource.readDvPositions(fs, new Path(d)))
    .getOrElse(java.util.Collections.emptySet[Long]())
  private var lineIdx = -1L
  // per-output-slot (table field index, REQUESTED type, STORED type),
  // resolved once against the snapshot's schema; a file written
  // pre-evolution simply has fewer fields than the schema — missing
  // slots read as NULL. The stored type matters for struct columns:
  // Catalyst's nested schema pruning may request a NARROWED struct,
  // and the cell must decode by the stored positional layout before
  // projecting the requested sub-fields.
  private val slots: Array[(Int, DataType, DataType)] = {
    val idx = tableSchema.fieldNames.zipWithIndex.toMap
    required.fields.map { f =>
      val fi = idx.getOrElse(f.name, throw new IllegalArgumentException(
        s"gdx read: unknown required column '${f.name}'"))
      (fi, f.dataType, tableSchema.fields(fi).dataType)
    }
  }
  // INITIAL DEFAULTS, resolved once per task: a row in a file written
  // BEFORE the column existed (fewer physical slots) reads the
  // declared default; an explicit \N written after stays NULL
  private val slotDefaults: Array[Any] = required.fields.map(f =>
    GdxSource.defaultCellOf(f)
      .map(GdxSource.parseInternalCell(f.dataType, _)).orNull)
  private var row: InternalRow = _
  private var emitted = 0L
  var lastK: Long = _
  var lastV: String = _

  private def project(fields: Array[String]): InternalRow = {
    val vals = new Array[Any](slots.length)
    var i = 0
    while (i < slots.length) {
      val (fi, dt, stored) = slots(i)
      vals(i) =
        if (fi >= fields.length) slotDefaults(i)
        else if (fields(fi) == GdxSource.NullMarker) null
        else GdxSource.parseInternalCellPruned(dt, stored, fields(fi),
          esc)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }

  private def keep(k: Long, v: String): Boolean = pushed.forall {
    case EqualTo("k", want: Number)         => k == want.longValue
    case GreaterThan("k", b: Number)        => k > b.longValue
    case GreaterThanOrEqual("k", b: Number) => k >= b.longValue
    case LessThan("k", b: Number)           => k < b.longValue
    case LessThanOrEqual("k", b: Number)    => k <= b.longValue
    // pushed string equality compares VALUES: an escape-era cell must
    // decode first (the raw \N marker is NULL — never equal)
    case EqualTo("v", want: String)         =>
      if (esc) v != GdxSource.NullMarker &&
        GdxSource.unescapeCell(v) == want
      else v == want
    case org.apache.spark.sql.sources.In("k", vs) => // runtime key set
      vs.exists { case w: Number => k == w.longValue; case _ => true }
    // pushed filters are TRUSTED by Spark (never re-checked post-scan),
    // so IsNotNull("v") must be enforced here: a null v is stored as
    // the \N marker and materializes back as NULL
    case IsNotNull("v")                     => v != GdxSource.NullMarker
    case IsNotNull(_)                       => true
    case _                                  => true
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    var line = in.readLine()
    while (line != null) {
      lineIdx += 1
      if (!deleted.contains(lineIdx)) {
        val fields = line.split("\t", -1)
        if (fields.length >= 2 && fields(0).nonEmpty) {
          val k = fields(0).toLong
          val v = fields(1)
          if (keep(k, v)) {
            lastK = k; lastV = v
            row = project(fields)
            emitted += 1
            return true
          }
        }
      }
      line = in.readLine()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** Folds the (filtered) file stream into one partial-aggregate row —
  * count/min/max per file; Spark's final aggregate merges the files. */
class GdxAggReader(base: GdxFileReader, ops: Seq[String])
    extends PartitionReader[InternalRow] {
  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    var n = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    while (base.next()) {
      n += 1
      if (base.lastK < mn) mn = base.lastK
      if (base.lastK > mx) mx = base.lastK
    }
    row = InternalRow.fromSeq(ops.map {
      case "count" => n
      case "min"   => if (n == 0) null else mn
      case "max"   => if (n == 0) null else mx
    })
    done = true
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = base.close()
}

// --------------------------------------------------------------- write

class GdxWriteBuilder(path: String, expectedBase: Int = -1,
                      writeSchema: StructType = GdxSource.schema,
                      partitionByOpt: Option[String] = None,
                      clusterWrite: Boolean = true,
                      viaCatalog: Boolean = false,
                      replaceWhereOpt: Option[String] = None)
    extends WriteBuilder with SupportsOverwrite {
  // truncate = start the NEW snapshot from an empty file set instead of
  // the previous snapshot's; history is untouched either way — old
  // manifests keep referencing their own files until vacuumed
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  // Spark's NATIVE partial-overwrite surface — `INSERT INTO t REPLACE
  // WHERE cond SELECT ...` and `DataFrameWriterV2.overwrite(cond)` —
  // delivers the condition here as translated filters; they route to
  // the same replaceWhere commit as the write option. AlwaysTrue (or
  // nothing) degrades to a plain truncate; anything the slice
  // machinery cannot honor exactly is refused in build().
  private var overwriteFilters: Option[Seq[Filter]] = None
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val real = filters.toSeq.filter {
      case _: org.apache.spark.sql.sources.AlwaysTrue => false
      case _ => true
    }
    replace = true
    if (real.nonEmpty) overwriteFilters = Some(real)
    this
  }
  override def build(): Write = {
    // the effective partition spec: an explicit option or table
    // declaration on this write, else whatever the manifest already
    // records (appends inherit the layout with no option). The spec's
    // source column must exist and be LONG (directory keys are numeric
    // text — unambiguous; string escaping is not worth the failure
    // modes), and a declared spec must not contradict the recorded one
    // (compared on the PARSED form, so whitespace variants of the same
    // bucket transform agree).
    val recorded = GdxSource.committedPartitionCol(path,
      GdxSource.driverConf())
    val declared = partitionByOpt
    declared.foreach(d => require(!d.contains(";"),
      s"gdx write: partitionBy '$d' declares ONE spec - layouts evolve " +
        "through evolvePartitionSpec / ALTER TABLE ... SET PARTITION " +
        "SPEC, never through a write option"))
    (declared, recorded) match {
      case (Some(d), Some(r))
          if GdxSource.parsePartSpec(d) != GdxSource.parsePartSpec(r) =>
        throw new IllegalArgumentException(
          s"gdx write: partitionBy $d contradicts the table's recorded " +
            s"partition spec ${GdxSource.partHeadOf(r)}")
      case _ => ()
    }
    // the header this write records. A declaration matching the
    // recorded CURRENT spec (appends; OPTIMIZE WHERE) must not erase
    // the evolution-history tail — only a truncate's declaration
    // starts the layout clean (the rewrite materialized it); a
    // replaceWhere write (option or native REPLACE WHERE filters)
    // always INHERITS the recorded header — it replaces a slice of
    // the existing layout, never redefines it
    val effective =
      if (replaceWhereOpt.nonEmpty || overwriteFilters.nonEmpty)
        // inherit the recorded header (with its evolution history);
        // on a NEVER-COMMITTED table the declaration stands — an
        // idempotent first-run backfill creates the layout it slices
        recorded.map(GdxSource.normalizePartRaw)
          .orElse(declared.map(d => GdxSource.parsePartSpec(d).render))
      else (declared, recorded) match {
        case (Some(d), _) if replace =>
          Some(GdxSource.parsePartSpec(d).render)
        case (Some(_), Some(r)) => Some(GdxSource.normalizePartRaw(r))
        case (Some(d), None) => Some(GdxSource.parsePartSpec(d).render)
        case (None, _) =>
          if (replace) None else recorded.map(GdxSource.normalizePartRaw)
      }
    effective.map(GdxSource.parsePartSpec).foreach { spec =>
      val f = writeSchema.fields.find(_.name.equalsIgnoreCase(spec.col))
        .getOrElse(throw new IllegalArgumentException(
          s"gdx write: partition column ${spec.col} is not in the " +
            "write schema"))
      GdxSource.validatePartColType(spec, f.dataType, "write")
    }
    // replaceWhere: PARTIAL overwrite of the predicate's partitions.
    // Accepted only on an identity-partitioned table (a bucket
    // directory mixes key values — dropping it by value would lose
    // innocent rows), with Overwrite mode (the statement REPLACES), and
    // with a simple equality/IN predicate on the partition column —
    // exactly the Delta replaceWhere surface, refused loudly beyond it.
    def sliceOf(c: String, vals: Set[Long]): (String, Set[Long]) = {
      val spec = effective.map(GdxSource.parsePartSpec).getOrElse(
        throw new IllegalArgumentException(
          "gdx replaceWhere: the table declares no partition layout"))
      // an evolution-history spec colliding with the current directory
      // key means another era's files could pose as slice members —
      // dropping them by key would lose innocent rows; refuse (a full
      // OPTIMIZE materializes the layout and clears the history)
      require(!effective.exists(GdxSource.partDirAmbiguous),
        "gdx replaceWhere: a former partition spec shares the current " +
          "spec's directory key - run a full OPTIMIZE first")
      spec match {
        case GdxSource.GdxIdentityPart(pc) =>
          require(c.equalsIgnoreCase(pc),
            s"gdx replaceWhere: $c is not the table's partition " +
              s"column ($pc)")
          require(replace,
            "gdx replaceWhere: requires SaveMode.Overwrite")
          (spec.render, vals)
        case other => throw new IllegalArgumentException(
          s"gdx replaceWhere: ${other.render} layouts are not " +
            "value-replaceable - a bucket directory mixes key values")
      }
    }
    val fromOpt = replaceWhereOpt.map { txt =>
      val (c, vals) = GdxSource.parsePartPredicate(txt)
      sliceOf(c, vals)
    }
    // Spark's native REPLACE WHERE / overwrite(cond) filters: the
    // same slice contract — one equality or IN on the partition
    // column (an accompanying IsNotNull on that column is implied by
    // the layout and ignored); anything richer is refused, never
    // approximated
    val fromFilters = overwriteFilters.map { fs =>
      val core = fs.filter { case IsNotNull(_) => false; case _ => true }
      val (c, vals) = core match {
        case Seq(EqualTo(c0, n: Number)) => (c0, Set(n.longValue))
        case Seq(org.apache.spark.sql.sources.In(c0, vs))
            if vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
          (c0, vs.map(_.asInstanceOf[Number].longValue).toSet)
        case other => throw new IllegalArgumentException(
          s"gdx REPLACE WHERE: unsupported condition " +
            s"[${other.mkString(" AND ")}] - use <partitionCol> = <n> " +
            "or <partitionCol> IN (n, ...)")
      }
      fs.foreach {
        case IsNotNull(c2) => require(c2.equalsIgnoreCase(c),
          s"gdx REPLACE WHERE: IsNotNull($c2) references a column " +
            s"other than the slice's ($c)")
        case _ => ()
      }
      sliceOf(c, vals)
    }
    require(fromOpt.isEmpty || fromFilters.isEmpty || fromOpt == fromFilters,
      "gdx: the replaceWhere option contradicts the statement's " +
        "REPLACE WHERE condition")
    // capture the slice's entries NOW (write-build time): the commit
    // conflict-checks the live slice against this observation, so a
    // concurrent writer landing rows inside the slice surfaces as a
    // GdxConcurrentModificationException instead of silent erasure
    val rw = fromOpt.orElse(fromFilters).map { case (spec, vals) =>
      val observed = GdxSource
        .committedEntries(path, GdxSource.driverConf())
        .filter(e => GdxSource.partKeyOf(spec, e.name)
          .exists(_.exists(vals.contains)))
        .map(e => (e.name, e.dv)).toSet
      GdxSource.GdxReplaceWhere(spec, vals, observed)
    }
    new GdxWrite(path, replace && rw.isEmpty, expectedBase, writeSchema,
      effective, clusterWrite, viaCatalog, rw)
  }
}

/** The write, carrying the small-files fix partitioned tables need at
  * scale: a partitioned write REQUESTS a clustered distribution on the
  * partition column ([[RequiresDistributionAndOrdering]], non-strict),
  * so Spark plans a rebalance that lands each partition value in one
  * task — one file per value per write instead of
  * tasks × values — while AQE's skew handling may still SPLIT a hot
  * value across tasks (several files for that value: exactly right).
  * Maintenance rewrites (OPTIMIZE/compact, DV update rewrites) opt out
  * via `option("clusterWrite", "false")` — their input layout (Z-order
  * range partitioning, per-file rewrite sets) IS the product, and a
  * re-cluster here would destroy it. */
class GdxWrite(path: String, replace: Boolean, expectedBase: Int = -1,
               writeSchema: StructType = GdxSource.schema,
               partitionCol: Option[String] = None,
               clusterWrite: Boolean = true,
               viaCatalog: Boolean = false,
               replaceWhere: Option[GdxSource.GdxReplaceWhere] = None)
    extends Write with RequiresDistributionAndOrdering {
  // trunc/days layouts ask for a RANGE distribution on the raw column:
  // hash-clustering by a near-unique epoch value would scatter every
  // directory key across every task (tasks × days tiny files); range
  // partitioning lands each key's contiguous value run in few tasks —
  // near one file per day. Identity/bucket layouts keep the clustered
  // shape.
  private def orderedSpec: Option[GdxSource.GdxPartSpec] =
    partitionCol.filter(_ => clusterWrite)
      .map(GdxSource.parsePartSpec)
      .filter(sp => GdxSource.monotonePart(sp) &&
        !sp.isInstanceOf[GdxSource.GdxIdentityPart])
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    orderedSpec match {
      case Some(sp) =>
        org.apache.spark.sql.connector.distributions.Distributions
          .ordered(Array(
            org.apache.spark.sql.connector.expressions.Expressions.sort(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(sp.col),
              org.apache.spark.sql.connector.expressions
                .SortDirection.ASCENDING)))
      case None =>
        partitionCol.filter(_ => clusterWrite)
          .map(c => org.apache.spark.sql.connector.distributions
            .Distributions
            .clustered(Array(GdxSource.parsePartSpec(c) match {
              // Spark resolves a bucket transform in a required
              // distribution through the RELATION's FunctionCatalog —
              // only catalog-managed writes have one (GdxCatalog
              // exposes `bucket`). Path-based writes to a bucket table
              // fall back to clustering on the source column: strictly
              // finer than the bucket layout (equal col ⇒ equal
              // bucket), so the demux stays correct — it just lands
              // more files per bucket directory than the
              // transform-clustered plan.
              case GdxSource.GdxBucketPart(n, bc) if viaCatalog =>
                org.apache.spark.sql.connector.expressions.Expressions
                  .bucket(n, bc)
              case spec =>
                org.apache.spark.sql.connector.expressions.Expressions
                  .identity(spec.col)
            })))
          .getOrElse {
            // no partition layout: a declared CLUSTER BY asks the
            // PLANNER for the range exchange + sort — the engine
            // never hand-sorts, and every file's zone-map range over
            // the cluster columns comes out narrow on the first write
            if (clusterCols.nonEmpty)
              org.apache.spark.sql.connector.distributions.Distributions
                .ordered(clusterSort)
            else org.apache.spark.sql.connector.distributions
              .Distributions.unspecified()
          }
    }
  private lazy val clusterCols: Seq[String] =
    if (!clusterWrite || partitionCol.isDefined) Seq.empty
    else GdxSource.clusterByOf(path, GdxSource.driverConf())
      .flatMap(GdxSource.resolveClusterRef(writeSchema, _))
  private def clusterSort
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    clusterCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions
          .SortDirection.ASCENDING)).toArray
  // non-strict: Spark plans a REBALANCE (AQE coalesces tiny values,
  // splits skewed ones) rather than a hard hash repartition
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (clusterCols.nonEmpty) clusterSort else Array.empty
  override def toBatch: BatchWrite =
    new GdxBatchWrite(path, replace, expectedBase, writeSchema,
      partitionCol, replaceWhere)
  override def toStreaming: wstreaming.StreamingWrite =
    new GdxStreamingWrite(path, writeSchema, partitionCol)
}

/** Exactly-once streaming sink: every micro-batch is one append commit
  * through the SAME publish routine batch writes use, made idempotent
  * by an epoch marker (`_txn-<epochId>`) written after the manifest.
  * A replayed epoch (failure between sink commit and the engine
  * recording progress) finds its marker, discards the re-attempt's tmp
  * files, and leaves the original commit untouched — re-delivery
  * cannot double rows. Crash BETWEEN manifest and marker replays as a
  * duplicate commit (at-least-once for that one window); a real
  * object-store deployment closes it by making the manifest PUT itself
  * carry the epoch (one CAS'd metadata write), the same caveat as
  * multi-writer arbitration. Together with [[GdxMicroBatchStream]] the
  * directory is a full streaming table: writeStream in, readStream
  * out, batch anywhere in between. */
class GdxStreamingWrite(path: String,
                        writeSchema: StructType = GdxSource.schema,
                        partitionCol: Option[String] = None)
    extends wstreaming.StreamingWrite {
  private def partSpec: Option[GdxSource.GdxPartSpec] =
    partitionCol.map(GdxSource.parsePartSpec)
  // the constraint set this write's tasks ENFORCE, captured once at
  // write construction; commit conflict-checks the live set against
  // it, so a constraint committed mid-flight aborts the epoch rather
  // than publishing unvalidated rows under its manifest (the write
  // object is rebuilt per micro-batch, so the NEXT epoch enforces it)
  private val enforced =
    GdxSource.committedConstraints(path, GdxSource.driverConf())

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : wstreaming.StreamingDataWriterFactory =
    new GdxStreamingWriterFactory(path,
      new SerializableHadoopConf(GdxSource.driverConf()), writeSchema,
      GdxSource.activeChecks(enforced, writeSchema),
      GdxSource.writeLayout(writeSchema,
        GdxSource.committedColmap(path, GdxSource.driverConf())),
      partSpec)

  def txnMarker(epochId: Long) = new Path(path, f"_txn-$epochId%016d")

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val conf = GdxSource.driverConf()
    val fs = new Path(path).getFileSystem(conf)
    val marker = txnMarker(epochId)
    if (fs.exists(marker)) {
      // replayed epoch: the original commit already published
      messages.collect { case m: GdxCommitMessage =>
        m.files.foreach { case (tmp, _) =>
          fs.delete(new Path(path, tmp), false)
          fs.delete(new Path(path, tmp + GdxBloom.Suffix), false)
        }
      }
      return
    }
    GdxSource.commitFiles(path, conf, replace = false, messages.toSeq,
      writeSchema = writeSchema, enforcedConstraints = Some(enforced),
      partitionCol = partitionCol)
    fs.create(marker, true).close()
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(GdxSource.driverConf())
    messages.collect { case m: GdxCommitMessage =>
      m.files.foreach { case (tmp, _) =>
        fs.delete(new Path(path, tmp), false)
        fs.delete(new Path(path, tmp + GdxBloom.Suffix), false)
      }
    }
  }
}

class GdxStreamingWriterFactory(path: String, conf: SerializableHadoopConf,
                                writeSchema: StructType = GdxSource.schema,
                                checks: Seq[(String,
                                  org.apache.spark.sql.catalyst.expressions
                                    .Expression)] = Seq.empty,
                                layout: Array[Int] = null,
                                partSpec: Option[GdxSource.GdxPartSpec] =
                                  None)
    extends wstreaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GdxDataWriter(path, partitionId, taskId, conf,
      tag = f"e$epochId%08d-", schema = writeSchema, checks = checks,
      layoutIn = layout, partSpec = partSpec)
}

/** One task's committed tmp files (several under a partitioned write —
  * one per partition value the task saw). */
case class GdxCommitMessage(files: Seq[(String, GdxFileStats)])
    extends WriterCommitMessage

class GdxBatchWrite(path: String, replace: Boolean,
                    expectedBase: Int = -1,
                    writeSchema: StructType = GdxSource.schema,
                    partitionCol: Option[String] = None,
                    replaceWhere: Option[GdxSource.GdxReplaceWhere] = None)
    extends BatchWrite {
  private def partSpec: Option[GdxSource.GdxPartSpec] =
    partitionCol.map(GdxSource.parsePartSpec)
  // captured once (see GdxStreamingWrite): the set the tasks enforce
  // IS the set commit verifies is still complete — a constraint that
  // lands between factory creation and commit is a metadata conflict,
  // not a silent hole in enforcement
  private val enforced =
    GdxSource.committedConstraints(path, GdxSource.driverConf())

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = new GdxWriterFactory(path,
    new SerializableHadoopConf(GdxSource.driverConf()), writeSchema,
    GdxSource.activeChecks(enforced, writeSchema),
    // a truncate materializes the logical layout (mapping resets to
    // identity in the manifest header); an append writes the current
    // mapping's physical layout, null-filling dead slots
    if (replace) null
    else GdxSource.writeLayout(writeSchema,
      GdxSource.committedColmap(path, GdxSource.driverConf())),
    partSpec)

  /** Driver-side publish: rename each task's tmp file to its
    * VERSION-PREFIXED final name, then write snapshot N+1's manifest —
    * append publishes a delta of this commit's files (checkpointed
    * every [[GdxSource.CheckpointInterval]]), truncate starts a fresh
    * full list. Readers only ever see a manifest's list, so the commit
    * point is the single manifest write (renames are tidiness, not the
    * correctness boundary), and version-unique file names mean no
    * commit can ever clobber a file an older snapshot references. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // like DML and TRUNCATE, a batch write commits its own visible
    // snapshot — INSERT OVERWRITE, partitioned inserts, and
    // DataFrame-API writes must refuse loudly inside an open SQL
    // transaction rather than silently break its all-or-nothing
    // contract (the transaction's OWN staged writes never pass here:
    // they publish through claim manifests, not commitFiles)
    SparkSession.getActiveSession.foreach(
      graft.plans.GdxSqlTxn.refuseIfOpen(_, "a non-staged write into " +
        s"gdx($path)"))
    GdxSource.commitFiles(path, GdxSource.driverConf(), replace,
      messages.toSeq, expectedBase, writeSchema, Some(enforced),
      partitionCol, replaceWhere)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = GdxSource.driverConf()
    val base = new Path(path)
    val fs = base.getFileSystem(conf)
    messages.collect { case m: GdxCommitMessage =>
      m.files.foreach { case (tmp, _) =>
        fs.delete(new Path(base, tmp), false)
        fs.delete(new Path(base, tmp + GdxBloom.Suffix), false)
      }
    }
  }
}

class GdxWriterFactory(path: String, conf: SerializableHadoopConf,
                       writeSchema: StructType = GdxSource.schema,
                       checks: Seq[(String,
                         org.apache.spark.sql.catalyst.expressions
                           .Expression)] = Seq.empty,
                       layout: Array[Int] = null,
                       partSpec: Option[GdxSource.GdxPartSpec] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GdxDataWriter(path, partitionId, taskId, conf,
      schema = writeSchema, checks = checks, layoutIn = layout,
      partSpec = partSpec)
}

/** Task-side writer: data lands in uniquely-named `.tmp` files that
  * only the driver commit publishes; a speculative duplicate or failed
  * attempt leaves at most unreferenced tmps (cleaned by abort, and
  * harmless if leaked — readers never list the directory).
  *
  * With `partSpec` set (`PARTITIONED BY` on a LONG column — identity
  * or bucket transform) the task demuxes rows into one file PER
  * DIRECTORY KEY it sees, under `<dirName>=<key>/` subdirectories —
  * the manifest stores the subdir-relative names, so planning, blooms,
  * DVs, and vacuum all work unchanged. For identity layouts the
  * partition column's per-file extended stats collapse to `v..v`,
  * which makes static partition pruning exactly a zone-map prune; for
  * bucket layouts the directory key is [[GdxSource.bucketId]] of the
  * value and pruning goes through the bucket-directory overlay. */
class GdxDataWriter(path: String, partitionId: Int, taskId: Long,
                    conf: SerializableHadoopConf, tag: String = "",
                    schema: StructType = GdxSource.schema,
                    checks: Seq[(String,
                      org.apache.spark.sql.catalyst.expressions
                        .Expression)] = Seq.empty,
                    layoutIn: Array[Int] = null,
                    partSpec: Option[GdxSource.GdxPartSpec] = None)
    extends DataWriter[InternalRow] {
  private val partitionIdx: Int = partSpec
    .map(s => schema.fieldNames.indexWhere(_.equalsIgnoreCase(s.col)))
    .getOrElse(-1)
  // physical slot → logical field index (-1 = dead slot, written \N);
  // identity unless the table carries a column mapping
  private val layout: Array[Int] =
    if (layoutIn == null) schema.indices.toArray else layoutIn

  // shredded columns re-derive from their variant source per row
  // (generated-always: whatever the writing frame supplied is
  // overwritten, so the shadow can never drift) — one SafeProjection
  // over the full row, built only when the schema declares shreds,
  // consumed synchronously below (the projection reuses its buffer)
  private val shredProj: org.apache.spark.sql.catalyst.expressions
      .Projection =
    if (!schema.fields.exists(f => GdxSource.shredOf(f).isDefined)) null
    else {
      import org.apache.spark.sql.catalyst.expressions.{
        BoundReference, Literal}
      val exprs = schema.fields.zipWithIndex.map { case (f, i) =>
        GdxSource.shredOf(f) match {
          case Some((of, key)) =>
            val si = schema.fieldNames.indexWhere(_.equalsIgnoreCase(of))
            new org.apache.spark.sql.catalyst.expressions.variant
              .VariantGet(
                BoundReference(si,
                  org.apache.spark.sql.types.VariantType,
                  nullable = true),
                Literal(org.apache.spark.unsafe.types.UTF8String
                  .fromString("$." + key), StringType),
                f.dataType, false, Some("UTC"))
              : org.apache.spark.sql.catalyst.expressions.Expression
          case None => BoundReference(i, f.dataType, nullable = true)
        }
      }
      org.apache.spark.sql.catalyst.expressions.SafeProjection
        .create(exprs.toIndexedSeq)
    }

  /** One output file: line sink + its zone map, extended stats, and
    * bloom sidecar. `subdir` is "" (unpartitioned) or "<col>=<v>/". */
  private final class Sink(subdir: String) {
    // `tag` carries the streaming epoch so re-attempts of the same
    // (partition, task) across epochs can never collide on a tmp name;
    // the per-write UUID makes the name unique ACROSS APPLICATIONS too
    // — task ids restart from 0 per app, so two processes appending
    // concurrently would otherwise claim the same tmp (and the winning
    // commit's renamed file could be clobbered by the loser's retry)
    val name: String = subdir + f"part-$tag$partitionId%05d-$taskId-" +
      java.util.UUID.randomUUID().toString + ".gdx.tmp"
    val target = new Path(path, name)
    // overwrite=false: with UUID'd names a collision is impossible, so
    // an existing target is a bug worth failing loudly on, never data
    // to silently replace (create() mkdirs the subdir as needed)
    private val counter = new GdxSource.CountingOutputStream(
      target.getFileSystem(conf.conf).create(target, false))
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      counter, "UTF-8"))
    // zone map accumulated as rows stream through — an empty task keeps
    // the inverted sentinel range (minK > maxK), which the manifest
    // publishes and pruning treats as matching no predicate
    var rows = 0L
    var minK = Long.MaxValue
    var maxK = Long.MinValue
    val ext = new GdxSource.ExtStatAcc(lanes.length, lanes.map(_.kind))
    // per-LONG-column running SUM + non-null count (k included) for
    // metadata-only SUM/COUNT(col) — exact by construction; a Long
    // overflow poisons the column's entry (absence = fall back)
    val sumL = new Array[Long](sumIdx.length)
    val sumN = new Array[Long](sumIdx.length)
    val sumBad = new Array[Boolean](sumIdx.length)
    // point-lookup bloom over k, written as an immutable sidecar the
    // commit renames alongside the data file (see [[GdxBloom]])
    val bloom = new Array[Byte](GdxBloom.Bits / 8)

    def entry: (String, GdxFileStats) = {
      val extMap = ext.result(e => lanes(e).name)
      val sums = sumIdx.indices.iterator.filterNot(sumBad).map { e =>
        schema(sumIdx(e)).name -> (sumL(e), sumN(e))
      }.toMap
      // entry is built after close(), so the counter is final
      (name, GdxFileStats(rows, minK, maxK, extMap, sums,
        Some(counter.count)))
    }
  }

  // extended zone maps: min/max per additional ORDERABLE column AND
  // per orderable STRUCT LEAF (dotted names — the form Spark pushes
  // nested predicates under), NULLs at any nesting step excluded,
  // tracked exactly in the column's own canonical form
  // ([[GdxSource.extStatKind]]: longs/dates/timestamps/booleans in
  // the long lane, doubles with the NaN-poison rule, decimals as
  // exact big decimals). A column that never sees a non-null value
  // publishes nothing (absence = cannot prune).
  private val lanes: Array[GdxSource.StatLane] =
    GdxSource.statLanes(schema)

  // every LONG column (k included) carries a per-file SUM + non-null
  // count; doubles are deliberately excluded — float sums are
  // order-dependent, and a metadata answer must be bit-identical to
  // any execution order
  private val sumIdx: Array[Int] = schema.fields.zipWithIndex
    .collect { case (f, i) if f.dataType == LongType => i }

  private val partitionName: String =
    partSpec.map(_.dirName).getOrElse("")
  // unpartitioned: exactly one sink, created eagerly (the historical
  // behavior — an empty task still publishes an empty-file entry)
  private val sinks =
    new java.util.LinkedHashMap[String, Sink]()
  if (partitionIdx < 0) sinks.put("", new Sink(""))

  private def sinkFor(r: InternalRow): Sink = {
    val key =
      if (partitionIdx < 0) ""
      else if (r.isNullAt(partitionIdx)) "__null__"
      else partSpec.get.keyOf(
        GdxSource.longReprInternal(schema(partitionIdx).dataType, r,
          partitionIdx),
        schema(partitionIdx).dataType).toString
    var s = sinks.get(key)
    if (s == null) {
      s = new Sink(
        if (partitionIdx < 0) "" else s"$partitionName=$key/")
      sinks.put(key, s)
    }
    s
  }

  override def write(r0: InternalRow): Unit = {
    val r = if (shredProj == null) r0 else shredProj(r0)
    require(!r.isNullAt(0), "gdx write: k (the key) must not be null")
    // CHECK constraints, SQL semantics (NULL passes): a violation
    // fails the task — the job aborts and nothing commits
    var c = 0
    while (c < checks.length) {
      if (checks(c)._2.eval(r) == false)
        throw new GdxConstraintViolationException(
          s"gdx write: row violates CHECK constraint ${checks(c)._1}")
      c += 1
    }
    val sink = sinkFor(r)
    val k = r.getLong(0)
    sink.rows += 1
    if (k < sink.minK) sink.minK = k
    if (k > sink.maxK) sink.maxK = k
    GdxBloom.set(sink.bloom, k)
    var e = 0
    while (e < lanes.length) {
      GdxSource.addLaneInternal(sink.ext, e, lanes(e), r)
      e += 1
    }
    var se = 0
    while (se < sumIdx.length) {
      val i = sumIdx(se)
      if (!r.isNullAt(i) && !sink.sumBad(se)) {
        try {
          sink.sumL(se) = Math.addExact(sink.sumL(se), r.getLong(i))
          sink.sumN(se) += 1
        } catch {
          case _: ArithmeticException => sink.sumBad(se) = true
        }
      }
      se += 1
    }
    // fields joined by tab in physical-slot order; NULL as the reserved
    // \N marker. String content escape-encodes ([[GdxSource.escapeCell]])
    // so separators/terminators inside values never reach the line raw;
    // the committed entry's `e:` overlay records the era.
    val sb = new java.lang.StringBuilder
    var pSlot = 0
    while (pSlot < layout.length) {
      if (pSlot > 0) sb.append('\t')
      val i = layout(pSlot)
      if (i < 0 || r.isNullAt(i)) sb.append(GdxSource.NullMarker)
      else GdxSource.appendInternalCell(sb, schema(i).dataType, r, i,
        "write", schema(i).name)
      pSlot += 1
    }
    sink.out.println(sb)
  }

  private def eachSink(f: Sink => Unit): Unit = {
    val it = sinks.values().iterator()
    while (it.hasNext) f(it.next())
  }

  override def commit(): WriterCommitMessage = {
    val files = Seq.newBuilder[(String, GdxFileStats)]
    eachSink { s =>
      s.out.close()
      GdxSource.failOnWriteError(s.out, s.target)
      if (s.rows > 0) {
        val fs = s.target.getFileSystem(conf.conf)
        val bp = new Path(path, s.name + GdxBloom.Suffix)
        val bo = fs.create(bp, false)
        try bo.write(s.bloom) finally bo.close()
      }
      files += s.entry
    }
    GdxCommitMessage(files.result())
  }
  override def abort(): Unit = eachSink { s =>
    s.out.close()
    val fs = s.target.getFileSystem(conf.conf)
    fs.delete(s.target, false)
    fs.delete(new Path(path, s.name + GdxBloom.Suffix), false); ()
  }
  override def close(): Unit = eachSink(_.out.close())
}
