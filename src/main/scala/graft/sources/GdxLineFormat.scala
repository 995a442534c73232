package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The GDX data-file format: one line per row, cells joined by TAB in
  * physical-slot order, `\N` for NULL, one canonical text form per type
  * (scaladoc at [[GdxSource.typeNameOf]]). Every surface that touches a
  * data file's bytes goes through this object, in Catalyst's internal
  * row format: the DSv2 scan and the row-change engine's target and the
  * changefeed decode lines through one [[Reader]]; the DSv2 writer and
  * the engine's image writer render them through one [[LineSink]].
  * Deletion-vector sidecars (`.dvx`, one deleted line position per
  * line) are read and written here too. A new type is added here and
  * nowhere else. The manifest and its schema text are the log's format
  * and stay in [[GdxSource]]. */
object GdxLineFormat {
  /** NULL marker in the line format (hive-style); a string VALUE
    * "\N" escapes its backslash ([[escapeCell]]), so it never reads
    * as this marker. */
  private[graft] val NullMarker = "\\N"

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
  private def splitStructCells(s: String): Array[String] = {
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
  private def splitArrayStructCells(s: String): Array[String] = {
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
  private def parseInternalCellPruned(requested: DataType,
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
  private def parseStructInternal(stored: StructType,
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
  private def appendInternalCell(sb: java.lang.StringBuilder,
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
  private val StatStringPrefix = 16

  /** How much of each string the accumulator RETAINS while streaming
    * rows (memory bound for content columns): longer than the
    * published prefix + 1, so the final truncation is exact. */
  private val StatStringTrack = 64

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
  private def addLaneInternal(acc: ExtStatAcc, e: Int,
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

  /** Streaming min/max tracker for the extended-stats columns of ONE
    * output file, one lane per [[extStatKind]]. The NaN rule is the
    * double lane's: a NaN POISONS the column's range for this file
    * (Spark orders NaN above every double, so a min/max computed from
    * the non-NaN values could wrongly prune a file whose NaN rows
    * satisfy a > predicate) — `result` suppresses poisoned columns,
    * and absence is never a prune. */
  private final class ExtStatAcc(n: Int, kinds: Array[Int]) {
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
      val t = if (v.length <= StatStringTrack) v
        else v.substring(0, StatStringTrack)
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
            truncUpperBound(maxS(e)).map { up =>
              name(e) -> (escapeStatText(
                truncLowerBound(minS(e))),
                escapeStatText(up))
            }
          case _ =>
            Some(name(e) -> (minB(e).toPlainString, maxB(e).toPlainString))
        }
      }.toMap
  }

  /** Counts the bytes a data-file writer pushes, so the manifest can
    * carry the file's exact size (`b:`) without a post-write stat. */
  private final class CountingOutputStream(
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

  /** Parse a `.dvx` deletion-vector sidecar (one deleted line position
    * per line) into its position set. */
  private def readDvPositions(fs: FileSystem,
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

  /** Reads one data file's lines as Catalyst rows — the one decoder of
    * the DSv2 scan, the row-change engine's target ([[liveRows]]) and
    * the changefeed ([[changeRows]]). Rows are PROJECTED to `required`
    * in required order, each field resolved by name against `stored`,
    * the snapshot's slot-positioned schema ([[GdxSource.physicalized]]):
    * the reader's output contract is exactly the requested schema, for
    * every column subset and ordering Catalyst may request. A requested
    * struct may be narrower than the stored one (nested schema pruning);
    * the cell decodes by the stored positional layout first. A file
    * written before a column existed has fewer slots: the column reads
    * its declared initial default, and an explicit `\N` written after
    * stays NULL. Lines whose position is in the `dv` sidecar are
    * skipped; with `only` set, so is every line whose position that
    * sidecar does not list. Pushed predicates run before a row
    * materializes and a pushed `limit` (-1 = none) stops the read;
    * `pos` is the current row's line position. Every line still splits
    * (the byte format has no column stride to skip); the saving is
    * materialization — a k-only read never allocates a UTF8String. */
  final class Reader(file: String, pushed: Array[Filter], limit: Int,
                     conf: SerializableHadoopConf, required: StructType,
                     stored: StructType, dv: Option[String], esc: Boolean,
                     only: Option[String] = None)
      extends PartitionReader[InternalRow] {
    private val p = new Path(file)
    private val fs = p.getFileSystem(conf.conf)
    private val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), "UTF-8"))
    private def positions(d: Option[String]): java.util.Set[Long] =
      d.map(x => readDvPositions(fs, new Path(x))).orNull
    // deletion vector: line positions subtracted from this file's rows
    // (loaded once per task; null when the snapshot carries no DV)
    private val deleted = positions(dv)
    private val kept = positions(only)
    private var lineIdx = -1L
    // per-output-slot (stored slot, REQUESTED type, STORED type)
    private val slots: Array[(Int, DataType, DataType)] = {
      val idx = stored.fieldNames.zipWithIndex.toMap
      required.fields.map { f =>
        val fi = idx.getOrElse(f.name, throw new IllegalArgumentException(
          s"gdx read: unknown required column '${f.name}'"))
        (fi, f.dataType, stored.fields(fi).dataType)
      }
    }
    // INITIAL DEFAULTS, resolved once per file
    private val slotDefaults: Array[Any] = required.fields.map(f =>
      GdxSource.defaultCellOf(f).map(parseInternalCell(f.dataType, _)).orNull)
    private var row: InternalRow = _
    private var emitted = 0L
    /** Key of the current row, read by [[GdxAggReader]]. */
    var lastK: Long = _

    /** Line position of the current row. */
    def pos: Long = lineIdx

    private def project(fields: Array[String]): InternalRow = {
      val vals = new Array[Any](slots.length)
      var i = 0
      while (i < slots.length) {
        val (fi, dt, st) = slots(i)
        vals(i) =
          if (fi >= fields.length) slotDefaults(i)
          else if (fields(fi) == NullMarker) null
          else parseInternalCellPruned(dt, st, fields(fi), esc)
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
        if (esc) v != NullMarker && unescapeCell(v) == want
        else v == want
      case org.apache.spark.sql.sources.In("k", vs) => // runtime key set
        vs.exists { case w: Number => k == w.longValue; case _ => true }
      // pushed filters are TRUSTED by Spark (never re-checked post-scan),
      // so IsNotNull("v") must be enforced here: a null v is stored as
      // the \N marker and materializes back as NULL
      case IsNotNull("v")                     => v != NullMarker
      case IsNotNull(_)                       => true
      case _                                  => true
    }

    override def next(): Boolean = {
      if (limit >= 0 && emitted >= limit) return false
      var line = in.readLine()
      while (line != null) {
        lineIdx += 1
        if ((deleted == null || !deleted.contains(lineIdx)) &&
            (kept == null || kept.contains(lineIdx))) {
          val fields = line.split("\t", -1)
          if (fields.length >= 2 && fields(0).nonEmpty) {
            val k = fields(0).toLong
            val v = fields(1)
            if (keep(k, v)) {
              lastK = k
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

  /** One data file being written by [[GdxDataWriter]], the one writer:
    * fields joined by TAB in physical-slot order (`layout`: slot →
    * field of `schema`, -1 = a dead slot, written `\N`), NULL as the reserved `\N` marker, string content
    * escape-encoded ([[escapeCell]]) so separators inside values never
    * reach the line raw. Tracks the file's zone map as rows stream
    * through: row count, key min/max (an empty file keeps the inverted
    * sentinel range, which prunes under any key predicate) and the
    * extended-stats `lanes`. Rows must carry a key; `ctx` names the
    * writing surface in cell errors. */
  private[graft] final class LineSink(fs: FileSystem, path: Path,
      schema: StructType, layout: Array[Int], lanes: Array[StatLane],
      ctx: String) {
    // overwrite=false: names are UUID'd, so an existing file is a bug
    // worth failing loudly on (create() mkdirs a partition subdir)
    private val counter = new CountingOutputStream(fs.create(path, false))
    private val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(counter, "UTF-8"))
    private val ext = new ExtStatAcc(lanes.length, lanes.map(_.kind))
    private val sb = new java.lang.StringBuilder
    private var n = 0L
    private var minK = Long.MaxValue
    private var maxK = Long.MinValue

    def rows: Long = n

    def write(r: InternalRow): Unit = {
      val k = r.getLong(0)
      n += 1
      if (k < minK) minK = k
      if (k > maxK) maxK = k
      var e = 0
      while (e < lanes.length) {
        addLaneInternal(ext, e, lanes(e), r)
        e += 1
      }
      sb.setLength(0)
      var s = 0
      while (s < layout.length) {
        if (s > 0) sb.append('\t')
        val i = layout(s)
        if (i < 0 || r.isNullAt(i)) sb.append(NullMarker)
        else appendInternalCell(sb, schema(i).dataType, r, i, ctx,
          schema(i).name)
        s += 1
      }
      out.println(sb)
    }

    /** Close the file, raising if any write failed. */
    def finish(): Unit = {
      out.close()
      GdxSource.failOnWriteError(out, path)
    }

    def close(): Unit = out.close()

    /** The file's manifest stats, after [[finish]]; `sums` are the
      * per-column SUM stats, when the writer keeps them. */
    def stats(sums: Map[String, (Long, Long)]): GdxFileStats =
      GdxFileStats(n, minK, maxK, ext.result(e => lanes(e).name), sums,
        Some(counter.count))
  }

  // The RDD task functions over data files live here, not in
  // GdxSource: Spark's closure cleaner reads and parses the class that
  // declares each closure, and this one is a fraction of GdxSource's.

  private def slices(sc: SparkContext, n: Int): Int =
    math.min(math.max(n, 1), sc.defaultParallelism)

  /** `r`'s rows through `f`, closing the file when they run out. */
  private def rowsOf(r: Reader)(f: InternalRow => InternalRow)
      : Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var ahead = false
      private var more = true
      def hasNext: Boolean = {
        if (!ahead && more) {
          more = r.next(); ahead = true
          if (!more) r.close()
        }
        more
      }
      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        ahead = false
        f(r.get())
      }
    }

  /** The live rows of `files` — (entry name, path, DV path, escaped) —
    * as `(_file, _pos, required...)` rows. */
  private[graft] def liveRows(sc: SparkContext,
      files: Seq[(String, String, Option[String], Boolean)],
      required: StructType, stored: StructType,
      conf: SerializableHadoopConf): RDD[InternalRow] =
    sc.parallelize(files, slices(sc, files.size)).flatMap {
      case (name, path, dv, esc) =>
        val file = UTF8String.fromString(name)
        val r = new Reader(path, Array.empty, -1, conf, required, stored,
          dv, esc)
        rowsOf(r)(row => new JoinedRow(InternalRow(file, r.pos), row))
    }

  /** One changefeed read: the rows of `file` (DV `dv` skipped, and with
    * `only`, every position that sidecar does not list) as `change` rows
    * of `version`. */
  private[graft] final case class ChangeRead(version: Int, change: String,
      file: String, dv: Option[String], only: Option[String], esc: Boolean)

  /** The rows of `reads` as `(version, change_type, required...)`. */
  private[graft] def changeRows(sc: SparkContext, reads: Seq[ChangeRead],
      required: StructType, stored: StructType,
      conf: SerializableHadoopConf): RDD[InternalRow] =
    sc.parallelize(reads, slices(sc, reads.size)).flatMap { t =>
      val lead = InternalRow(t.version, UTF8String.fromString(t.change))
      rowsOf(new Reader(t.file, Array.empty, -1, conf, required, stored,
        t.dv, t.esc, t.only))(new JoinedRow(lead, _))
    }

  /** The engine's DV write over `(_file, _pos, _act)` rows: one
    * `dv-<uuid>.dvx` sidecar per file with an applied position (`_act`
    * 1 or 2), holding the file's existing DV positions (`dvByName`)
    * plus the applied ones. Returns per file its name, the new
    * sidecar's name (null when none is written), the positions applied
    * as UPDATE (1) and as DELETE (2), and whether a position came twice
    * — such a file gets no sidecar. */
  private[graft] def writeDvs(positions: RDD[InternalRow], dir: String,
      dvByName: Map[String, Option[String]], conf: SerializableHadoopConf)
      : Array[(String, String, Long, Long, Boolean)] =
    positions
      .mapPartitions { rows =>
        // packed map-side as `_pos << 2 | _act`: the shuffle moves one
        // primitive array per (partition, file), not a record per row
        val byFile = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
        rows.foreach { r =>
          byFile.getOrElseUpdate(r.getUTF8String(0).toString,
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
          val base = new Path(dir)
          val fs = base.getFileSystem(conf.conf)
          val old = dvByName(name).map(d =>
            readDvPositions(fs, GdxSource.entryPath(dir, d)))
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
}
