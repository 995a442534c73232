package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the GDX line format: round-trip fidelity across
  * arbitrary valid payloads, null patterns, and schema evolution. The
  * format's contract is exact value preservation for long/string/double
  * plus \N-marked NULLs; since the escape era ([[GdxLineFormat.escapeCell]])
  * string content is ARBITRARY Unicode — tabs, newlines, commas,
  * parens, backslashes and the literal "\N" all round-trip. */
class GdxPropertySpec extends SparkSuite {

  /** scalatestplus isn't in the offline cache: drive Gen directly with
    * fixed seeds (deterministic across runs). */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxprop_$tag").toString

  private val fmt = "graft.sources.GdxSource"

  // printable-ish strings the unescaped line format accepts; includes
  // unicode, spaces, empty, and near-miss marker strings
  private val vGen: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr.map(_.filterNot(c => c == '\t' || c == '\n' ||
      c == '\r')).suchThat(_ != "\\N"),
    Gen.oneOf("", " ", "héllo wörld", "\\n", "\\\\N", "N\\", "日本語",
      "a b c", "\"quoted\"", "x" * 200))

  private val rowGen: Gen[(Long, String, Option[Double])] = for {
    k <- Gen.chooseNum(Long.MinValue + 1, Long.MaxValue)
    v <- vGen
    w <- Gen.option(Gen.oneOf(Gen.chooseNum(-1e12, 1e12),
      Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, 1.0 / 3.0,
        math.Pi, 1e-300, -1e300)))
  } yield (k, v, w)

  test("property: (k, v) round-trips exactly through write + scan") {
    for (rows <- samples(Gen.listOfN(30, rowGen.map(r => (r._1, r._2))), 10)
         if rows.map(_._1).distinct.size == rows.size) {
      {
        val dir = freshDir("rt")
        rows.toDF("k", "v").repartition(3)
          .write.format(fmt).option("path", dir).mode("append").save()
        val got = spark.read.format(fmt).option("path", dir).load()
          .as[(Long, String)].collect().toSet
        assert(got === rows.toSet)
      }
    }
  }

  test("property: evolved rows round-trip doubles and NULLs exactly") {
    for (rows <- samples(Gen.listOfN(25, rowGen), 10)
         if rows.map(_._1).distinct.size == rows.size) {
      {
        val dir = freshDir("evo")
        // seed classic, evolve, append the full payload
        Seq((Long.MinValue + 1, "seed")).toDF("k", "v")
          .write.format(fmt).option("path", dir).mode("overwrite").save()
        sources.GdxSource.addColumn(dir, "w",
          org.apache.spark.sql.types.DoubleType)
        rows.toDF("k", "v", "w").repartition(2)
          .write.format(fmt).option("path", dir).mode("append").save()
        val got = spark.read.format(fmt).option("path", dir).load()
          .filter(col("v") =!= "seed")
          .as[(Long, String, Option[Double])].collect().toSet
        // doubles must round-trip BIT-exactly (toString/toDouble), so
        // compare raw bits, not numeric equality (NaN-safe, -0.0-safe)
        def bits(r: (Long, String, Option[Double])) =
          (r._1, r._2, r._3.map(java.lang.Double.doubleToRawLongBits))
        assert(got.map(bits) === rows.toSet.map(bits))
      }
    }
  }

  test("property: nested struct cells round-trip exactly — scalars, " +
      "nulls at every level, nested structs, unicode leaf strings") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val meta = StructType(Seq(
      StructField("s", DoubleType),
      StructField("inner", StructType(Seq(
        StructField("a", StringType),
        StructField("b", LongType)))),
      StructField("t", LongType)))
    // leaf strings under the struct vocabulary (no , ( ) tab/newline)
    val leafGen: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.filterNot(c => c == '\t' ||
        c == '\n' || c == '\r' || c == ',' || c == '(' || c == ')'))
        .suchThat(_ != "\\N"),
      Gen.oneOf("", " ", "N", "\\", "\\n", "=x=", "日本語テキスト",
        "naïve café", "a:b<c>d"))
    val cellGen: Gen[Row] = for {
      sOpt <- Gen.option(Gen.chooseNum(-1e9, 1e9))
      innerNull <- Gen.prob(0.2)
      aOpt <- Gen.option(leafGen)
      bOpt <- Gen.option(Gen.chooseNum(Long.MinValue / 2,
        Long.MaxValue / 2))
      tOpt <- Gen.option(Gen.chooseNum(-1000000L, 1000000L))
    } yield Row(
      sOpt.map(Double.box).orNull,
      if (innerNull) null
      else Row(aOpt.orNull, bOpt.map(Long.box).orNull),
      tOpt.map(Long.box).orNull)
    val metaGen: Gen[Row] = Gen.oneOf(
      cellGen, Gen.const(null.asInstanceOf[Row]))
    val rows = samples(metaGen, 300).zipWithIndex.map {
      case (m, i) => Row(i.toLong, s"v$i", m) }
    val dir = freshDir("struct") + "/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("meta", meta)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val back = spark.read.format(fmt).option("path", dir).load()
      .orderBy("k").collect()
    val want = rows.sortBy(_.getLong(0))
    assert(back.length === want.length)
    back.zip(want).foreach { case (g, w) =>
      assert(g.get(2) === w.get(2), s"row ${w.getLong(0)}") }
    // the DML substrate's external decode agrees with the scan's
    val viaLive = graft.sources.GdxSource
      .tableChanges(spark, dir, 0, 1).orderBy("k").collect()
    viaLive.zip(want).foreach { case (g, w) =>
      assert(g.getAs[Any]("meta") === w.get(2),
        s"external row ${w.getLong(0)}") }
  }

  test("property: array<struct> cells round-trip exactly — variable " +
      "lengths, empty arrays, NULL cells, null element leaves") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val leafGen: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.filterNot(c => c == '\t' ||
        c == '\n' || c == '\r' || c == ',' || c == '(' || c == ')'))
        .suchThat(_ != "\\N"),
      Gen.oneOf("", " ", "N", "\\", "=x=", "日本語", "a:b<c>d"))
    val turn = StructType(Seq(StructField("role", StringType),
      StructField("content", StringType), StructField("n", LongType)))
    val turnGen: Gen[Row] = for {
      r <- Gen.option(leafGen)
      c <- Gen.option(leafGen)
      n <- Gen.option(Gen.chooseNum(-1000000L, 1000000L))
    } yield Row(r.orNull, c.orNull, n.map(Long.box).orNull)
    val msgsGen: Gen[Seq[Row]] = Gen.oneOf(
      Gen.chooseNum(0, 5).flatMap(n => Gen.listOfN(n, turnGen))
        .map(_.toSeq),
      Gen.const(null.asInstanceOf[Seq[Row]]))
    val rows = samples(msgsGen, 300).zipWithIndex.map {
      case (m, i) => Row(i.toLong, s"v$i", m) }
    val dir = freshDir("arrstruct") + "/t"
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType),
      StructField("messages", ArrayType(turn))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    val back = spark.read.format(fmt).option("path", dir).load()
      .orderBy("k").collect()
    val want = rows.sortBy(_.getLong(0))
    assert(back.length === want.length)
    back.zip(want).foreach { case (g, w) =>
      val gm = Option(g.getSeq[Row](2)).map(_.toSeq).orNull
      assert(gm === w.get(2), s"row ${w.getLong(0)}") }
    // the DML substrate's external decode agrees with the scan's
    graft.sources.GdxSource.tableChanges(spark, dir, 0, 1)
      .orderBy("k").collect().zip(want).foreach { case (g, w) =>
        val gm = Option(g.getAs[scala.collection.Seq[Row]]("messages"))
          .map(_.toSeq).orNull
        assert(gm === w.get(2), s"external row ${w.getLong(0)}") }
  }

  test("property: map cells round-trip exactly — string values keep " +
      "the full paren vocabulary, struct values nest") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val keyGen: Gen[String] = Gen.asciiPrintableStr
      .map(_.filterNot(c => c == '\t' || c == '\n' || c == '\r' ||
        c == ',' || c == '='))
      .suchThat(_ != "\\N")
    // string-map VALUES may carry parens — the vocabulary class the
    // depth splitter must never be applied to
    val sValGen: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.filterNot(c => c == '\t' ||
        c == '\n' || c == '\r' || c == ',')).suchThat(_ != "\\N"),
      Gen.oneOf("x(y", "z)w", "((", "))(", "a=b", ""))
    val smGen: Gen[Map[String, String]] = Gen.chooseNum(0, 6)
      .flatMap(n => Gen.mapOfN(n, Gen.zip(keyGen, sValGen)))
    val smRows = samples(smGen, 200).zipWithIndex.map {
      case (m, i) => Row(i.toLong, m) }
    val smDir = freshDir("smap") + "/t"
    spark.createDataFrame(
      spark.sparkContext.parallelize(smRows, 4),
      StructType(Seq(StructField("k", LongType),
        StructField("m", MapType(StringType, StringType)))))
      .write.format(fmt).option("path", smDir).mode("overwrite").save()
    spark.read.format(fmt).option("path", smDir).load()
      .orderBy("k").collect()
      .zip(smRows.sortBy(_.getLong(0))).foreach { case (g, w) =>
        assert(g.getMap[String, String](1).toMap ===
          w.getMap[String, String](1), s"string map ${w.getLong(0)}") }
    // struct-valued: keys additionally ban parens (depth splitter)
    val svKeyGen = keyGen.map(_.filterNot(c => c == '(' || c == ')'))
    val cell = StructType(Seq(StructField("v", DoubleType),
      StructField("n", LongType)))
    val svGen: Gen[Map[String, Row]] = Gen.chooseNum(0, 5)
      .flatMap(n => Gen.mapOfN(n, Gen.zip(svKeyGen, for {
        v <- Gen.option(Gen.chooseNum(-1e9, 1e9))
        m <- Gen.option(Gen.chooseNum(-1000000L, 1000000L))
      } yield Row(v.map(Double.box).orNull, m.map(Long.box).orNull))))
    val svRows = samples(svGen, 200).zipWithIndex.map {
      case (m, i) => Row(i.toLong, m) }
    val svDir = freshDir("svmap") + "/t"
    spark.createDataFrame(
      spark.sparkContext.parallelize(svRows, 4),
      StructType(Seq(StructField("k", LongType),
        StructField("m", MapType(StringType, cell)))))
      .write.format(fmt).option("path", svDir).mode("overwrite").save()
    spark.read.format(fmt).option("path", svDir).load()
      .orderBy("k").collect()
      .zip(svRows.sortBy(_.getLong(0))).foreach { case (g, w) =>
        assert(g.getMap[String, Row](1).toMap ===
          w.getMap[String, Row](1), s"struct map ${w.getLong(0)}") }
  }

  // arbitrary VALID Unicode (the file is UTF-8: lone surrogates are
  // not representable, everything else is): code points across the
  // whole plane range, surrogate block excluded
  private val unicodeGen: Gen[String] = Gen.listOf(
    Gen.frequency(
      6 -> Gen.chooseNum(0x20, 0x7E),
      2 -> Gen.oneOf('\t'.toInt, '\n'.toInt, '\r'.toInt, ','.toInt,
        '('.toInt, ')'.toInt, '='.toInt, '\\'.toInt, ';'.toInt,
        '.'.toInt),
      1 -> Gen.chooseNum(0x0, 0xD7FF),
      1 -> Gen.chooseNum(0xE000, 0x10FFFF)))
    .map(_.flatMap(Character.toChars(_).toSeq).mkString)

  test("property: escapeCell/unescapeCell invert over arbitrary " +
      "Unicode, canonical bytes hold, and escaped text is " +
      "structurally inert") {
    val strs = samples(unicodeGen, 2000)
    assert(strs.exists(_.exists(c => c == ',' || c == '\n')))
    for (s <- strs) {
      val e = sources.GdxLineFormat.escapeCell(s)
      assert(sources.GdxLineFormat.unescapeCell(e) === s)
      // no raw structural character survives escaping
      assert(!e.exists(c => c == '\t' || c == '\n' || c == '\r' ||
        c == ',' || c == '(' || c == ')' || c == '='))
      // the raw NULL marker is unreachable from any VALUE
      assert(e != sources.GdxLineFormat.NullMarker)
    }
    // injectivity on a dense sample = canonical bytes (equal values
    // always produce equal cell text; distinct values distinct text)
    assert(strs.distinct.map(sources.GdxLineFormat.escapeCell)
      .distinct.size === strs.distinct.size)
  }

  test("property: arbitrary Unicode round-trips through BOTH decode " +
      "surfaces — the DSv2 scan and the changefeed") {
    for (vs <- samples(Gen.listOfN(25, unicodeGen), 3)) {
      val dir = freshDir("uni")
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      rows.toDF("k", "v").repartition(2)
        .write.format(fmt).option("path", dir).mode("append").save()
      // the DSv2 scan's PartitionReader
      val got = spark.read.format(fmt).option("path", dir).load()
        .as[(Long, String)].collect().toSet
      assert(got === rows.toSet)
      // the changefeed surface: tableChanges decodes the same lines
      // through the scan's reader, inside its own LogicalRDD
      val cdf = sources.GdxSource.tableChanges(spark, dir, 0, 1)
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(cdf === rows.toSet)
    }
  }

  test("property: VARIANT cells round-trip arbitrary Unicode field " +
      "values through the JSON + escape layers (both decode surfaces)") {
    val fieldGen = for {
      s <- unicodeGen
      n <- Gen.chooseNum(Long.MinValue + 1, Long.MaxValue)
      b <- Gen.oneOf(true, false)
      present <- Gen.oneOf(true, false)
    } yield (s, n, b, present)
    for (vs <- samples(Gen.listOfN(20, fieldGen), 3)) {
      val dir = freshDir("var")
      val rows = vs.zipWithIndex.map { case ((s, n, b, p), i) =>
        (i.toLong, s, n, b, p) }
      // the JSON is built by Spark's own encoder (to_json escapes the
      // content), the cell by the escape codec — the property is that
      // the COMPOSITION inverts exactly, optional key included
      rows.toDF("k", "s", "n", "b", "p")
        .select(col("k"), parse_json(to_json(struct(col("s"), col("n"),
          col("b"),
          when(col("p"), col("k")).otherwise(lit(null)).as("opt"))))
          .as("v"))
        .write.format(fmt).option("path", dir).mode("append").save()
      val got = spark.read.format(fmt).option("path", dir).load()
        .select(col("k"),
          variant_get(col("v"), "$.s", "string").as("s"),
          variant_get(col("v"), "$.n", "long").as("n"),
          variant_get(col("v"), "$.b", "boolean").as("b"),
          variant_get(col("v"), "$.opt", "long").isNotNull.as("p"))
        .as[(Long, String, Long, Boolean, Boolean)].collect().toSet
      assert(got === rows.toSet)
      // the changefeed surface: tableChanges decodes the same cells
      // into VariantVal columns
      val cdf = sources.GdxSource.tableChanges(spark, dir, 0, 1)
        .select(col("k"),
          variant_get(col("v"), "$.s", "string").as("s"))
        .as[(Long, String)].collect().toSet
      assert(cdf === rows.map(r => (r._1, r._2)).toSet)
    }
  }

  test("era mixing: legacy (unescaped) files keep decoding raw — a " +
      "backslash-bearing legacy cell is NOT unescaped") {
    val dir = freshDir("legacy")
    // a modern commit first, to obtain a real manifest to rewrite
    Seq((1L, "modern, escaped (v2)"), (2L, "legacy\\cell"))
      .toDF("k", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode("append").save()
    val conf = sources.GdxSource.driverConf()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(conf)
    // forge a LEGACY era: rewrite the data file with RAW (unescaped)
    // bytes and strip the manifest's e: overlay — exactly what a
    // pre-escape writer produced
    val entries = sources.GdxSource.committedEntries(dir, conf)
    assert(entries.forall(_.escaped))
    val name = entries.head.name
    val dataPath = new org.apache.hadoop.fs.Path(dir, name)
    val legacyLines = Seq("1\tmodern raw", "2\tlegacy\\cell")
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(
        fs.create(dataPath, true), "UTF-8"))
    legacyLines.foreach(out.println); out.close()
    val mf = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("_manifest-"))
      .maxBy(_.getName)
    val mLines = scala.io.Source.fromInputStream(fs.open(mf), "UTF-8")
      .getLines().toList
    val stripped = mLines.map(l =>
      if (l.startsWith("#")) l
      else l.split('\t').filterNot(_.startsWith("e:")).mkString("\t"))
    val mo = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(fs.create(mf, true), "UTF-8"))
    stripped.foreach(mo.println); mo.close()
    // the backslash is CONTENT in the legacy era, not an escape
    val got = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String)].collect().toMap
    assert(got(2L) === "legacy\\cell")
    assert(got(1L) === "modern raw")
  }

  test("property: truncated string bounds are real bounds — lower ≤ " +
      "value, upper dominates every prefix-sharing extension, and " +
      "the stat escape round-trips") {
    val gdx = sources.GdxLineFormat
    val strs = samples(unicodeGen, 1500) ++ Seq(
      "", "exactly16chars!!", "x" * 17, "￿" * 20,
      "a" * 15 + "😀" + "tail", // pair straddles the cut
      "a" * 14 + "😀" + "tail", // pair ends at the cut
      "prefix.with;dots" + "y" * 30)
    for (s <- strs) {
      val lo = gdx.truncLowerBound(s)
      assert(lo.compareTo(s) <= 0, s"lower bound above the value: $s")
      gdx.truncUpperBound(s).foreach { up =>
        assert(s.compareTo(up) <= 0 &&
          (s.length <= 16 || s.compareTo(up) < 0),
          s"upper bound below the value")
        // every extension sharing the value's window stays below a
        // TRUNCATED upper bound (exact short bounds are inclusive)
        if (s.length > 16)
          for (suffix <- Seq("", "a", "￿￿", " z"))
            assert((s + suffix).compareTo(up) < 0,
              s"extension escapes the bound")
        // bounds must store as valid encodable text (no stranded
        // surrogate halves)
        assert(new String(up.getBytes("UTF-8"), "UTF-8") == up)
      }
      // the stat escape inverts through the shared unescape and emits
      // none of the overlay's delimiters
      val esc = gdx.escapeStatText(s)
      assert(gdx.unescapeCell(esc) === s)
      assert(!esc.exists(c => c == '.' || c == ';' || c == '\t' ||
        c == '=' || c == '\n'))
    }
    // all-U+FFFF windows are unboundable: publish nothing
    assert(gdx.truncUpperBound("￿" * 20).isEmpty)
  }

  test("line-format-breaking strings round-trip under the escape era") {
    // the pre-escape writer refused these loudly; they now encode and
    // read back exactly (tab/newline/CR, a literal \N, lone and
    // doubled backslashes, and every structural character at once)
    for (v <- Seq("a\tb", "a\nb", "a\rb", "\\N", "a\\", "a\\\\b",
        "x,=()\\\t\r\n\\N(end")) {
      val dir = freshDir("rej")
      Seq((1L, v)).toDF("k", "v")
        .write.format(fmt).option("path", dir).mode("append").save()
      val got = spark.read.format(fmt).option("path", dir).load()
        .head.getString(1)
      assert(got === v, s"round-trip of ${v.replace("\t", "<TAB>")}")
    }
  }
}
