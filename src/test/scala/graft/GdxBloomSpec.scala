package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, In,
  LessThan}
import graft.sources.{GdxBloom, GdxSource}

/** Per-file bloom sidecars on the GDX format (GdxBloom): point lookups
  * must prune files a zone map cannot — and never change answers,
  * because pushed k-predicates are re-evaluated row-level. */
class GdxBloomSpec extends SparkSuite {
  import spark.implicits._

  private val fmt = "graft.sources.GdxSource"

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gdxbf_$tag").toString

  private def read(dir: String) =
    spark.read.format(fmt).option("path", dir).load()

  /** Round-robin layout: every file spans ~the full key domain, so
    * zone maps are useless for point lookups — the bloom's home turf. */
  private def buildRoundRobin(dir: String, n: Int = 8000,
                              files: Int = 8): Unit =
    (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(files)
      .write.format(fmt).option("path", dir).mode("overwrite").save()

  test("point lookups prune files zone maps cannot") {
    val dir = freshDir("pt")
    buildRoundRobin(dir)
    val entries = GdxSource.committedEntries(dir, GdxSource.driverConf())
    val probe = Seq(EqualTo("k", 4242L))
    // zone maps alone keep everything (each file's [min,max] covers
    // the key)...
    assert(GdxSource.pruneByStats(entries, probe).size === entries.size,
      "round-robin layout must defeat zone maps")
    // ...the bloom plans ~1 file (false positives may add a stray one)
    val (kept, total) = GdxSource.plannedFiles(dir, probe)
    assert(kept < total && kept >= 1, s"bloom must prune ($kept/$total)")
    // IN-list: union of candidate files, still well under the table
    val keys = Seq(11L, 997L, 4242L, 7007L)
    val (inKept, _) = GdxSource.plannedFiles(dir,
      Seq(In("k", keys.map(_.asInstanceOf[AnyRef]).toArray)))
    assert(inKept < total, s"IN-lookup must prune ($inKept/$total)")
    // answers are bloom-independent: the pushed predicate re-checks
    // row-level
    assert(read(dir).filter(col("k") === 4242L).select("v")
      .as[String].collect().toSeq === Seq("v4242"))
    assert(read(dir).filter(col("k").isin(keys: _*)).count() ===
      keys.length.toLong)
    // an absent key plans (almost) nothing and returns nothing
    val (missKept, _) = GdxSource.plannedFiles(dir,
      Seq(EqualTo("k", 999999L)))
    assert(missKept < total)
    assert(read(dir).filter(col("k") === 999999L).count() === 0L)
  }

  test("missing sidecars disable pruning, never correctness") {
    val dir = freshDir("nosc")
    buildRoundRobin(dir, n = 2000, files = 4)
    // simulate a legacy table: delete every sidecar
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".bfx")).foreach(_.delete())
    val (kept, total) = GdxSource.plannedFiles(dir,
      Seq(EqualTo("k", 77L)))
    assert(kept === total, "no sidecar -> cannot prune")
    assert(read(dir).filter(col("k") === 77L).count() === 1L)
  }

  test("sidecars follow rewrites and die with vacuum") {
    val dir = freshDir("lifec")
    buildRoundRobin(dir, n = 2000, files = 8)
    def sidecars() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".bfx")).map(_.getName).toSet
    def dataFiles() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gdx")).map(_.getName).toSet
    assert(sidecars() === dataFiles().map(_ + ".bfx"))
    // a compaction rewrite produces fresh files WITH fresh sidecars
    GdxSource.compact(spark, dir, target = 2)
    assert(sidecars() === dataFiles().map(_ + ".bfx"))
    // vacuum reaps superseded data files AND their sidecars together
    GdxSource.vacuum(dir, GdxSource.driverConf(), keepLast = 1)
    assert(sidecars() === dataFiles().map(_ + ".bfx"))
    assert(dataFiles().size === 2)
    // lookups still prune and still answer on the compacted layout
    val (kept, total) = GdxSource.plannedFiles(dir, Seq(EqualTo("k", 5L)))
    assert(kept <= total)
    assert(read(dir).filter(col("k") === 5L).count() === 1L)
  }

  test("bloom composes with zone maps and stays DV-conservative") {
    val dir = freshDir("dv")
    buildRoundRobin(dir, n = 4000, files = 8)
    // range + point compose: the range prunes by zone map only when
    // provable, the point by bloom — conjunction keeps the
    // intersection
    val (bothKept, total) = GdxSource.plannedFiles(dir,
      Seq(GreaterThanOrEqual("k", 0L), LessThan("k", 5000L),
        EqualTo("k", 123L)))
    assert(bothKept < total)
    // a DV'd delete leaves the (now-stale) bloom a SUPERSET — the
    // planned file returns no row because the DV subtracts it
    GdxSource.delete(spark, dir, col("k") === 123L)
    assert(read(dir).filter(col("k") === 123L).count() === 0L)
  }

  test("every write path publishes one stats set: DSv2, DML, staged " +
      "and OPTIMIZE files all carry blooms and SUM stats") {
    val cat = "gdx_bfstats"
    val wh = graft.Scratch.tablePath("gdxbf_stats_")
    val s = graft.Sessions.pinned(
      org.apache.spark.sql.graft.ColumnBridge
        .sessionWithExtensions(spark, new GraftExtensions()),
      s"spark.sql.catalog.$cat" -> "graft.sources.GdxCatalog",
      s"spark.sql.catalog.$cat.warehouse" -> wh)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    s.sql(s"CREATE TABLE $cat.lab.t (k BIGINT, v STRING, w BIGINT)")
    val dir = s"$wh/lab/t"
    val conf = GdxSource.driverConf()
    def rows(ks: Seq[Long]) =
      ks.map(k => (k, s"v$k", k * 10)).toDF("k", "v", "w").coalesce(1)
    def everyFileHasStats(step: String): Unit = {
      // an empty file has no key to bloom
      val live = GdxSource.committedEntries(dir, conf)
        .filter(_.stats.exists(_.rows > 0))
      assert(live.nonEmpty, step)
      live.foreach { e =>
        assert(new java.io.File(dir, e.name + GdxBloom.Suffix).exists(),
          s"$step: ${e.name} has no bloom sidecar")
        assert(Set("k", "w").subsetOf(e.stats.get.sums.keySet),
          s"$step: ${e.name} carries SUM stats for ${e.stats.get.sums}")
      }
    }
    rows(1L to 100L).write.format(fmt).option("path", dir)
      .mode("append").save()
    everyFileHasStats("append")
    GdxSource.update(spark, dir, col("k") === 7L, Map("w" -> lit(700L)))
    everyFileHasStats("update")
    s.sql("BEGIN TRANSACTION")
    s.sql(s"INSERT INTO $cat.lab.t VALUES (101, 'x', 1010), (102, 'y', 1020)")
    s.sql("COMMIT")
    everyFileHasStats("staged insert")
    GdxSource.delete(spark, dir, col("k") === 50L)
    everyFileHasStats("delete")
    GdxSource.compactSmall(spark, dir, smallBytes = 1L << 30)
    everyFileHasStats("compactSmall")
    assert(GdxSource.committedEntries(dir, conf).forall(_.dv.isEmpty),
      "compactSmall folds the DVs")
    // the rewritten file answers SUM from the manifest...
    val sumW = read(dir).agg(sum("w"))
    assert(sumW.queryExecution.executedPlan.toString
      .contains("COMPLETE(manifest)"), sumW.queryExecution.executedPlan)
    assert(sumW.head.getLong(0) ===
      read(dir).select("w").as[Long].collect().sum)
    // ...and its bloom prunes the deleted key its zone map still spans
    assert(GdxSource.plannedFiles(dir, Seq(EqualTo("k", 50L))) === ((0, 1)))
    // an append overlapping every w range gives the recluster work
    rows(Seq(103L, 1L, 99L)).write.format(fmt).option("path", dir)
      .mode("append").save()
    val before = GdxSource.committedEntries(dir, conf).map(_.name).toSet
    GdxSource.optimizeClustered(spark, dir, Seq("w"), target = 2)
    assert(GdxSource.committedEntries(dir, conf).map(_.name).toSet !=
      before, "the recluster must rewrite")
    everyFileHasStats("optimizeClustered")
  }
}
