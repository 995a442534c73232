package graft

import graft.sources.GdxSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}

/** Zone-map file skipping on o5_minmax_skipping's GDX layout (orders
  * range-clustered on o_totalprice into 16 files): the planned file
  * list must actually shrink, stay a sound superset (pruned read ≡
  * full-scan filter), and handle the empty-band edge. */
class SkippingSpec extends SparkSuite {

  private val fmt = "graft.sources.GdxSource"

  private def layOut(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_skip")
      .resolve("t").toString
    Tables.orders(spark, sf())
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("v"),
        col("o_custkey"), col("o_totalprice"))
      .repartitionByRange(16, col("o_totalprice"))
      .write.format(fmt).option("path", dir).mode("overwrite").save()
    dir
  }

  private def band(lo: Double, hi: Double) =
    Seq(GreaterThanOrEqual("o_totalprice", lo),
      LessThanOrEqual("o_totalprice", hi))

  private def read(dir: String) =
    spark.read.format(fmt).option("path", dir).load()

  test("manifest covers every file and every row") {
    val dir = layOut()
    val entries = GdxSource.committedEntries(dir, GdxSource.driverConf())
    assert(entries.size === 16)
    assert(entries.map(_.stats.get.rows).sum ===
      Tables.orders(spark, sf()).count())
  }

  test("range probe opens only intersecting files; result is exact") {
    val dir = layOut()
    val (planned, nFiles) = GdxSource.plannedFiles(dir, band(30000.0, 60000.0))
    assert(nFiles === 16)
    assert(planned >= 1 && planned < nFiles / 2,
      s"range-clustered layout must prune: $planned of $nFiles files")
    val pruned = read(dir)
      .filter(col("o_totalprice").between(30000.0, 60000.0))
      .select("k").orderBy("k").collect().toSeq
    val full = Tables.orders(spark, sf())
      .filter(col("o_totalprice").between(30000.0, 60000.0))
      .select("o_orderkey").orderBy("o_orderkey").collect().toSeq
    assert(pruned.nonEmpty && pruned === full)
  }

  test("band outside the domain prunes everything and returns empty") {
    val dir = layOut()
    assert(GdxSource.plannedFiles(dir, band(-2e9, -1e9))._1 === 0)
    assert(read(dir).filter(col("o_totalprice").between(-2e9, -1e9))
      .count() === 0L)
  }
}
