package graft

import graft.FaultingFileSystem.failingWrites
import graft.sources.{GdxMergeClause, GdxSource}

/** GDX writers under injected write faults ([[FaultingFileSystem]]): a
  * data file, DV sidecar or manifest whose bytes never reached the disk
  * fails its operation, and no version is published — a truncated file
  * must never be committed with stats that claim every row. */
class GdxWriteFaultSpec extends SparkSuite with RefusalHelper {
  import spark.implicits._

  private val fmt = "graft.sources.GdxSource"

  /** A two-row table on local disk; returns its plain path and the
    * same directory under the faulting scheme. */
  private def table(tag: String): (String, String) = {
    FaultingFileSystem.bind(spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory(s"gdxfault_$tag")
      .toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.format(fmt)
      .option("path", dir).mode("append").save()
    (dir, s"${FaultingFileSystem.Scheme}://$dir")
  }

  private def rows(dir: String): Seq[(Long, String)] =
    spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String)].collect().sorted.toSeq

  private def append(dir: String, rs: Seq[(Long, String)]): Unit =
    rs.toDF("k", "v").write.format(fmt).option("path", dir)
      .mode("append").save()

  private def upsert(dir: String, rs: Seq[(Long, String)]): Int = {
    val all = Some(Seq("k" -> "__s_k", "v" -> "__s_v"))
    GdxSource.mergeGeneral(spark, dir, rs.toDF("__s_k", "__s_v"),
      "__t_k = __s_k", matched = Seq(GdxMergeClause(None, all)),
      notMatched = Seq(GdxMergeClause(None, all)),
      notMatchedBySource = Nil, pruneKeySql = Some("__s_k"))._1
  }

  /** `op` must raise, leaving the versions and rows as they were. */
  private def refused(dir: String)(op: => Any): Throwable = {
    val conf = GdxSource.driverConf()
    val versions = GdxSource.listVersions(dir, conf)
    val before = rows(dir)
    val e = intercept[Exception](op)
    assert(GdxSource.listVersions(dir, conf) === versions)
    assert(rows(dir) === before)
    e
  }

  test("the faulting scheme reads and commits like the local disk " +
      "while no fault is armed") {
    val (dir, fdir) = table("control")
    append(fdir, Seq((3L, "c")))
    upsert(fdir, Seq((1L, "A"), (4L, "d")))
    assert(rows(dir) === Seq((1L, "A"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(GdxSource.listVersions(dir, GdxSource.driverConf()) ===
      Seq(1, 2, 3))
  }

  test("a failed data-file write fails the append") {
    val (dir, fdir) = table("append")
    refused(dir)(failingWrites(_.endsWith(".gdx.tmp"))(
      append(fdir, Seq((3L, "c")))))
  }

  test("a failed image or DV write fails the MERGE") {
    val (dir, fdir) = table("merge")
    refused(dir)(failingWrites(_.startsWith("upd-"))(
      upsert(fdir, Seq((1L, "A"), (4L, "d")))))
    refused(dir)(failingWrites(_.startsWith("dv-"))(
      upsert(fdir, Seq((1L, "A"), (4L, "d")))))
  }

  test("a failed data-file create fails every OPTIMIZE rewrite: nothing " +
      "is published and vacuum sweeps what it wrote") {
    val dataFile: String => Boolean =
      n => n.startsWith("upd-") && n.endsWith(".gdx")
    val (dir, fdir) = table("optimize")
    append(fdir, Seq((3L, "c")))
    refusedAfterWrites(Seq(dir), rows(dir))(failingWrites(dataFile)(
      GdxSource.compact(spark, fdir, target = 1)))
    refusedAfterWrites(Seq(dir), rows(dir))(failingWrites(dataFile)(
      GdxSource.optimizeZOrder(spark, fdir, Seq("k"), target = 2)))
    // OPTIMIZE WHERE on a partitioned table: two appends fragment p=1
    val pdir = java.nio.file.Files.createTempDirectory("gdxfault_where")
      .toString + "/t"
    val pfdir = s"${FaultingFileSystem.Scheme}://$pdir"
    for (ks <- Seq(1L to 4L, 5L to 8L))
      ks.map(k => (k, s"v$k", k % 2)).toDF("k", "v", "p").write
        .format(fmt).option("path", pdir).option("partitionBy", "p")
        .mode("append").save()
    def prows = spark.read.format(fmt).option("path", pdir).load()
      .collect().toSet
    refusedAfterWrites(Seq(pdir), prows)(failingWrites(dataFile)(
      GdxSource.compactWhere(spark, pfdir, "p = 1")))
  }

  test("a failed manifest write fails publishExclusive and leaves no " +
      "temp behind") {
    val (dir, fdir) = table("publish")
    val conf = GdxSource.driverConf()
    val next = GdxSource.listVersions(dir, conf).max + 1
    val fs = new org.apache.hadoop.fs.Path(fdir).getFileSystem(conf)
    val e = refused(dir)(failingWrites(_.contains(".tmp-"))(
      GdxSource.publishExclusive(fs, conf,
        GdxSource.manifestFor(fdir, next), Seq("one line"))))
    assert(e.isInstanceOf[java.io.IOException], e)
    assert(!new java.io.File(dir).list().exists(_.contains(".tmp-")))
  }
}
