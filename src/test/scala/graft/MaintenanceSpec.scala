package graft

import graft.pipeline.TableSwap

/** Versioned marker-commit promote (TableSwap) semantics. */
class MaintenanceSpec extends SparkSuite {
  import spark.implicits._

  test("versioned promote: marker commit is the visibility point") {
    val base = java.nio.file.Files.createTempDirectory("graft_vswap")
    val root = "file:" + base.resolve("t").toString
    def writeTag(path: String, tag: Long): Unit =
      Seq(tag).toDF("tag").write.mode("overwrite").parquet(path)
    assert(TableSwap.liveVersionPath(root).isEmpty)
    // first promote → v=1 live
    val (v1, dst1) = TableSwap.nextVersion(root)
    assert(v1 === 1)
    writeTag(dst1, 1L)
    TableSwap.commitVersion(root, v1)
    assert(spark.read.parquet(TableSwap.liveVersionPath(root).get)
      .as[Long].head() === 1L)
    // direct write into the next slot: INVISIBLE until the marker lands
    val (v2, dst2) = TableSwap.nextVersion(root)
    assert(v2 === 2)
    writeTag(dst2, 2L)
    assert(TableSwap.liveVersionPath(root).get.endsWith("v=1"),
      "uncommitted data must not be readable")
    TableSwap.commitVersion(root, v2)
    assert(spark.read.parquet(TableSwap.liveVersionPath(root).get)
      .as[Long].head() === 2L)
    // double-commit of the same version = lost race, loud error
    intercept[java.io.IOException] { TableSwap.commitVersion(root, v2) }
  }

  test("versioned promote: crash between write and commit is invisible " +
       "and its version number is never reused") {
    val base = java.nio.file.Files.createTempDirectory("graft_vcrash")
    val root = "file:" + base.resolve("t").toString
    def writeTag(path: String, tag: Long): Unit =
      Seq(tag).toDF("tag").write.mode("overwrite").parquet(path)
    val (v1, dst1) = TableSwap.nextVersion(root)
    writeTag(dst1, 1L)
    TableSwap.commitVersion(root, v1)
    // simulate a crashed writer: data landed in v=2, marker never written
    val (vOrphan, dstOrphan) = TableSwap.nextVersion(root)
    writeTag(dstOrphan, 99L)
    assert(spark.read.parquet(TableSwap.liveVersionPath(root).get)
      .as[Long].head() === 1L, "orphan must stay invisible")
    // the next writer burns the orphan's number rather than reusing it
    val (vNext, dstNext) = TableSwap.nextVersion(root)
    assert(vNext === vOrphan + 1)
    writeTag(dstNext, 3L)
    TableSwap.commitVersion(root, vNext)
    assert(spark.read.parquet(TableSwap.liveVersionPath(root).get)
      .as[Long].head() === 3L)
    // vacuum drops the orphan (below latest) but keeps keepLast committed
    TableSwap.vacuumVersions(root, keepLast = 2)
    assert(!new java.io.File(base.resolve("t/v=" + vOrphan).toString)
      .exists(), "orphan vacuumed")
    assert(new java.io.File(base.resolve("t/v=1").toString).exists(),
      "previous committed version retained for keepLast=2")
  }
}
