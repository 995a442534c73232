package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Versioned promote — an object-store-safe commit protocol for a
  * table directory written without a transactional format (the same
  * numbered-marker idea as GdxSource's `_manifest-%08d` snapshot log).
  *
  * Layout:  root/v=N/…data…   root/_commit-0000000N   (marker file)
  *
  * Data lands under a FRESH `v=N` prefix nobody reads yet, then ONE
  * single-object marker PUT makes it live — readers resolve the table
  * to `v=max(committed N)`. No rename is ever required for crash
  * safety: a crash before the marker leaves an invisible orphan dir
  * (vacuumed later, its number never reused); a crash after the marker
  * is a completed promote. The marker is created with overwrite=false,
  * so two racing writers can't both claim the same version — the loser
  * gets an error, not a corrupt table.
  *
  * Substrate: the Hadoop `FileSystem` API, so the same protocol runs on
  * the local FS (`file://`), HDFS, or any mounted Hadoop filesystem —
  * pass the job's `hadoopConfiguration` so scheme resolution and
  * credentials match the Spark session's. Materialized-view summary
  * generations (`MvRewrite`) are its user.
  * Plain throws — never assert, which -Xelide-below would strip. */
object TableSwap {

  private def fsFor(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf)

  private val MarkerPrefix = "_commit-"
  private def markerFor(root: Path, v: Int) =
    new Path(root, f"$MarkerPrefix$v%08d")
  private def versionDir(root: Path, v: Int) = new Path(root, s"v=$v")

  /** Committed versions, ascending (empty for a fresh root). One LIST. */
  def committedVersions(tableRoot: String,
                        conf: Configuration = new Configuration()): Seq[Int] = {
    val root = new Path(tableRoot)
    val fs = fsFor(root, conf)
    if (!fs.exists(root)) Seq.empty
    else fs.globStatus(new Path(root, MarkerPrefix + "*")).toSeq
      .map(_.getPath.getName.stripPrefix(MarkerPrefix).toInt).sorted
  }

  /** The live data directory (`root/v=N` for the max committed N), or
    * None if nothing was ever committed. */
  def liveVersionPath(tableRoot: String,
                      conf: Configuration = new Configuration())
      : Option[String] =
    committedVersions(tableRoot, conf).lastOption
      .map(v => versionDir(new Path(tableRoot), v).toString)

  /** Allocate the next version's data directory for a DIRECT write
    * (returns (version, path)). Skips both committed versions and any
    * orphaned uncommitted `v=K` dir from a crashed writer — an orphan's
    * contents are unknown, so its number is burned, never reused. */
  def nextVersion(tableRoot: String,
                  conf: Configuration = new Configuration())
      : (Int, String) = {
    val root = new Path(tableRoot)
    val fs = fsFor(root, conf)
    val dirs =
      if (!fs.exists(root)) Seq.empty
      else fs.globStatus(new Path(root, "v=*")).toSeq
        .map(_.getPath.getName.stripPrefix("v=").toInt)
    val v = (committedVersions(tableRoot, conf) ++ dirs)
      .foldLeft(0)(math.max) + 1
    (v, versionDir(root, v).toString)
  }

  /** Publish version `v`: one marker create with overwrite=false — the
    * atomic single-object commit point. Throws if the marker exists
    * (another writer won the race for this version). */
  def commitVersion(tableRoot: String, v: Int,
                    conf: Configuration = new Configuration()): Unit = {
    val root = new Path(tableRoot)
    val fs = fsFor(root, conf)
    if (!fs.exists(root)) fs.mkdirs(root)
    val marker = markerFor(root, v)
    val out =
      try fs.create(marker, false)
      catch { case e: java.io.IOException =>
        throw new java.io.IOException(
          s"version $v already committed at $marker — concurrent writer?", e)
      }
    try out.write(s"v=$v\n".getBytes("UTF-8")) finally out.close()
  }

  /** Drop old committed versions beyond the `keepLast` newest, plus any
    * orphaned uncommitted dir BELOW the latest committed version (an
    * orphan above it may be a promote in flight — never touch it).
    * Markers drop before data so a crashed vacuum can't leave a marker
    * pointing at a half-deleted dir as the resolvable latest. Returns
    * the number of directories removed. */
  def vacuumVersions(tableRoot: String,
                     conf: Configuration = new Configuration(),
                     keepLast: Int = 2): Int = {
    require(keepLast >= 1, "vacuumVersions: must retain the live version")
    val root = new Path(tableRoot)
    val fs = fsFor(root, conf)
    val committed = committedVersions(tableRoot, conf)
    if (committed.isEmpty) return 0
    val latest = committed.last
    val keep = committed.takeRight(keepLast).toSet
    val victims = fs.globStatus(new Path(root, "v=*")).toSeq
      .map(_.getPath.getName.stripPrefix("v=").toInt)
      .filter(v => v < latest && !keep(v))
    victims.foreach { v =>
      if (fs.exists(markerFor(root, v))) fs.delete(markerFor(root, v), false)
      fs.delete(versionDir(root, v), true)
    }
    victims.length
  }
}
