package graft

import graft.sources.GdxSource

/** Shared check for GDX statements refused AFTER their writes and
  * before their publish (ambiguous MERGE, NULL key, CHECK violation),
  * plain or staged in a transaction. */
trait RefusalHelper { self: SparkSuite =>

  /** Runs `stmt`, which must be refused after writing and before
    * publishing: every table in `dirs` keeps its versions, `rows`
    * reads as before, the new data and DV files (`upd-*`, `dv-*`, at
    * the root or in a partition directory) exist but no committed
    * snapshot references them, and vacuum's unreferenced-file sweep
    * deletes every one. Returns the refusal. */
  def refusedAfterWrites(dirs: Seq[String], rows: => Any)
                        (stmt: => Any): Throwable = {
    val conf = GdxSource.driverConf()
    // the table root and its `col=key/` partition directories
    def written(dir: String): Set[String] = {
      val root = new java.io.File(dir)
      root.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory && f.getName.contains("="))
          f.list().toSeq.map(n => s"${f.getName}/$n")
        else Seq(f.getName)
      }.filter { n =>
        val leaf = n.substring(n.lastIndexOf('/') + 1)
        leaf.startsWith("upd-") || leaf.startsWith("dv-")
      }.toSet
    }
    val versions = dirs.map(GdxSource.listVersions(_, conf))
    val rowsBefore = rows
    val filesBefore = dirs.map(written)
    val e = intercept[Exception](stmt)
    assert(dirs.map(GdxSource.listVersions(_, conf)) === versions)
    assert(rows === rowsBefore)
    val orphans = dirs.zip(filesBefore).map { case (d, b) => written(d) -- b }
    assert(orphans.exists(_.nonEmpty), "refused before writing anything")
    dirs.zip(versions).zip(orphans).foreach { case ((dir, vs), o) =>
      val referenced = vs.flatMap(v =>
        GdxSource.committedEntries(dir, conf, v))
        .flatMap(f => f.name +: f.dv.toSeq).toSet
      assert(o.intersect(referenced).isEmpty, o)
      GdxSource.vacuum(dir, conf, keepLast = vs.size,
        sweepOrphanHours = Some(0))
    }
    assert(dirs.map(written) === filesBefore)
    e
  }

  /** Whether `e` or one of its causes is a `T` whose message contains
    * `text`. */
  def raised[T <: Throwable](e: Throwable, text: String = "")(
      implicit ct: scala.reflect.ClassTag[T]): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(c => ct.runtimeClass.isInstance(c) &&
        Option(c.getMessage).exists(_.contains(text)))
}
