package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Fault-injecting local filesystem for commit-protocol tests: the
  * local disk under its own scheme, `gdxfault:`, whose output streams
  * throw on every write (the file is created, then stays empty) while
  * [[FaultingFileSystem.failing]] accepts the file's name — a disk that
  * fills up mid-write. Bound through `fs.gdxfault.impl`, and through
  * `fs.AbstractFileSystem.gdxfault.impl` ([[FaultingFs]]) for the
  * FileContext renames a non-`file:` publish takes
  * ([[FaultingFileSystem.bind]]). */
class FaultingFileSystem extends graft.sources.FastRawLocalFileSystem {
  override def getUri: java.net.URI = FaultingFileSystem.Uri
  override def getScheme: String = FaultingFileSystem.Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    faulty(f, super.create(f, overwrite, bufferSize, replication,
      blockSize, progress))

  override def create(f: Path, permission: FsPermission,
                      overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    faulty(f, super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  private def faulty(f: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!FaultingFileSystem.failing(f.getName)) out
    else new FSDataOutputStream(new java.io.OutputStream {
      private def fail() =
        throw new java.io.IOException(s"injected write fault: $f")
      override def write(b: Int): Unit = fail()
      override def write(b: Array[Byte], off: Int, len: Int): Unit = fail()
      override def close(): Unit = out.close()
    }, null)
}

object FaultingFileSystem {
  val Scheme = "gdxfault"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")

  /** Which file names get failing streams (none by default). */
  @volatile var failing: String => Boolean = _ => false

  /** Binds the scheme in `conf` (idempotent). */
  def bind(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FaultingFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl",
      classOf[FaultingFs].getName)
  }

  /** `body` with writes to the names `names` accepts failing. */
  def failingWrites[T](names: String => Boolean)(body: => T): T = {
    failing = names
    try body finally failing = _ => false
  }
}

/** The AbstractFileSystem (FileContext) face of [[FaultingFileSystem]]. */
class FaultingFs(uri: java.net.URI, conf: Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new FaultingFileSystem, conf, FaultingFileSystem.Scheme, false) {
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}
