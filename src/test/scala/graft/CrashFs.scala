package graft

import java.io.IOException
import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `crashfs:` — the local file system, except that while [[CrashFs.armed]]
  * at [[CrashFs.NthCall]] it fails the n-th create, rename, delete or
  * mkdirs call made on the driver (outside any Spark task: the caller's
  * thread and the threads Spark runs a write's job commit on), and every
  * such call after it — a driver that dies just before that call.
  * A session reaches it through `fs.crashfs.impl` = this class.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crashfs:///")
  override def getScheme: String = "crashfs"
  override def mkdirs(f: Path): Boolean = { CrashFs.on("mkdirs", f); super.mkdirs(f) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { CrashFs.on("mkdirs", f); super.mkdirs(f, p) }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CrashFs.on("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CrashFs.on("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { CrashFs.on("rename", src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { CrashFs.on("delete", f); super.delete(f, recursive) }
}

object CrashFs {
  /** The n-th (from 1) mutating driver call and every later one.
    * `NthCall(Int.MaxValue)` fails nothing and only records.
    */
  final case class NthCall(n: Int)

  @volatile var armed = false
  @volatile private var point = NthCall(Int.MaxValue)
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def arm(at: NthCall): Unit = {
    seen.clear(); point = at; armed = true
  }

  /** The mutating driver calls since [[arm]], as `op path`. */
  def calls: Seq[String] = seen.asScala.toSeq

  private def on(op: String, f: Path): Unit =
    if (armed && org.apache.spark.TaskContext.get() == null) {
      seen.add(s"$op ${f.toUri.getPath}")
      if (seen.size >= point.n) throw new IOException(s"injected crash at call ${seen.size}: $op $f")
    }
}
