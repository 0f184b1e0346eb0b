package graft

import java.io.IOException
import java.net.URI

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `crashfs:` — the local file system, except that while [[CrashFs.armed]]
  * it fails at one crash point:
  *  - [[CrashFs.BetweenWrites]]: the set-up of the SECOND output directory
  *    a write commits into — a process that dies between the two state
  *    writes of a batch;
  *  - [[CrashFs.InLabelsWrite]]: the first part-file create of a labels
  *    write — a process that dies during the labels write;
  *  - [[CrashFs.NthCall]]: the n-th create, rename, delete or mkdirs call
  *    made on the driver (outside any Spark task: the caller's thread and
  *    the threads Spark runs a write's job commit on), and every such call
  *    after it — a driver that dies just before that call.
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
  sealed trait Point
  case object BetweenWrites extends Point
  case object InLabelsWrite extends Point
  /** The n-th (from 1) mutating driver call and every later one.
    * `NthCall(Int.MaxValue)` fails nothing and only records.
    */
  final case class NthCall(n: Int) extends Point

  @volatile var armed = false
  @volatile private var point: Point = BetweenWrites
  private val outputs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  // the output directory of a write: the parent of its FIRST `_temporary`
  private val Staging = "(?:.*?/)?([^/]+)/_temporary(?:/.*)?".r

  def arm(at: Point): Unit = {
    outputs.clear(); seen.clear(); point = at; armed = true
  }

  /** The mutating driver calls since [[arm]], as `op path`. */
  def calls: Seq[String] = seen.asScala.toSeq

  private def on(op: String, f: Path): Unit = if (armed) {
    val driver = org.apache.spark.TaskContext.get() == null
    if (driver) seen.add(s"$op ${f.toUri.getPath}")
    (point, op) match {
      case (NthCall(n), _) if driver && seen.size >= n =>
        throw new IOException(s"injected crash at call ${seen.size}: $op $f")
      case (BetweenWrites, "mkdirs") => f.toUri.getPath match {
        case Staging(out) =>
          outputs.add(out)
          if (outputs.size > 1) throw new IOException(s"injected crash before writing $out")
        case _ =>
      }
      case (InLabelsWrite, "create")
          if f.getName.startsWith("part-") && f.toUri.getPath.contains("labels_v") =>
        throw new IOException(s"injected crash creating $f")
      case _ =>
    }
  }
}
