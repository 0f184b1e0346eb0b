package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.pipeline.SnapshotStore

/** Reads a [[graft.streaming.DedupStream]] state dir by its snapshots,
  * for the specs: a batch's delta is the files its snapshot added over
  * the snapshot before it.
  */
object DedupState {
  private def table(spark: SparkSession, stateDir: String): (FileSystem, Path) = {
    val root = new Path(stateDir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** The snapshot ids, ascending. */
  def ids(spark: SparkSession, stateDir: String): Seq[Long] = {
    val (fs, root) = table(spark, stateDir)
    SnapshotStore.snapshots(fs, root).map(_._1)
  }

  /** The `sub` (`index` or `labels`) files snapshot `batchId` added over
    * the snapshot before it, qualified and sorted.
    */
  def added(spark: SparkSession, stateDir: String, batchId: Long, sub: String): Seq[String] = {
    val (fs, root) = table(spark, stateDir)
    val snaps = SnapshotStore.snapshots(fs, root)
    val i = snaps.indexWhere(_._1 == batchId)
    require(i >= 0, s"no snapshot $batchId under $stateDir")
    val before = snaps.lift(i - 1).fold(Set.empty[String])(p => SnapshotStore.filesOf(fs, root, p._2).toSet)
    val prefix = SnapshotStore.qualify(fs, new Path(root, sub).toString) + "/"
    SnapshotStore.filesOf(fs, root, snaps(i)._2)
      .filter(f => f.startsWith(prefix) && !before(f)).sorted
  }

  /** The files some retained snapshot lists that do not exist. */
  def missing(spark: SparkSession, stateDir: String): Seq[String] = {
    val (fs, root) = table(spark, stateDir)
    SnapshotStore.snapshots(fs, root).flatMap(p => SnapshotStore.filesOf(fs, root, p._2))
      .distinct.filterNot(f => fs.exists(new Path(f)))
  }

  /** Every file under the local dir `stateDir`, as relative path -> bytes. */
  def tree(stateDir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(new Path(stateDir).toUri.getPath)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> java.nio.file.Files.readAllBytes(f).toSeq).toMap
    finally walk.close()
  }
}
