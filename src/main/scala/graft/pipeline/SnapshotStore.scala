package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Poor-man's snapshot manifests for a results table — the plain-parquet
  * stand-in for Iceberg's atomic snapshot commit (COVERAGE.md divergence #2,
  * narrowed by this to concurrent-writer arbitration only).
  *
  * Protocol:
  *  - A table MAY carry a manifest dir `results/_manifests` holding
  *    `snap-<id>.txt` files, each listing the table's live part-files
  *    (paths relative to the results dir, sorted). The leading underscore
  *    keeps the dir invisible to Spark/Hive file listings, so a table AT
  *    REST stays readable by any plain parquet reader.
  *  - The CURRENT snapshot is the highest id. Committing = write
  *    `snap-<id+1>.txt.tmp`, then ONE `rename` to `snap-<id+1>.txt` — the
  *    rename is the commit point (atomic on HDFS and on local FS; on S3 an
  *    Iceberg-style catalog swap would replace it, which is exactly the
  *    part Iceberg provides and this stand-in declares away).
  *  - Writers NEVER delete before committing: replacement files are moved
  *    in under fresh UUID names, the new snapshot is committed, and only
  *    then are retired files deleted (best-effort — a crash or failed
  *    delete leaves ORPHANS, which manifest-resolving readers never see
  *    and which the next [[Extract.compactResults]] sweeps).
  *  - Readers resolve through [[read]]: manifest present → exactly the
  *    listed files (with basePath so a bucket-partitioned layout keeps its
  *    partition column); absent → plain directory read. A reader therefore
  *    observes either the pre-commit or the post-commit table, never a
  *    half-swapped one (spec-asserted in SnapshotSpec).
  */
object SnapshotStore {

  private val ManifestDirName = "_manifests"
  private val SnapRe = "snap-(\\d{9})\\.txt".r

  def manifestDir(results: Path): Path = new Path(results, ManifestDirName)

  /** Qualified canonical form of a path string (so set algebra over file
    * lists from different sources — listFiles, input_file_name, manifest
    * resolution — compares equal strings).
    */
  def qualify(fs: FileSystem, f: String): String =
    fs.makeQualified(new Path(f)).toString

  /** All snapshot (id, path) pairs the table retains, ascending. Old
    * manifests are never deleted by commits, so the history doubles as a
    * time-travel index ([[readAt]]); as of round 7 maintenance sweeps
    * honor the retention boundary ([[referencedFiles]]) — every retained
    * snapshot's files stay on disk until [[expireSnapshots]] drops the
    * snapshot itself (the Iceberg contract: rewrites add history, only
    * expiry destroys it).
    */
  def snapshots(fs: FileSystem, results: Path): Seq[(Long, Path)] = {
    val dir = manifestDir(results)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.flatMap { s =>
      s.getPath.getName match {
        case SnapRe(id) => Some((id.toLong, s.getPath))
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** (id, path) of the current snapshot, if the table carries a manifest.
    * `.tmp` leftovers from a crashed commit are ignored (never the current
    * snapshot) and harmless: staged bodies are uniquely named per commit
    * attempt (round 6), so a leftover can never be adopted or clobbered by
    * a later writer.
    */
  def currentSnapshot(fs: FileSystem, results: Path): Option[(Long, Path)] =
    snapshots(fs, results).lastOption

  private def filesOf(fs: FileSystem, results: Path, manifest: Path): Seq[String] = {
    val in = fs.open(manifest)
    val content = try new String(in.readAllBytes(), UTF_8) finally in.close()
    content.linesIterator.filter(_.nonEmpty)
      .map(rel => qualify(fs, new Path(results, rel).toString)).toSeq
  }

  /** The table's live data files (qualified absolute paths) per the current
    * snapshot; None when the table has no manifest (plain-dir mode).
    */
  def liveFiles(fs: FileSystem, results: Path): Option[Seq[String]] =
    currentSnapshot(fs, results).map { case (_, p) => filesOf(fs, results, p) }

  /** Union of data files referenced by ANY retained snapshot manifest —
    * the retention boundary for maintenance sweeps (round 7): a file in
    * this set backs a time-travel read ([[readAt]]) and must survive until
    * [[expireSnapshots]] drops the manifests that list it; only files
    * outside it (orphans of crashed maintenance passes, rebase-dropped
    * stages) may be deleted by a rewrite's post-commit sweep.
    */
  def referencedFiles(fs: FileSystem, results: Path): Set[String] =
    snapshots(fs, results)
      .flatMap { case (_, p) => filesOf(fs, results, p) }.toSet

  private def relativize(fs: FileSystem, results: Path, f: String): String = {
    val root = fs.makeQualified(results).toString
    val q = qualify(fs, f)
    require(q.startsWith(root + "/"), s"data file $f not under $results")
    q.substring(root.length + 1)
  }

  /** Atomically commit a new snapshot listing exactly `files`. Returns the
    * new snapshot id. The single rename is the commit point — every step
    * before it is invisible to readers, every step after it is recovery.
    *
    * Concurrent writers: each attempt stages through a UNIQUE tmp name
    * (round 6 — a shared name would let racing writer B overwrite A's
    * staged body before A's rename, publishing B's list under A's id), and
    * rename-onto-existing fails atomically on HDFS and this environment's
    * checksum local FS, so two committers racing the same id cannot
    * clobber each other — the loser gets a [[ConcurrentCommitException]]
    * and should retry through [[commitRebase]]. On stock Hadoop
    * RawLocalFileSystem, POSIX rename(2) silently REPLACES an existing
    * destination — so there (round 7) the commit point is a hard LINK
    * instead: link(2) fails atomically with EEXIST on an existing
    * destination, giving the same create-exclusive CAS without lock files
    * (a crashed lock would wedge the table; a crashed link leaves only an
    * ignorable uniquely-named `.tmp`). Arbitration therefore holds on
    * HDFS, checksum local FS, AND raw local FS; what remains declared
    * away is object stores without an atomic rename-or-link (S3), where a
    * real Iceberg catalog provides the CAS (COVERAGE.md divergence #2).
    */
  def commit(fs: FileSystem, results: Path, files: Seq[String]): Long =
    commitAt(fs, results, files,
      currentSnapshot(fs, results).map(_._1 + 1L).getOrElse(0L))

  class ConcurrentCommitException(msg: String) extends IllegalStateException(msg)

  private[graft] def commitAt(fs: FileSystem, results: Path,
                              files: Seq[String], id: Long): Long = {
    val dir = manifestDir(results)
    if (!fs.exists(dir) && !fs.mkdirs(dir))
      throw new IllegalStateException(s"could not create manifest dir $dir")
    val body = files.map(relativize(fs, results, _)).sorted.mkString("\n")
    val tmp = new Path(dir,
      f"snap-$id%09d.txt.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    val dst = new Path(dir, f"snap-$id%09d.txt")
    if (!commitPoint(fs, tmp, dst)) {
      fs.delete(tmp, false)
      if (fs.exists(dst))
        throw new ConcurrentCommitException(
          s"snapshot $id was committed by another writer; re-derive the " +
            s"file set against it and retry (table unchanged by this commit)")
      throw new IllegalStateException(
        s"snapshot commit rename $tmp -> $dst failed; table unchanged")
    }
    id
  }

  /** The atomic claim of `dst`: true iff THIS writer published it. On
    * filesystems whose rename fails on an existing destination (HDFS,
    * Hadoop's checksum LocalFileSystem) the rename IS the
    * create-exclusive CAS. On RawLocalFileSystem rename(2) silently
    * replaces, so the CAS is a POSIX hard link instead (round 7):
    * link(2) atomically fails with EEXIST when the destination exists —
    * the loser's staged `.tmp` is cleaned up by the caller; the winner's
    * is best-effort-deleted here (a leftover is uniquely named and
    * ignored by [[snapshots]], never adopted).
    */
  private def commitPoint(fs: FileSystem, tmp: Path, dst: Path): Boolean =
    fs match {
      case raw: org.apache.hadoop.fs.RawLocalFileSystem =>
        try {
          java.nio.file.Files.createLink(
            raw.pathToFile(dst).toPath, raw.pathToFile(tmp).toPath)
          fs.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      case _ => fs.rename(tmp, dst)
    }

  /** Optimistic commit with bounded rebase-and-retry — the loop Iceberg's
    * commit protocol automates, finishing what [[commitAt]]'s detection
    * starts. The writer expresses its change as a DELTA (`adds`: its own
    * staged files; `removes`: the files it replaced), which stays valid
    * against ANY winner's snapshot: each attempt re-reads the current live
    * set, applies removes-then-adds, and commits at the next id. On a
    * [[ConcurrentCommitException]] the winner's snapshot is re-read and
    * the delta re-applied — removes a winner already retired subtract to
    * nothing, so interleaved writers converge to the serial result
    * (spec-asserted with two committers racing the same base id).
    *
    * `beforeAttempt` is a test seam invoked with the id about to be
    * claimed, between the live-set read and the commit — the
    * read-to-rename window a real race lands in.
    */
  def commitRebase(fs: FileSystem, results: Path,
                   adds: Seq[String], removes: Seq[String],
                   maxRetries: Int = 10,
                   beforeAttempt: Long => Unit = _ => ()): Long = {
    val addQ = adds.map(qualify(fs, _))
    val removeQ = removes.map(qualify(fs, _)).toSet
    var attempt = 0
    while (true) {
      val base = liveFiles(fs, results).getOrElse(Seq.empty)
      val next = (base.filterNot(removeQ) ++ addQ).distinct
      val id = currentSnapshot(fs, results).map(_._1 + 1L).getOrElse(0L)
      beforeAttempt(id)
      try return commitAt(fs, results, next, id)
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw new ConcurrentCommitException(
            s"gave up after $maxRetries rebase retries: ${e.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Iceberg `expire_snapshots` analog — the retention maintenance op:
    * delete every manifest except the newest `retainLast`, then delete the
    * data files referenced ONLY by the expired manifests (a file shared
    * with any retained snapshot survives; so does any file of the current
    * snapshot). Returns the expired snapshot ids.
    *
    * Crash ordering: manifests are deleted FIRST (each single delete is
    * the per-snapshot expiry point), data files after — a crash mid-sweep
    * strands orphan data files that no retained manifest references,
    * which readers never see and the next expire/compaction sweep
    * removes. The reverse order could leave a still-listed manifest
    * pointing at deleted files, turning time travel into a read-time
    * error earlier than promised.
    *
    * A [[readAt]] of an expired id fails with "no snapshot <id>" — the
    * expired-snapshot contract; live reads ([[read]]) and incremental
    * resume never look past the current snapshot and are unaffected.
    */
  def expireSnapshots(fs: FileSystem, results: Path,
                      retainLast: Int = 2): Seq[Long] = {
    require(retainLast >= 1, s"must retain at least 1 snapshot, got $retainLast")
    val all = snapshots(fs, results)
    if (all.size <= retainLast) return Seq.empty
    val (drop, keep) = all.splitAt(all.size - retainLast)
    val retained = keep.flatMap { case (_, p) => filesOf(fs, results, p) }.toSet
    // Only a snapshot whose manifest delete actually SUCCEEDED may
    // contribute its files to the sweep set (round 7, advice fix): a
    // failed delete (fs.delete -> false) leaves that snapshot listed, and
    // sweeping its files anyway would create exactly the
    // still-listed-manifest-points-at-deleted-data hazard the
    // manifests-first ordering exists to prevent. Survivors are warned
    // and retried by the next expire.
    val dropWithFiles = drop.map { case (id, p) =>
      (id, p, filesOf(fs, results, p)) // read BEFORE deleting the manifest
    }
    val (dropped, survivors) = dropWithFiles.partition { case (id, p, _) =>
      val ok = fs.delete(p, false)
      if (!ok) System.err.println(s"[graft] WARN: could not delete manifest " +
        s"for snapshot $id ($p); retaining its data files for a later expire")
      ok
    }
    val survivorFiles = survivors.flatMap(_._3).toSet
    val expired = dropped.flatMap(_._3).toSet -- retained -- survivorFiles
    expired.foreach { f =>
      val p = new Path(f)
      if (fs.exists(p) && !fs.delete(p, false))
        System.err.println(s"[graft] WARN: could not delete expired file $p; " +
          "orphan is invisible through retained manifests")
    }
    dropped.map(_._1).toSeq
  }

  /** Ensure the table carries a manifest: when absent, commit snapshot 0 =
    * the current physical file set. Maintenance ops call this BEFORE moving
    * replacement files into the dir, so a crash mid-operation can never
    * leave readers falling back to a half-populated plain directory.
    * Returns the live file set.
    */
  def bootstrap(fs: FileSystem, results: Path,
                physicalFiles: => Seq[String]): Seq[String] =
    liveFiles(fs, results).getOrElse {
      val files = physicalFiles
      commit(fs, results, files)
      files
    }

  /** Read a results table through its manifest when present, else as a
    * plain parquet dir, with the caller's fixed `schema` (no inference
    * job). basePath keeps partition-dir columns (bucket=N) alive under an
    * explicit file list.
    */
  def read(spark: SparkSession, resultsDir: String, schema: StructType): DataFrame = {
    val p = new Path(resultsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    liveFiles(fs, p) match {
      case Some(files) if files.nonEmpty =>
        spark.read.schema(schema).option("basePath", resultsDir).parquet(files: _*)
      case Some(_) =>
        throw new IllegalStateException(s"snapshot of $resultsDir lists no files")
      case None => spark.read.schema(schema).parquet(resultsDir)
    }
  }

  /** Time-travel read: the table as of snapshot `id` (Iceberg's
    * VERSION AS OF). Fails if the snapshot does not exist or if any of its
    * files has since been retired by a compaction sweep (the analog of
    * reading an expired snapshot).
    */
  def readAt(spark: SparkSession, resultsDir: String, id: Long,
             schema: StructType): DataFrame = {
    val p = new Path(resultsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = snapshots(fs, p).collectFirst { case (`id`, m) => m }
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot $id under $resultsDir"))
    val files = filesOf(fs, p, manifest)
    files.find(f => !fs.exists(new Path(f))).foreach { missing =>
      throw new IllegalStateException(
        s"snapshot $id references retired file $missing (expired by compaction)")
    }
    spark.read.schema(schema).option("basePath", resultsDir).parquet(files: _*)
  }
}
