package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Extract, SnapshotStore}

/** Snapshot-manifest commit protocol (the plain-parquet stand-in for
  * Iceberg's atomic snapshot, COVERAGE.md divergence #2): every writer
  * publishes its file set via ONE manifest rename; readers resolving
  * through the manifest observe either the pre- or post-commit table, never
  * a half-swapped one. Also covers the lineage stamp (lineage one snapshot
  * behind heals, a legacy table heals once), the smeared-error fallback,
  * and orphan sweeping.
  */
class SnapshotSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("snapshot-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A checkpointed t1 results table. With `files` > 1 the transcripts are
    * first split into that many conv_id ranges, one results part-file each.
    */
  private def freshTable(prefix: String, files: Int = 1): String = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
      .toFile.getAbsolutePath
    val transcripts =
      if (files == 1) "data/transcripts_t1"
      else {
        Extract.readTranscripts(spark, "data/transcripts_t1").toDF()
          .repartitionByRange(files, col("conv_id")).write.parquet(s"$base/t1_split")
        s"$base/t1_split"
      }
    val out = s"$base/out"
    Extract.runCheckpointed(spark, transcripts, out)
    out
  }

  private def rows(out: String) =
    Extract.readResults(spark, out)
      .orderBy("conv_id", "turn_idx").collect().toSeq

  test("manifest readers never observe a half-swapped table") {
    val out = freshTable("graft-snap-atomic")
    val clean = rows(out)
    assert(clean.size === 1163)

    // the first append committed the manifest; compaction commits the next
    val resultsPath = new Path(s"$out/results")
    val fs = fsOf(out)
    assert(SnapshotStore.currentSnapshot(fs, resultsPath).map(_._1) === Some(0L))
    Extract.compactResults(spark, out)
    assert(SnapshotStore.currentSnapshot(fs, resultsPath).map(_._1) === Some(1L))
    assert(rows(out) === clean)

    // simulate the mid-maintenance window: a replacement file has been
    // moved in but the commit has NOT happened — duplicate a live file
    // under a fresh part name. A plain dir read sees duplicated rows; the
    // manifest read must stay on the committed snapshot.
    val live = SnapshotStore.liveFiles(fs, resultsPath).get
    val src = new Path(live.head)
    val dup = new Path(src.getParent, "part-uncommitted-duplicate.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dup, false,
      spark.sparkContext.hadoopConfiguration)
    assert(spark.read.parquet(s"$out/results").count() > clean.size.toLong,
      "plain read should see the uncommitted duplicate (precondition)")
    assert(rows(out) === clean, "manifest read observed uncommitted files")

    // commit points the snapshot at a new file set atomically; afterwards
    // the reader follows it (here: same set, so still clean), and orphans
    // (the uncommitted duplicate) are swept by the next compaction
    SnapshotStore.commit(fs, resultsPath, live)
    assert(rows(out) === clean)
    Extract.compactResults(spark, out)
    assert(!fs.exists(dup), "compaction did not sweep the orphan")
    assert(rows(out) === clean)
    // snapshot-referenced pre-compaction files survive the sweep (they
    // back time travel); only after expiring history to the current
    // snapshot does the physical dir equal the table at rest
    Extract.expireResultSnapshots(spark, out, retainLast = 1)
    assert(rows(out) === clean)
    assert(spark.read.parquet(s"$out/results").count() === clean.size.toLong,
      "plain read differs at rest after expiry")
  }

  test("reparse on a manifest-carrying table restores the clean state") {
    val out = freshTable("graft-snap-reparse", files = 8)
    val clean = rows(out)
    Extract.compactResults(spark, out) // one file, snapshot 1
    val fs = fsOf(out)
    assert(SnapshotStore.currentSnapshot(fs, new Path(s"$out/results")).nonEmpty)

    // a single conversation's errors touch only its range's file — well
    // under the smeared-error threshold, so the file-granular path runs
    val n = Extract.injectTransientErrors(spark, out,
      col("conv_id") === "t1-conv-00007")
    assert(n > 0L)
    val m = Extract.reparseErrors(spark, "data/transcripts_t1", out)
    assert(m("rewrite_mode") === "file_granular")
    assert(rows(out) === clean)
    // lineage reconciles with a full recompute over the restored table
    assert(spark.read.parquet(s"$out/lineage_buckets")
      .orderBy("bucket").collect().toSeq ===
      Extract.bucketLineage(Extract.readResults(spark, out))
        .orderBy("bucket").collect().toSeq)
  }

  private def bucketRows(out: String) =
    spark.read.parquet(s"$out/lineage_buckets").orderBy("bucket").collect().toSeq

  test("lineage stamped one snapshot behind the results forces a heal") {
    val out = freshTable("graft-snap-stamp")
    val cleanBuckets = bucketRows(out)
    // the window between a reparse's commit and its lineage write: results
    // swapped, lineage_buckets still the pre-reparse table. The key set is
    // unchanged, so rows_out agrees with the results and cannot catch it;
    // the stamp, one snapshot behind, does.
    Extract.injectTransientErrors(spark, out, col("conv_id") === "t1-conv-00003")
    val fs = fsOf(out)
    val buckets = new Path(s"$out/lineage_buckets")
    val saved = new Path(s"$out/lineage_buckets_pre_reparse")
    org.apache.hadoop.fs.FileUtil.copy(fs, buckets, fs, saved, false,
      spark.sparkContext.hadoopConfiguration)
    Extract.reparseErrors(spark, "data/transcripts_t1", out)
    assert(bucketRows(out) === cleanBuckets)
    fs.delete(buckets, true)
    assert(fs.rename(saved, buckets))
    assert(bucketRows(out) !== cleanBuckets, "pre-reparse lineage (precondition)")

    // a zero-row resume must heal it back to the clean lineage
    val m = Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    assert(m("rows").asInstanceOf[Long] === 0L)
    assert(bucketRows(out) === cleanBuckets)
  }

  test("pre-run_id lineage tables are healed on resume") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-runid")
    val half = s"$base/first_half"
    Extract.readTranscripts(spark, "data/transcripts_t1").toDF()
      .where(col("conv_id") < "t1-conv-00060").write.parquet(half)
    val out = s"$base/out"
    Extract.runCheckpointed(spark, half, out)
    // as an older build left it: both lineage tables written by Spark, the
    // run log WITHOUT run_id (the pre-round-4 layout), and no manifest
    spark.read.parquet(s"$out/lineage").drop("run_id").localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$out/lineage")
    spark.read.parquet(s"$out/lineage_buckets").localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$out/lineage_buckets")
    val fs = fsOf(out)
    val resultsPath = new Path(s"$out/results")
    fs.delete(SnapshotStore.manifestDir(resultsPath), true)
    def perRun(): Map[Long, Long] = spark.read.parquet(s"$out/lineage")
      .groupBy("run_id").agg(org.apache.spark.sql.functions.sum("rows_out"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // the first run bootstraps the manifest and heals once: one run 0
    val m = Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    val rest = m("rows").asInstanceOf[Long]
    assert(rest > 0L && rest < 1163L)
    assert(SnapshotStore.snapshots(fs, resultsPath).map(_._1) === Seq(0L, 1L))
    assert(perRun() === Map(0L -> 1163L))
    // the next run takes the delta path: a reparse patches as run 1
    val n = Extract.injectTransientErrors(spark, out, col("conv_id") === "t1-conv-00003")
    assert(perRun() === Map(0L -> 1163L))
    assert(Extract.reparseErrors(spark, "data/transcripts_t1", out)("rows") === n)
    assert(perRun() === Map(0L -> 1163L, 1L -> n))
    assert(bucketRows(out) === Extract.bucketLineage(Extract.readResults(spark, out))
      .orderBy("bucket").collect().toSeq)
    // and a zero-row resume leaves both lineage tables untouched
    def lineageFiles() = Seq("lineage", "lineage_buckets").flatMap(d =>
      fs.listStatus(new Path(s"$out/$d")).map(s => (s.getPath.getName, s.getModificationTime)))
    val before = lineageFiles()
    assert(Extract.runCheckpointed(spark, "data/transcripts_t1", out)("rows") === 0L)
    assert(lineageFiles() === before)
  }

  test("a racing commit to the same snapshot id is detected, not clobbered") {
    val out = freshTable("graft-snap-race")
    val fs = fsOf(out)
    val resultsPath = new Path(s"$out/results")
    val (curId, _) = SnapshotStore.currentSnapshot(fs, resultsPath).get
    val live = SnapshotStore.liveFiles(fs, resultsPath).get
    // writer A wins snapshot curId+1; writer B (us) then tries the SAME id
    // — the id another committer claimed in A's read-to-rename window
    SnapshotStore.commitAt(fs, resultsPath, live, curId + 1)
    val before = SnapshotStore.currentSnapshot(fs, resultsPath).get
    assertThrows[SnapshotStore.ConcurrentCommitException](
      SnapshotStore.commitAt(fs, resultsPath, live.tail, curId + 1))
    // the winner's snapshot is untouched and still current
    assert(SnapshotStore.currentSnapshot(fs, resultsPath).get === before)
    assert(SnapshotStore.liveFiles(fs, resultsPath).get.toSet === live.toSet)
    // a rebased retry (fresh id from the current snapshot) succeeds
    assert(SnapshotStore.commit(fs, resultsPath, live) === curId + 2)
  }

  test("time-travel reads resolve historical snapshots until expiry") {
    val base = java.nio.file.Files.createTempDirectory("graft-snap-tt")
    val splitDir = s"$base/first_half"
    val out = s"$base/out"
    val turns = Extract.readTranscripts(spark, "data/transcripts_t1")
    turns.toDF().where(col("conv_id") < "t1-conv-00060").write.parquet(splitDir)
    Extract.runCheckpointed(spark, splitDir, out)
    val halfRows = Extract.readResults(spark, out).count()
    assert(halfRows > 0 && halfRows < 1163)
    val pre = Extract.readResults(spark, out)
      .orderBy("conv_id", "turn_idx").collect().toSeq
    // snap 0 = the first append's files, snap 1 = the compacted set; snap
    // 0's files SURVIVE the rewrite (retention contract) so snap 0 stays
    // readable
    Extract.compactResults(spark, out)
    assert(Extract.readResultsAt(spark, out, 0L)
      .orderBy("conv_id", "turn_idx").collect().toSeq === pre,
      "pre-compaction snapshot not byte-equal after the rewrite")
    // an appending resume commits snap 2 = snap 1's files + the increment
    val m = Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    assert(m("rows").asInstanceOf[Long] === 1163L - halfRows)
    assert(Extract.readResults(spark, out).count() === 1163L)
    // snapshot 1 is the pre-append table — still fully readable (appends
    // retire nothing)
    assert(Extract.readResultsAt(spark, out, 1L).count() === halfRows)
    assert(Extract.readResultsAt(spark, out, 2L).count() === 1163L)
    // expiry is what destroys history: retain snaps 1-2, drop snap 0 —
    // the same read now fails as an unknown id, and snap 0's
    // exclusively-referenced pre-compaction files leave the disk
    Extract.expireResultSnapshots(spark, out, retainLast = 2)
    assertThrows[IllegalArgumentException](
      Extract.readResultsAt(spark, out, 0L).count())
    assert(Extract.readResultsAt(spark, out, 1L).count() === halfRows)
    // unknown id
    assertThrows[IllegalArgumentException](
      Extract.readResultsAt(spark, out, 99L).count())
  }

  test("expire_snapshots retains last-N; shared files survive, exclusive ones go") {
    val out = freshTable("graft-snap-expire")
    val fs = fsOf(out)
    val resultsPath = new Path(s"$out/results")
    Extract.compactResults(spark, out) // snaps 0 (first append) + 1 (compacted)
    val total = Extract.readResults(spark, out).count()
    // snap 2 = snap 1's files + a dummy data file EXCLUSIVE to it; snap 3
    // drops the dummy again — so after expiry the dummy is referenced
    // only by expired history and must be deleted, while snap 1's real
    // files (shared with the retained current snapshot) must survive
    val live = SnapshotStore.liveFiles(fs, resultsPath).get
    val dummy = new Path(resultsPath, "part-deadbeef-dummy.parquet")
    val os = fs.create(dummy, true); os.write(1); os.close()
    SnapshotStore.commit(fs, resultsPath, live :+ dummy.toString)
    SnapshotStore.commit(fs, resultsPath, live)
    assert(SnapshotStore.snapshots(fs, resultsPath).map(_._1) === Seq(0L, 1L, 2L, 3L))

    val expired = Extract.expireResultSnapshots(spark, out, retainLast = 1)
    assert(expired === Seq(0L, 1L, 2L))
    assert(SnapshotStore.snapshots(fs, resultsPath).map(_._1) === Seq(3L))
    assert(!fs.exists(dummy), "exclusively-expired data file not deleted")
    live.foreach(f => assert(fs.exists(new Path(f)), s"shared live file $f deleted"))
    // live reads unaffected; expired time travel now fails as unknown id
    assert(Extract.readResults(spark, out).count() === total)
    assert(Extract.readResultsAt(spark, out, 3L).count() === total)
    assertThrows[IllegalArgumentException](
      Extract.readResultsAt(spark, out, 1L).count())
    // resume after expiry: zero-increment run leaves the table identical
    val m = Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    assert(m("rows").asInstanceOf[Long] === 0L)
    assert(Extract.readResults(spark, out).count() === total)
    // idempotent / bounded: nothing more to expire at the same retention
    assert(Extract.expireResultSnapshots(spark, out, retainLast = 2).isEmpty)
  }

  test("rebase-and-retry: two interleaved committers converge to the serial result") {
    val out = freshTable("graft-snap-rebase")
    val fs = fsOf(out)
    val resultsPath = new Path(s"$out/results")
    val base = SnapshotStore.liveFiles(fs, resultsPath).get
    def mkFile(name: String): String = {
      val p = new Path(resultsPath, name)
      val os = fs.create(p, true); os.write(1); os.close()
      SnapshotStore.qualify(fs, p.toString)
    }
    val addA = mkFile("part-aaaa-writerA.parquet")
    val addB = mkFile("part-bbbb-writerB.parquet")
    // writer B reads the live set, but writer A lands first INSIDE B's
    // read-to-rename window (the beforeAttempt seam) — B's first commitAt
    // loses the id race, rebases onto A's snapshot, and retries
    var injected = false
    val idB = SnapshotStore.commitRebase(fs, resultsPath,
      adds = Seq(addB), removes = Seq.empty,
      beforeAttempt = { id =>
        if (!injected) {
          injected = true
          SnapshotStore.commitAt(fs, resultsPath, base :+ addA, id)
        }
      })
    assert(injected)
    val (curId, _) = SnapshotStore.currentSnapshot(fs, resultsPath).get
    assert(curId === idB)
    // both writers' changes landed exactly once — the serial result
    assert(SnapshotStore.liveFiles(fs, resultsPath).get.toSet ===
      (base.toSet + addA + addB))
    // a rebase whose removes were already retired by the winner converges
    // to adds-only: A removes addB concurrently with B removing addB too
    SnapshotStore.commit(fs, resultsPath,
      SnapshotStore.liveFiles(fs, resultsPath).get.filterNot(_ == addB))
    val idC = SnapshotStore.commitRebase(fs, resultsPath,
      adds = Seq.empty, removes = Seq(addB))
    assert(idC > idB)
    assert(SnapshotStore.liveFiles(fs, resultsPath).get.toSet ===
      (base.toSet + addA))
  }

  test("errors smeared across every file fall back to a whole-table rewrite") {
    val out = freshTable("graft-snap-smear")
    val clean = rows(out)
    // ~1/3 of rows error → with hash-spread keys, every part-file holds
    // errors, so the file-granular path would rewrite everything through a
    // driver-held file list; the guard must choose the full rewrite
    val n = Extract.injectTransientErrors(spark, out,
      pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(3)) === 0)
    assert(n > clean.size / 4L)
    val m = Extract.reparseErrors(spark, "data/transcripts_t1", out)
    assert(m("rewrite_mode") === "full")
    assert(m("rows").asInstanceOf[Long] >= n)
    assert(rows(out) === clean)
    // lineage still reconciles (the delta patch is granularity-independent)
    assert(spark.read.parquet(s"$out/lineage_buckets")
      .orderBy("bucket").collect().toSeq ===
      Extract.bucketLineage(Extract.readResults(spark, out))
        .orderBy("bucket").collect().toSeq)
  }

  test("commit arbitration holds on RawLocalFileSystem (hard-link CAS)") {
    // POSIX rename(2) silently replaces an existing destination, so on the
    // RAW local FS (no checksum layer to refuse the clobber) the manifest
    // rename is NOT a CAS — round 7 commits there via link(2), which fails
    // atomically with EEXIST. Two committers racing the same id must
    // arbitrate exactly as on HDFS: one winner, one
    // ConcurrentCommitException, winner's body intact.
    val raw = org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration).getRaw
    assert(raw.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem])
    val base = java.nio.file.Files.createTempDirectory("graft-snap-rawfs")
    val results = new Path(s"$base/results")
    raw.mkdirs(results)
    def touch(name: String): String = {
      val p = new Path(results, name)
      raw.create(p, false).close()
      p.toString
    }
    val f0 = touch("part-a.parquet")
    assert(SnapshotStore.commit(raw, results, Seq(f0)) === 0L)

    // race snapshot id 1: writer A lands first, writer B (same id, its own
    // staged body) must lose — not silently replace A's published manifest
    val fA = touch("part-b.parquet")
    val fB = touch("part-c.parquet")
    assert(SnapshotStore.commitAt(raw, results, Seq(f0, fA), 1L) === 1L)
    assertThrows[SnapshotStore.ConcurrentCommitException](
      SnapshotStore.commitAt(raw, results, Seq(f0, fB), 1L))
    assert(SnapshotStore.liveFiles(raw, results).get.toSet ===
      Set(f0, fA).map(SnapshotStore.qualify(raw, _)),
      "loser clobbered the winner's manifest")

    // the loser's recovery path: commitRebase re-reads the winner's live
    // set and lands its delta at the next id
    assert(SnapshotStore.commitRebase(raw, results,
      adds = Seq(fB), removes = Seq.empty) === 2L)
    assert(SnapshotStore.liveFiles(raw, results).get.toSet ===
      Set(f0, fA, fB).map(SnapshotStore.qualify(raw, _)))
    // no stray .tmp bodies left behind by either attempt
    val leftovers = raw.listStatus(SnapshotStore.manifestDir(results))
      .map(_.getPath.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }
}
