package graft.perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.pipeline.{Extract, ResultJson, SnapshotStore, TurnResult}

/** `extract_incremental`: the checkpointed production path over the
  * conversations of `transcripts_t2`, split into K seeded increments. A
  * round starts from an empty output directory and runs K appends through
  * `Extract.runCheckpointed`, one zero-row resume, a re-parse of injected
  * transient errors, a compaction and a snapshot expiry. The final table
  * is checked against the frozen golden.
  */
final class ExtractIncremental(seed: Long) extends Workload {
  private var cum: IndexedSeq[String] = _
  private var incTurns: IndexedSeq[Long] = _
  private var rounds = 0
  private var golden: IndexedSeq[Seq[Any]] = _

  // the first, cold round takes 2-3x a warm one; later rounds change little
  val warmupRounds = 1

  def prepare(h: Harness): Unit = {
    val fs = FileSystem.getLocal(h.spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new Path(h.genDir)).map(_.getPath.getName)
      .filter(_.startsWith("cum_")).sortBy(_.stripPrefix("cum_").toInt)
    cum = dirs.map(d => s"${h.genDir}/$d").toIndexedSeq
    val sizes = cum.map(p => h.spark.read.parquet(p).count())
    incTurns = sizes.indices.map(k => sizes(k) - (if (k == 0) 0L else sizes(k - 1)))
  }

  /** Files (not dot-files) under `dir` modified at or after `sinceMs`:
    * (count, bytes).
    */
  private def written(fs: FileSystem, dir: Path, sinceMs: Long): (Long, Long) = {
    val it = fs.listFiles(dir, true)
    var n = 0L
    var b = 0L
    while (it.hasNext) {
      val s = it.next()
      if (!s.getPath.getName.startsWith(".") && s.getModificationTime >= sinceMs) {
        n += 1; b += s.getLen
      }
    }
    (n, b)
  }

  def round(h: Harness): Unit = {
    val spark = h.spark
    val out = s"${h.workDir}/incr/r$rounds"
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    if (rounds > 0) fs.delete(new Path(s"${h.workDir}/incr/r${rounds - 1}"), true)
    rounds += 1
    var total = 0.0
    var appendS = 0.0
    var appended = 0L
    var filesW = 0L
    var bytesW = 0L
    for (k <- cum.indices) {
      val since = System.currentTimeMillis()
      val (t, m) = h.op("incr_append")(Extract.runCheckpointed(spark, cum(k), out))
      val rows = m.getOrElse("rows", 0L).asInstanceOf[Long]
      h.check("incr.append_rows", rows == incTurns(k), s"increment $k: $rows != ${incTurns(k)}")
      if (h.trace) {
        val (n, b) = written(fs, new Path(out), since)
        filesW += n; bytesW += b
      }
      appendS += t; appended += rows; total += t
    }
    h.sample("incr.append_turns_per_s", "1/s", appended / appendS)
    val (tr, m) = h.op("incr_resume")(Extract.runCheckpointed(spark, cum.last, out))
    h.check("incr.resume_rows_zero", m.getOrElse("rows", -1L) == 0L, s"resume wrote ${m.get("rows")}")
    h.sample("incr.resume_noop_s", "s", tr)
    val injected = h.untimed(Extract.injectTransientErrors(spark, out,
      pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(seed)), lit(9)) === 0))
    h.check("incr.injected_errors", injected > 0, "error injection selected no rows")
    val (tp, mp) = h.op("incr_reparse")(Extract.reparseErrors(spark, cum.last, out))
    val reparsed = mp.getOrElse("rows", 0L).asInstanceOf[Long]
    h.check("incr.reparse_rows", reparsed >= injected, s"$reparsed < $injected")
    h.sample("incr.reparse_s", "s", tp)
    val (tc, _) = h.op("incr_compact")(Extract.compactResults(spark, out))
    h.sample("incr.compact_s", "s", tc)
    val (te, _) = h.op("incr_expire")(Extract.expireResultSnapshots(spark, out))
    h.sample("incr.expire_s", "s", te)
    total += tr + tp + tc + te
    h.sample("items_per_s", "1/s", appended / appendS)
    h.sample("round_s", "s", total)
    if (h.trace) {
      val results = new Path(s"$out/results")
      h.sample("sink.files_written", "count", filesW.toDouble / cum.length)
      h.sample("sink.bytes_written", "B", bytesW.toDouble / cum.length)
      h.sample("snapshot.live_files", "count",
        SnapshotStore.liveFiles(fs, results).map(_.size).getOrElse(0).toDouble)
      h.sample("snapshot.manifests", "count", SnapshotStore.snapshots(fs, results).size.toDouble)
    }
    h.untimed(checkFinal(h, out))
  }

  /** The final table equals the golden under the `extract_reparse` oracle's
    * projection, and the bucket lineage counts every row.
    */
  private def checkFinal(h: Harness, out: String): Unit = {
    import h.spark.implicits._
    val got = Extract.readResults(h.spark, out).drop("bucket").as[TurnResult]
      .map(r => (r.conv_id, r.turn_idx, r.input_width, r.input_height,
        r.cells_json, r.md, r.md_nohf, r.filtered, ResultJson.spansJson(r.spans)))
      .toDF().collect().map(ExtractIncremental.norm).sortBy(k => (k(0).toString, k(1).asInstanceOf[Long]))
    if (golden == null) golden = ExtractIncremental.golden(h)
    val want = golden
    val firstDiff = got.indices.find(i => i >= want.length || got(i) != want(i))
    h.check("incr.final_eq_golden", got.length == want.length && firstDiff.isEmpty,
      s"${got.length} rows vs ${want.length} golden; first differing row " +
        firstDiff.map(i => got(i).take(2).mkString("/")).getOrElse("-"))
    val rowsOut = h.spark.read.parquet(s"$out/lineage_buckets")
      .agg(sum(col("rows_out"))).collect()(0).getLong(0)
    h.check("incr.lineage_rows_out_eq_rows", rowsOut == got.length,
      s"lineage rows_out $rowsOut != ${got.length}")
  }

  def finish(h: Harness): Unit = ()

  def traced(h: Harness): Unit = {
    Seq("incr_append", "incr_resume", "incr_reparse", "incr_compact")
      .foreach(h.sparkMetrics)
    for (m <- Seq("sink.files_written", "sink.bytes_written",
        "snapshot.live_files", "snapshot.manifests"))
      h.metric(m, h.units(m), h.median(m))
    // the same per-turn layers, at their (small) share of this workload
    val turns = graft.pipeline.Extract.readTranscripts(h.spark, cum.last)
    ExtractBatch.replayTurns(h, turns)
  }
}

object ExtractIncremental {

  /** Row values with every integer widened to Long, so the golden's
    * int64 columns compare equal to the engine's int32 ones.
    */
  def norm(r: Row): Seq[Any] = r.toSeq.map {
    case i: Int => i.toLong
    case other => other
  }

  private def golden(h: Harness): IndexedSeq[Seq[Any]] =
    h.spark.read.parquet(s"${h.repoRoot}/src/test/resources/expected_t2.parquet")
      .select("conv_id", "turn_idx", "input_width", "input_height",
        "cells_json", "md", "md_nohf", "filtered", "spans_json")
      .collect().map(norm).sortBy(k => (k(0).toString, k(1).asInstanceOf[Long]))
      .toIndexedSeq
}
