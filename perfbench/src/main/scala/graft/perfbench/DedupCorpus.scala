package graft.perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.DocOps
import graft.streaming.DedupStream

/** `dedup_corpus`: batch MinHash keepers (`DocOps.dedupKeepers`), batch
  * SimHash keepers (`DocOps.simhashKeepers`), then the same corpus fed as
  * B appends through `DedupStream.processBatch` from empty state.
  */
final class DedupCorpus extends Workload {
  private var docs: DataFrame = _
  private var batches: IndexedSeq[String] = _
  private var nDocs = 0L
  private var rounds = 0
  private var minhashRef: Map[Long, Long] = _
  private var simhashRef: Map[Long, Long] = _
  private var lastState: String = _

  // the first, cold round takes 2-3x a warm one; later rounds change little
  val warmupRounds = 1

  def prepare(h: Harness): Unit = {
    docs = h.spark.read.parquet(s"${h.genDir}/docs")
    val fs = FileSystem.getLocal(h.spark.sparkContext.hadoopConfiguration)
    batches = fs.listStatus(new Path(s"${h.genDir}/stream")).map(_.getPath.getName)
      .sortBy(_.stripPrefix("b").toInt).map(b => s"${h.genDir}/stream/$b").toIndexedSeq
    nDocs = docs.count()
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("keeper_doc_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  def round(h: Harness): Unit = {
    val spark = h.spark
    if (minhashRef == null) minhashRef = h.untimed(
      labels(DocOps.keepersFromEdges(docs, DocOps.bruteForceJaccard(docs, 0.5))))
    val (tm, mk) = h.op("dedup_minhash")(labels(DocOps.dedupKeepers(docs, 0.5)))
    h.check("dedup.minhash_eq_brute_force", mk == minhashRef,
      s"${mk.count { case (d, k) => !minhashRef.get(d).contains(k) }} labels differ")
    h.sample("dedup.minhash_keepers_s", "s", tm)
    val (ts, sk) = h.op("dedup_simhash")(labels(DocOps.simhashKeepers(docs)))
    h.check("dedup.simhash_rows", sk.size == nDocs, s"${sk.size} != $nDocs")
    if (simhashRef == null) simhashRef = sk
    h.check("dedup.simhash_stable", sk == simhashRef, "labels changed between rounds")
    h.sample("dedup.simhash_keepers_s", "s", ts)

    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    if (lastState != null) fs.delete(new Path(lastState), true)
    val state = s"${h.workDir}/stream/r$rounds"
    lastState = state
    rounds += 1
    var streamS = 0.0
    for (b <- batches.indices) {
      val batch = spark.read.parquet(batches(b))
      val (t, _) = h.op("dedup_stream")(DedupStream.processBatch(spark, state, batch, b.toLong))
      h.sample(s"streaming.batch_s.$b", "s", t)
      streamS += t
    }
    val streamed = h.untimed(labels(DedupStream.readLabels(spark, state)))
    h.check("dedup.stream_eq_batch_simhash", streamed == sk,
      s"${streamed.size} streamed labels vs ${sk.size}; " +
        s"${sk.count { case (d, k) => !streamed.get(d).contains(k) }} differ")
    h.sample("dedup.stream_docs_per_s", "1/s", nDocs / streamS)
    h.sample("items_per_s", "1/s", nDocs / streamS)
    h.sample("round_s", "s", tm + ts + streamS)
  }

  def finish(h: Harness): Unit = ()

  /** Times the MinHash trunk stage by stage through the public `DocOps`
    * steps (digest collapse, shingles, signatures, LSH bands, candidates,
    * verify, CC), materialising each stage so its time is its own.
    */
  private def minhashStages(h: Harness): Unit = {
    def stage[A](name: String)(f: => A): A = h.op(s"ops_$name")(f)._2
    val reps = docs.groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
    val repDocs = docs.join(reps, Seq("doc_id"), "left_semi")
    val (tSh, sh) = h.op("ops_shingles") {
      val s = DocOps.shingles(repDocs).localCheckpoint(true); s.count(); s
    }
    val (tSig, sigs) = h.op("ops_minhash_sigs") {
      val s = DocOps.minhashSignatures(sh).localCheckpoint(true); s.count(); s
    }
    val bands = DocOps.lshBands(sigs).localCheckpoint(true)
    val buckets = stage("band_buckets")(bands.groupBy(col("band_idx"), col("band_hash"))
      .count().agg(max(col("count")), count(lit(1))).collect()(0))
    val (tCand, cands) = h.op("ops_lsh_candidates") {
      val c = DocOps.lshCandidates(bands).localCheckpoint(true); c.count(); c
    }
    val nCand = cands.count()
    val (tVer, nVer) = h.op("ops_verify")(DocOps.verifyJaccard(cands, sh, 0.5).count())
    val edges = stage("edges")(DocOps.nearDupEdges(docs, 0.5).localCheckpoint(true))
    val (tCc, _) = h.op("ops_cc")(DocOps.keepersFromEdges(docs, edges).count())
    h.metric("ops.shingles_s", "s", tSh)
    h.metric("ops.minhash_sigs_s", "s", tSig)
    h.metric("ops.lsh_candidates_s", "s", tCand)
    h.metric("ops.lsh_candidates", "count", nCand.toDouble)
    h.metric("ops.verify_s", "s", tVer)
    h.metric("ops.verified_pairs", "count", nVer.toDouble)
    h.metric("ops.verify_yield", "ratio", if (nCand == 0) 0.0 else nVer.toDouble / nCand)
    h.metric("ops.max_band_bucket", "count", buckets.getLong(0).toDouble)
    h.metric("ops.band_buckets", "count", buckets.getLong(1).toDouble)
    h.metric("ops.cc_s", "s", tCc)
    h.sparkMetrics("ops_cc")
    h.metric("ops.cc_jobs", "count", h.layer("spark.ops_cc.jobs")._1)
  }

  /** State size and read cost of the last round's stream state. */
  private def streamState(h: Harness): Unit = {
    val spark = h.spark
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new Path(lastState)).map(_.getPath)
      .filter(p => p.getName.startsWith("index_v") || p.getName.startsWith("labels_v"))
    def bytes(p: Path): Long = {
      val it = fs.listFiles(p, true)
      var b = 0L
      while (it.hasNext) {
        val s = it.next()
        if (!s.getPath.getName.startsWith(".")) b += s.getLen
      }
      b
    }
    val total = dirs.map(bytes).sum
    h.metric("streaming.state_versions", "count", dirs.length.toDouble)
    h.metric("streaming.state_bytes", "B", total.toDouble)
    h.metric("streaming.bytes_written_per_batch", "B", total.toDouble / batches.length)
    val (tl, _) = h.op("stream_read_labels")(DedupStream.readLabels(spark, lastState).count())
    val (ti, _) = h.op("stream_read_index")(DedupStream.readIndex(spark, lastState).count())
    h.metric("streaming.read_labels_s", "s", tl)
    h.metric("streaming.read_index_s", "s", ti)
    val perBatch = batches.indices.map(b => h.median(s"streaming.batch_s.$b"))
    perBatch.indices.foreach(b => h.metric(s"streaming.batch_s.$b", "s", perBatch(b)))
    h.metric("streaming.batch_s_growth", "s", Stats.slope(perBatch))
  }

  def traced(h: Harness): Unit = {
    Seq("dedup_minhash", "dedup_simhash", "dedup_stream").foreach(h.sparkMetrics)
    streamState(h)
    minhashStages(h)
  }
}
