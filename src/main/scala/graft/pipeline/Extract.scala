package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** The flagship pipeline: transcripts table → per-turn extraction results.
  *
  * Spark shape (SURVEY.md §3.1): parquet/Iceberg scan → column-pruned
  * projection (pruning happens BEFORE the object stage — a mapPartitions is
  * a pruning barrier) → `mapPartitions` object stage (regexes and the JSON
  * parser are instantiated once per partition, the analog of the per-task
  * parser at demo/demo_gradio_batch.py:976-982) → stable `(conv_id,
  * turn_idx)` ordering at the sink (dots_ocr/parser.py:292).
  *
  * Scale notes (100 TB / 10^12 turns):
  *  - The per-turn transform is embarrassingly parallel: NO shuffle in the
  *    hot path. Scan splits are size-bounded by the source
  *    (maxPartitionBytes / Iceberg split planning), so partitions stay
  *    balanced regardless of conversation length.
  *  - A shuffle appears only in conversation-level fan-in (`docFanIn`) and
  *    in checkpoint-resume's anti join; both are keyed on conv_id where a
  *    single 1M-turn conversation could skew a reducer — `saltedRepartition`
  *    plus AQE skew handling cover that (SURVEY.md §4).
  */
object Extract {

  /** Read a transcripts parquet/Iceberg dir into the typed input, with the
    * [[Turn]] encoder's schema: columns resolve by name (other columns are
    * not read), and no schema-inference job runs. A column of another type
    * — say an int64 `turn_idx` — fails when the data is read, not at
    * analysis.
    */
  def readTranscripts(spark: SparkSession, path: String): Dataset[Turn] = {
    val turn = Encoders.product[Turn]
    spark.read.schema(turn.schema).parquet(path).as(turn)
  }

  /** The core object stage. Input is projected to exactly the needed columns
    * first so parquet column pruning still applies upstream.
    */
  def extract(turns: Dataset[Turn]): Dataset[TurnResult] = {
    import turns.sparkSession.implicits._
    turns.mapPartitions { it =>
      // per-partition closure: compiled patterns in OutputCleaner /
      // FormatTransformer are JVM-static, shared across tasks in an executor
      it.map(ExtractTurn.apply)
    }
  }

  /** Full pipeline with stable output ordering restored after unordered
    * parallel execution (O1, parser.py:292): sortWithinPartitions keeps the
    * sort local (no extra shuffle) — output files are (conv_id, turn_idx)
    * runs, and any consumer needing a global order uses the same key.
    */
  def run(spark: SparkSession, transcriptsPath: String): Dataset[TurnResult] =
    extract(readTranscripts(spark, transcriptsPath))
      .sortWithinPartitions("conv_id", "turn_idx")

  /** Explicit skew lever for pathological input layouts (one conversation
    * dominating a file): spread rows over `parts` partitions by hashing
    * (conv_id, turn_idx/bucket) — a single huge conversation lands on
    * ~`len/bucket` partitions instead of one. Order is data-defined, so the
    * final sort key restores it (SURVEY §7.4.7).
    */
  def saltedRepartition(df: DataFrame, parts: Int, bucket: Int = 64): DataFrame =
    // NOTE: repartition(parts, expr) hash-partitions ON the expression — a
    // pre-pmod'ed salt would be hashed AGAIN (collapsing the spread), so the
    // salt column is the raw 64-bit hash of (conv_id, turn-bucket)
    df.repartition(parts, xxhash64(col("conv_id"),
      (col("turn_idx") / lit(bucket)).cast("long")))

  /** Checkpoint-resume (J1/Q5, demo/demo_gradio_batch.py:47-55,1254-1341):
    * drop turns whose (conv_id, turn_idx) already exist in the results table.
    * At scale this is a shuffled left-anti join; AQE converts it to broadcast
    * when the processed-key side is small after pruning.
    */
  def resumeFrom(turns: Dataset[Turn], processed: DataFrame): Dataset[Turn] = {
    import turns.sparkSession.implicits._
    turns.join(processed.select("conv_id", "turn_idx"),
      Seq("conv_id", "turn_idx"), "left_anti").as[Turn]
  }

  /** Conversation fan-in (A3, demo/demo_gradio.py:414-454): pages sorted by
    * turn_idx, markdown joined with "\n\n---\n\n".
    *
    * Scale shape: range-partition on conv_id (equal keys always land in ONE
    * partition) + partition-local sort, then a STREAMING per-group concat in
    * mapPartitions. Unlike collect_list + sort_array (the round-1 form), no
    * per-key aggregation buffer holds a conversation's rows as an array —
    * a 1M-turn conversation costs only its output string, which is the
    * operator's result and therefore irreducible. Sort keys include md so
    * the order is total even under duplicate turn_idx.
    */
  def docFanIn(results: DataFrame): DataFrame = {
    import results.sparkSession.implicits._
    val rows = results
      .where(col("md").isNotNull)
      .select(col("conv_id"), col("turn_idx").cast("int"), col("md"))
      .repartitionByRange(col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"), col("md"))
      .as[(String, Int, String)]
    rows.mapPartitions { it =>
      new Iterator[(String, String, Long)] {
        // one-row lookahead: `head` is the first row of the next group
        private var head: (String, Int, String) =
          if (it.hasNext) it.next() else null
        def hasNext: Boolean = head != null
        def next(): (String, String, Long) = {
          val conv = head._1
          val sb = new java.lang.StringBuilder(head._3)
          var n = 1L
          var continue = true
          while (continue) {
            val r = if (it.hasNext) it.next() else null
            if (r == null) { head = null; continue = false }
            else if (r._1 == conv) { sb.append("\n\n---\n\n").append(r._3); n += 1 }
            else { head = r; continue = false }
          }
          (conv, sb.toString, n)
        }
      }
    }.toDF("conv_id", "doc_md", "n_pages")
  }

  /** Upper bound on the wait for an observation's listener event after its
    * action has returned; a backstop only — the event normally lands in
    * milliseconds.
    */
  private val ObservationWait = scala.concurrent.duration.Duration(60, "s")

  /** The metrics of `obs` after its action has finished, or None when
    * there are none: when AQE prunes the observed subtree (an anti-join
    * whose other side turned out empty) Spark reports an empty row, and an
    * older listener never completes the observation at all — a plain
    * `obs.get` would then block forever. Callers treat None as "unknown".
    */
  private def observed(obs: Observation): Option[Map[String, Any]] =
    scala.util.Try(scala.concurrent.Await.result(obs.future, ObservationWait))
      .toOption.filter(_.length > 0)
      .map(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq))

  /** The number of conv_id-hash buckets of bucket lineage. */
  private val NBuckets = 32L

  /** The deterministic conv_id-hash bucket of bucket lineage (portable
    * md5-prefix family), as the long the lineage tables store.
    */
  private def bucketHash(c: Column): Column =
    pmod(conv(substring(md5(c), 1, 15), 16, 10).cast("long"), lit(NBuckets))

  /** The [[LineageTally]] aggregate over result rows, per conv_id-hash
    * bucket and per task partition: the one counter behind both lineage
    * tables and the corpus metrics the writers return (A2).
    */
  private def tally: Column =
    LineageTally.column(bucketHash(col("conv_id"))).as("lineage")

  /** The value of [[tally]] observed as `obs`, or None (see [[observed]]). */
  private def observedTally(obs: Observation): Option[LineageTallies] =
    observed(obs).map(m => LineageTally.tallies(m("lineage").asInstanceOf[Row]))

  /** The corpus metrics of an observed tally: rows, filtered rows, error
    * rows and md chars, each summed over its bucket rows.
    */
  private def metricsOf(t: LineageTallies): Map[String, Any] = Map(
    "rows" -> t.buckets.map(_.rows_out).sum,
    "filtered_rows" -> t.buckets.map(_.filtered_rows).sum,
    "error_rows" -> t.buckets.map(_.error_rows).sum,
    "md_chars" -> t.buckets.map(_.md_chars).sum)

  /** The results table's schema, the [[TurnResult]] encoder's. Internal
    * tables are read with fixed schemas, which skips Spark's schema
    * inference job (one per read).
    */
  private lazy val resultsSchema: StructType = Encoders.product[TurnResult].schema

  /** Fixed schema of `lineage_buckets`: the output schema of
    * [[bucketLineage]], which defines it (analysis of an empty plan; no job).
    */
  private def bucketLineageSchema(spark: SparkSession): StructType =
    bucketLineage(spark.createDataFrame(
      java.util.List.of[Row](), resultsSchema)).schema

  /** Fixed schema of the partition lineage, the per-run log: the write
    * task partition's counters plus the run that wrote them.
    */
  private val runLineageSchema: StructType = StructType(Seq(
    StructField("part_id", IntegerType, nullable = false),
    StructField("rows_out", LongType, nullable = false),
    StructField("filtered_rows", LongType),
    StructField("error_rows", LongType),
    StructField("min_conv_id", StringType),
    StructField("max_conv_id", StringType),
    StructField("run_id", LongType, nullable = false)))

  /** Manifest-aware read of a results table (plain dir when no manifest —
    * see [[SnapshotStore]]). All internal readers resolve through this, so
    * maintenance ops' pre-commit file movements are never observed.
    */
  def readResults(spark: SparkSession, outDir: String): DataFrame =
    SnapshotStore.read(spark, s"$outDir/results", resultsSchema)

  /** Time-travel read: the results table as of snapshot `id` (the
    * VERSION-AS-OF analog; see [[SnapshotStore.readAt]] for the expiry
    * contract). Available once the table carries a manifest.
    */
  def readResultsAt(spark: SparkSession, outDir: String, id: Long): DataFrame =
    SnapshotStore.readAt(spark, s"$outDir/results", id, resultsSchema)

  /** Retention maintenance (Iceberg `expire_snapshots` analog): keep the
    * newest `retainLast` snapshots of the results table, delete the rest's
    * manifests and exclusively-referenced data files. No-op on a table
    * with no manifest. Returns the expired snapshot ids.
    */
  def expireResultSnapshots(spark: SparkSession, outDir: String,
                            retainLast: Int = 2): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$outDir/results")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotStore.expireSnapshots(fs, p, retainLast)
  }

  /** Marker signalling "results were swapped but the lineage patch has not
    * completed" — created by [[reparseErrors]] immediately before its
    * snapshot commit and cleared only after both lineage tables are
    * patched. Its presence at the start of any run means lineage is
    * (possibly) stale in ways the rows_out invariant cannot see — reparse
    * preserves the key set, so filtered/error/md_chars can drift while
    * rows_out stays exact — and forces a full lineage heal.
    */
  private def lineageMarker(outDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$outDir/_lineage_patch_pending")

  /** Recompute both lineage tables from the live results: ONE scan
    * observes the [[tally]] (a `noop` write drives it; `agg` rejects the
    * tally's `spark_partition_id()` argument), then the old run log is
    * deleted and both tables are written from the tally as run 0 — the heal
    * discards per-run history, keeping the auditable content lineage exact.
    * A crash after the delete leaves the run log missing, which the next
    * run heals. An unknown tally (see [[observed]]) fails the heal before
    * it touches either table, so what called for it is still there for the
    * next run to see.
    */
  private def healLineage(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                          outDir: String): Unit = {
    val obs = Observation("lineage_heal")
    readResults(spark, outDir).select("conv_id", "filtered", "status", "md")
      .observe(obs, tally).write.format("noop").mode("overwrite").save()
    val t = observedTally(obs).getOrElse(throw new IllegalStateException(
      s"lineage heal of $outDir observed no tally"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/lineage"), true)
    writeLineage(spark, fs, outDir, t.buckets, t.parts, 0L)
  }

  /** The lineage state, read on the driver: the `lineage_buckets` rows
    * (≤ [[NBuckets]]) and the run log's (max `run_id`, count of null
    * `run_id`s), each None when its table is missing. Max is -1 for an
    * empty run log; a file written before run ids existed has no such
    * column, so each of its rows counts as a null.
    */
  private def lineageState(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                           outDir: String)
      : (Option[Seq[LineageTally]], Option[(Long, Long)]) = {
    def table(dir: String, schema: StructType): Option[Seq[Row]] = {
      val p = new org.apache.hadoop.fs.Path(s"$outDir/$dir")
      Option.when(fs.exists(p))(DriverParquet.read(fs, p, schema))
    }
    val runLog = table("lineage", runLineageSchema).map { rows =>
      val ids = rows.filterNot(_.isNullAt(6)).map(_.getLong(6))
      (ids.maxOption.getOrElse(-1L), (rows.size - ids.size).toLong)
    }
    (table("lineage_buckets", bucketLineageSchema(spark)).map(_.map(LineageTally.fromRow)),
      runLog)
  }

  /** Whether the lineage state cannot take a delta and must be recomputed:
    * the reparse marker is set (reparse keeps the key set, so the count
    * invariant cannot see its half-patched lineage), a lineage table is
    * missing, a `run_id` is null (a table from before run ids), or the
    * bucket `rows_out` sum differs from the observed results count — None
    * (an observation that came back empty) counts as a difference.
    */
  private def lineageStale(markerSet: Boolean, buckets: Option[Seq[LineageTally]],
                           runLog: Option[(Long, Long)], rows: Option[Long]): Boolean =
    markerSet || runLog.forall { case (_, nullRunIds) => nullRunIds > 0L } ||
      buckets.isEmpty || rows != buckets.map(_.map(_.rows_out).sum)

  /** Overwrite `lineage_buckets` and append the run `runId` to the
    * partition lineage, both from driver-held rows and on the driver (one
    * file each, see [[DriverParquet.write]]).
    */
  private def writeLineage(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                           outDir: String, buckets: Seq[LineageTally],
                           parts: Seq[LineageTally], runId: Long): Unit = {
    DriverParquet.write(fs, new org.apache.hadoop.fs.Path(s"$outDir/lineage_buckets"),
      bucketLineageSchema(spark), buckets.sortBy(_.key).map(t => Row(
        t.key.map(Long.box).orNull, t.rows_out, t.filtered_rows, t.error_rows,
        t.md_chars, t.min_conv_id, t.max_conv_id)), replace = true)
    DriverParquet.write(fs, new org.apache.hadoop.fs.Path(s"$outDir/lineage"),
      runLineageSchema, parts.sortBy(_.key).map(t => Row(t.key.get.toInt,
        t.rows_out, t.filtered_rows, t.error_rows, t.min_conv_id, t.max_conv_id,
        runId)), replace = false)
  }

  /** `buckets` with the rows of the tally `replaced` swapped for those of
    * `added`: per bucket the three content sums become old − replaced +
    * new, while `rows_out` and the conv_id range stay, which holds only
    * when every touched bucket is known and keeps its row count (the key
    * set is unchanged). None otherwise: the caller recomputes.
    */
  private def patchBuckets(buckets: Seq[LineageTally], replaced: Seq[LineageTally],
                           added: Seq[LineageTally]): Option[Seq[LineageTally]] = {
    val out = replaced.map(t => t.key -> t).toMap
    val in = added.map(t => t.key -> t).toMap
    val sameKeys = out.keySet == in.keySet &&
      out.keySet.subsetOf(buckets.map(_.key).toSet) &&
      out.forall { case (k, t) => in(k).rows_out == t.rows_out }
    Option.when(sameKeys)(buckets.map(b => (out.get(b.key), in.get(b.key)) match {
      case (Some(o), Some(n)) => b.copy(
        filtered_rows = b.filtered_rows - o.filtered_rows + n.filtered_rows,
        error_rows = b.error_rows - o.error_rows + n.error_rows,
        md_chars = b.md_chars - o.md_chars + n.md_chars)
      case _ => b
    }))
  }

  /** Move every part-file from `srcDir` into `dstDir` (fresh UUID names —
    * collisions impossible), returning the qualified destination paths for
    * the snapshot commit. Rename failures throw: at this stage nothing has
    * been committed, so the table is untouched.
    */
  private def movePartsCollect(fs: org.apache.hadoop.fs.FileSystem,
                               srcDir: org.apache.hadoop.fs.Path,
                               dstDir: org.apache.hadoop.fs.Path): Seq[String] = {
    if (!fs.exists(dstDir) && !fs.mkdirs(dstDir))
      throw new IllegalStateException(s"could not create $dstDir")
    fs.listStatus(srcDir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-")).toSeq
      .map { s =>
        val dst = new org.apache.hadoop.fs.Path(dstDir, s.getPath.getName)
        if (!fs.rename(s.getPath, dst))
          throw new IllegalStateException(s"rename ${s.getPath} -> $dst failed")
        SnapshotStore.qualify(fs, dst.toString)
      }
  }

  /** Whole-table rewrite through the snapshot protocol: stage in `tmpPath`
    * (already written), bootstrap a manifest over the CURRENT physical
    * files if none exists (so a crash mid-move leaves readers on the old
    * consistent snapshot, never a half-populated dir), move the staged
    * files in, commit the new snapshot, then sweep ORPHANS — files neither
    * committed nor referenced by any retained snapshot. Replaced files
    * survive (they back time travel) until [[expireResultSnapshots]].
    */
  private def commitRewrite(fs: org.apache.hadoop.fs.FileSystem,
                            tmpPath: org.apache.hadoop.fs.Path,
                            resultsPath: org.apache.hadoop.fs.Path): Unit = {
    val live = SnapshotStore.bootstrap(fs, resultsPath,
      listDataFiles(fs, resultsPath).toSeq.sorted)
    // physical listing taken BEFORE this writer's staged files move in:
    // pre-rewrite live files + orphans stranded by earlier crashes. The
    // sweep below is restricted to (preList ++ moved) so a concurrent
    // append's moved-but-not-yet-committed files are out of reach unless
    // the append both moved in before this listing AND commits after the
    // `keep` read — i.e. spans the entire rewrite; under the declared
    // single-writer(-per-table) scope (SnapshotStore.scala:99-110) no
    // such writer exists. (Round 7: the previous post-commit full listing
    // could sweep any append that moved in anywhere in the window.)
    val preList = listDataFiles(fs, resultsPath)
    val moved = movePartsCollect(fs, tmpPath, resultsPath)
    // whole-table rewrite = replace the pre-rewrite live set with the
    // staged one; through the rebase loop a concurrent APPEND landing in
    // the window survives (its files are neither in `removes` nor
    // replaced), instead of being clobbered by an absolute commit
    SnapshotStore.commitRebase(fs, resultsPath, adds = moved, removes = live)
    // sweep ORPHANS only (round 7, the Iceberg retention contract):
    // candidates are limited to files this writer observed pre-move or
    // staged itself (crash orphans, rebase-dropped stages) — a concurrent
    // append that survived the rebase must survive the sweep too — and a
    // file referenced by ANY retained snapshot manifest is out of bounds:
    // it backs a time-travel read (readResultsAt) and is retired by
    // expireResultSnapshots when its last referencing snapshot expires,
    // not here. The REPLACED live set is therefore no longer deleted at
    // commit time; snapshot N-1 stays readable until expiry.
    val referenced = SnapshotStore.referencedFiles(fs, resultsPath)
    ((preList ++ moved) -- referenced).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      if (!fs.delete(p, false))
        System.err.println(s"[graft] WARN: could not sweep orphan $p; it is " +
          "invisible through the manifests and the next rewrite retries")
    }
  }

  /** Fail fast on a results dir in the bucket-partitioned layout an older
    * build wrote (`bucket=N` subdirs): this build reads and writes the flat
    * layout only. Every writer checks before it touches anything.
    */
  private def requireFlat(fs: org.apache.hadoop.fs.FileSystem,
                          path: org.apache.hadoop.fs.Path): Unit =
    require(!fs.exists(path) || !fs.listStatus(path)
      .exists(s => s.isDirectory && s.getPath.getName.startsWith("bucket=")),
      s"$path is in the bucket-partitioned layout (bucket=N subdirs), which " +
        "this build neither reads nor writes")

  /** The part-files of a results dir. */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                            path: org.apache.hadoop.fs.Path): Set[String] =
    if (!fs.exists(path)) Set.empty
    else fs.listStatus(path).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).toSet

  /** Checkpointed production run (Q3-Q5 semantics, SURVEY §7.3): skip keys
    * already present in `outDir`, extract only the remainder, append results
    * + lineage. Idempotent under re-runs and task retries (parquet file
    * commits are atomic per task attempt); error rows are carried, never
    * dropped, so a later pass can re-parse them by key. Returns the
    * increment's corpus metrics (`rows`, `filtered_rows`, `error_rows`,
    * `md_chars`), summed over the bucket rows of the write's
    * [[LineageTally]] observation — the same counter as its lineage.
    *
    * Lineage is maintained INCREMENTALLY and in the same pass as the write
    * (the InkStream idea: derived state is kept consistent by the pass that
    * changes the base table, not rebuilt by re-reading it):
    *  - before the write, the driver itself reads the ≤32
    *    `lineage_buckets` rows and the run log's (max `run_id`, null
    *    `run_id`s) through parquet-hadoop ([[DriverParquet]]): no Spark job
    *    and no second driver thread;
    *  - the resume anti-join counts the existing results while it scans
    *    their keys (an observation on the results side);
    *  - the write's observation tallies the increment per conv_id-hash
    *    bucket and per write task partition ([[LineageTally]]);
    *  - the driver merges the bucket tally into the old rows (sums add,
    *    min/max combine — all associative) and writes both lineage tables
    *    itself, one file each: `lineage_buckets` overwritten, the partition
    *    lineage APPENDED under a fresh `run_id`.
    * So every Spark job of the call touches data: the resume anti-join's
    * scan of the results keys and the write (a heal adds its one scan).
    * `lineage.part_id` is therefore the task partition of the write that
    * produced the rows — the run that actually happened. A zero-row resume
    * writes no lineage at all: its files stay byte-identical (spec-asserted
    * in GoldenSpec).
    *
    * Self-healing: the results append and the lineage writes are separate
    * non-atomic steps, so a crash between them leaves lineage stale, which a
    * later zero-row resume would never repair. After the write, from the
    * numbers already in hand, the run heals (recomputes both tables from the
    * full results) when the reparse marker exists (reparse keeps the key
    * set, so the count invariant cannot see its half-patched lineage), when
    * a lineage table is missing, when a `run_id` is null (a table from
    * before run ids), when the bucket `rows_out` sum differs from the
    * observed results count, or when an observation came back empty —
    * unknown counts as stale, never as a wait.
    */
  def runCheckpointed(spark: SparkSession, transcriptsPath: String,
                      outDir: String): Map[String, Any] = {
    val turns = readTranscripts(spark, transcriptsPath)
    // Resolve through Hadoop's FileSystem, not java.io.File: outDir may be
    // HDFS/S3 under spark-submit, where a local-File check is always false
    // and a resumed run would silently re-append already-processed keys.
    val resultsPath = new org.apache.hadoop.fs.Path(s"$outDir/results")
    val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireFlat(fs, resultsPath)
    def dataFiles(): Set[String] = listDataFiles(fs, resultsPath)
    val existed = fs.exists(resultsPath)
    val markerSet = fs.exists(lineageMarker(outDir))
    val (oldBuckets, runLog) = lineageState(spark, fs, outDir)
    val scanned = Observation("resumed_results")
    val remaining =
      if (existed) resumeFrom(turns, readResults(spark, outDir)
        .select("conv_id", "turn_idx").observe(scanned, count(lit(1)).as("rows")))
      else turns
    val obs = Observation("extract_tally")
    val df = extract(remaining).sortWithinPartitions("conv_id", "turn_idx")
      .observe(obs, tally)
    val before = dataFiles()
    // the live set per the manifest, when the table carries one: crash
    // orphans may exist physically but must not enter the next snapshot
    val liveBefore = SnapshotStore.liveFiles(fs, resultsPath)
    df.write.mode("append").parquet(s"$outDir/results")
    val written = observedTally(obs)
    val newFiles = (dataFiles() -- before).toSeq.sorted
    // a manifest-carrying table folds the appended files into a new
    // snapshot (manifest-less tables stay plain — the manifest appears
    // lazily with the first maintenance op)
    // append = an adds-only delta; routed through the optimistic rebase
    // loop (round 6) so a concurrent maintenance commit re-bases this
    // append instead of failing it (single-writer behavior identical)
    liveBefore.foreach { _ =>
      if (newFiles.nonEmpty)
        SnapshotStore.commitRebase(fs, resultsPath, adds = newFiles,
          removes = Seq.empty)
    }
    // (only lineage_buckets carries the rows_out == table-count invariant:
    // the partition-lineage table is an append-only run log whose sums
    // legitimately exceed the row count once reparseErrors has appended a
    // re-parse batch)
    val healNeeded = written.isEmpty || existed && lineageStale(markerSet,
      oldBuckets, runLog, observed(scanned).map(_("rows").asInstanceOf[Long]))
    if (healNeeded) {
      healLineage(spark, fs, outDir)
      fs.delete(lineageMarker(outDir), false) // cleared only after the heal
    } else written.filter(_.buckets.nonEmpty).foreach { inc =>
      writeLineage(spark, fs, outDir,
        LineageTally.merge(oldBuckets.getOrElse(Seq.empty) ++ inc.buckets),
        inc.parts, runLog.fold(0L)(_._1 + 1L))
    }
    written.fold(Map.empty[String, Any])(metricsOf)
  }

  /** Error-row re-parse pass (Q4's loop closed; the
    * demo_gradio_batch.py:1254-1341 resume flow): re-drive the turns whose
    * rows errored through extraction and replace those rows in place by
    * key, in one pass over the table and one write, keeping lineage from
    * what the pass itself observed:
    *  - the driver reads the lineage state as [[runCheckpointed]] reads it
    *    (no Spark job, no second driver thread);
    *  - ONE scan, with no shuffle, collects the names of the part-files
    *    holding error rows (`input_file_name()`, made distinct per
    *    partition); the same scan observes the table's row count and tallies
    *    the error rows about to be replaced per conv_id-hash bucket
    *    ([[LineageTally]]). No error file means nothing to do;
    *  - ONE write stages the replacement — the affected files' non-error
    *    rows plus the re-extracted error turns, whose tally rides the
    *    write's observation — straight into `results_reparse_tmp`;
    *  - the staged files move in and the swap commits (below); then the
    *    driver patches `lineage_buckets` from the three tallies (per bucket
    *    filtered/error/md sums become old − replaced + new; `rows_out` and
    *    the conv_id range are invariant because the key set is unchanged)
    *    and appends the pass to the partition lineage under a fresh
    *    `run_id`, both lineage writes on the driver.
    * `lineage.part_id` of a reparse run is therefore the task partition of
    * the write that re-extracted the rows. The returned metrics (`rows`,
    * `filtered_rows`, `error_rows`, `md_chars` of the re-extracted rows)
    * are sums over the bucket rows of that same write tally, plus
    * `rewrite_mode`.
    *
    * Self-healing: the pass never takes a delta against lineage it cannot
    * trust. On the conditions [[runCheckpointed]] heals on — the reparse
    * marker, a missing lineage table, a null `run_id`, a bucket `rows_out`
    * sum other than the observed row count, an observation that came back
    * empty — or when a bucket's row count moved (an error key missing from,
    * or duplicated in, the transcripts), it recomputes both lineage tables
    * from the committed results instead of patching them; a table with no
    * error rows is healed all the same.
    *
    * Scale note: the rewrite is FILE-granular — only the part-files that
    * contain error rows are retired and replaced; every other file survives
    * byte-identical (spec-asserted). This matches Iceberg MERGE's I/O
    * granularity. Transactionality: the swap commits through the
    * [[SnapshotStore]] manifest — replacements move in under fresh names,
    * ONE manifest rename publishes the new file set, and replaced files
    * stay on disk backing the pre-reparse snapshot (retention contract;
    * [[expireResultSnapshots]] retires them), so manifest-resolving readers
    * observe either the old or the new table, never a mix (COVERAGE.md
    * divergence #2 is thereby narrowed to concurrent-writer arbitration).
    * The marker goes down before the commit and is cleared only once
    * lineage is consistent again, so a crash in between forces the next
    * run to heal. Replacement files accumulate per pass; compaction and
    * expiry are separate concerns, as for Iceberg — [[compactResults]]
    * also sweeps any orphans a crashed pass left. Assumes every error key
    * still exists in the transcripts table (true here by construction:
    * error rows originate from it; otherwise lineage heals).
    *
    * Driver-list guard: the error-file list is collected on the driver —
    * control-plane-sized at realistic error rates, but a SYSTEMIC payload
    * bug could smear errors across every file, degenerating the
    * "file-granular" rewrite into a full-table rewrite driven through a
    * driver-held list. When error files exceed half the live set, fall
    * back to an explicit whole-table rewrite (`rewrite_mode` = "full" in
    * the returned metrics, with a log line); the lineage patch is
    * granularity-independent either way.
    */
  def reparseErrors(spark: SparkSession, transcriptsPath: String,
                    outDir: String): Map[String, Any] = {
    import spark.implicits._
    val resultsPath = new org.apache.hadoop.fs.Path(s"$outDir/results")
    val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireFlat(fs, resultsPath)
    val marker = lineageMarker(outDir)
    val markerSet = fs.exists(marker)
    val (oldBuckets, runLog) = lineageState(spark, fs, outDir)
    val results = readResults(spark, outDir)
    val isError = col("status") === "error"
    val scanned = Observation("reparse_scanned")
    val replaced = Observation("reparse_replaced")
    // the filter stays above the count's observation (Spark pushes no
    // filter through one), so the count covers every row
    val errFiles = results.select("conv_id", "filtered", "status", "md")
      .observe(scanned, count(lit(1)).as("rows"))
      .where(isError).observe(replaced, tally)
      .select(input_file_name()).as[String]
      .mapPartitions(_.toSet.iterator)
      .collect().map(SnapshotStore.qualify(fs, _)).toSet
    val stale = lineageStale(markerSet, oldBuckets, runLog,
      observed(scanned).map(_("rows").asInstanceOf[Long]))
    def heal(): Unit = {
      healLineage(spark, fs, outDir)
      fs.delete(marker, false) // cleared only after the heal
    }
    if (errFiles.isEmpty) {
      if (stale) heal()
      return Map("rows" -> 0L, "rewrite_mode" -> "none")
    }

    // manifest bootstrap BEFORE any file moves: from here on, readers
    // resolve through a committed snapshot, so nothing below is visible
    // until the commit
    val live = SnapshotStore.bootstrap(fs, resultsPath,
      listDataFiles(fs, resultsPath).toSeq.sorted).toSet
    val fullRewrite = errFiles.size * 2 > live.size
    if (fullRewrite)
      System.err.println(s"[graft] reparse: ${errFiles.size} of " +
        s"${live.size} files contain errors; falling back from " +
        "file-granular to whole-table rewrite")
    // the rows of the affected files (file-granular) or of the whole table
    // (fallback): their error keys are re-extracted, the rest kept
    val affected =
      if (fullRewrite) results
      else spark.read.schema(resultsSchema).parquet(errFiles.toSeq.sorted: _*)
    val turnsErr = readTranscripts(spark, transcriptsPath).toDF()
      .join(affected.where(isError).select("conv_id", "turn_idx"),
        Seq("conv_id", "turn_idx"), "left_semi").as[Turn]
    val obs = Observation("reparse_tally")
    val inc = extract(turnsErr).sortWithinPartitions("conv_id", "turn_idx")
      .observe(obs, tally)

    val tmpDir = s"$outDir/results_reparse_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmpDir)
    // the staging dir is fully re-derivable: clear any leftover from a
    // crashed pass up front, and always clean up on exit
    try {
      fs.delete(tmpPath, true)
      affected.where(!isError).unionByName(inc.toDF())
        .write.mode("overwrite").parquet(tmpDir)

      // tmp fully materialized: move replacements in (fresh UUID names),
      // then COMMIT — the one atomic step. The marker goes down first so a
      // crash after the commit but before the lineage patch forces a heal.
      val moved = movePartsCollect(fs, tmpPath, resultsPath)
      fs.create(marker, true).close()
      // reparse = replace the error-holding files (or the whole live set
      // in fallback) with the rewritten ones — an (adds, removes) delta,
      // committed through the rebase loop. Replaced files are NOT deleted
      // (retention contract): the pre-reparse snapshot still lists them,
      // and expireResultSnapshots retires them with it.
      SnapshotStore.commitRebase(fs, resultsPath, adds = moved,
        removes = (if (fullRewrite) live else errFiles).toSeq)

      val written = observedTally(obs)
      val patch = for {
        added <- written if !stale
        r <- observedTally(replaced)
        buckets <- patchBuckets(oldBuckets.get, r.buckets, added.buckets)
      } yield (buckets, added.parts)
      patch match {
        case Some((buckets, parts)) =>
          writeLineage(spark, fs, outDir, buckets, parts, runLog.get._1 + 1L)
          fs.delete(marker, false) // lineage consistent again
        case None => heal()
      }
      written.fold(Map.empty[String, Any])(metricsOf) + ("rewrite_mode" ->
        (if (fullRewrite) "full" else "file_granular"))
    } finally fs.delete(tmpPath, true)
  }

  /** Table maintenance: compact a results dir whose file count has grown
    * through appends and re-parse passes — the plain-parquet analog of
    * Iceberg's rewrite_data_files. Row content is preserved exactly and
    * re-sorted to the (conv_id, turn_idx) run order (O1) within each of at
    * most `flatFiles` files (a coalesce, no shuffle); lineage is untouched —
    * the row set does not change, so the bucket invariant keeps holding
    * (spec-asserted).
    *
    * Commits through the [[SnapshotStore]] manifest (round 5): the rewrite
    * is staged, moved in under fresh names, published by one manifest
    * rename; orphans earlier crashed maintenance passes left are swept
    * after the commit, while the replaced files survive to back the
    * pre-compaction snapshot until [[expireResultSnapshots]] (round 7).
    * No step deletes live or snapshot-referenced data.
    */
  def compactResults(spark: SparkSession, outDir: String,
                     flatFiles: Int = 32): Unit = {
    val resultsPath = new org.apache.hadoop.fs.Path(s"$outDir/results")
    val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireFlat(fs, resultsPath)
    val tmpDir = s"$outDir/results_compact_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmpDir)
    try {
      fs.delete(tmpPath, true) // leftover from a crashed pass: re-derivable
      readResults(spark, outDir).coalesce(flatFiles)
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite").parquet(tmpDir)
      commitRewrite(fs, tmpPath, resultsPath)
    } finally fs.delete(tmpPath, true)
  }

  /** Fault-injection utility for exercising [[reparseErrors]]: degrade the
    * rows matching `pred` to the transient-error shape the extractor emits
    * (status='error', payload columns nulled, reason carried) and rewrite
    * results + both lineage tables to the CONSISTENT degraded state — as if
    * those turns had failed transiently during the original run. Test/spec
    * harness only; production errors come from the extractor itself.
    */
  def injectTransientErrors(spark: SparkSession, outDir: String,
                            pred: org.apache.spark.sql.Column): Long = {
    val resultsPath = new org.apache.hadoop.fs.Path(s"$outDir/results")
    val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireFlat(fs, resultsPath)
    val results = readResults(spark, outDir)
    val degraded = results.select(
      col("conv_id"), col("turn_idx"), col("role"), col("tool"),
      col("orig_width"), col("orig_height"),
      when(pred, lit(0)).otherwise(col("input_width")).as("input_width"),
      when(pred, lit(0)).otherwise(col("input_height")).as("input_height"),
      when(pred, lit(null).cast("string")).otherwise(col("cells_json")).as("cells_json"),
      when(pred, lit(null).cast("string")).otherwise(col("md")).as("md"),
      when(pred, lit(null).cast("string")).otherwise(col("md_nohf")).as("md_nohf"),
      when(pred, lit(true)).otherwise(col("filtered")).as("filtered"),
      when(pred, lit("error")).otherwise(col("status")).as("status"),
      when(pred, lit("SimulatedTransientError: injected"))
        .otherwise(col("error_reason")).as("error_reason"),
      when(pred, array().cast(results.schema("spans").dataType))
        .otherwise(col("spans")).as("spans"),
      col("clean_ops"))
    val nInjected = results.where(pred).count()
    val tmpDir = s"$outDir/results_inject_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmpDir)
    try {
      fs.delete(tmpPath, true)
      degraded.write.mode("overwrite").parquet(tmpDir)
      commitRewrite(fs, tmpPath, resultsPath)
    } finally fs.delete(tmpPath, true)
    healLineage(spark, fs, outDir)
    nInjected
  }

  /** Deterministic CONTENT-keyed lineage: per conv_id-hash bucket, rows out,
    * filtered/error counts, md volume, conv_id range. The writers keep it
    * through [[LineageTally]], which counts exactly what this function
    * does; it remains the reference the specs compare against and the
    * source of the `lineage_buckets` schema. Physical-partition lineage
    * (the `lineage` run log, also written) reflects the run that happened
    * — useful operationally but unstable across re-runs and cluster sizes;
    * bucket lineage is the AUDITABLE surface: identical for any execution
    * that produced the correct row set, so an external engine can
    * recompute it from ground truth (the `extract_lineage` oracle does,
    * from the reference-golden parquet). The hash is the portable
    * md5-prefix family (DuckDB-recomputable).
    */
  def bucketLineage(results: DataFrame): DataFrame = {
    results
      .withColumn("bucket", bucketHash(col("conv_id")))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("rows_out"),
        sum(when(col("filtered"), 1L).otherwise(0L)).as("filtered_rows"),
        sum(when(col("status") === "error", 1L).otherwise(0L)).as("error_rows"),
        sum(length(coalesce(col("md"), lit("")))).as("md_chars"),
        min(col("conv_id")).as("min_conv_id"),
        max(col("conv_id")).as("max_conv_id"))
  }
}
