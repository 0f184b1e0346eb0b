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

  /** The value of [[tally]] observed as `obs` after its action has
    * finished, or None when there is none: when AQE prunes the observed
    * subtree Spark reports an empty row, and an older listener never
    * completes the observation at all — a plain `obs.get` would then block
    * forever. Callers treat None as "unknown".
    */
  private def observedTally(obs: Observation): Option[LineageTallies] =
    scala.util.Try(scala.concurrent.Await.result(obs.future, ObservationWait))
      .toOption.filter(_.length > 0)
      .map(r => LineageTally.tallies(r.getAs[Row]("lineage")))

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
    * [[bucketLineage]], restated so that no writer pays for analysing it
    * (~18 ms a time); CheckpointSpec compares the two through the footers.
    */
  private val bucketLineageSchema: StructType = StructType(Seq(
    StructField("bucket", LongType),
    StructField("rows_out", LongType, nullable = false),
    StructField("filtered_rows", LongType),
    StructField("error_rows", LongType),
    StructField("md_chars", LongType),
    StructField("min_conv_id", StringType),
    StructField("max_conv_id", StringType)))

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

  /** Read of a results table through its current snapshot (see
    * [[SnapshotStore]]). All internal readers resolve through this, so
    * writers' uncommitted and retired files are never observed.
    */
  def readResults(spark: SparkSession, outDir: String): DataFrame =
    SnapshotStore.read(spark, s"$outDir/results", resultsSchema)

  /** Time-travel read: the results table as of snapshot `id` (the
    * VERSION-AS-OF analog; see [[SnapshotStore.readAt]] for the expiry
    * contract). Snapshot 0 is the first append's commit, and every later
    * append, reparse and compaction commits the next id.
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

  /** The current snapshot id of a results table, None when there is no
    * table yet. A table an older build wrote without a manifest first
    * gets one over its part-files ([[SnapshotStore.bootstrap]]).
    */
  private def snapshotOf(fs: org.apache.hadoop.fs.FileSystem,
                         resultsPath: org.apache.hadoop.fs.Path): Option[Long] =
    Option.when(fs.exists(resultsPath))(SnapshotStore.bootstrap(fs, resultsPath,
      listDataFiles(fs, resultsPath).toSeq.sorted))

  /** Footer keys of the `lineage_buckets` stamp: the results snapshot its
    * rows describe and the run that wrote them.
    */
  private val SnapshotKey = "graft.lineage.snapshot"
  private val RunKey = "graft.lineage.run"

  /** The `lineage_buckets` rows, read on the driver, and their stamp
    * (snapshot, run): None for a missing table and for a file without
    * one (an older build's, or Spark's).
    */
  private final case class Lineage(buckets: Seq[LineageTally], stamp: Option[(Long, Long)]) {

    /** Whether the rows may take a delta: the stamp names `base`, the
      * snapshot the run started from, and the run's commit, if it made
      * one, landed at the next id. Anything else heals.
      */
    def describes(base: Option[Long], committed: Option[Long]): Boolean =
      stamp.map(_._1) == base && committed.forall(_ == base.fold(0L)(_ + 1L))

    /** The `run_id` of the next run-log append. */
    def nextRun: Long = stamp.fold(0L)(_._2 + 1L)
  }

  private def readLineage(fs: org.apache.hadoop.fs.FileSystem, outDir: String): Lineage = {
    val (rows, meta) = DriverParquet.read(fs,
      new org.apache.hadoop.fs.Path(s"$outDir/lineage_buckets"), bucketLineageSchema)
    Lineage(rows.map(LineageTally.fromRow),
      for (s <- meta.get(SnapshotKey); r <- meta.get(RunKey)) yield (s.toLong, r.toLong))
  }

  /** Overwrite `lineage_buckets` with `buckets`, stamped (`snapshot`,
    * `run`): one file, written on the driver ([[DriverParquet.write]]).
    * Every writer writes it last: it is lineage's commit point.
    */
  private def writeBuckets(fs: org.apache.hadoop.fs.FileSystem, outDir: String,
                           buckets: Seq[LineageTally], snapshot: Long, run: Long): Unit =
    DriverParquet.write(fs, new org.apache.hadoop.fs.Path(s"$outDir/lineage_buckets"),
      bucketLineageSchema, buckets.sortBy(_.key).map(t => Row(
        t.key.map(Long.box).orNull, t.rows_out, t.filtered_rows, t.error_rows,
        t.md_chars, t.min_conv_id, t.max_conv_id)), replace = true,
      meta = Map(SnapshotKey -> snapshot.toString, RunKey -> run.toString))

  /** Append the run `run` to the partition lineage, then stamp `buckets`
    * as of `snapshot` ([[writeBuckets]]). The run log is write-only: a
    * crash between the two leaves the stamp behind, and the next run
    * heals both tables.
    */
  private def writeLineage(fs: org.apache.hadoop.fs.FileSystem,
                           outDir: String, buckets: Seq[LineageTally],
                           parts: Seq[LineageTally], snapshot: Long, run: Long): Unit = {
    DriverParquet.write(fs, new org.apache.hadoop.fs.Path(s"$outDir/lineage"),
      runLineageSchema, parts.sortBy(_.key).map(t => Row(t.key.get.toInt,
        t.rows_out, t.filtered_rows, t.error_rows, t.min_conv_id, t.max_conv_id,
        run)), replace = false)
    writeBuckets(fs, outDir, buckets, snapshot, run)
  }

  /** Recompute both lineage tables from the results as of `snapshot`: ONE
    * scan observes the [[tally]] (a `noop` write drives it; `agg` rejects
    * the tally's `spark_partition_id()` argument), then the old run log is
    * deleted and both tables are written from the tally as run 0 — the
    * heal discards per-run history, keeping the auditable content lineage
    * exact. An unknown tally (see [[observedTally]]) fails the heal before it
    * touches either table; the stale stamp stays for the next run to see.
    */
  private def healLineage(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                          outDir: String, snapshot: Long): Unit = {
    val obs = Observation("lineage_heal")
    readResults(spark, outDir).select("conv_id", "filtered", "status", "md")
      .observe(obs, tally).write.format("noop").mode("overwrite").save()
    val t = observedTally(obs).getOrElse(throw new IllegalStateException(
      s"lineage heal of $outDir observed no tally"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/lineage"), true)
    writeLineage(fs, outDir, t.buckets, t.parts, snapshot, 0L)
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

  /** Whole-table rewrite through the snapshot protocol: move the files
    * staged in `tmpPath` (already written) into the manifest-carrying
    * table, commit them as its new snapshot, then sweep ORPHANS — files
    * neither committed nor referenced by any retained snapshot. Replaced
    * files survive (they back time travel) until [[expireResultSnapshots]].
    * Returns the committed snapshot id.
    */
  private def commitRewrite(fs: org.apache.hadoop.fs.FileSystem,
                            tmpPath: org.apache.hadoop.fs.Path,
                            resultsPath: org.apache.hadoop.fs.Path): Long = {
    val live = SnapshotStore.liveFiles(fs, resultsPath).getOrElse(Seq.empty)
    // physical listing taken BEFORE this writer's staged files move in:
    // pre-rewrite live files + orphans stranded by earlier crashes. The
    // sweep below is restricted to (preList ++ moved) so a concurrent
    // append's moved-but-not-yet-committed files are out of reach unless
    // the append both moved in before this listing AND commits after the
    // `keep` read — i.e. spans the entire rewrite; under the declared
    // single-writer(-per-table) scope no such writer exists.
    val preList = listDataFiles(fs, resultsPath)
    val moved = SnapshotStore.movePartsCollect(fs, tmpPath, resultsPath)
    // whole-table rewrite = replace the pre-rewrite live set with the
    // staged one; through the rebase loop a concurrent APPEND landing in
    // the window survives (its files are neither in `removes` nor
    // replaced), instead of being clobbered by an absolute commit
    val id = SnapshotStore.commitRebase(fs, resultsPath, adds = moved, removes = live)
    // sweep ORPHANS only (the Iceberg retention contract): candidates are
    // limited to files this writer observed pre-move or staged itself
    // (crash orphans, rebase-dropped stages), and a file referenced by ANY
    // retained snapshot manifest is out of bounds: it backs a time-travel
    // read (readResultsAt) and is retired by expireResultSnapshots when
    // its last referencing snapshot expires, not here.
    val referenced = SnapshotStore.referencedFiles(fs, resultsPath)
    ((preList ++ moved) -- referenced).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      if (!fs.delete(p, false))
        System.err.println(s"[graft] WARN: could not sweep orphan $p; it is " +
          "invisible through the manifests and the next rewrite retries")
    }
    id
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
    * (the InkStream idea: derived state is kept consistent against the
    * version of the base table it was computed from):
    *  - before the write, the driver reads the ≤32 `lineage_buckets` rows
    *    and their stamp, the snapshot they describe and the run that wrote
    *    them, through parquet-hadoop ([[DriverParquet]]): no Spark job;
    *  - the write's observation tallies the increment per conv_id-hash
    *    bucket and per write task partition ([[LineageTally]]);
    *  - in this order: the data files, the snapshot commit that publishes
    *    them (every table carries a manifest from its first append, even an
    *    empty one), the run-log append under the next `run_id`, and last the
    *    merged `lineage_buckets` (sums add, min/max combine), stamped with
    *    the new snapshot — lineage's commit point.
    * So every Spark job of the call touches data: the resume anti-join's
    * scan of the results keys and the write (a heal adds its one scan).
    * `lineage.part_id` is therefore the task partition of the write that
    * produced the rows — the run that actually happened. A zero-row resume
    * commits no snapshot and writes no lineage: its files stay
    * byte-identical (spec-asserted in GoldenSpec).
    *
    * Staleness is one check: the stamp must name the snapshot the run
    * started from, and the run's commit must land at the next id.
    * Otherwise — a crash between the commit and the stamp, a missing or
    * unstamped table, a concurrent commit, an unknown tally — the run
    * heals, recomputing both tables from the committed results.
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
    val base = snapshotOf(fs, resultsPath)
    val lineage = readLineage(fs, outDir)
    val remaining =
      if (base.nonEmpty) resumeFrom(turns, readResults(spark, outDir)) else turns
    val obs = Observation("extract_tally")
    val df = extract(remaining).sortWithinPartitions("conv_id", "turn_idx")
      .observe(obs, tally)
    val before = listDataFiles(fs, resultsPath)
    // a write that crashed in its job commit leaves task outputs under
    // `_temporary`, which this write's commit would publish a second time
    fs.delete(new org.apache.hadoop.fs.Path(resultsPath, "_temporary"), true)
    df.write.mode("append").parquet(s"$outDir/results")
    val newFiles = (listDataFiles(fs, resultsPath) -- before).toSeq.sorted
    val written = observedTally(obs)
    // append = an adds-only delta through the optimistic rebase loop, so a
    // concurrent maintenance commit re-bases this append instead of
    // failing it. The first append commits even when it wrote no row; a
    // later one that wrote none commits nothing and drops the empty file
    // Spark leaves behind.
    val committed =
      if (base.nonEmpty && written.exists(_.buckets.isEmpty)) {
        newFiles.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
        None
      } else Some(SnapshotStore.commitRebase(fs, resultsPath, adds = newFiles,
        removes = Seq.empty))
    written.filter(_ => lineage.describes(base, committed)) match {
      case Some(inc) => committed.foreach(id => writeLineage(fs, outDir,
        LineageTally.merge(lineage.buckets ++ inc.buckets), inc.parts, id, lineage.nextRun))
      case None => healLineage(spark, fs, outDir, committed.orElse(base).get)
    }
    written.fold(Map.empty[String, Any])(metricsOf)
  }

  /** Error-row re-parse pass (Q4's loop closed; the
    * demo_gradio_batch.py:1254-1341 resume flow): re-drive the turns whose
    * rows errored through extraction and replace those rows in place by
    * key, in one pass over the table and one write, keeping lineage from
    * what the pass itself observed:
    *  - the driver reads `lineage_buckets` and its stamp as
    *    [[runCheckpointed]] reads them (no Spark job);
    *  - ONE scan, with no shuffle, collects the names of the part-files
    *    holding error rows (`input_file_name()`, made distinct per
    *    partition) and tallies the error rows about to be replaced per
    *    conv_id-hash bucket ([[LineageTally]]). No error file means nothing
    *    to do;
    *  - ONE write stages the replacement — the affected files' non-error
    *    rows plus the re-extracted error turns, whose tally rides the
    *    write's observation — straight into `results_reparse_tmp`;
    *  - the staged files move in and the swap commits (below); then the
    *    driver appends the pass to the partition lineage under the next
    *    `run_id` and, last, writes `lineage_buckets` patched from the two
    *    tallies (per bucket filtered/error/md sums become old − replaced +
    *    new; `rows_out` and the conv_id range are invariant because the
    *    key set is unchanged), stamped with the new snapshot.
    * `lineage.part_id` of a reparse run is therefore the task partition of
    * the write that re-extracted the rows. The returned metrics (`rows`,
    * `filtered_rows`, `error_rows`, `md_chars` of the re-extracted rows)
    * are sums over the bucket rows of that same write tally, plus
    * `rewrite_mode`.
    *
    * The pass patches only lineage whose stamp passes [[runCheckpointed]]'s
    * staleness check; otherwise, or when a bucket's row count moved (an
    * error key missing from, or duplicated in, the transcripts), it
    * recomputes both lineage tables from the committed results. A table
    * with no error rows is healed all the same when its stamp is stale.
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
    * Replacement files accumulate per pass; compaction and expiry are
    * separate concerns, as for Iceberg — [[compactResults]] also sweeps
    * any orphans a crashed pass left. Assumes every error key still exists
    * in the transcripts table (true here by construction: error rows
    * originate from it; otherwise lineage heals).
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
    val base = snapshotOf(fs, resultsPath)
    val lineage = readLineage(fs, outDir)
    val results = readResults(spark, outDir)
    val isError = col("status") === "error"
    val replaced = Observation("reparse_replaced")
    val errFiles = results.select("conv_id", "filtered", "status", "md")
      .where(isError).observe(replaced, tally)
      .select(input_file_name()).as[String]
      .mapPartitions(_.toSet.iterator)
      .collect().map(SnapshotStore.qualify(fs, _)).toSet
    if (errFiles.isEmpty) {
      if (!lineage.describes(base, None)) healLineage(spark, fs, outDir, base.get)
      return Map("rows" -> 0L, "rewrite_mode" -> "none")
    }

    val live = SnapshotStore.liveFiles(fs, resultsPath).getOrElse(Seq.empty).toSet
    val fullRewrite = errFiles.size * 2 > live.size
    if (fullRewrite)
      System.err.println(s"[graft] reparse: ${errFiles.size} of " +
        s"${live.size} files contain errors; falling back from " +
        "file-granular to whole-table rewrite")
    // the rows of the affected files (file-granular) or of the whole table
    // (fallback): their error keys are re-extracted, the rest kept
    val affected =
      if (fullRewrite) results
      else SnapshotStore.readFiles(spark, resultsPath, errFiles.toSeq.sorted, resultsSchema)
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
      // then COMMIT — the one atomic step. Reparse = replace the
      // error-holding files (or the whole live set in fallback) with the
      // rewritten ones — an (adds, removes) delta, committed through the
      // rebase loop. Replaced files are NOT deleted (retention contract):
      // the pre-reparse snapshot still lists them, and
      // expireResultSnapshots retires them with it.
      val moved = SnapshotStore.movePartsCollect(fs, tmpPath, resultsPath)
      val committed = SnapshotStore.commitRebase(fs, resultsPath, adds = moved,
        removes = (if (fullRewrite) live else errFiles).toSeq)

      val written = observedTally(obs)
      val patched = for {
        added <- written if lineage.describes(base, Some(committed))
        r <- observedTally(replaced)
        buckets <- patchBuckets(lineage.buckets, r.buckets, added.buckets)
      } yield writeLineage(fs, outDir, buckets, added.parts, committed,
        lineage.nextRun)
      if (patched.isEmpty) healLineage(spark, fs, outDir, committed)
      written.fold(Map.empty[String, Any])(metricsOf) + ("rewrite_mode" ->
        (if (fullRewrite) "full" else "file_granular"))
    } finally fs.delete(tmpPath, true)
  }

  /** Table maintenance: compact a results dir whose file count has grown
    * through appends and re-parse passes — the plain-parquet analog of
    * Iceberg's rewrite_data_files. Row content is preserved exactly and
    * re-sorted to the (conv_id, turn_idx) run order (O1) within each of at
    * most `flatFiles` files (a coalesce, no shuffle). The row set does not
    * change, so lineage that described the pre-compaction snapshot
    * describes the new one: its unchanged rows are re-stamped with the new
    * snapshot id (no run-log append), and a later append still takes the
    * delta path. Lineage that was already stale keeps its stale stamp, for
    * the next writer to heal.
    *
    * Commits through the [[SnapshotStore]] manifest: the rewrite is staged,
    * moved in under fresh names, published by one manifest rename; orphans
    * earlier crashed passes left are swept after the commit, while the
    * replaced files survive to back the pre-compaction snapshot until
    * [[expireResultSnapshots]]. No step deletes live or snapshot-referenced
    * data.
    */
  def compactResults(spark: SparkSession, outDir: String,
                     flatFiles: Int = 32): Unit = {
    val resultsPath = new org.apache.hadoop.fs.Path(s"$outDir/results")
    val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireFlat(fs, resultsPath)
    val base = snapshotOf(fs, resultsPath)
    val lineage = readLineage(fs, outDir)
    val tmpDir = s"$outDir/results_compact_tmp"
    val tmpPath = new org.apache.hadoop.fs.Path(tmpDir)
    try {
      fs.delete(tmpPath, true) // leftover from a crashed pass: re-derivable
      readResults(spark, outDir).coalesce(flatFiles)
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite").parquet(tmpDir)
      val committed = commitRewrite(fs, tmpPath, resultsPath)
      lineage.stamp.filter(_ => lineage.describes(base, Some(committed))).foreach {
        case (_, run) => writeBuckets(fs, outDir, lineage.buckets, committed, run)
      }
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
    snapshotOf(fs, resultsPath) // a legacy table gets its manifest first
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
    val committed = try {
      fs.delete(tmpPath, true)
      degraded.write.mode("overwrite").parquet(tmpDir)
      commitRewrite(fs, tmpPath, resultsPath)
    } finally fs.delete(tmpPath, true)
    healLineage(spark, fs, outDir, committed)
    nInjected
  }

  /** Deterministic CONTENT-keyed lineage: per conv_id-hash bucket, rows out,
    * filtered/error counts, md volume, conv_id range. The writers keep it
    * through [[LineageTally]], which counts exactly what this function
    * does; it remains the reference the specs compare against and the
    * schema `lineage_buckets` restates. Physical-partition lineage
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
