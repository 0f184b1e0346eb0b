package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, conv, lit, md5, pmod, substring, sum => fsum, xxhash64}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Extract, SnapshotStore, Turn}

/** The one-pass checkpointed append and reparse: lineage is tallied inside
  * the results write (and, for a reparse, the scan that finds the error
  * files), and `lineage_buckets` is stamped with the results snapshot it
  * describes. Pins the Spark job budget per call (also on a table of more
  * than 32 files), the tally's equivalence with a full `bucketLineage`
  * recompute (including UTF-8 string order and code-point md counts), that
  * resumes whose observed subtree AQE may prune finish without waiting and
  * never heal an intact lineage, that a reparse heals lineage it cannot
  * patch, and that a crash at any driver file-system call of a resumed
  * append or a reparse recovers on re-run. Lineage is read and written on
  * the driver: its files must read, footers included, as the Spark-written
  * ones of earlier builds, which the first run of this build heals once.
  */
class CheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var counted: JobCounter = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("checkpoint-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    counted = new JobCounter(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** A checkpointed run that fails the spec instead of hanging it. */
  private def run(transcripts: String, out: String): Map[String, Any] =
    Await.result(Future(Extract.runCheckpointed(spark, transcripts, out)),
      5.minutes)

  private def rowsOf(m: Map[String, Any]): Long = m("rows").asInstanceOf[Long]

  /** A reparse that fails the spec instead of hanging it. */
  private def reparse(transcripts: String, out: String): Map[String, Any] =
    Await.result(Future(Extract.reparseErrors(spark, transcripts, out)),
      5.minutes)

  /** (name, size, mtime) of every lineage part-file. */
  private def lineageFiles(out: String): Seq[(String, Long, Long)] =
    Seq("lineage", "lineage_buckets").flatMap { dir =>
      Option(new java.io.File(s"$out/$dir").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-"))
        .map(f => (s"$dir/${f.getName}", f.length(), f.lastModified()))
    }.sorted

  /** (path, size, mtime) of every file under `out`: results, manifests,
    * both lineage tables and any staging dir.
    */
  private def tree(out: String): Seq[(String, Long, Long)] = {
    val root = java.nio.file.Paths.get(out)
    val ps = java.nio.file.Files.walk(root)
    try ps.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => (root.relativize(p).toString, java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSeq.sorted
    finally ps.close()
  }

  private def buckets(out: String): Seq[Row] =
    spark.read.parquet(s"$out/lineage_buckets").orderBy("bucket").collect().toSeq

  /** A full `bucketLineage` recompute over the live results. */
  private def recomputed(out: String): Seq[Row] =
    Extract.bucketLineage(Extract.readResults(spark, out))
      .orderBy("bucket").collect().toSeq

  private def errorRows(out: String): Long =
    Extract.readResults(spark, out).where(col("status") === "error").count()

  /** rows_out summed per `run_id` of the partition lineage. */
  private def perRun(out: String): Map[Long, Long] =
    spark.read.parquet(s"$out/lineage").groupBy("run_id")
      .agg(fsum("rows_out")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The first conv_id-prefix half of t1 as its own transcripts table. */
  private def firstHalf(base: String): (String, Long) = {
    val half = Extract.readTranscripts(spark, "data/transcripts_t1").toDF()
      .where(col("conv_id") < "t1-conv-00060")
    half.write.parquet(s"$base/first_half")
    (s"$base/first_half", half.count())
  }

  // each Spark job touches data: the resume's scan of the results keys,
  // the write, and a heal's scan; lineage is read and written on the driver
  test("job budget per call: append 1, resume 2, zero-row 2, healing 3") {
    val base = tmp("graft-ckpt-jobs")
    val (halfDir, halfRows) = firstHalf(base)
    val out = s"$base/out"
    val (m1, first) = counted(run(halfDir, out))
    assert(rowsOf(m1) === halfRows)
    val (m2, resumed) = counted(run("data/transcripts_t1", out))
    assert(rowsOf(m2) === 1163L - halfRows)
    val lineage = lineageFiles(out)
    val (m3, zero) = counted(run("data/transcripts_t1", out))
    assert(rowsOf(m3) === 0L)
    assert(lineageFiles(out) === lineage, "zero-row resume touched lineage files")
    // a missing lineage table: the zero-row resume heals both tables
    val dir = new org.apache.hadoop.fs.Path(s"$out/lineage_buckets")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    val (m4, healing) = counted(run("data/transcripts_t1", out))
    assert(rowsOf(m4) === 0L)
    assert(buckets(out) === recomputed(out))
    info(s"jobs: first append $first, resumed append $resumed, " +
      s"zero-row resume $zero, healing zero-row resume $healing")
    assert(first <= 1, s"first append ran $first jobs")
    assert(resumed <= 2, s"resumed append ran $resumed jobs")
    assert(zero <= 2, s"zero-row resume ran $zero jobs")
    assert(healing <= 3, s"healing zero-row resume ran $healing jobs")
  }

  test("readTranscripts runs no job and reads the rows of the inferred-schema read") {
    val session = spark
    import session.implicits._
    val base = tmp("graft-ckpt-read")
    // the same rows with the columns reordered and one more column
    val shuffled = s"$base/shuffled"
    spark.read.parquet("data/transcripts_t1")
      .select(col("text"), col("tool"), lit(7L).as("extra"), col("turn_idx"),
        col("role"), col("conv_id"))
      .write.parquet(shuffled)
    for (dir <- Seq("data/transcripts_t1", shuffled)) {
      val (turns, jobs) = counted(Extract.readTranscripts(spark, dir))
      assert(jobs === 0, s"reading $dir ran $jobs jobs")
      val inferred = spark.read.parquet(dir)
        .select("conv_id", "turn_idx", "role", "text", "tool").as[Turn]
      val got = turns.collect().toSeq.sortBy(_.toString)
      assert(got.size === 1163)
      assert(got === inferred.collect().toSeq.sortBy(_.toString), dir)
    }
  }

  /** The lineage tables' schemas as the Spark writer of earlier builds
    * wrote them: `lineage_buckets` is [[Extract.bucketLineage]]'s output
    * schema and the run log's is restated here.
    */
  private def legacySchema(out: String, dir: String): StructType =
    if (dir == "lineage_buckets")
      Extract.bucketLineage(Extract.readResults(spark, out)).schema
    else StructType(Seq(
      StructField("part_id", IntegerType, nullable = false),
      StructField("rows_out", LongType, nullable = false),
      StructField("filtered_rows", LongType),
      StructField("error_rows", LongType),
      StructField("min_conv_id", StringType),
      StructField("max_conv_id", StringType),
      StructField("run_id", LongType, nullable = false)))

  /** `rows` written to `dir` by Spark, as one file in `schema`. */
  private def sparkWritten(dir: String, rows: Seq[Row], schema: StructType): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(dir)

  test("driver-written lineage reads as Spark-written lineage, footers included") {
    val base = tmp("graft-ckpt-footer")
    val out = s"$base/out"
    assert(rowsOf(run("data/transcripts_t1", out)) === 1163L)
    val conf = spark.sparkContext.hadoopConfiguration
    for (dir <- Seq("lineage_buckets", "lineage")) {
      val driver = spark.read.parquet(s"$out/$dir")
      val ref = s"$base/spark_$dir"
      sparkWritten(ref, driver.collect().toSeq, legacySchema(out, dir))
      val written = spark.read.parquet(ref)
      assert(driver.schema === written.schema, dir)
      assert(driver.collect().toSeq === written.collect().toSeq, dir)
      // Spark reads every column as nullable; the footers carry the
      // written nullability (`required` fields and the row schema's flags)
      assert(ParquetFooter(conf, s"$out/$dir") === ParquetFooter(conf, ref), dir)
    }
  }

  // the run log is append-only, so a Spark-written file can sit beside the
  // driver's appends; the stamped `lineage_buckets` keeps the delta path
  test("a run log mixing Spark-written and driver-written files reads as one table") {
    val base = tmp("graft-ckpt-mixed")
    val (halfDir, halfRows) = firstHalf(base)
    val out = s"$base/out"
    assert(rowsOf(run(halfDir, out)) === halfRows)
    sparkWritten(s"$out/lineage", spark.read.parquet(s"$out/lineage").collect().toSeq,
      legacySchema(out, "lineage"))
    val lineage = lineageFiles(out)
    assert(rowsOf(run("data/transcripts_t1", out)) === 1163L - halfRows)
    // the resume appended one file beside the Spark-written one and healed
    // nothing: the run log keeps run 0 and gains run 1
    val runLog = lineageFiles(out).filter(_._1.startsWith("lineage/"))
    assert(runLog.size === 2 && lineage.filter(_._1.startsWith("lineage/")).toSet
      .subsetOf(runLog.toSet))
    assert(perRun(out) === Map(0L -> halfRows, 1L -> (1163L - halfRows)))
    assert(buckets(out) === recomputed(out))
  }

  /** `out` as an earlier build left it: both lineage tables written by
    * Spark (no stamp) and a results table without a manifest.
    */
  private def legacy(out: String): Unit = {
    for (dir <- Seq("lineage_buckets", "lineage"))
      sparkWritten(s"$out/$dir", spark.read.parquet(s"$out/$dir").collect().toSeq,
        legacySchema(out, dir))
    val manifests = new Path(s"$out/results/_manifests")
    manifests.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(manifests, true)
  }

  test("a legacy table with Spark-written lineage heals once, then takes the delta path") {
    val base = tmp("graft-ckpt-legacy")
    val (halfDir, halfRows) = firstHalf(base)
    val out = s"$base/out"
    assert(rowsOf(run(halfDir, out)) === halfRows)
    legacy(out)
    // the first run bootstraps the manifest and heals: one run 0
    assert(rowsOf(run(halfDir, out)) === 0L)
    assert(perRun(out) === Map(0L -> halfRows))
    assert(buckets(out) === recomputed(out))
    // the next run appends run 1 beside it
    assert(rowsOf(run("data/transcripts_t1", out)) === 1163L - halfRows)
    assert(perRun(out) === Map(0L -> halfRows, 1L -> (1163L - halfRows)))
    assert(buckets(out) === recomputed(out))
    val lineage = lineageFiles(out)
    assert(rowsOf(run("data/transcripts_t1", out)) === 0L)
    assert(lineageFiles(out) === lineage, "zero-row resume touched lineage files")
  }

  /** Conversations whose ids sort one way in UTF-16 (Java's String order)
    * and the other way in UTF-8 (Spark's): U+FF21 'Ａ' is above the
    * surrogate pair of U+1F600 in UTF-16, below its 4-byte form in UTF-8.
    * Their raw-passthrough `md` carries supplementary characters, whose
    * code-point count differs from the UTF-16 length.
    */
  private def unicodeTurns(): DataFrame = {
    val session = spark
    import session.implicits._
    val ids = (0 until 48).flatMap(i => Seq(f"Ａ-$i%03d", f"😀-$i%03d"))
    ids.flatMap(id => (0 until 2).map(t => Turn(id, t, "assistant",
      s"page $t of $id: 📄 𝒜𝒷 ${"😀" * (t + 1)}",
      "prompt_ocr"))).toDF()
  }

  // the second case compacts between the appends, so the second append
  // lands on a manifest-carrying table through the snapshot commit
  for (compacted <- Seq(false, true))
    test("write-pass tally equals a full bucketLineage recompute" +
        (if (compacted) " across a compaction" else "")) {
      val base = tmp("graft-ckpt-tally")
      val (halfDir, halfRows) = firstHalf(base)
      val second = s"$base/second"
      val uni = unicodeTurns()
      Extract.readTranscripts(spark, "data/transcripts_t1").toDF()
        .unionByName(uni).write.parquet(second)
      val out = s"$base/out"
      assert(rowsOf(run(halfDir, out)) === halfRows)
      if (compacted) Extract.compactResults(spark, out)
      val secondRows = 1163L - halfRows + uni.count()
      assert(rowsOf(run(second, out)) === secondRows)

      val results = Extract.readResults(spark, out)
      assert(buckets(out) ===
        Extract.bucketLineage(results).orderBy("bucket").collect().toSeq)

      // the data discriminates: in some bucket the UTF-16 (Java) maximum
      // differs from the lineage's UTF-8 one, and the unicode rows' md
      // code points differ from their UTF-16 lengths
      val uniRows = results.where(
        col("conv_id").startsWith("Ａ") || col("conv_id").startsWith("😀"))
      // the lineage bucket, restated: md5-prefix hash mod 32
      val bucket = pmod(conv(substring(md5(col("conv_id")), 1, 15), 16, 10)
        .cast("long"), lit(32L))
      val utf16Max = uniRows.select(bucket, col("conv_id"))
        .collect().groupMapReduce(_.getLong(0))(_.getString(1))(
          (a, b) => if (a > b) a else b)
      val utf8Max = buckets(out).map(r => r.getLong(0) -> r.getString(6)).toMap
      assert(utf16Max.exists { case (b, m) => utf8Max(b) != m },
        "no bucket where UTF-8 and UTF-16 order pick different maxima")
      val mds = uniRows.select("md").collect().map(_.getString(0))
      assert(mds.map(s => s.codePointCount(0, s.length).toLong).sum <
        mds.map(_.length.toLong).sum)

      // partition lineage: one run per increment, rows_out sums to each
      assert(perRun(out) === Map(0L -> halfRows, 1L -> secondRows))
    }

  test("resumes whose observed subtree AQE may prune finish and heal only when unsure or broken") {
    val base = tmp("graft-ckpt-edge")
    val empty = s"$base/empty"
    Extract.readTranscripts(spark, "data/transcripts_t1").toDF().limit(0)
      .write.parquet(empty)
    val out = s"$base/out"
    assert(rowsOf(run("data/transcripts_t1", out)) === 1163L)
    val clean = buckets(out)
    for (broadcast <- Seq(true, false)) {
      // without broadcast the anti-join is shuffled on both sides, and once
      // the transcript side comes back empty AQE drops the results side;
      // the staleness check reads no observation of it, so an intact
      // lineage is left untouched either way
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        if (broadcast) "10485760" else "-1")
      try {
        for (transcripts <- Seq(empty, "data/transcripts_t1")) {
          val lineage = lineageFiles(out)
          assert(rowsOf(run(transcripts, out)) === 0L)
          assert(lineageFiles(out) === lineage,
            s"healed an intact lineage (broadcast=$broadcast, $transcripts)")
          // break the lineage: drop bucket 0's row (Spark writes no stamp)
          val stale = spark.read.parquet(s"$out/lineage_buckets")
            .where(col("bucket") =!= 0).collect().toSeq
          spark.createDataFrame(stale.asJava,
            spark.read.parquet(s"$out/lineage_buckets").schema)
            .write.mode("overwrite").parquet(s"$out/lineage_buckets")
          assert(rowsOf(run(transcripts, out)) === 0L)
          assert(buckets(out) === clean,
            s"stale lineage not healed (broadcast=$broadcast, $transcripts)")
        }
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("job budget per reparse: injected errors <=3, no error rows <=1") {
    val out = s"${tmp("graft-ckpt-reparse-jobs")}/out"
    assert(rowsOf(run("data/transcripts_t1", out)) === 1163L)
    val n = Extract.injectTransientErrors(spark, out,
      col("conv_id") === "t1-conv-00007")
    assert(n > 0L)
    val (m, injected) = counted(reparse("data/transcripts_t1", out))
    assert(rowsOf(m) === n)
    assert(errorRows(out) === 0L)
    val files = tree(out)
    val (m0, none) = counted(reparse("data/transcripts_t1", out))
    assert(rowsOf(m0) === 0L && m0("rewrite_mode") === "none")
    info(s"jobs: reparse of $n injected errors $injected, no error rows $none")
    assert(injected <= 3, s"reparse of injected errors ran $injected jobs")
    assert(none <= 1, s"reparse with no error rows ran $none jobs")
    assert(tree(out) === files, "reparse with no error rows touched a file")
  }

  // a reparse must not take a delta against lineage it cannot trust: both
  // damages keep the results intact, so only the heal check can see them
  for (damage <- Seq("missing", "one row short"))
    test(s"reparse heals a lineage_buckets table that is $damage") {
      val out = s"${tmp("graft-ckpt-reparse-heal")}/out"
      assert(rowsOf(run("data/transcripts_t1", out)) === 1163L)
      assert(Extract.injectTransientErrors(spark, out,
        col("conv_id") === "t1-conv-00007") > 0L)
      val dir = new org.apache.hadoop.fs.Path(s"$out/lineage_buckets")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (damage == "missing") fs.delete(dir, true)
      else {
        val kept = buckets(out).tail
        spark.createDataFrame(kept.asJava, spark.read.parquet(dir.toString).schema)
          .write.mode("overwrite").parquet(dir.toString)
      }
      assert(rowsOf(reparse("data/transcripts_t1", out)) > 0L)
      assert(errorRows(out) === 0L)
      assert(buckets(out) === recomputed(out))
    }

  // file-granular: one conversation of t1 and every unicode conversation
  // fail, which the range split keeps to a few files; full rewrite: a third
  // of the rows fail, smeared over every file
  for (smeared <- Seq(false, true))
    test("reparse lineage patch equals a full bucketLineage recompute" +
        (if (smeared) " (full rewrite)" else " (file-granular)")) {
      val base = tmp("graft-ckpt-reparse-tally")
      val split = s"$base/split"
      Extract.readTranscripts(spark, "data/transcripts_t1").toDF()
        .unionByName(unicodeTurns())
        .repartitionByRange(8, col("conv_id")).write.parquet(split)
      val out = s"$base/out"
      val total = rowsOf(run(split, out))
      def rows() = Extract.readResults(spark, out)
        .orderBy("conv_id", "turn_idx").collect().toSeq
      val clean = rows()
      val pred =
        if (smeared) pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(3)) === 0
        else col("conv_id") === "t1-conv-00007" ||
          col("conv_id").startsWith("Ａ") || col("conv_id").startsWith("😀")
      assert(Extract.injectTransientErrors(spark, out, pred) > 0L)
      val errors = errorRows(out)
      assert(perRun(out) === Map(0L -> total))

      val m = reparse(split, out)
      assert(m("rewrite_mode") === (if (smeared) "full" else "file_granular"))
      assert(rowsOf(m) === errors)
      assert(buckets(out) === recomputed(out))
      // patched, not healed: the pass is one more run holding its rows
      assert(perRun(out) === Map(0L -> total, 1L -> errors))
      assert(rows() === clean)
    }

  // more than 32 explicit paths would start Spark's parallel-listing job;
  // a manifest read lists the results dir instead, at any file count
  test("a 40-file table resumes and counts with the jobs of a directory read") {
    val base = tmp("graft-ckpt-40")
    val split = s"$base/split"
    Extract.readTranscripts(spark, "data/transcripts_t1").toDF()
      .repartition(40).write.parquet(split)
    val out = s"$base/out"
    // an open cost above the split size keeps each transcripts file in a
    // partition of its own, so the append writes one results file per file
    spark.conf.set("spark.sql.files.openCostInBytes", 256L << 20)
    try assert(rowsOf(run(split, out)) === 1163L)
    finally spark.conf.unset("spark.sql.files.openCostInBytes")
    val results = new Path(s"$out/results")
    val fs = results.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SnapshotStore.liveFiles(fs, results).get.size === 40)
    val (m, resume) = counted(run(split, out))
    assert(rowsOf(m) === 0L)
    val (n, count) = counted(Extract.readResults(spark, out).count())
    assert(n === 1163L)
    info(s"jobs over 40 files: zero-row resume $resume, count $count")
    assert(resume <= 2, s"zero-row resume ran $resume jobs")
    assert(count <= 2, s"count ran $count jobs")
  }

  test("an empty first append leaves a readable table and the next append takes the delta path") {
    val base = tmp("graft-ckpt-empty")
    val empty = s"$base/empty"
    Extract.readTranscripts(spark, "data/transcripts_t1").toDF().limit(0)
      .write.parquet(empty)
    val out = s"$base/out"
    assert(rowsOf(run(empty, out)) === 0L)
    assert(Extract.readResults(spark, out).count() === 0L)
    val (halfDir, halfRows) = firstHalf(base)
    assert(rowsOf(run(halfDir, out)) === halfRows)
    // run 1 after the empty run 0; a heal would have written one run 0
    assert(perRun(out) === Map(1L -> halfRows))
    assert(buckets(out) === recomputed(out))
    val results = new Path(s"$out/results")
    val fs = results.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapshots = SnapshotStore.snapshots(fs, results)
    val lineage = lineageFiles(out)
    assert(rowsOf(run(halfDir, out)) === 0L)
    assert(SnapshotStore.snapshots(fs, results) === snapshots, "zero-row resume committed")
    assert(lineageFiles(out) === lineage, "zero-row resume touched lineage files")
  }

  /** Rows of the live results, in key order. */
  private def resultRows(out: String): Seq[Row] =
    Extract.readResults(spark, out).orderBy("conv_id", "turn_idx").collect().toSeq

  // every create, rename, delete and mkdirs the driver makes is a crash
  // point. After the crash the same entry point, run again, must leave the
  // clean run's results and exact lineage; the run log is the clean run's
  // or a heal's (one run 0 holding every row).
  for (op <- Seq("resumed append", "reparse"))
    test(s"a $op that crashes at any driver file-system call recovers on re-run") {
      val base = tmp("graft-ckpt-crash")
      val (halfDir, _) = firstHalf(base)
      def call(out: String): Map[String, Any] =
        if (op == "reparse") Extract.reparseErrors(spark, "data/transcripts_t1", out)
        else Extract.runCheckpointed(spark, "data/transcripts_t1", out)
      // the table the call starts from, copied for every crash point
      val start = s"crashfs://$base/start"
      if (op == "reparse") {
        run("data/transcripts_t1", start)
        Extract.injectTransientErrors(spark, start, col("conv_id") === "t1-conv-00007")
      } else run(halfDir, start)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(start).getFileSystem(conf)
      def copy(name: String): String = {
        assert(FileUtil.copy(fs, new Path(start), fs, new Path(s"crashfs://$base/$name"), false, conf))
        s"crashfs://$base/$name"
      }
      val clean = copy("clean")
      CrashFs.arm(CrashFs.NthCall(Int.MaxValue))
      try call(clean) finally CrashFs.armed = false
      val points = CrashFs.calls
      info(s"${points.size} crash points: " +
        points.groupBy(_.takeWhile(_ != ' ')).view.mapValues(_.size).toSeq.sorted.mkString(", "))
      val cleanRows = resultRows(clean)
      val runLogs = Set(perRun(clean), Map(0L -> 1163L))
      for (n <- 1 to points.size) {
        val out = copy(s"crash$n")
        spark.sparkContext.setLogLevel("OFF")
        CrashFs.arm(CrashFs.NthCall(n))
        try intercept[Exception](call(out))
        finally { CrashFs.armed = false; spark.sparkContext.setLogLevel("ERROR") }
        call(out)
        val at = s"crash before ${points(n - 1)}"
        val sameRows = resultRows(out) == cleanRows
        assert(sameRows, s"$at: results differ from the clean run's")
        assert(buckets(out) === recomputed(out), at)
        assert(runLogs.contains(perRun(out)), s"$at: run log ${perRun(out)}")
      }
    }
}
