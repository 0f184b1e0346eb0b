package graft

import org.apache.spark.sql.{CachedPlans, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DocOps
import graft.streaming.DedupStream

/** Per-batch cost and crash safety of [[DedupStream.processBatch]]: the
  * Spark job budget of a bootstrap and of an appended batch, jobs that do
  * not grow with the snapshot count, one commit point (a crash at any
  * driver file-system call of a batch resumes to the clean state), and
  * batch ids: re-delivery writes nothing, a stale id fails first.
  */
class DedupStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var counted: JobCounter = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("dedup-stream-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    counted = new JobCounter(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Seeded random-word documents (30 words of a 2000-word vocabulary):
    * batch 0 holds ids 0-149, batch 1 ids 1000-1149; every 10th doc of a
    * batch copies an earlier text of the same batch, every 7th doc of
    * batch 1 a text of batch 0 — so both batches have near-dup edges and
    * batch 1 merges into batch 0's components.
    */
  private def fixtureBatches(): Seq[DataFrame] = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    def text(): String = Seq.fill(30)(s"w${rnd.nextInt(2000)}").mkString(" ")
    val b0 = (0 until 150).map(_ => text()).toArray
    (10 until 150 by 10).foreach(i => b0(i) = b0(i - 3))
    val b1 = (0 until 150).map(_ => text()).toArray
    (10 until 150 by 10).foreach(i => b1(i) = b1(i - 5))
    (7 until 150 by 7).foreach(i => b1(i) = b0(i))
    Seq(b0.indices.map(i => (i.toLong, b0(i))).toDF("doc_id", "text"),
      b1.indices.map(i => (1000L + i, b1(i))).toDF("doc_id", "text"))
  }

  private def labels(state: String): Map[Long, Long] =
    DedupStream.readLabels(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("job budget per batch: bootstrap <=10, append <=15") {
    // counts include AQE's one job per shuffle stage; measured 10 and 15
    val state = tmp("graft-dedup-jobs")
    val Seq(b0, b1) = fixtureBatches()
    val (_, boot) = counted(DedupStream.processBatch(spark, state, b0, 0L))
    val (_, append) = counted(DedupStream.processBatch(spark, state, b1, 1L))
    info(s"jobs: bootstrap $boot, append $append")
    val l = labels(state)
    assert(l.size === 300 && l(1007L) === l(7L) && l(10L) === 7L)
    assert(boot <= 10, s"bootstrap ran $boot jobs")
    assert(append <= 15, s"append ran $append jobs")
  }

  test("a batch releases the plans its ops cache") {
    val state = tmp("graft-dedup-cache")
    val Seq(b0, b1) = fixtureBatches()
    val batches = Seq(b0, b1, b0.withColumn("doc_id", col("doc_id") + 5000L))
    val before = CachedPlans(spark)
    batches.indices.foreach(b => DedupStream.processBatch(spark, state, batches(b), b.toLong))
    assert(CachedPlans(spark) === before)
    assert(labels(state)(5007L) === 7L, "batch 2 copies batch 0")
  }

  test("bootstrap writes the batch's rep band rows and its batch keepers, schemas included") {
    val state = tmp("graft-dedup-boot")
    val b0 = fixtureBatches().head.localCheckpoint(true)
    DedupStream.processBatch(spark, state, b0, 0L)
    val conf = spark.sparkContext.hadoopConfiguration
    def written(df: DataFrame, name: String): String = {
      val dir = s"${tmp("graft-dedup-want")}/$name"
      df.write.parquet(dir)
      dir
    }
    def rows(paths: String*) = spark.read.parquet(paths: _*).collect().map(_.toSeq).toSet

    // rep band rows: one rep (min doc_id) per distinct fingerprint, and
    // maxDist+1 = 4 chunks of 15 bits of that fingerprint
    val width = DocOps.SimhashBits / 4
    val reps = DocOps.simhash(b0).collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._2).map { case (fp, ids) => ids.map(_._1).min -> fp }
    val bandRows = reps.flatMap { case (id, fp) =>
      (0 until 4).map(j => Seq[Any](id, fp, j, (fp >>> (j * width)) & ((1L << width) - 1)))
    }.toSet
    val Seq(idx, lab) = Seq("index", "labels").map(DedupState.added(spark, state, 0L, _))
    assert(rows(idx: _*) === bandRows)
    val (_, wantIdx) = DocOps.simhashEdgesAppend(None, b0)
    assert(ParquetFooter(conf, idx.head) === ParquetFooter(conf, written(wantIdx, "index")))

    val wantLab = written(DocOps.keepersFromEdges(b0, DocOps.simhashEdges(b0)), "labels")
    assert(rows(lab: _*) === rows(wantLab))
    assert(ParquetFooter(conf, lab.head) === ParquetFooter(conf, wantLab))
    info(s"index footer: ${ParquetFooter(conf, idx.head)._1.replaceAll("\\s+", " ")}")
  }

  /** Three two-doc batches; doc 20 copies doc 10 of batch 1. */
  private def smallBatches(): Seq[DataFrame] = {
    val s = spark
    import s.implicits._
    val words = (from: Int) => (from until from + 20).map(i => s"tok$i").mkString(" ")
    Seq(
      Seq((1L, words(0)), (2L, words(100))),
      Seq((10L, words(200)), (11L, words(300))),
      Seq((20L, words(200)), (21L, words(400)))).map(_.toDF("doc_id", "text"))
  }

  private def index(state: String, below: Long = Long.MaxValue): Set[Seq[Any]] =
    DedupStream.readIndex(spark, state, below).collect().map(_.toSeq).toSet

  test("a batch that crashes at any driver file-system call resumes to the clean state") {
    val batches = smallBatches()
    val clean = s"crashfs://${tmp("graft-dedup-clean")}/state"
    batches.indices.foreach(b => DedupStream.processBatch(spark, clean, batches(b), b.toLong))
    assert(labels(clean)(20L) === 10L)
    // the state readers see once snapshot v-1 is the newest
    val want = (1L to 3L).map(v => v ->
      (DedupStream.readLabels(spark, clean, v).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap, index(clean, v))).toMap
    // every crash starts from a copy of the state batch 0 left
    val base = tmp("graft-dedup-base")
    DedupStream.processBatch(spark, s"crashfs://$base/state", batches(0), 0L)
    def fresh(): String = {
      val dir = tmp("graft-dedup-crash")
      DedupState.tree(base).foreach { case (rel, bytes) =>
        val f = java.nio.file.Paths.get(dir, rel)
        java.nio.file.Files.createDirectories(f.getParent)
        java.nio.file.Files.write(f, bytes.toArray)
      }
      s"crashfs://$dir/state"
    }
    CrashFs.arm(CrashFs.NthCall(Int.MaxValue))
    try DedupStream.processBatch(spark, fresh(), batches(1), 1L)
    finally CrashFs.armed = false
    val calls = CrashFs.calls
    info(s"${calls.size} driver calls: ${calls.map(_.takeWhile(_ != ' ')).distinct.mkString(", ")}")
    assert(calls.exists(_.contains("_manifests/snap-000000001.txt")), calls)
    // the injected failures are expected: keep their stack traces out of the log
    spark.sparkContext.setLogLevel("OFF")
    try for (n <- 1 to calls.size) {
      val crashed = fresh()
      CrashFs.arm(CrashFs.NthCall(n))
      try intercept[Exception](DedupStream.processBatch(spark, crashed, batches(1), 1L))
      finally CrashFs.armed = false
      val at = s"crash at call $n (${calls(n - 1)})"
      // one commit point: the crashed batch is wholly visible or not at all
      val next = DedupStream.nextBatchId(spark, crashed)
      assert(next === 1L || next === 2L, at)
      assert((labels(crashed), index(crashed)) === want(next), at)
      // a direct caller resumes where the state says it stands
      (next until batches.length).foreach(b =>
        DedupStream.processBatch(spark, crashed, batches(b.toInt), b))
      assert((labels(crashed), index(crashed)) === want(3L), at)
      assert(DedupState.ids(spark, crashed) === Seq(0L, 1L, 2L), at)
      assert(DedupState.missing(spark, crashed).isEmpty, at)
    } finally spark.sparkContext.setLogLevel("ERROR")
  }

  test("re-delivering a committed batch writes nothing; a stale uncommitted id fails first") {
    val Seq(b0, b1, b2) = smallBatches()
    val state = s"${tmp("graft-dedup-ids")}/state"
    DedupStream.processBatch(spark, state, b0, 0L)
    DedupStream.processBatch(spark, state, b2, 2L)
    val before = DedupState.tree(state)
    DedupStream.processBatch(spark, state, b0, 0L)
    DedupStream.processBatch(spark, state, b2, 2L)
    assert(DedupState.tree(state) === before)
    // id 1 was skipped: it is neither committed nor after snapshot 2
    intercept[IllegalArgumentException](DedupStream.processBatch(spark, state, b1, 1L))
    assert(DedupState.tree(state) === before)
    assert(DedupStream.nextBatchId(spark, state) === 3L)
  }

  test("jobs per batch and per state read do not grow with the snapshot count") {
    val s = spark
    import s.implicits._
    val words = (from: Int) => (from until from + 20).map(i => s"tok$i").mkString(" ")
    // every batch after the first has the same shape: an in-batch pair and
    // a copy of a text of the batch before
    def batch(b: Int): DataFrame = Seq(
      (10L * b, words(100 * b)), (10L * b + 1, words(100 * b)),
      (10L * b + 2, words(100 * (b - 1)))).toDF("doc_id", "text")
    val state = s"${tmp("graft-dedup-growth")}/state"
    val n = 40
    val jobs = (0 until n).map(b => counted(DedupStream.processBatch(spark, state, batch(b), b.toLong))._2)
    info(s"jobs per batch: ${jobs.mkString(" ")}")
    val late = jobs.indices.drop(2).filter(b => jobs(b) != jobs(2))
    assert(late.isEmpty, s"batches ${late.mkString(",")} ran other than batch 2's ${jobs(2)} jobs")
    def reads(below: Long): (Int, Int) =
      (counted(DedupStream.readLabels(spark, state, below).count())._2,
        counted(DedupStream.readIndex(spark, state, below).count())._2)
    val (first, last) = (reads(1L), reads(Long.MaxValue))
    info(s"readLabels/readIndex count jobs: 1 snapshot $first, $n snapshots $last")
    assert(last === first)
    assert(DedupState.ids(spark, state) === (0L until n))
    val l = labels(state)
    assert(l.size === 3 * n && l(10L * (n - 1) + 2) === 10L * (n - 2))
  }
}
