package graft

import org.apache.spark.sql.{CachedPlans, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DocOps
import graft.streaming.DedupStream

/** Per-batch cost and crash safety of [[DedupStream.processBatch]]: the
  * Spark job budget of a bootstrap and of an appended batch, and that a
  * crash between a batch's two state writes, or during its labels write,
  * never lets [[DedupStream.nextBatchId]] skip the batch.
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
    def rows(dir: String) = spark.read.parquet(dir).collect().map(_.toSeq).toSet

    // rep band rows: one rep (min doc_id) per distinct fingerprint, and
    // maxDist+1 = 4 chunks of 15 bits of that fingerprint
    val width = DocOps.SimhashBits / 4
    val reps = DocOps.simhash(b0).collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._2).map { case (fp, ids) => ids.map(_._1).min -> fp }
    val bandRows = reps.flatMap { case (id, fp) =>
      (0 until 4).map(j => Seq[Any](id, fp, j, (fp >>> (j * width)) & ((1L << width) - 1)))
    }.toSet
    val idx = s"$state/index_v0"
    assert(rows(idx) === bandRows)
    val (_, wantIdx) = DocOps.simhashEdgesAppend(None, b0)
    assert(ParquetFooter(conf, idx) === ParquetFooter(conf, written(wantIdx, "index")))

    val lab = s"$state/labels_v0"
    val wantLab = written(DocOps.keepersFromEdges(b0, DocOps.simhashEdges(b0)), "labels")
    assert(rows(lab) === rows(wantLab))
    assert(ParquetFooter(conf, lab) === ParquetFooter(conf, wantLab))
    info(s"index footer: ${ParquetFooter(conf, idx)._1.replaceAll("\\s+", " ")}")
  }

  test("a crash between a batch's two writes is replayed, not skipped") {
    val s = spark
    import s.implicits._
    val words = (from: Int) => (from until from + 20).map(i => s"tok$i").mkString(" ")
    // doc 20 copies doc 10, which arrives in the batch the crash hits
    val batches = Seq(
      Seq((1L, words(0)), (2L, words(100))),
      Seq((10L, words(200)), (11L, words(300))),
      Seq((20L, words(200)), (21L, words(400)))).map(_.toDF("doc_id", "text"))
    val clean = s"crashfs://${tmp("graft-dedup-clean")}/state"
    batches.indices.foreach(b => DedupStream.processBatch(spark, clean, batches(b), b.toLong))
    assert(labels(clean)(20L) === 10L)

    for (point <- Seq(CrashFs.BetweenWrites, CrashFs.InLabelsWrite)) {
      val crashed = s"crashfs://${tmp("graft-dedup-crash")}/state"
      DedupStream.processBatch(spark, crashed, batches(0), 0L)
      // the injected task failure is expected: keep its stack trace out of the log
      spark.sparkContext.setLogLevel("OFF")
      CrashFs.arm(point)
      try intercept[Exception](DedupStream.processBatch(spark, crashed, batches(1), 1L))
      finally { CrashFs.armed = false; spark.sparkContext.setLogLevel("ERROR") }
      // a direct caller resumes where the state says it stands
      val next = DedupStream.nextBatchId(spark, crashed)
      (next until batches.length).foreach(b =>
        DedupStream.processBatch(spark, crashed, batches(b.toInt), b))
      assert(labels(crashed) === labels(clean), point)
      assert(next === 1L, point)
    }
  }
}
