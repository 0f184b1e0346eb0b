package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum => fsum}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Extract, Turn}

/** The one-pass checkpointed append: lineage is tallied inside the results
  * write and the heal check reads numbers the run already holds. Pins the
  * Spark job budget per call, the tally's equivalence with a full
  * `bucketLineage` recompute (including UTF-8 string order and code-point
  * md counts), and that resumes whose observed subtree AQE may prune
  * finish without waiting and heal only a broken invariant.
  */
class CheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val jobs = new AtomicInteger

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("checkpoint-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Run `f` and return its value with the number of Spark jobs it ran. */
  private def counted[T](f: => T): (T, Int) = {
    ListenerBusDrain(spark.sparkContext)
    jobs.set(0)
    val v = f
    ListenerBusDrain(spark.sparkContext)
    (v, jobs.get)
  }

  /** A checkpointed run that fails the spec instead of hanging it. */
  private def run(transcripts: String, out: String,
                  partitioned: Boolean = false): Map[String, Any] =
    Await.result(Future(Extract.runCheckpointed(spark, transcripts, out,
      bucketPartitioned = partitioned)), 5.minutes)

  private def rowsOf(m: Map[String, Any]): Long = m("rows").asInstanceOf[Long]

  /** (name, size, mtime) of every lineage part-file. */
  private def lineageFiles(out: String): Seq[(String, Long, Long)] =
    Seq("lineage", "lineage_buckets").flatMap { dir =>
      Option(new java.io.File(s"$out/$dir").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-"))
        .map(f => (s"$dir/${f.getName}", f.length(), f.lastModified()))
    }.sorted

  private def buckets(out: String): Seq[Row] =
    spark.read.parquet(s"$out/lineage_buckets").orderBy("bucket").collect().toSeq

  /** The first conv_id-prefix half of t1 as its own transcripts table. */
  private def firstHalf(base: String): (String, Long) = {
    val half = Extract.readTranscripts(spark, "data/transcripts_t1").toDF()
      .where(col("conv_id") < "t1-conv-00060")
    half.write.parquet(s"$base/first_half")
    (s"$base/first_half", half.count())
  }

  test("job budget per call: first append <=4, resumed append <=8, zero-row resume <=6") {
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
    info(s"jobs: first append $first, resumed append $resumed, zero-row resume $zero")
    assert(first <= 4, s"first append ran $first jobs")
    assert(resumed <= 8, s"resumed append ran $resumed jobs")
    assert(zero <= 6, s"zero-row resume ran $zero jobs")
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

  for (partitioned <- Seq(false, true))
    test(s"write-pass tally equals a full bucketLineage recompute (partitioned=$partitioned)") {
      val base = tmp("graft-ckpt-tally")
      val (halfDir, halfRows) = firstHalf(base)
      val second = s"$base/second"
      val uni = unicodeTurns()
      Extract.readTranscripts(spark, "data/transcripts_t1").toDF()
        .unionByName(uni).write.parquet(second)
      val out = s"$base/out"
      assert(rowsOf(run(halfDir, out, partitioned)) === halfRows)
      val secondRows = 1163L - halfRows + uni.count()
      assert(rowsOf(run(second, out, partitioned)) === secondRows)

      val results = Extract.readResults(spark, out).drop("bucket")
      assert(buckets(out) ===
        Extract.bucketLineage(results).orderBy("bucket").collect().toSeq)

      // the data discriminates: in some bucket the UTF-16 (Java) maximum
      // differs from the lineage's UTF-8 one, and the unicode rows' md
      // code points differ from their UTF-16 lengths
      val uniRows = results.where(
        col("conv_id").startsWith("Ａ") || col("conv_id").startsWith("😀"))
      val utf16Max = uniRows.select(Extract.bucketCol(col("conv_id")), col("conv_id"))
        .collect().groupMapReduce(_.getInt(0).toLong)(_.getString(1))(
          (a, b) => if (a > b) a else b)
      val utf8Max = buckets(out).map(r => r.getLong(0) -> r.getString(6)).toMap
      assert(utf16Max.exists { case (b, m) => utf8Max(b) != m },
        "no bucket where UTF-8 and UTF-16 order pick different maxima")
      val mds = uniRows.select("md").collect().map(_.getString(0))
      assert(mds.map(s => s.codePointCount(0, s.length).toLong).sum <
        mds.map(_.length.toLong).sum)

      // partition lineage: one run per increment, rows_out sums to each
      val perRun = spark.read.parquet(s"$out/lineage").groupBy("run_id")
        .agg(fsum("rows_out")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perRun === Map(0L -> halfRows, 1L -> secondRows))
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
      // the transcript side comes back empty AQE drops the results side
      // with its observed count: the run cannot check the invariant and
      // heals (safe). Everywhere else an intact lineage is left untouched.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        if (broadcast) "10485760" else "-1")
      try {
        for (transcripts <- Seq(empty, "data/transcripts_t1")) {
          val countPruned = !broadcast && transcripts == empty
          val lineage = lineageFiles(out)
          assert(rowsOf(run(transcripts, out)) === 0L)
          if (countPruned) assert(buckets(out) === clean)
          else assert(lineageFiles(out) === lineage,
            s"healed an intact lineage (broadcast=$broadcast, $transcripts)")
          // break the invariant: drop bucket 0's row
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
}
