package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the SparkEntry queries: the plans we WANT at scale
  * (pushed filters, join strategies, shuffle counts), enforced.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("plan-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("extract_range: the turn_idx filter reaches the parquet scan (PushedFilters)") {
    val scan = graft.pipeline.Extract
      .readTranscripts(spark, "data/transcripts_t2")
      .where(org.apache.spark.sql.functions.col("turn_idx").between(2, 5))
    val formatted = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters"), formatted.take(1500))
    assert(formatted.matches("(?s).*PushedFilters:.*turn_idx.*"),
      "turn_idx must appear in PushedFilters")
  }

  test("q5_join: dimension sides broadcast; no cartesian product") {
    val plan = SparkEntry.queries("q5_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_antijoin: plans as a LeftAnti join with the date filter pushed to the orders scan") {
    val qe = SparkEntry.queries("q_antijoin")(spark, sf).queryExecution
    assert(qe.executedPlan.toString.contains("LeftAnti"))
    val formatted = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.matches("(?s).*PushedFilters:.*o_orderdate.*"),
      "o_orderdate filter must push into the orders parquet scan")
  }

  test("q17_subquery: the correlated scalar subquery decorrelates (no subquery node left)") {
    val optimized = SparkEntry.queries("q17_subquery")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!optimized.contains("scalar-subquery"),
      s"subquery should be decorrelated into aggregate+join:\n${optimized.take(1500)}")
    assert(optimized.contains("Join"))
  }

  test("payload_decode: scan reads only the needed columns (pruned ReadSchema)") {
    val formatted = SparkEntry.queries("payload_decode")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val readSchema = formatted.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unused columns must be pruned from the scan: $readSchema")
  }

  test("bucket lineage: scan prunes to the 4 aggregated columns; partial aggregation") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lineage-plan")
      .toFile.getAbsolutePath
    graft.pipeline.Extract.run(spark, "data/transcripts_t1").toDF()
      .write.mode("overwrite").parquet(tmp)
    val lineage = graft.pipeline.Extract.bucketLineage(spark.read.parquet(tmp))
    val formatted = lineage.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val readSchema = formatted.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(Seq("conv_id", "filtered", "status", "md").forall(readSchema.contains))
    assert(!readSchema.contains("cells_json") && !readSchema.contains("spans"),
      s"lineage must not read payload columns: $readSchema")
    // one Exchange (on bucket) with map-side partial aggregation below it
    // (SortAggregate: min/max over the string conv_id has no mutable
    // hash-agg buffer — the partial/final split is what matters)
    assert(formatted.contains("Aggregate ("))
    assert(formatted.linesIterator.count(_.contains("+- Exchange")) === 1,
      "bucket lineage is one partial-agg shuffle")
  }

  test("extraction hot path has no shuffle (no Exchange below the final aggregate)") {
    val df = graft.pipeline.Extract
      .extract(graft.pipeline.Extract.readTranscripts(spark, "data/transcripts_t1"))
      .toDF()
    // the pipeline itself (pre-aggregation) must contain no Exchange
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "per-turn extraction must stay narrow")
  }

  test("doc_chunk: pure flatMap projection — no Exchange, stays in codegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.ops.DocOps.chunkDocs(docs, 32, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "chunking must not shuffle")
    // `*(n)` is the whole-stage-codegen marker in the simple plan string —
    // split/Generate/slice/array_join all inside one codegen stage
    assert(plan.contains("*(1) Project") && plan.contains("*(1) Generate"),
      plan.take(1500))
  }

  test("doc_source_caps: offset table broadcasts; no per-source global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.ops.DocOps.capPerSource(docs, k = 15)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
    // the only windows run over (source, bkt) / the tiny counts table —
    // never a single-partition global sort
    assert(!plan.contains("SinglePartition"),
      "cap rank must not serialize onto one partition")
  }

  test("doc_oov: the bounded vocabulary broadcasts onto the token stream") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.ops.DocOps.oovRate(docs,
        graft.ops.DocOps.vocabulary(docs, minDf = 2, maxSize = 25))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "the vocab must never shuffle-join against the corpus")
    assert(plan.contains("TakeOrdered"), "the top-V cut must be a TakeOrdered")
  }

  test("doc_resample: factor table broadcasts onto the corpus; explode is map-side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val qe = graft.ops.DocOps.resampleByTemperature(docs).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the explode (Generate) must sit ABOVE the broadcast join, not under
    // an exchange of the exploded rows
    assert(plan.contains("Generate"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }
}
