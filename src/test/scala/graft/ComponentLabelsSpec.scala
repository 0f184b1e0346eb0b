package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{ComponentLabels, DocOps}
import graft.streaming.DedupStream

/** The size-dispatched CC labels: the driver union-find route (edge set
  * within `spark.sql.autoBroadcastJoinThreshold`) and the star-fixpoint
  * route give the keeper function the same labels and the same output
  * schema, nullability included — on the 10k-node adversarial path, on a
  * graph whose append merges old components, and with an edge set one
  * byte over the threshold, where the capped collect overflows.
  */
class ComponentLabelsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("component-labels-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def withThreshold[T](bytes: Option[Long])(f: => T): T = {
    bytes.foreach(b => spark.conf.set(Threshold, b.toString))
    try f finally spark.conf.unset(Threshold)
  }

  /** Collected rows, sorted, and the schema of `f` under each threshold:
    * None = the session default, which the driver route takes here.
    */
  private def underThresholds(thresholds: Seq[Option[Long]])(f: => DataFrame)
      : Seq[(Seq[(Long, Long)], String)] =
    thresholds.map(t => withThreshold(t) {
      val df = f
      (df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
        df.schema.treeString)
    })

  /** Whether `labelsOf` took the driver route (its result is a local
    * relation) under `threshold`.
    */
  private def driverRoute(edges: DataFrame, threshold: Option[Long]): Boolean =
    withThreshold(threshold) {
      ComponentLabels.labelsOf(edges, 25).queryExecution.logical
        .collectLeaves().exists(_.isInstanceOf[LocalRelation])
    }

  private def bitrev14(i: Int): Long = {
    var v = 0L
    for (b <- 0 until 14) if ((i & (1 << b)) != 0) v |= 1L << (13 - b)
    v
  }

  test("driver route is taken exactly while the edges fit the threshold (16 B an edge)") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    assert(driverRoute(edges, None))
    assert(driverRoute(edges, Some(48L)))
    assert(!driverRoute(edges, Some(47L)))
    assert(!driverRoute(edges, Some(-1L)))
    assert(!driverRoute(edges, Some(0L)))
    // non-long ids keep the fixpoint route, whatever the threshold
    assert(!driverRoute(edges.select($"doc_a".cast("int").as("doc_a"),
      $"doc_b".cast("int").as("doc_b")), None))
  }

  test("keepersFromEdges: both routes agree on the 10k-node bit-reversed path") {
    val s = spark
    import s.implicits._
    val n = 10000
    val ids = (0 until n).map(bitrev14)
    val edges = ids.zip(ids.tail).toDF("doc_a", "doc_b").localCheckpoint(true)
    val docs = (ids ++ Seq(20000L, 20001L)).toDF("doc_id")
    assert(driverRoute(edges, None))
    // default (driver) vs one byte short of the edges (the capped collect
    // overflows and the fixpoint runs)
    val Seq(driver, fixpoint) = underThresholds(Seq(None, Some(16L * (n - 1) - 1)))(
      DocOps.keepersFromEdges(docs, edges, maxIters = 30))
    assert(driver === fixpoint)
    val labels = driver._1.toMap
    assert(ids.forall(i => labels(i) === ids.min))
    assert(labels(20000L) === 20000L && labels(20001L) === 20001L)
  }

  test("keepersFromEdges: batch and resolved append scope agree across routes") {
    val s = spark
    import s.implicits._
    // old graph: two path components (ids decorrelated from path order) +
    // isolated docs; the append hangs a chain off B, merges A and B with
    // one edge, adds an edge inside A (collapses under contraction) and an
    // isolated new doc
    val n = 500
    val idsA = (0 until n).map(i => bitrev14(i) + 1)
    val idsB = (0 until n).map(i => 100000L + bitrev14(i))
    def path(ids: Seq[Long]) = ids.zip(ids.tail)
    val oldEdges = (path(idsA) ++ path(idsB)).toDF("doc_a", "doc_b").localCheckpoint(true)
    val oldDocs = (idsA ++ idsB ++ Seq(900001L, 900002L)).toDF("doc_id")
    val labels0 = DocOps.keepersFromEdges(oldDocs, oldEdges).localCheckpoint(true)
    val newIds = Seq(950000L, 950001L, 950002L, 960000L)
    val newEdges = Seq((idsB(321), 950000L), (950000L, 950001L), (950001L, 950002L),
      (idsA(123), idsB(77)), (idsA(5), idsA(400))).toDF("doc_a", "doc_b")
      .localCheckpoint(true)
    val allDocs = oldDocs.union(newIds.toDF("doc_id")).localCheckpoint(true)
    val contracted = DocOps.contractEdges(labels0, newEdges).count()
    assert(contracted === 4L)

    def agree(name: String, edgeCount: Long)(f: => DataFrame): Seq[(Long, Long)] = {
      val runs = underThresholds(Seq(None, Some(-1L), Some(16L * edgeCount - 1)))(f)
      runs.tail.foreach(r => assert(r === runs.head, name))
      runs.head._1
    }
    def append = DocOps.keepersFromEdges(newIds.toDF("doc_id"), newEdges, Some(labels0))
    // batch scope: no prior, every edge
    val full = agree("batch", 2L * (n - 1) + 5)(
      DocOps.keepersFromEdges(allDocs, oldEdges.union(newEdges)))
    // resolved full scope: the prior ∪ the append's rows, per-doc minimum
    val resolved = agree("resolved", contracted)(
      DocOps.resolveKeepers(labels0.union(append)))
    assert(resolved === full)
    // the append's rows: the appended docs + every old doc of merged
    // component B, one row each
    val delta = agree("append rows", contracted)(append)
    val minAB = (idsA ++ idsB).min
    assert(delta.map(_._1).distinct.size === delta.size)
    assert(delta.toMap === (newIds.map(d => d -> full.toMap.apply(d)) ++
      idsB.map(_ -> minAB)).toMap)
    assert(full.toMap.apply(950002L) === minAB && full.toMap.apply(960000L) === 960000L)
  }

  test("edges with a null endpoint join nothing on either route") {
    val s = spark
    import s.implicits._
    val edges = Seq[(Option[Long], Option[Long])]((Some(5L), Some(3L)),
      (Some(3L), None), (None, Some(1L)), (Some(9L), Some(5L)), (None, None))
      .toDF("doc_a", "doc_b")
    val docs = Seq(1L, 3L, 5L, 9L, 11L).toDF("doc_id")
    val Seq(driver, fixpoint) = underThresholds(Seq(None, Some(-1L)))(
      DocOps.keepersFromEdges(docs, edges))
    assert(driver === fixpoint)
    assert(driver._1.toMap === Map(1L -> 1L, 3L -> 3L, 5L -> 3L, 9L -> 3L, 11L -> 11L))
    // the raw labels agree too, apart from the fixpoint's (null, null) node
    val Seq(dl, fl) = Seq(None, Some(-1L)).map(t => withThreshold(t) {
      val l = ComponentLabels.labelsOf(edges, 25)
      (l.where($"doc_id".isNotNull).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted, l.schema)
    })
    assert(dl === fl)
    assert(dl._1 === Seq(1L -> 1L, 3L -> 3L, 5L -> 3L, 9L -> 3L))
  }

  test("DedupStream writes the same labels and parquet schemas on both routes") {
    val s = spark
    import s.implicits._
    def words(from: Int, to: Int): String = (from to to).map(i => s"tok$i").mkString(" ")
    val batches = Seq(
      Seq((1L, words(1, 20)), (2L, words(2, 21)), (3L, words(100, 119))),
      Seq((10L, words(1, 20)), (11L, words(200, 219))),
      Seq((20L, words(200, 219)), (21L, words(200, 219)), (22L, words(300, 319))))
    val work = java.nio.file.Files.createTempDirectory("graft-cc-routes").toFile.getAbsolutePath
    def footer(dir: String) = ParquetFooter(spark.sparkContext.hadoopConfiguration, dir)
    val runs = Seq(None, Some(-1L)).zipWithIndex.map { case (t, i) =>
      val state = s"$work/state$i"
      withThreshold(t) {
        batches.zipWithIndex.foreach { case (b, v) =>
          DedupStream.processBatch(spark, state, b.toDF("doc_id", "text"), v.toLong)
        }
      }
      (DedupStream.readLabels(spark, state).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap,
        batches.indices.map(v => footer(DedupState.added(spark, state, v.toLong, "labels").head)))
    }
    assert(runs(0)._1 === runs(1)._1)
    assert(runs(0)._2 === runs(1)._2)
    assert(runs(0)._1(20L) === 11L && runs(0)._1(10L) === 1L)
  }
}
