package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected-component labels dispatched on the size of the edge set — the
  * CC step of [[DocOps.keepersFromEdges]], the one keeper function of
  * batch dedup, the appends and [[graft.streaming.DedupStream]].
  */
object ComponentLabels {

  /** (doc_id, label) for every node an edge of `edges0`(doc_a, doc_b)
    * touches, label = the minimum doc id of the node's component.
    *
    * Two routes, one result:
    *  - DRIVER: when the edge set fits `spark.sql.autoBroadcastJoinThreshold`
    *    (16 bytes per edge of two longs), it is collected and solved by
    *    union-find on the driver, and the labels come back as a local
    *    relation — which the callers' label joins then broadcast. The
    *    threshold is Spark's own bound for "this table fits on one node"
    *    (the default 10 MB admits 655,360 edges), and on such a graph the
    *    distributed fixpoint pays ~16 scheduled jobs for a millisecond of
    *    driver work.
    *  - FIXPOINT: otherwise (or when the threshold is ≤ 0, or the ids are
    *    not longs) the alternating-star fixpoint [[DocOps.componentLabels]]
    *    runs unchanged — the route for graphs that do not fit one node.
    *
    * Labels are exact component minima on both routes (the fixpoint gives
    * the same labels whenever it converges within `maxIters`), with the
    * same column names, types and nullability, so a written label table
    * cannot tell which route produced it. Deciding costs one capped
    * collect: at most `cap + 1` rows, i.e. the threshold's bytes, before
    * an oversized edge set falls through to the fixpoint.
    */
  def labelsOf(edges0: DataFrame, maxIters: Int): DataFrame = {
    // checkpointed: the fixpoint reads the edge set twice (both adjacency
    // directions), and its rounds must plan from a truncated leaf, not the
    // whole upstream edge subtree (NOTES #12). Lazy, so the capped collect
    // — one task over the partitions in turn, one job — is also the job
    // that materializes it
    val edges = edges0.select(col("doc_a"), col("doc_b")).localCheckpoint(false)
    val cap = driverEdgeCap(edges)
    val local = if (cap <= 0) None
      else Some(edges.coalesce(1).limit(cap + 1).collect()).filter(_.length <= cap)
    local match {
      case Some(rows) => onDriver(edges, rows)
      case None =>
        val adj = edges.union(
          edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        DocOps.componentLabels(adj, maxIters)._1
    }
  }

  /** Most edges the driver route takes: the broadcast threshold over the
    * 16 bytes of a (long, long) edge; 0 (never) for other id types.
    */
  private def driverEdgeCap(edges: DataFrame): Int = {
    val threshold = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (!edges.schema.forall(_.dataType == LongType)) 0
    else math.max(0L, math.min(threshold / 16, Int.MaxValue - 1L)).toInt
  }

  /** Union-find over the collected edges: iterative (a 10k-node path must
    * not recurse 10k deep), path halving, and the root of every union is
    * the smaller id — so each root IS its component's minimum. An edge with
    * a null endpoint joins nothing, as the fixpoint's `doc_a > doc_b`
    * filter drops it; its non-null endpoint is still a node.
    */
  private def onDriver(edges: DataFrame, rows: Array[Row]): DataFrame = {
    val ends = new Array[Long](2 * rows.length)
    var n = 0
    rows.foreach { r =>
      if (!r.isNullAt(0)) { ends(n) = r.getLong(0); n += 1 }
      if (!r.isNullAt(1)) { ends(n) = r.getLong(1); n += 1 }
    }
    java.util.Arrays.sort(ends, 0, n)
    var m = 0
    for (i <- 0 until n) if (m == 0 || ends(i) != ends(m - 1)) { ends(m) = ends(i); m += 1 }
    // node i is the i-th smallest id, so "smaller index" = "smaller id"
    val ids = java.util.Arrays.copyOf(ends, m)
    val parent = Array.tabulate(m)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def node(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val a = find(node(r.getLong(0)))
        val b = find(node(r.getLong(1)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
    }
    // the fixpoint's columns are nullable iff an edge column is (its node
    // column is the union of both, its label a coalesce over the node)
    val nullable = edges.schema.exists(_.nullable)
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable),
      StructField("label", LongType, nullable)))
    val labels = (0 until m).map(i => Row(ids(i), ids(find(i))))
    edges.sparkSession.createDataFrame(labels.asJava, schema)
  }
}
