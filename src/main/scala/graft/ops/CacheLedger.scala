package graft.ops

import org.apache.spark.sql.DataFrame

/** Registry of persisted intermediate DataFrames created inside ops.
  *
  * Ops like [[VectorOps.annLsh]] or [[DocOps.lshCandidates]] persist small
  * derived tables (band/code tables, the projected embedding base) because
  * differently-aliased self-join branches defeat ReusedExchange and would
  * recompute the whole signature pipeline per branch. The returned query
  * plans are lazy, so the op itself cannot unpersist — the caller owns the
  * terminal action. Long-lived sessions (the bench loop, a notebook) call
  * [[release]] after materializing a result to drop the cached blocks;
  * without it, MEMORY_AND_DISK spill blocks accumulate in the block manager
  * until the SparkContext stops.
  */
object CacheLedger {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Let AQE size the output partitioning of cached plans (round 8).
    *
    * By default Spark pins `canChangeCachedPlanOutputPartitioning=false`,
    * so every persisted intermediate materializes with the static
    * `spark.sql.shuffle.partitions` layout and EVERY downstream scan of it
    * pays that many tasks — for the rep-level band/membership tables here
    * (KBs at test scale, doc-count-proportional at 100 TB) that is dozens
    * of near-empty tasks per branch. With the flag on, AQE coalesces the
    * cached plan's final stage by actual bytes (guide §2: partitioning
    * should adapt to data size, not a constant) — correct at every scale,
    * since a genuinely large cached table keeps advisory-sized partitions.
    * Applied here because track() is the single chokepoint every op-level
    * persist flows through. A user's explicit setting is respected: the
    * check is against the session's explicitly set SQL confs, which hold
    * both the settings given at session creation and any later
    * `spark.conf.set` (the SparkContext's conf sees only the former).
    */
  private def enableAdaptiveCachePartitioning(df: DataFrame): Unit =
    try {
      val k = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
      val s = df.sparkSession
      if (!s.conf.getAll.contains(k)) s.conf.set(k, "true")
    } catch { case scala.util.control.NonFatal(_) => }

  /** The frames tracked on this thread inside [[scoped]], or null. */
  private val scope = new ThreadLocal[java.util.ArrayList[DataFrame]]

  private[ops] def track(df: DataFrame): DataFrame = {
    enableAdaptiveCachePartitioning(df)
    val mine = scope.get
    if (mine != null) mine.add(df) else tracked.add(df)
    df
  }

  /** Run `f`, then unpersist what ops persisted on this thread while it
    * ran, whether `f` returned or threw. For callers that materialize
    * their result inside `f` (a micro-batch that publishes its state), so
    * the frames belong to that call alone and a long-lived session does
    * not keep one more set of cached plans per call. Scopes nest; each
    * releases only its own frames.
    */
  def scoped[A](f: => A): A = {
    val outer = scope.get
    val mine = new java.util.ArrayList[DataFrame]
    scope.set(mine)
    try f
    finally {
      scope.set(outer)
      mine.forEach(unpersist)
    }
  }

  /** Unpersist (non-blocking) a frame whose owning SparkSession may have
    * been STOPPED since: its blocks died with the context, and unpersist
    * against a dead context throws (round 6: surfaced by cross-suite
    * ledger residue), so that failure is dropped.
    */
  private def unpersist(df: DataFrame): Unit =
    try { df.unpersist(blocking = false); () }
    catch { case scala.util.control.NonFatal(_) => }

  /** Unpersist every tracked intermediate (non-blocking). Safe to call at
    * any time: Spark recomputes dropped blocks if a plan still needs them,
    * so releasing "too early" costs recompute, never correctness.
    */
  def release(): Unit = {
    var df = tracked.poll()
    while (df != null) {
      unpersist(df)
      df = tracked.poll()
    }
  }
}
