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

  private[ops] def track(df: DataFrame): DataFrame = {
    enableAdaptiveCachePartitioning(df)
    tracked.add(df)
    df
  }

  /** Unpersist every tracked intermediate (non-blocking). Safe to call at
    * any time: Spark recomputes dropped blocks if a plan still needs them,
    * so releasing "too early" costs recompute, never correctness. Frames
    * whose owning SparkSession has since been STOPPED are drained silently
    * — their blocks died with the context, and unpersist against a dead
    * context throws (round 6: surfaced by cross-suite ledger residue).
    */
  def release(): Unit = {
    var df = tracked.poll()
    while (df != null) {
      try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => }
      df = tracked.poll()
    }
  }
}
