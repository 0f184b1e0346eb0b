package graft.perfbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.pipeline.{Extract, ExtractTurn, Turn}

/** `extract_batch`: `Extract.extract` over a seeded sample of the bench
  * mix, forced by an aggregate so nothing is written. Each round runs one
  * pass over all 4 task slots and one single-task pass (the 1-thread
  * baseline), alternating which goes first.
  */
final class ExtractBatch extends Workload {
  private var turns: Dataset[Turn] = _
  private var nTurns = 0L
  private var reference: Option[(Long, Long, Long)] = None
  private var rounds = 0

  // the JIT keeps speeding the passes up over the first ~3 rounds
  val warmupRounds = 3

  def prepare(h: Harness): Unit = {
    // the input is one small parquet file: small splits give the scan
    // enough partitions for every task slot (as the frozen bench does)
    h.spark.conf.set("spark.sql.files.maxPartitionBytes", (64 << 10).toString)
    h.spark.conf.set("spark.sql.files.openCostInBytes", (16 << 10).toString)
    turns = Extract.readTranscripts(h.spark, s"${h.genDir}/turns")
    nTurns = turns.count()
  }

  /** (rows, md chars, spans) of the extraction result. */
  private def force(ds: Dataset[Turn]): (Long, Long, Long) = {
    val r = Extract.extract(ds).toDF().agg(
      count(lit(1)),
      sum(length(coalesce(col("md"), lit("")))),
      sum(size(col("spans")))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def pass(h: Harness, oneTask: Boolean): Double = {
    val call = if (oneTask) "extract_1t" else "extract_4t"
    val (t, agg) = h.op(call)(force(if (oneTask) turns.coalesce(1) else turns))
    h.check(s"$call.rows_out_eq_rows_in", agg._1 == nTurns, s"${agg._1} != $nTurns")
    if (reference.isEmpty) reference = Some(agg)
    h.check(s"$call.aggregate_stable", reference.contains(agg),
      s"$agg != ${reference.get}")
    t
  }

  def round(h: Harness): Unit = {
    val (t4, t1) =
      if (rounds % 2 == 0) { val a = pass(h, false); (a, pass(h, true)) }
      else { val b = pass(h, true); (pass(h, false), b) }
    rounds += 1
    h.sample("extract.turns_per_s", "1/s", nTurns / t4)
    h.sample("extract.turns_per_s_1t", "1/s", nTurns / t1)
    h.sample("items_per_s", "1/s", nTurns / t4)
    h.sample("round_s", "s", t4 + t1)
  }

  /** Order-independent fingerprint of every output column. */
  private def fingerprint(ds: Dataset[Turn]): (Long, java.math.BigDecimal) = {
    val df: DataFrame = Extract.extract(ds).toDF()
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), r.getDecimal(1))
  }

  def finish(h: Harness): Unit = {
    val (fp4, fp1) = h.untimed((fingerprint(turns), fingerprint(turns.coalesce(1))))
    h.check("extract.fingerprint_1t_eq_4t", fp4 == fp1, s"$fp4 != $fp1")
    h.check("extract.fingerprint_rows", fp4._1 == nTurns, s"${fp4._1} != $nTurns")
    h.sample("spark.scaling_eff_1to4", "ratio",
      h.median("extract.turns_per_s") / h.median("extract.turns_per_s_1t") / Main.Cores)
  }

  def traced(h: Harness): Unit = {
    h.sparkMetrics("extract_4t")
    h.sparkMetrics("extract_1t")
    h.metric("spark.scaling_eff_1to4", "ratio",
      h.median("extract.turns_per_s") / h.median("extract.turns_per_s_1t") / Main.Cores)
    ExtractBatch.replayTurns(h, turns)
  }
}

object ExtractBatch {

  /** Replays every input turn through [[TurnReplay]] beside a timed call of
    * `ExtractTurn.apply` on the same turn (alternating which runs first),
    * on the harness's own thread. Gives branch shares, per-branch turn time,
    * per-layer call time, allocation per turn and the replay's coverage of
    * `apply`'s time.
    */
  def replayTurns(h: Harness, turns: Dataset[Turn]): Unit = {
    val replay = new TurnReplay(h.tracer)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val nb = TurnReplay.BranchNames.length
    val branchRows = new Array[Long](nb)
    val branchNs = new Array[Long](nb)
    var rows = 0L
    var applyNs = 0L
    var allocB = 0L
    var disagree = 0L
    val traceBase = 1L << 40 // turn trace ids, apart from call trace ids
    val it = h.untimed(turns.toLocalIterator())
    while (it.hasNext) {
      val t = it.next()
      def timedApply() = {
        val b0 = mx.getCurrentThreadAllocatedBytes
        val a0 = System.nanoTime()
        val r = ExtractTurn.apply(t)
        applyNs += System.nanoTime() - a0
        allocB += mx.getCurrentThreadAllocatedBytes - b0
        r
      }
      def timedReplay() = {
        val s0 = System.nanoTime()
        val (b, md) = replay(t, traceBase + rows)
        branchNs(b) += System.nanoTime() - s0
        (b, md)
      }
      val (r, (b, md)) =
        if (rows % 2 == 0) { val r = timedApply(); (r, timedReplay()) }
        else { val x = timedReplay(); (timedApply(), x) }
      branchRows(b) += 1
      if (!TurnReplay.agrees(r, b, md)) disagree += 1
      rows += 1
    }
    h.check("trace.replay_agrees_with_apply", disagree == 0,
      s"$disagree of $rows turns classified differently from ExtractTurn.apply")
    h.check("trace.branch_rows_sum_to_rows", branchRows.sum == rows,
      s"${branchRows.sum} != $rows")
    h.metric("pipeline.rows", "count", rows.toDouble)
    TurnReplay.BranchNames.indices.foreach { i =>
      val name = TurnReplay.BranchNames(i)
      h.metric(s"pipeline.branch_share.$name", "ratio", branchRows(i).toDouble / rows)
      h.metric(s"pipeline.branch_rows.$name", "count", branchRows(i).toDouble)
      h.metric(s"pipeline.turn_us.$name", "us",
        if (branchRows(i) == 0) 0.0 else branchNs(i) / 1e3 / branchRows(i))
    }
    val self = h.tracer.selfTimes()
    def perCall(span: String, scale: Double): Double =
      self.get(span).filter(_._1 > 0).map(s => s._2 / scale / s._1).getOrElse(0.0)
    h.metric("geom.smart_resize_ns", "ns", perCall("geom.smart_resize", 1.0))
    for ((metric, span) <- Seq(
        "json.transcode_us" -> "json.transcode",
        "json.pyjson_parse_us" -> "json.pyjson_parse",
        "json.pyjson_dumps_us" -> "json.pyjson_dumps",
        "pipeline.rescale_us" -> "pipeline.rescale",
        "clean.ladder_us" -> "clean.ladder",
        "clean.ladder_big_us" -> "clean.ladder_big",
        "clean.strict_repair_us" -> "clean.strict_repair",
        "render.md_us" -> "render.md"))
      h.metric(metric, "us", perCall(span, 1e3))
    val turnSpans = self.get("pipeline.turn").map(_._2).getOrElse(0L)
    val layerSpans = self.collect {
      case (n, (_, total, _)) if n != "pipeline.turn" && !n.startsWith("call.") => total
    }.sum
    h.metric("pipeline.apply_us", "us", applyNs / 1e3 / rows.max(1))
    h.metric("pipeline.alloc_b_per_turn", "B", allocB.toDouble / rows.max(1))
    h.metric("trace.replay_vs_apply", "ratio", turnSpans.toDouble / applyNs)
    h.metric("trace.layer_share_of_apply", "ratio", layerSpans.toDouble / applyNs)
    h.metric("pipeline.self_share_of_turn", "ratio",
      self.get("pipeline.turn").map(s => s._3.toDouble / s._2.max(1)).getOrElse(0.0))
  }
}
