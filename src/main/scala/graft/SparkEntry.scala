package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DocOps, MultimodalOps, VectorOps}
import graft.pipeline.{Extract, ResultJson}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Two query families:
  *  - `extract_*` / `doc_fanin`: the flagship dots.ocr extraction pipeline
  *    over the deterministic transcripts corpus (data/transcripts_t2). Their
  *    oracles read the FROZEN GOLDEN parquet generated from the reference's
  *    own Python (src/test/resources/expected_t2.parquet) — so the DuckDB
  *    compare enforces the per-turn byte-equality contract.
  *  - relational/doc/vector ops over the sfDir tables with ANSI-SQL oracles.
  */
object SparkEntry {

  val TranscriptsT2 = "/root/repo/data/transcripts_t2"
  val ExpectedT2 = "/root/repo/src/test/resources/expected_t2.parquet"

  /** Flagship query on sf=0.001-scale transcripts; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    extractResult(spark, "/root/repo/data/transcripts_t1")

  /** Extraction result projected to the golden-comparable columns. */
  private def extractResult(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    Extract.run(spark, path)
      .map(r => (r.conv_id, r.turn_idx, r.input_width, r.input_height,
        r.cells_json, r.md, r.md_nohf, r.filtered, ResultJson.spansJson(r.spans)))
      .toDF("conv_id", "turn_idx", "input_width", "input_height",
        "cells_json", "md", "md_nohf", "filtered", "spans_json")
      .orderBy("conv_id", "turn_idx")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- flagship extraction (oracle = frozen reference output) ----
    "extract_turns" -> ((s, _) => extractResult(s, TranscriptsT2)),

    "extract_report" -> ((s, _) => {
      val res = Extract.run(s, TranscriptsT2).toDF()
      res.agg(
        count(lit(1)).as("total_cases"),
        sum(when(col("filtered"), 1L).otherwise(0L)).as("filtered_cases"),
        sum(length(coalesce(col("md"), lit("")))).as("total_md_chars"))
    }),

    "doc_fanin" -> ((s, _) =>
      Extract.docFanIn(Extract.run(s, TranscriptsT2).toDF()).orderBy("conv_id")),

    // S1: turn-range pushdown — the filter reaches the parquet scan
    // (PushedFilters) BEFORE the object stage, mirroring the reference's
    // page-range clamp (doc_utils.py:45-58)
    "extract_range" -> ((s, _) => {
      import s.implicits._
      Extract.extract(
        Extract.readTranscripts(s, TranscriptsT2)
          .where($"turn_idx".between(2, 5)))
        .map(r => (r.conv_id, r.turn_idx, r.cells_json, r.md, r.filtered))
        .toDF("conv_id", "turn_idx", "cells_json", "md", "filtered")
        .orderBy("conv_id", "turn_idx")
    }),

    // K7: eval md selection — nohf preferred (tools/eval_omnidocbench.md:144-151)
    "eval_md" -> ((s, _) => {
      import s.implicits._
      Extract.run(s, TranscriptsT2)
        .map(r => (r.conv_id, r.turn_idx, r.md_nohf.orElse(r.md).orNull))
        .toDF("conv_id", "turn_idx", "eval_md")
        .orderBy("conv_id", "turn_idx")
    }),

    // P6/P14 end-to-end: prompt dispatch incl. grounding-mode bbox
    // preprocessing + Python str(list) injection (parser.py:133-140,
    // layout_utils.py:115-144). The per-turn bbox is the deterministic
    // fixture-contract derivation; the oracle reads the golden parquet
    // produced by the reference's own pre_process_bboxes.
    "prompt_build" -> ((s, _) => {
      import s.implicits._
      import graft.pipeline.{PageGeom, Prompts}
      Extract.readTranscripts(s, TranscriptsT2)
        .filter(t => Prompts.dictPromptModeToPrompt.contains(t.tool))
        .map { t =>
          val (oh, ow) = PageGeom.of(t.conv_id, t.turn_idx)
          val (ih, iw) = graft.geom.SmartResize.smartResize(oh, ow)
          val bbox =
            if (t.tool == "prompt_grounding_ocr")
              Some(Prompts.groundingBbox(t.conv_id, t.turn_idx, ow, oh))
            else None
          (t.conv_id, t.turn_idx, t.tool,
            Prompts.getPrompt(t.tool, bbox, ow, oh, iw, ih))
        }
        .toDF("conv_id", "turn_idx", "tool", "prompt")
        .orderBy("conv_id", "turn_idx")
    }),

    // ---- relational operators over the sfDir tables ----
    // A2-style hash aggregation with partial aggregation (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // J2-style equi-join; orders side is the smaller input → broadcast-able
    "q3_join" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: 6-table join — nation/region broadcast, the
    // customer⋈orders⋈lineitem⋈supplier chain shuffles on its keys with
    // partial aggregation on n_name (one small final shuffle)
    "q5_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val su = s.read.parquet(s"$dir/supplier.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val r = s.read.parquet(s"$dir/region.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, l("l_orderkey") === o("o_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") &&
          su("s_nationkey") === c("c_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .where(r("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // correlated scalar subquery (TPC-H Q17 shape): Catalyst decorrelates
    // the per-part average into an aggregate + join — optimizer breadth
    // beyond plain equi-joins
    "q17_subquery" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("lineitem_v")
      s.read.parquet(s"$dir/part.parquet").createOrReplaceTempView("part_v")
      s.sql(
        """SELECT p_partkey, count(*) AS n_small,
           CAST(sum(l_extendedprice) AS DOUBLE) AS small_revenue
           FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
           WHERE p_brand = 'Brand#1'
             AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                               FROM lineitem_v l2
                               WHERE l2.l_partkey = part_v.p_partkey)
           GROUP BY p_partkey
           ORDER BY p_partkey""")
    }),

    // left-anti join (the resume/J1 shape promoted into the driver
    // contract): customers with no order since 2001
    "q_antijoin" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val recent = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      c.join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // S3 payload decode: a data: URI column is split and base64-decoded with
    // built-ins (unbase64/substring_index) — the multi-protocol fetch's
    // payload branch (image_utils.py:84-140) as a relational op
    "payload_decode" -> ((s, dir) => {
      val uri = concat(lit("data:text/plain;base64,"),
        base64(col("text").cast("binary")))
      docs(s, dir).select(col("doc_id"), uri.as("uri"))
        .select(col("doc_id"),
          substring_index(col("uri"), ":", 1).as("proto"),
          unbase64(substring_index(col("uri"), ",", -1)).as("payload"))
        .select(col("doc_id"), col("proto"),
          md5(col("payload")).as("content_md5"),
          length(col("payload")).as("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // O5 relational form: first-occurrence dedup via row_number()=1
    "dedup_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // the order must be total or row_number() is engine-dependent
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .orderBy(col("l_orderkey"))
    }),

    // O1 stable ordering + window rank within conversation-like groups
    "events_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("seq", row_number().over(w))
        .groupBy(col("user_id"))
        .agg(max(col("seq")).as("n_events"), sum(col("value")).as("total_value"))
        .orderBy(col("user_id"))
    }),

    // grouping-sets analytics: CUBE over (event_type, day) — Catalyst
    // expands to a single Expand+HashAggregate pass (no per-set rescans)
    "events_cube" -> ((s, dir) => {
      s.read.parquet(s"$dir/events.parquet")
        .cube(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))
    }),

    // ---- training-data pipeline ops (documents / embeddings) ----
    "doc_exact_dedup" -> ((s, dir) =>
      DocOps.exactDedup(docs(s, dir)).orderBy("content_md5")),

    "doc_near_dups" -> ((s, dir) =>
      DocOps.nearDups(docs(s, dir), tau = 0.5)),

    "doc_jaccard_brute" -> ((s, dir) =>
      DocOps.bruteForceJaccard(docs(s, dir), tau = 0.5).orderBy("doc_a", "doc_b")),

    "doc_dedup_keepers" -> ((s, dir) =>
      DocOps.dedupKeepers(docs(s, dir), tau = 0.5).orderBy("doc_id")),

    // the production keeper choice (round 7): component representative
    // re-selected as its best-quality member (ties → min doc_id)
    "doc_dedup_keepers_q" -> ((s, dir) =>
      DocOps.dedupKeepersByQuality(docs(s, dir), tau = 0.5).orderBy("doc_id")),

    // INCREMENTAL dedup across appends, END TO END (round 7): batch 1
    // (~3/4 of the corpus by salted hash) is a prior run — its keeper
    // labels and rep-level band index persist; batch 2 appends. The
    // append signatures/bands ONLY its own reps, probes the stored index
    // for candidates, verifies candidates exactly, and the star fixpoint
    // runs over the CONTRACTED graph (old component roots + new docs) —
    // old text is never re-signatured, old edges never revisited. Must
    // equal the full recompute, so the oracle is doc_dedup_keepers'
    // recursive closure verbatim.
    "doc_dedup_keepers_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      val isNew = pmod(DocOps.md5Hash60(
        concat(lit("batch:"), col("doc_id").cast("string"))), lit(4L)) === 0L
      val b1 = d.where(!isNew)
      val (e1, idx1) = DocOps.nearDupEdgesAppend(None, b1, tau = 0.5)
      val labels1 = DocOps.keepersFromEdges(b1, e1)
      val (eNew, _) = DocOps.nearDupEdgesAppend(Some((b1, idx1)), d.where(isNew), tau = 0.5)
      DocOps.resolveKeepers(labels1.union(
        DocOps.keepersFromEdges(d.where(isNew), eNew, Some(labels1)))).orderBy("doc_id")
    }),

    "doc_simhash_pairs" -> ((s, dir) =>
      DocOps.simhashPairs(docs(s, dir), maxDist = 3).orderBy("doc_a", "doc_b")),

    // the SimHash linear CC edge feed (round 7): verified rep pairs +
    // (rep, member) star edges — the nearDupEdges sibling for the
    // Hamming-distance relation
    "doc_simhash_edges" -> ((s, dir) =>
      DocOps.simhashEdges(docs(s, dir), maxDist = 3).orderBy("doc_a", "doc_b")),

    // keeper assignment over the SimHash near-dup components (round 7);
    // oracle = recursive-CTE closure over the independently recomputed
    // quadratic pair relation
    "doc_simhash_keepers" -> ((s, dir) =>
      DocOps.simhashKeepers(docs(s, dir), maxDist = 3).orderBy("doc_id")),

    // incremental SimHash dedup across appends (round 7): batch 1's
    // labels + fingerprint band index persist; the append fingerprints
    // only its own docs and verifies candidates from the index's stored
    // fingerprints — the old corpus is never read. Oracle = the full
    // recursive closure, as for doc_simhash_keepers.
    "doc_simhash_keepers_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      val isNew = pmod(DocOps.md5Hash60(
        concat(lit("sbatch:"), col("doc_id").cast("string"))), lit(4L)) === 0L
      val b1 = d.where(!isNew)
      val (e1, idx1) = DocOps.simhashEdgesAppend(None, b1, maxDist = 3)
      val labels1 = DocOps.keepersFromEdges(b1, e1)
      val (eNew, _) = DocOps.simhashEdgesAppend(Some(idx1), d.where(isNew), maxDist = 3)
      DocOps.resolveKeepers(labels1.union(
        DocOps.keepersFromEdges(d.where(isNew), eNew, Some(labels1)))).orderBy("doc_id")
    }),

    "doc_lang_id" -> ((s, dir) => DocOps.langId(docs(s, dir)).orderBy("doc_id")),

    "doc_quality" -> ((s, dir) => DocOps.qualityScore(docs(s, dir)).orderBy("doc_id")),

    // Gopher/RefinedWeb-style duplicate-line repetition signal (round 4)
    "doc_rep_lines" -> ((s, dir) =>
      DocOps.repetitionStats(docs(s, dir)).orderBy("doc_id")),

    // the paired cleaning transform: drop repeated lines, keep first
    // occurrences in order (round 4)
    "doc_dedup_lines" -> ((s, dir) =>
      DocOps.dedupLines(docs(s, dir)).orderBy("doc_id")),

    // cross-doc shared-paragraph boilerplate signal (round 4)
    "doc_shared_paragraphs" -> ((s, dir) =>
      DocOps.sharedParagraphs(docs(s, dir)).orderBy("doc_id")),

    // its cleaning complement (round 5): drop paragraphs occurring in ≥2
    // docs, keeping the rest in order
    "doc_paragraph_dedup" -> ((s, dir) =>
      DocOps.dedupParagraphs(docs(s, dir)).orderBy("doc_id")),

    // the other dedup policy (round 7): keep the FIRST occurrence of each
    // non-empty paragraph corpus-wide, excise the rest
    "doc_paragraph_keepfirst" -> ((s, dir) =>
      DocOps.dedupParagraphsKeepFirst(docs(s, dir)).orderBy("doc_id")),

    // benchmark decontamination (round 5): 13-gram overlap of the corpus
    // against the deterministic held-out eval split
    "doc_decontam" -> ((s, dir) =>
      DocOps.decontaminate(docs(s, dir)).orderBy("doc_id")),

    // the linear CC edge feed itself (round 6): rep-level verified pairs
    // + (rep, member) star edges — O(groups + members) on degenerate
    // duplicate groups where the pair relation re-expands to k²
    "doc_dedup_edges" -> ((s, dir) =>
      DocOps.nearDupEdges(docs(s, dir), tau = 0.5).orderBy("doc_a", "doc_b")),

    // the excise-not-drop cleaning transform paired with the spans signal
    // (round 6): remove words covered by contaminated 13-gram windows
    "doc_excise_contaminated" -> ((s, dir) => {
      val d = docs(s, dir)
      val ev = DocOps.evalSplit(d)
      DocOps.exciseContaminated(
        d.join(ev.select(col("doc_id")), Seq("doc_id"), "left_anti"), ev,
        broadcastEval = false).orderBy("doc_id")
    }),

    // char-span excision (round 7): same removal decision as
    // doc_excise_contaminated, but survivors are SPLICED from the
    // original text — every byte outside the excised spans (inter-word
    // whitespace runs, leading/trailing whitespace) survives untouched
    "doc_excise_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      val ev = DocOps.evalSplit(d)
      DocOps.exciseContaminatedSpans(
        d.join(ev.select(col("doc_id")), Seq("doc_id"), "left_anti"), ev,
        broadcastEval = false).orderBy("doc_id")
    }),

    // span-level decontamination (round 6): WHICH shingle positions
    // overlap the eval split, enabling excise-not-drop
    "doc_decontam_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      val ev = DocOps.evalSplit(d)
      DocOps.decontamSpans(
        d.join(ev.select(col("doc_id")), Seq("doc_id"), "left_anti"), ev,
        broadcastEval = false).orderBy("doc_id")
    }),

    // the reverse decontamination direction (round 6): per EVAL doc, how
    // compromised the benchmark item is (leaked shingles, sharing docs)
    "doc_eval_leak_report" -> ((s, dir) => {
      val d = docs(s, dir)
      val ev = DocOps.evalSplit(d)
      DocOps.evalLeakReport(
        d.join(ev.select(col("doc_id")), Seq("doc_id"), "left_anti"), ev,
        broadcastEval = false).orderBy("doc_id")
    }),

    // corpus top-k word frequencies (exact complement of doc_word_hll)
    "doc_word_topk" -> ((s, dir) => DocOps.wordTopK(docs(s, dir))),

    // cluster-size histogram over the near-dup connected components — the
    // corpus-health view a dedup run reports (round 4). NOTE: recomputes
    // the nearDups+CC pipeline because each driver query must be
    // self-contained; a caller computing keepers AND stats in one session
    // should aggregate over its keepersFromEdges output instead.
    "doc_dedup_stats" -> ((s, dir) =>
      DocOps.dedupKeepers(docs(s, dir), tau = 0.5)
        .groupBy(col("keeper_doc_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")),

    "doc_tokens" -> ((s, dir) => DocOps.tokenStats(docs(s, dir)).orderBy("doc_id")),

    // the Gopher quality-rule bundle (round 5): every rule metric + the
    // pass/fail verdict as one pure codegen projection
    "doc_gopher_rules" -> ((s, dir) =>
      DocOps.gopherRules(docs(s, dir)).orderBy("doc_id")),

    // the end-to-end cleaning verdict composing holdout/dedup/quality/
    // decontamination with first-failing-stage reasons (round 5)
    "doc_corpus_clean" -> ((s, dir) =>
      DocOps.cleanCorpus(docs(s, dir)).orderBy("doc_id")),

    // per-doc distinctive terms by (tf desc, df asc) — integer-exact
    // tf-idf ranking (round 5)
    "doc_top_terms" -> ((s, dir) =>
      DocOps.topTerms(docs(s, dir)).orderBy("doc_id", "rank")),

    // the Gopher repetition rules: top {2,3,4}-gram and duplicated
    // {5,10}-gram char fractions (round 5)
    "doc_ngram_repetition" -> ((s, dir) =>
      DocOps.ngramRepetition(docs(s, dir)).orderBy("doc_id")),

    // per-source corpus health report (round 5): integer-exact merge
    "doc_source_report" -> ((s, dir) =>
      DocOps.sourceReport(docs(s, dir)).orderBy("source")),

    // deterministic stratified sampling (round 6): integer-threshold
    // keep test on the salted portable doc_id hash, per-source rates
    "doc_sample_stratified" -> ((s, dir) =>
      DocOps.sampleStratified(docs(s, dir),
          Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0))
        .select(col("doc_id"), col("source")).orderBy("doc_id")),

    // overlapping word-window chunking (round 7): pure flatMap
    // projection; small windows so the sf corpus exercises multi-chunk
    // docs and the overlap arithmetic
    "doc_chunk" -> ((s, dir) =>
      DocOps.chunkDocs(docs(s, dir), maxWords = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),

    // per-source document cap (round 7): two-phase bucket-offset rank
    // (≡ one row_number window per source, spec-asserted) keeps K docs
    // per source in salted-hash order
    "doc_source_caps" -> ((s, dir) =>
      DocOps.capPerSource(docs(s, dir), k = 15).orderBy("doc_id")),

    // temperature-style source upsampling (round 7): α=1/2 repeat
    // factors (IEEE sqrt/div/floor — bit-exact cross-engine) and the
    // materialized (doc_id, copy_idx) epoch list
    "doc_repeat_factors" -> ((s, dir) =>
      DocOps.sourceRepeatFactors(docs(s, dir), budget = 10).orderBy("source")),

    "doc_resample" -> ((s, dir) =>
      DocOps.resampleByTemperature(docs(s, dir), budget = 10)
        .orderBy("doc_id", "copy_idx")),

    // deterministic training-shard assignment (round 7): shard = salted
    // hash mod nShards, in-shard position = two-phase bucket-offset rank
    "doc_shards" -> ((s, dir) =>
      DocOps.shardForTraining(docs(s, dir), nShards = 8).orderBy("doc_id")),

    // exact per-source length quantiles via the value histogram (round 7)
    "doc_quantiles" -> ((s, dir) =>
      DocOps.sourceQuantiles(docs(s, dir)).orderBy("source")),

    // corpus vocabulary (df ≥ 2, top-25 so the cut binds on the tiny
    // synthetic vocab) + per-doc OOV rate against it (round 7)
    "doc_vocab" -> ((s, dir) =>
      DocOps.vocabulary(docs(s, dir), minDf = 2, maxSize = 25).orderBy("rank")),

    "doc_oov" -> ((s, dir) =>
      DocOps.oovRate(docs(s, dir),
        DocOps.vocabulary(docs(s, dir), minDf = 2, maxSize = 25))
        .orderBy("doc_id")),

    // integer-exact bigram LM counts (round 7), floored at count ≥ 3
    "doc_bigrams" -> ((s, dir) =>
      DocOps.ngramCounts(docs(s, dir), n = 2, minCount = 3).orderBy("gram")),

    // PII scrubbing: counts + deterministic redaction chain (round 5)
    "doc_pii_scrub" -> ((s, dir) =>
      DocOps.piiScrub(docs(s, dir)).orderBy("doc_id")),

    // sequence packing: bucket-parallel token cumsum → (pack_id, offset)
    "doc_pack_sequences" -> ((s, dir) =>
      DocOps.packSequences(docs(s, dir)).orderBy("doc_id")),

    // the same packing budgeted by the BPE-ish tokenizer segmentation
    // (round 6): trainers pack by tokenizer counts, not words
    "doc_pack_sequences_bpe" -> ((s, dir) =>
      DocOps.packSequences(docs(s, dir), tokenizer = "bpe_ish")
        .orderBy("doc_id")),

    // packing with the bucket count DERIVED from corpus token volume
    // (round 7): nBuckets = max(8, ceil(total_ws_tokens / 4096)) — a
    // small target so the test corpus exercises the data-dependent branch
    // of the sizing rule (production default is 2^27 tokens/bucket)
    "doc_pack_sequences_sized" -> ((s, dir) =>
      DocOps.packSequencesSized(docs(s, dir),
        targetTokensPerBucket = 4096L, minBuckets = 8).orderBy("doc_id")),

    "doc_fingerprint" -> ((s, dir) => DocOps.fingerprint(docs(s, dir)).orderBy("doc_id")),

    "doc_winnow" -> ((s, dir) =>
      DocOps.winnowFingerprints(docs(s, dir)).orderBy("doc_id")),

    // distinct-word HLL sketch (custom TypedImperativeAggregate) — the
    // registers are deterministic integers, recomputed exactly by DuckDB
    "doc_word_hll" -> ((s, dir) => DocOps.wordHll(docs(s, dir))),

    "vec_cosine_topk" -> ((s, dir) =>
      VectorOps.cosineTopK(s.read.parquet(s"$dir/embeddings.parquet"))),

    "vec_ann_lsh" -> ((s, dir) =>
      VectorOps.annLsh(s.read.parquet(s"$dir/embeddings.parquet"), dim = 64)),

    "vec_ann_ivf" -> ((s, dir) =>
      VectorOps.annIvf(s.read.parquet(s"$dir/embeddings.parquet"))),

    // the corpus-scale IVF config: quantizer trained on the deterministic
    // 1/4 seed-hash sample, wider probe — bit-exact oracle replays the
    // sampled trainer too (VERDICT r3 #8)
    "vec_ann_ivf_sampled" -> ((s, dir) =>
      VectorOps.annIvf(s.read.parquet(s"$dir/embeddings.parquet"),
        nProbe = 3, trainSampleMod = 4)),

    // embedding-cosine near-dup dedup (LSH-bucketed candidates, exact
    // cosine verify at τ=0.4) — the vector-space member of the dedup family
    "vec_near_dups" -> ((s, dir) =>
      VectorOps.cosineNearDups(s.read.parquet(s"$dir/embeddings.parquet"),
        dim = 64, tau = 0.4)),

    // extraction ⨯ text-analysis: script profile of the EXTRACTED markdown
    // (the multilingual payload corpus makes this non-trivial); oracle
    // recomputes the same regex counts over the frozen golden md
    "extract_lang_profile" -> ((s, _) => {
      val res = Extract.run(s, TranscriptsT2).toDF()
        .select(col("conv_id"), col("turn_idx"),
          coalesce(col("md"), lit("")).as("text"))
      DocOps.langIdFor(res, Seq("conv_id", "turn_idx"), "text")
        .orderBy("conv_id", "turn_idx")
    }),

    // Q4/Q5 promoted into the driver contract: run the CHECKPOINTED
    // pipeline twice (second increment must resume to zero rows), then
    // expose the deterministic bucket-lineage table it wrote; the oracle
    // recomputes the same lineage from the reference-golden parquet — so a
    // green row certifies the checkpoint/resume path produced exactly the
    // reference's row set (error_rows stays engine-side: the golden has no
    // status column; it is spec-asserted instead)
    // Q4's loop closed end-to-end: run the checkpointed pipeline, knock a
    // deterministic ~1/9 of one conv_id range's rows down to the
    // transient-error shape, then re-parse by key and overwrite in place —
    // the final table must match the reference golden byte-for-byte (same
    // oracle as extract_turns)
    "extract_reparse" -> ((s, _) => {
      import s.implicits._
      // local-FS temp dir: driver-harness only (production path resolves
      // through Hadoop FS inside runCheckpointed/reparseErrors)
      val tmp = java.nio.file.Files.createTempDirectory("graft-reparse")
        .toFile.getAbsolutePath
      val out = s"$tmp/out"
      // append t2 in 4 contiguous conv_id ranges, one checkpointed run
      // each, and fail rows of one range only: the error rows then sit in a
      // minority of the part-files, so the reparse is file-granular
      val turns = Extract.readTranscripts(s, TranscriptsT2).toDF()
      val ids = turns.select("conv_id").distinct().as[String].collect().sorted
      val cuts = (1 until 4).map(k => ids(k * ids.length / 4))
      def range(k: Int): Column =
        (if (k > 0) col("conv_id") >= cuts(k - 1) else lit(true)) &&
          (if (k < 3) col("conv_id") < cuts(k) else lit(true))
      (0 until 4).foreach { k =>
        turns.where(range(k)).write.parquet(s"$tmp/t2_range$k")
        Extract.runCheckpointed(s, s"$tmp/t2_range$k", out)
      }
      val n = Extract.injectTransientErrors(s, out, range(1) &&
        pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(9)) === 0)
      require(n > 0L, "error injection selected no rows")
      val m = Extract.reparseErrors(s, TranscriptsT2, out)
      require(m("rewrite_mode") == "file_granular",
        s"reparse of one range's errors ran as ${m("rewrite_mode")}")
      Extract.readResults(s, out).as[pipeline.TurnResult]
        .map(r => (r.conv_id, r.turn_idx, r.input_width, r.input_height,
          r.cells_json, r.md, r.md_nohf, r.filtered, ResultJson.spansJson(r.spans)))
        .toDF("conv_id", "turn_idx", "input_width", "input_height",
          "cells_json", "md", "md_nohf", "filtered", "spans_json")
        .orderBy("conv_id", "turn_idx")
    }),

    // Q6 time travel promoted into the driver contract (round 7): run the
    // checkpointed pipeline, compact (a whole-table rewrite through the
    // snapshot protocol), then TIME-TRAVEL-READ the pre-compaction
    // snapshot (id 0 — the first append's commit over its own files). The
    // oracle is the reference golden, so a green row certifies
    // append-commit -> rewrite-commit -> retention -> readAt end-to-end:
    // the rewrite must not have touched a byte the historical snapshot
    // references. (Expiry failing that same read is spec-asserted —
    // SnapshotSpec "time-travel reads resolve historical snapshots".)
    "snapshot_time_travel" -> ((s, _) => {
      import s.implicits._
      // local-FS temp dir: driver-harness scratch only (see extract_reparse)
      val out = java.nio.file.Files.createTempDirectory("graft-timetravel")
        .toFile.getAbsolutePath
      Extract.runCheckpointed(s, TranscriptsT2, out)
      Extract.compactResults(s, out)
      Extract.readResultsAt(s, out, 0L).as[pipeline.TurnResult]
        .map(r => (r.conv_id, r.turn_idx, r.input_width, r.input_height,
          r.cells_json, r.md, r.md_nohf, r.filtered, ResultJson.spansJson(r.spans)))
        .toDF("conv_id", "turn_idx", "input_width", "input_height",
          "cells_json", "md", "md_nohf", "filtered", "spans_json")
        .orderBy("conv_id", "turn_idx")
    }),

    "extract_lineage" -> ((s, _) => {
      // local-FS temp dir: driver-harness only — the production path
      // (runCheckpointed) resolves outDir through Hadoop FS and works on
      // HDFS/S3; this java.nio call is just scratch space for the oracle
      val out = java.nio.file.Files.createTempDirectory("graft-lineage")
        .toFile.getAbsolutePath
      Extract.runCheckpointed(s, TranscriptsT2, out)
      val m2 = Extract.runCheckpointed(s, TranscriptsT2, out)
      require(m2("rows").asInstanceOf[Long] == 0L,
        s"resume re-processed ${m2("rows")} rows; expected 0")
      s.read.parquet(s"$out/lineage_buckets")
        .select(col("bucket"), col("rows_out"), col("filtered_rows"),
          col("md_chars"), col("min_conv_id"), col("max_conv_id"))
        .orderBy(col("bucket"))
    }),

    // ---- multimodal binary-column plumbing (decode step stubbed) ----
    "mm_manifest" -> ((s, dir) => MultimodalOps.assetManifest(docs(s, dir))),

    "mm_decoded" -> ((s, dir) => MultimodalOps.decodedSummary(docs(s, dir)))
  )

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Shared DuckDB CTE: distinct 3-word shingles + exact pairwise Jaccard
    * via inverted-index join (the independent ground truth for the MinHash
    * LSH path).
    */
  private val JaccardCte =
    """WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents), sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM words WHERE len(w) >= 3)), cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), pairs AS (SELECT doc_a, doc_b, i*1.0/(ca.n+cb.n-i) AS jaccard FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b WHERE i*1.0/(ca.n+cb.n-i) >= 0.5)"""

  /** Independent DuckDB recompute of the multi-table sign-projection ANN:
    * the hyperplane constants are embedded as decimal literals (shortest
    * round-trip digits) and DuckDB's sequential list_dot_product is
    * bit-exact vs the engine's codegen'd DotProduct (verified), so bucket
    * assignment, candidate generation, and ranking all reproduce exactly.
    */
  /** Shared WITH-prefix recomputing the LSH codes: projections against the
    * embedded plane literals, per-table bucket fold, (vec_id, table, bucket)
    * rows. Bit-exact vs the engine (sequential list_dot_product).
    */
  private def lshOracleCtes(dim: Int, nBits: Int, nTables: Int): String = {
    val lits = VectorOps.planeSqlLiterals(dim, nBits, nTables)
    val projCols = lits.zipWithIndex
      .map { case (l, i) => s"list_dot_product(e, $l) AS p$i" }.mkString(", ")
    val buckets = (0 until nTables).map { t =>
      val terms = (0 until nBits).map { j =>
        val w = 1L << (nBits - 1 - j)
        s"(CASE WHEN p${t * nBits + j} > 0 THEN $w ELSE 0 END)"
      }.mkString(" + ")
      s"($terms) AS b$t"
    }.mkString(", ")
    val bucketCase = (0 until nTables).map(t => s"WHEN $t THEN b$t").mkString(" ")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), proj AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm, $projCols FROM base), buck AS (SELECT vec_id, e, nrm, $buckets FROM proj), coded AS (SELECT vec_id, t.table_id, CASE t.table_id $bucketCase END AS bucket FROM buck CROSS JOIN (SELECT unnest(range($nTables)) AS table_id) t)"""
  }

  private def annLshOracleSql: String = {
    val nQ = 10; val k = 5
    s"""${lshOracleCtes(64, 10, 8)}, cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id FROM coded q JOIN coded c ON q.table_id = c.table_id AND q.bucket = c.bucket WHERE q.vec_id < $nQ AND c.vec_id != q.vec_id), scored AS (SELECT cand.query_id, cand.vec_id, list_dot_product(qb.e, v.e) / (qb.nrm * v.nrm) AS c FROM cand JOIN buck v ON v.vec_id = cand.vec_id JOIN buck qb ON qb.vec_id = cand.query_id), r AS (SELECT query_id, vec_id, c, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank FROM scored) SELECT query_id, rank, vec_id AS neighbor_id, round(c, 6) AS cosine FROM r WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** Independent DuckDB replay of the ENTIRE IVF pipeline — including the
    * k-means trainer: seeds (portable md5-prefix hash order), three Lloyd
    * rounds with the fixed-point integer mean (floor(v·1e6+0.5) longs —
    * exact, order-free), then assign→probe→rank. Every arithmetic step is
    * either integer-exact or an IEEE op both engines evaluate identically
    * (list_dot_product is sequential, matching the codegen'd DotProduct),
    * so the comparison is bit-exact with NO frozen constants.
    */
  private def annIvfOracleSql(dim: Int = 64, nQ: Int = 10, k: Int = 5,
                              nProbe: Int = 2, nCells: Int = 16,
                              iters: Int = 3, trainSampleMod: Int = 1): String = {
    val sb = new StringBuilder
    sb ++= "WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, " +
      "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings), "
    // corpus-scale config: the TRAINER sees only the deterministic
    // seed-hash sample; seeding, Lloyd assignments and means replay over
    // `tr`, while the final assignment and the queries stay over `b`
    val trainSrc = if (trainSampleMod > 1) "tr" else "b"
    if (trainSampleMod > 1)
      sb ++= s"tr AS (SELECT vec_id, e, nrm FROM b WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % $trainSampleMod = 0), "
    sb ++= "seedsall AS (SELECT vec_id, e, row_number() OVER (ORDER BY " +
      s"CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) - 1 AS cell FROM $trainSrc), "
    sb ++= s"c0 AS (SELECT cell, e AS ce, sqrt(list_dot_product(e, e)) AS cn FROM seedsall WHERE cell < $nCells), "
    def assignSql(name: String, cents: String, src: String = trainSrc): String =
      s"$name AS (SELECT vec_id, e, nrm, cell FROM (SELECT b.vec_id, b.e, b.nrm, c.cell, " +
        s"row_number() OVER (PARTITION BY b.vec_id ORDER BY list_dot_product(b.e, c.ce) / (b.nrm * c.cn) DESC, c.cell) AS pr " +
        s"FROM $src b CROSS JOIN $cents c) t WHERE pr = 1)"
    (1 to iters).foreach { r =>
      sb ++= assignSql(s"a$r", s"c${r - 1}") + ", "
      sb ++= s"s$r AS (SELECT cell, pos, sum(CAST(floor(e[pos] * 1000000.0 + 0.5) AS BIGINT)) AS sv, count(*) AS n " +
        s"FROM a$r CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS pos) p GROUP BY cell, pos), "
      sb ++= s"c$r AS (SELECT cell, ce, sqrt(list_dot_product(ce, ce)) AS cn FROM " +
        s"(SELECT cell, list(CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY pos) AS ce FROM s$r GROUP BY cell) t), "
    }
    sb ++= assignSql("af", s"c$iters", "b") + ", "
    sb ++= s"q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM b WHERE vec_id < $nQ), "
    // NaN→−∞ mirrors the engine's nanvl probe guard (NaN-last policy)
    sb ++= s"pb AS (SELECT query_id, qe, qn, cell FROM (SELECT q.query_id, q.qe, q.qn, c.cell, " +
      s"row_number() OVER (PARTITION BY q.query_id ORDER BY CASE WHEN isnan(list_dot_product(q.qe, c.ce) / (q.qn * c.cn)) THEN CAST('-Infinity' AS DOUBLE) ELSE list_dot_product(q.qe, c.ce) / (q.qn * c.cn) END DESC, c.cell) AS pr " +
      s"FROM q CROSS JOIN c$iters c) t WHERE pr <= $nProbe), "
    sb ++= "sc AS (SELECT pb.query_id, a.vec_id, list_dot_product(pb.qe, a.e) / (pb.qn * a.nrm) AS c " +
      "FROM af a JOIN pb ON a.cell = pb.cell WHERE a.vec_id != pb.query_id), "
    sb ++= "r AS (SELECT query_id, vec_id, c, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank FROM sc) "
    sb ++= s"SELECT query_id, rank, vec_id AS neighbor_id, round(c, 6) AS cosine FROM r WHERE rank <= $k ORDER BY query_id, rank"
    sb.toString
  }

  private def cosineNearDupsOracleSql: String =
    s"""${lshOracleCtes(64, 10, 8)}, cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b FROM coded a JOIN coded b ON a.table_id = b.table_id AND a.bucket = b.bucket WHERE a.vec_id < b.vec_id), scored AS (SELECT cand.vec_a, cand.vec_b, list_dot_product(x.e, y.e) / (x.nrm * y.nrm) AS c FROM cand JOIN buck x ON x.vec_id = cand.vec_a JOIN buck y ON y.vec_id = cand.vec_b) SELECT vec_a, vec_b, round(c, 6) AS cosine FROM scored WHERE c >= 0.4 ORDER BY vec_a, vec_b"""

  /** Gopher rule bundle recompute (shared by `doc_gopher_rules` and the
    * `doc_corpus_clean` composition): counts via list HOFs, ratios as the
    * same exact int→double divisions, verdict as the same conjunction.
    */
  private val GopherRulesSql: String =
    """SELECT doc_id, n_words, word_chars, n_lines, bullet_lines, ellipsis_lines, alpha_words, symbols, stops_present, mean_word_len, symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac, (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0) AND symbol_ratio <= 0.1 AND bullet_frac < 0.9 AND ellipsis_frac < 0.3 AND alpha_frac >= 0.8 AND stops_present >= 2 AS gopher_pass FROM (SELECT doc_id, n_words, word_chars, n_lines, bullet_lines, ellipsis_lines, alpha_words, symbols, stops_present, CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(word_chars AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mean_word_len, CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(symbols AS DOUBLE) / CAST(n_words AS DOUBLE) END AS symbol_ratio, CAST(bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS bullet_frac, CAST(ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS ellipsis_frac, CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) END AS alpha_frac FROM (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT) ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_words, CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> length(x))) AS BIGINT) AS word_chars, CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines, CAST(len(list_filter(str_split(text, chr(10)), x -> starts_with(x, chr(8226)) OR starts_with(x, '- ') OR starts_with(x, '* '))) AS BIGINT) AS bullet_lines, CAST(len(list_filter(str_split(text, chr(10)), x -> ends_with(x, '...') OR ends_with(x, chr(8230)))) AS BIGINT) AS ellipsis_lines, CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words, CAST(length(text) - length(replace(text, '#', '')) + len(regexp_extract_all(text, '\.\.\.|' || chr(8230))) AS BIGINT) AS symbols, CAST((CASE WHEN list_contains(regexp_split_to_array(trim(text), '\s+'), 'the') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(regexp_split_to_array(trim(text), '\s+'), 'be') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(regexp_split_to_array(trim(text), '\s+'), 'to') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(regexp_split_to_array(trim(text), '\s+'), 'of') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(regexp_split_to_array(trim(text), '\s+'), 'and') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(regexp_split_to_array(trim(text), '\s+'), 'that') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(regexp_split_to_array(trim(text), '\s+'), 'have') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(regexp_split_to_array(trim(text), '\s+'), 'with') THEN 1 ELSE 0 END) AS BIGINT) AS stops_present FROM documents) t1) t2"""

  /** Decontamination CTE chain (shared by `doc_decontam` and
    * `doc_corpus_clean`): portable doc_id hash picks the eval split,
    * 13-word shingles via list_transform, inverted-index semi-joins.
    */
  private val DecontamCtes: String = {
    val cat = (0 until DocOps.DecontamK)
      .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
    s"""ev AS (SELECT doc_id FROM documents WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 = 7), words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents), sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)-${DocOps.DecontamK - 2}), i -> $cat)) AS s FROM words WHERE len(w) >= ${DocOps.DecontamK})), evs AS (SELECT DISTINCT s FROM sh WHERE doc_id IN (SELECT doc_id FROM ev)), corpus AS (SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM ev)), tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh WHERE doc_id IN (SELECT doc_id FROM corpus) GROUP BY doc_id), flag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nc FROM sh WHERE doc_id IN (SELECT doc_id FROM corpus) AND s IN (SELECT s FROM evs) GROUP BY doc_id)"""
  }

  /** Shared DuckDB CTE chain recomputing the SimHash fingerprints of a
    * source relation: 60-bit md5-prefix word hashes, per-bit tf-weighted
    * sums, sign fold, pigeonhole chunk banding (4 chunks × 15 bits).
    * Yields `fp(doc_id, simhash)` and `banded(doc_id, simhash, chunk_idx,
    * chunk_val)`.
    */
  private def simhashFpCtes(src: String): String =
    s"""wordtf AS (SELECT doc_id, word, count(*) AS tf FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS word FROM $src) GROUP BY doc_id, word), hashed AS (SELECT doc_id, tf, CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) AS h FROM wordtf), sums AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN tf ELSE -tf END) AS s FROM hashed CROSS JOIN (SELECT unnest(range(60)) AS i) bits GROUP BY doc_id, i), fp AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS simhash FROM sums GROUP BY doc_id), banded AS (SELECT doc_id, simhash, j AS chunk_idx, (simhash >> (j * 15)) & 32767 AS chunk_val FROM fp CROSS JOIN (SELECT unnest(range(4)) AS j) chunks)"""

  /** ANSI SQL oracles (DuckDB). Column names must match the Spark output. */
  def oracleSql: Map[String, String] = Map(
    "vec_ann_lsh" -> annLshOracleSql,
    "vec_ann_ivf" -> annIvfOracleSql(),
    "vec_ann_ivf_sampled" -> annIvfOracleSql(nProbe = 3, trainSampleMod = 4),
    "vec_near_dups" -> cosineNearDupsOracleSql,
    "extract_turns" ->
      s"""SELECT conv_id, turn_idx, input_width, input_height, cells_json, md, md_nohf, filtered, spans_json FROM read_parquet('$ExpectedT2') ORDER BY conv_id, turn_idx""",

    // sums CAST to BIGINT: DuckDB sum() yields HUGEINT (-> pandas float64)
    // while Spark emits BIGINT; values are equal but the driver's hash
    // compare is type-sensitive (round-1 red row)
    "extract_report" ->
      s"""SELECT count(*) AS total_cases, CAST(sum(CASE WHEN filtered THEN 1 ELSE 0 END) AS BIGINT) AS filtered_cases, CAST(sum(length(coalesce(md,''))) AS BIGINT) AS total_md_chars FROM read_parquet('$ExpectedT2')""",

    "doc_fanin" ->
      s"""SELECT conv_id, string_agg(md, e'\\n\\n---\\n\\n' ORDER BY turn_idx, md) AS doc_md, count(*) AS n_pages FROM read_parquet('$ExpectedT2') WHERE md IS NOT NULL GROUP BY conv_id ORDER BY conv_id""",

    "extract_range" ->
      s"""SELECT conv_id, turn_idx, cells_json, md, filtered FROM read_parquet('$ExpectedT2') WHERE turn_idx BETWEEN 2 AND 5 ORDER BY conv_id, turn_idx""",

    // bucket lineage recomputed from the reference-golden parquet with the
    // same portable conv_id hash (md5-prefix % 32)
    "extract_lineage" ->
      s"""SELECT CAST(('0x' || substr(md5(conv_id), 1, 15)) AS BIGINT) % 32 AS bucket, count(*) AS rows_out, CAST(sum(CASE WHEN filtered THEN 1 ELSE 0 END) AS BIGINT) AS filtered_rows, CAST(sum(length(coalesce(md, ''))) AS BIGINT) AS md_chars, min(conv_id) AS min_conv_id, max(conv_id) AS max_conv_id FROM read_parquet('$ExpectedT2') GROUP BY 1 ORDER BY bucket""",

    // the pre-compaction snapshot IS the original table: same golden
    // oracle as extract_turns
    "snapshot_time_travel" ->
      s"""SELECT conv_id, turn_idx, input_width, input_height, cells_json, md, md_nohf, filtered, spans_json FROM read_parquet('$ExpectedT2') ORDER BY conv_id, turn_idx""",

    // reparse must restore exactly the reference state: same golden oracle
    // as extract_turns
    "extract_reparse" ->
      s"""SELECT conv_id, turn_idx, input_width, input_height, cells_json, md, md_nohf, filtered, spans_json FROM read_parquet('$ExpectedT2') ORDER BY conv_id, turn_idx""",

    "eval_md" ->
      s"""SELECT conv_id, turn_idx, coalesce(md_nohf, md) AS eval_md FROM read_parquet('$ExpectedT2') ORDER BY conv_id, turn_idx""",

    "prompt_build" ->
      s"""SELECT conv_id, turn_idx, tool, prompt FROM read_parquet('${ExpectedT2.replace("expected_t2", "expected_prompts_t2")}') ORDER BY conv_id, turn_idx""",

    "q5_join" ->
      """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY revenue DESC, n_name""",

    "q_antijoin" ->
      """SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01') ORDER BY c_custkey""",

    "q17_subquery" ->
      """SELECT p_partkey, count(*) AS n_small, CAST(sum(l_extendedprice) AS DOUBLE) AS small_revenue FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_brand = 'Brand#1' AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey) GROUP BY p_partkey ORDER BY p_partkey""",

    "payload_decode" ->
      """SELECT doc_id, 'data' AS proto, md5(decode(from_base64(to_base64(encode(text))))) AS content_md5, CAST(octet_length(from_base64(to_base64(encode(text)))) AS BIGINT) AS n_bytes FROM documents ORDER BY doc_id""",

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, sum(l_extendedprice) AS sum_base_price, sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, avg(l_discount) AS avg_disc, count(*) AS count_order FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",

    "q3_join" ->
      """SELECT o_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, count(*) AS n_items FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""",

    "dedup_rank" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM (SELECT l_orderkey, l_partkey, l_quantity, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn FROM lineitem) t WHERE rn = 1 ORDER BY l_orderkey""",

    "events_window" ->
      """SELECT user_id, max(seq) AS n_events, sum(value) AS total_value FROM (SELECT user_id, value, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq FROM events) t GROUP BY user_id ORDER BY user_id""",

    "events_cube" ->
      """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n, sum(value) AS total_value FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE)) ORDER BY event_type NULLS FIRST, day NULLS FIRST""",

    "doc_exact_dedup" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keeper_doc_id, count(*) AS n_copies FROM documents GROUP BY 1 ORDER BY 1""",

    "doc_near_dups" ->
      s"""$JaccardCte SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""",

    "doc_jaccard_brute" ->
      s"""$JaccardCte SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""",

    // keeper = min doc_id of the CONNECTED COMPONENT in the near-dup graph:
    // the recursive CTE computes the transitive closure over the exact
    // Jaccard pairs (fine at oracle scale; the engine side is iterative
    // min-label propagation with pointer jumping)
    "doc_dedup_keepers" ->
      s"""WITH RECURSIVE ${JaccardCte.stripPrefix("WITH ")}, edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs), reach AS (SELECT doc_id AS u, doc_id AS r FROM documents UNION SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u) SELECT u AS doc_id, min(r) AS keeper_doc_id FROM reach GROUP BY u ORDER BY doc_id""",

    // quality-argmax keepers: the same closure, representative re-selected
    // by (quality_score DESC, doc_id ASC) — the score chain is the green
    // doc_quality oracle's, so the argmax tie-break replays bit-exactly
    "doc_dedup_keepers_q" ->
      s"""WITH RECURSIVE ${JaccardCte.stripPrefix("WITH ")}, edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs), reach AS (SELECT doc_id AS u, doc_id AS r FROM documents UNION SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u), comp AS (SELECT u AS doc_id, min(r) AS comp_id FROM reach GROUP BY u), q AS (SELECT doc_id, least(1.0, n_words/200.0) * (1.0 - least(1.0, punct_ratio * 5.0)) * (0.5 + 0.5 * least(1.0, stop_ratio * 4.0)) AS quality_score FROM (SELECT doc_id, n_words, punct_chars*1.0/n_chars_m AS punct_ratio, CASE WHEN n_words = 0 THEN 0.0 ELSE stop_words*1.0/n_words END AS stop_ratio FROM (SELECT doc_id, length(text) AS n_chars_m, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words, length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS punct_chars, len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x IN ('the','a','an','of','and','to','in','is','it','that','for','on','with','as','was','at','by','be'))) AS stop_words FROM documents) t1) t2), rnk AS (SELECT comp.doc_id, comp.comp_id, row_number() OVER (PARTITION BY comp.comp_id ORDER BY q.quality_score DESC, comp.doc_id ASC) AS rn FROM comp JOIN q ON comp.doc_id = q.doc_id), best AS (SELECT comp_id, doc_id AS best_id FROM rnk WHERE rn = 1) SELECT c.doc_id, b.best_id AS keeper_doc_id FROM comp c JOIN best b ON c.comp_id = b.comp_id ORDER BY c.doc_id""",

    // incremental maintenance must reproduce the full recompute exactly:
    // the oracle is the same recursive transitive closure over the full
    // corpus — the batch split exists only on the Spark side
    "doc_dedup_keepers_incr" ->
      s"""WITH RECURSIVE ${JaccardCte.stripPrefix("WITH ")}, edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs), reach AS (SELECT doc_id AS u, doc_id AS r FROM documents UNION SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u) SELECT u AS doc_id, min(r) AS keeper_doc_id FROM reach GROUP BY u ORDER BY doc_id""",

    // the same transitive closure, aggregated to the cluster-size histogram
    "doc_dedup_stats" ->
      s"""WITH RECURSIVE ${JaccardCte.stripPrefix("WITH ")}, edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs), reach AS (SELECT doc_id AS u, doc_id AS r FROM documents UNION SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u), keepers AS (SELECT u AS doc_id, min(r) AS keeper FROM reach GROUP BY u), clusters AS (SELECT keeper, CAST(count(*) AS BIGINT) AS cluster_size FROM keepers GROUP BY keeper) SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters FROM clusters GROUP BY cluster_size ORDER BY cluster_size""",

    "doc_word_topk" ->
      """SELECT w, CAST(count(*) AS BIGINT) AS n FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents) t WHERE length(w) > 0 GROUP BY w ORDER BY n DESC, w LIMIT 100""",

    // cross-doc shared paragraphs: the oracle groups by the raw paragraph
    // (the engine groups by md5 — same partition, collision-free)
    "doc_shared_paragraphs" ->
      """WITH paras AS (SELECT doc_id, unnest(str_split(text, chr(10) || chr(10))) AS p FROM documents), cnt AS (SELECT p, count(DISTINCT doc_id) AS n_docs FROM paras GROUP BY p) SELECT paras.doc_id, CAST(count(*) AS BIGINT) AS n_paras, CAST(sum(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_paras, CAST(sum(CASE WHEN cnt.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS shared_frac FROM paras JOIN cnt ON paras.p = cnt.p GROUP BY paras.doc_id ORDER BY paras.doc_id""",

    // paragraph dedup: the oracle groups by the raw paragraph (the engine
    // by md5 — same partition, collision-free) and rebuilds the kept text
    // with an ordered string_agg; fully-emptied docs coalesce to ''
    "doc_paragraph_dedup" ->
      """WITH split AS (SELECT doc_id, str_split(text, chr(10) || chr(10)) AS ps FROM documents), par AS (SELECT doc_id, ps, unnest(range(len(ps))) AS pos FROM split), p AS (SELECT doc_id, pos, ps[pos + 1] AS para FROM par), shared AS (SELECT para FROM p GROUP BY para HAVING count(DISTINCT doc_id) >= 2), agg AS (SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS cleaned_text FROM p WHERE para NOT IN (SELECT para FROM shared) GROUP BY doc_id), rm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM p WHERE para IN (SELECT para FROM shared) GROUP BY doc_id) SELECT d.doc_id, coalesce(a.cleaned_text, '') AS cleaned_text, coalesce(rm.n, CAST(0 AS BIGINT)) AS n_paras_removed FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id LEFT JOIN rm ON rm.doc_id = d.doc_id ORDER BY d.doc_id""",

    // keep-first paragraph dedup: first occurrence = row_number 1 in the
    // (doc_id, pos) order within each md5(para) class; empty paragraphs
    // are structural and never counted
    "doc_paragraph_keepfirst" ->
      """WITH split AS (SELECT doc_id, str_split(text, chr(10) || chr(10)) AS ps FROM documents), par AS (SELECT doc_id, ps, unnest(range(len(ps))) AS pos FROM split), p AS (SELECT doc_id, pos, ps[pos + 1] AS para FROM par), np AS (SELECT doc_id, pos, para FROM p WHERE length(trim(para)) > 0), f AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn FROM np), rm AS (SELECT doc_id, pos FROM f WHERE rn > 1), kept AS (SELECT p.doc_id, p.pos, p.para FROM p LEFT JOIN rm ON p.doc_id = rm.doc_id AND p.pos = rm.pos WHERE rm.doc_id IS NULL), agg AS (SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS deduped_text FROM kept GROUP BY doc_id), rmc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM rm GROUP BY doc_id) SELECT d.doc_id, coalesce(a.deduped_text, '') AS deduped_text, coalesce(rmc.n, CAST(0 AS BIGINT)) AS n_paras_removed FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id LEFT JOIN rmc ON rmc.doc_id = d.doc_id ORDER BY d.doc_id""",

    // decontamination recomputed independently (see DecontamCtes)
    "doc_decontam" ->
      s"""WITH $DecontamCtes SELECT c.doc_id, coalesce(tot.n, CAST(0 AS BIGINT)) AS n_shingles, coalesce(flag.nc, CAST(0 AS BIGINT)) AS n_contaminated, CASE WHEN coalesce(tot.n, 0) = 0 THEN 0.0 ELSE CAST(coalesce(flag.nc, 0) AS DOUBLE) / CAST(tot.n AS DOUBLE) END AS contaminated_frac FROM corpus c LEFT JOIN tot ON tot.doc_id = c.doc_id LEFT JOIN flag ON flag.doc_id = c.doc_id ORDER BY c.doc_id""",

    // the linear CC edge feed: rep pairs = brute-Jaccard pairs restricted
    // to digest-group representatives (identical shingle sets make the
    // restriction exact); star edges = (min doc_id per md5 group → other
    // members) for groups of ≥2 whose rep shingles (cnt lists exactly the
    // docs with ≥3 words)
    "doc_dedup_edges" ->
      s"""${JaccardCte}, grp AS (SELECT md5(text) AS g, doc_id FROM documents), reps AS (SELECT g, min(doc_id) AS rep, count(*) AS n FROM grp GROUP BY g), edges AS (SELECT p.doc_a, p.doc_b FROM pairs p JOIN reps ra ON ra.rep = p.doc_a JOIN reps rb ON rb.rep = p.doc_b UNION ALL SELECT r.rep AS doc_a, m.doc_id AS doc_b FROM reps r JOIN grp m ON m.g = r.g WHERE m.doc_id != r.rep AND r.n >= 2 AND r.rep IN (SELECT doc_id FROM cnt)) SELECT doc_a, doc_b FROM edges ORDER BY doc_a, doc_b""",

    // excise-not-drop: kept word indices = those covered by NO matched
    // 13-gram window; untouched docs pass their original text through
    "doc_excise_contaminated" -> {
      val cat = (0 until DocOps.DecontamK)
        .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
      s"""WITH $DecontamCtes, pw AS (SELECT doc_id, unnest(range(1, len(w)-${DocOps.DecontamK - 2})) AS i, w FROM words WHERE len(w) >= ${DocOps.DecontamK} AND doc_id IN (SELECT doc_id FROM corpus)), psh AS (SELECT doc_id, i - 1 AS pos, $cat AS s FROM pw), st AS (SELECT doc_id, list(DISTINCT pos) AS starts FROM psh WHERE s IN (SELECT s FROM evs) GROUP BY doc_id), reb AS (SELECT w.doc_id, list_transform(list_filter(range(len(w.w)), i -> len(list_filter(st.starts, s -> i >= s AND i < s + ${DocOps.DecontamK})) = 0), i -> w.w[i + 1]) AS kept, len(w.w) AS nw FROM words w JOIN st ON st.doc_id = w.doc_id) SELECT d.doc_id, CASE WHEN reb.doc_id IS NULL THEN d.text ELSE coalesce(array_to_string(reb.kept, ' '), '') END AS cleaned_text, CASE WHEN reb.doc_id IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(reb.nw - len(reb.kept) AS BIGINT) END AS n_words_removed FROM documents d LEFT JOIN reb ON reb.doc_id = d.doc_id WHERE d.doc_id IN (SELECT doc_id FROM corpus) ORDER BY d.doc_id"""
    },

    // char-span excision: same matched-window starts; survivors rebuilt
    // from '\s*\S+' SEGMENTS (word + its preceding whitespace run, index-
    // aligned with the word positions) + the trailing whitespace run —
    // splice offsets are code-point-based in both engines. array_to_string
    // of an empty list is NULL in DuckDB ('' via Spark) → coalesce.
    "doc_excise_spans" -> {
      val cat = (0 until DocOps.DecontamK)
        .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
      s"""WITH $DecontamCtes, pw AS (SELECT doc_id, unnest(range(1, len(w)-${DocOps.DecontamK - 2})) AS i, w FROM words WHERE len(w) >= ${DocOps.DecontamK} AND doc_id IN (SELECT doc_id FROM corpus)), psh AS (SELECT doc_id, i - 1 AS pos, $cat AS s FROM pw), st AS (SELECT doc_id, list(DISTINCT pos) AS starts FROM psh WHERE s IN (SELECT s FROM evs) GROUP BY doc_id), seg AS (SELECT doc_id, regexp_extract_all(text, '\\s*\\S+') AS segs FROM documents WHERE doc_id IN (SELECT doc_id FROM corpus)), reb AS (SELECT seg.doc_id, seg.segs, list_transform(list_filter(range(len(seg.segs)), i -> len(list_filter(st.starts, s -> i >= s AND i < s + ${DocOps.DecontamK})) = 0), i -> seg.segs[i + 1]) AS kept FROM seg JOIN st ON st.doc_id = seg.doc_id) SELECT d.doc_id, CASE WHEN reb.doc_id IS NULL THEN d.text ELSE coalesce(array_to_string(reb.kept, ''), '') || substr(d.text, length(coalesce(array_to_string(reb.segs, ''), '')) + 1) END AS cleaned_text, CASE WHEN reb.doc_id IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(len(reb.segs) - len(reb.kept) AS BIGINT) END AS n_words_removed FROM documents d LEFT JOIN reb ON reb.doc_id = d.doc_id WHERE d.doc_id IN (SELECT doc_id FROM corpus) ORDER BY d.doc_id"""
    },

    // eval-side leak report: the same shingle CTEs, aggregated per EVAL
    // doc — distinct leaked shingles + distinct sharing corpus docs
    "doc_eval_leak_report" ->
      s"""WITH $DecontamCtes, etot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh WHERE doc_id IN (SELECT doc_id FROM ev) GROUP BY doc_id), hits AS (SELECT es.doc_id, es.s, cs.doc_id AS cd FROM sh es JOIN sh cs ON es.s = cs.s WHERE es.doc_id IN (SELECT doc_id FROM ev) AND cs.doc_id IN (SELECT doc_id FROM corpus)), lk AS (SELECT doc_id, CAST(count(DISTINCT s) AS BIGINT) AS nl, CAST(count(DISTINCT cd) AS BIGINT) AS nd FROM hits GROUP BY doc_id) SELECT e.doc_id, coalesce(etot.n, CAST(0 AS BIGINT)) AS n_shingles, coalesce(lk.nl, CAST(0 AS BIGINT)) AS n_leaked, coalesce(lk.nd, CAST(0 AS BIGINT)) AS n_corpus_docs, CASE WHEN coalesce(etot.n, 0) = 0 THEN 0.0 ELSE CAST(coalesce(lk.nl, 0) AS DOUBLE) / CAST(etot.n AS DOUBLE) END AS leaked_frac FROM ev e LEFT JOIN etot ON etot.doc_id = e.doc_id LEFT JOIN lk ON lk.doc_id = e.doc_id ORDER BY e.doc_id""",

    // span-level decontamination: positioned (non-distinct) shingle
    // occurrences recomputed via unnest(range) + i-1, matched against the
    // same eval shingle set, positions comma-joined in ascending order
    "doc_decontam_spans" -> {
      val cat = (0 until DocOps.DecontamK)
        .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
      s"""WITH $DecontamCtes, pw AS (SELECT doc_id, unnest(range(1, len(w)-${DocOps.DecontamK - 2})) AS i, w FROM words WHERE len(w) >= ${DocOps.DecontamK} AND doc_id IN (SELECT doc_id FROM corpus)), psh AS (SELECT doc_id, i - 1 AS pos, $cat AS s FROM pw) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches, string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS span_starts FROM psh WHERE s IN (SELECT s FROM evs) GROUP BY doc_id ORDER BY doc_id"""
    },

    // first-occurrence line dedup: DuckDB's list_distinct is unordered, so
    // the oracle numbers lines and keeps rn=1 per (doc, line) via a window
    "doc_dedup_lines" ->
      """WITH split AS (SELECT doc_id, str_split(text, chr(10)) AS l FROM documents), lines AS (SELECT doc_id, l, unnest(range(len(l))) AS pos FROM split), numbered AS (SELECT doc_id, l[pos + 1] AS line, pos, row_number() OVER (PARTITION BY doc_id, l[pos + 1] ORDER BY pos) AS rn FROM lines), agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned_text FROM numbered WHERE rn = 1 GROUP BY doc_id), removed AS (SELECT doc_id, CAST(len(l) - len(list_distinct(l)) AS BIGINT) AS n_lines_removed FROM split) SELECT a.doc_id, a.cleaned_text, r.n_lines_removed FROM agg a JOIN removed r ON a.doc_id = r.doc_id ORDER BY a.doc_id""",

    // duplicate-line repetition signal; divisions are exact-int→double so
    // the doubles hash bit-identically
    "doc_rep_lines" ->
      """SELECT doc_id, n_lines, n_lines - n_distinct AS n_dup_lines, line_chars, line_chars - distinct_chars AS dup_line_chars, CAST(n_lines - n_distinct AS DOUBLE) / CAST(n_lines AS DOUBLE) AS dup_line_frac, CASE WHEN line_chars = 0 THEN 0.0 ELSE CAST(line_chars - distinct_chars AS DOUBLE) / CAST(line_chars AS DOUBLE) END AS dup_char_frac FROM (SELECT doc_id, CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines, CAST(len(list_distinct(str_split(text, chr(10)))) AS BIGINT) AS n_distinct, CAST(list_sum(list_transform(str_split(text, chr(10)), x -> length(x))) AS BIGINT) AS line_chars, CAST(list_sum(list_transform(list_distinct(str_split(text, chr(10))), x -> length(x))) AS BIGINT) AS distinct_chars FROM documents) t ORDER BY doc_id""",

    "doc_lang_id" ->
      """SELECT doc_id, latin_chars, cjk_chars, cyr_chars, arab_chars, CASE WHEN cjk_chars >= greatest(latin_chars, cyr_chars, arab_chars) AND cjk_chars > 0 THEN 'cjk' WHEN cyr_chars >= greatest(latin_chars, cjk_chars, arab_chars) AND cyr_chars > 0 THEN 'cyrillic' WHEN arab_chars >= greatest(latin_chars, cjk_chars, cyr_chars) AND arab_chars > 0 THEN 'arabic' WHEN latin_chars > 0 THEN 'latin' ELSE 'unknown' END AS script FROM (SELECT doc_id, length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS latin_chars, length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}]', '', 'g')) AS cjk_chars, length(text) - length(regexp_replace(text, '[\x{0400}-\x{04FF}]', '', 'g')) AS cyr_chars, length(text) - length(regexp_replace(text, '[\x{0600}-\x{06FF}]', '', 'g')) AS arab_chars FROM documents) t ORDER BY doc_id""",

    "doc_quality" ->
      """SELECT doc_id, n_chars_m, n_words, punct_chars, digit_chars, stop_words, punct_ratio, stop_ratio, least(1.0, n_words/200.0) * (1.0 - least(1.0, punct_ratio * 5.0)) * (0.5 + 0.5 * least(1.0, stop_ratio * 4.0)) AS quality_score FROM (SELECT doc_id, n_chars_m, n_words, punct_chars, digit_chars, stop_words, punct_chars*1.0/n_chars_m AS punct_ratio, CASE WHEN n_words = 0 THEN 0.0 ELSE stop_words*1.0/n_words END AS stop_ratio FROM (SELECT doc_id, length(text) AS n_chars_m, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words, length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS punct_chars, length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars, len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x IN ('the','a','an','of','and','to','in','is','it','that','for','on','with','as','was','at','by','be'))) AS stop_words FROM documents) t1) t2 ORDER BY doc_id""",

    "doc_tokens" ->
      """SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_tokens, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens, length(text) AS n_chars_m FROM documents ORDER BY doc_id""",

    "doc_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_md5, substr(md5(text), 1, 16) AS fp64_hex FROM documents ORDER BY doc_id""",

    // Gopher rule bundle (see GopherRulesSql)
    "doc_gopher_rules" -> s"$GopherRulesSql ORDER BY doc_id",

    // the end-to-end cleaning verdict: eval holdout → exact-dup keeper →
    // Gopher gate → decontamination gate, first failing stage wins
    "doc_corpus_clean" ->
      s"""WITH $DecontamCtes, keepg AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), gr AS ($GopherRulesSql), v AS (SELECT d.doc_id, (d.doc_id IN (SELECT doc_id FROM ev)) AS is_eval, (d.doc_id IN (SELECT doc_id FROM keepg)) AS is_exact_keeper, gr.gopher_pass, CASE WHEN coalesce(tot.n, 0) = 0 THEN 0.0 ELSE CAST(coalesce(flag.nc, 0) AS DOUBLE) / CAST(tot.n AS DOUBLE) END AS contaminated_frac FROM documents d JOIN gr ON gr.doc_id = d.doc_id LEFT JOIN tot ON tot.doc_id = d.doc_id LEFT JOIN flag ON flag.doc_id = d.doc_id) SELECT doc_id, is_eval, is_exact_keeper, gopher_pass, contaminated_frac, CASE WHEN is_eval THEN 'eval_holdout' WHEN NOT is_exact_keeper THEN 'exact_dup' WHEN NOT gopher_pass THEN 'quality' WHEN contaminated_frac > 0.05 THEN 'contaminated' ELSE NULL END AS drop_reason, (CASE WHEN is_eval THEN 'eval_holdout' WHEN NOT is_exact_keeper THEN 'exact_dup' WHEN NOT gopher_pass THEN 'quality' WHEN contaminated_frac > 0.05 THEN 'contaminated' ELSE NULL END) IS NULL AS kept FROM v ORDER BY doc_id""",

    // Gopher repetition rules: per n, the gram tf table is one CTE; top =
    // window rn=1, dup = sum over tf>=2; fractions joined on doc_id
    "doc_ngram_repetition" -> {
      def gramCat(n: Int) = (0 until n)
        .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
      def gt(n: Int) =
        s"g$n AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - ${n - 2}), i -> ${gramCat(n)})) AS g FROM words WHERE len(w) >= $n) GROUP BY doc_id, g)"
      def top(n: Int) =
        s"t$n AS (SELECT doc_id, tf * CAST(length(g) AS BIGINT) AS ch FROM (SELECT doc_id, g, tf, row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, g) AS rn FROM g$n) x WHERE rn = 1)"
      def dup(n: Int) =
        s"d$n AS (SELECT doc_id, CAST(sum(tf * length(g)) AS BIGINT) AS ch FROM g$n WHERE tf >= 2 GROUP BY doc_id)"
      def frac(src: String) =
        s"CASE WHEN length(d.text) = 0 THEN 0.0 ELSE CAST(coalesce($src.ch, 0) AS DOUBLE) / CAST(length(d.text) AS DOUBLE) END"
      s"""WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents), ${gt(2)}, ${gt(3)}, ${gt(4)}, ${gt(5)}, ${gt(10)}, ${top(2)}, ${top(3)}, ${top(4)}, ${dup(5)}, ${dup(10)} SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars_m, ${frac("t2")} AS top2_frac, ${frac("t3")} AS top3_frac, ${frac("t4")} AS top4_frac, ${frac("d5")} AS dup5_frac, ${frac("d10")} AS dup10_frac FROM documents d LEFT JOIN t2 ON t2.doc_id = d.doc_id LEFT JOIN t3 ON t3.doc_id = d.doc_id LEFT JOIN t4 ON t4.doc_id = d.doc_id LEFT JOIN d5 ON d5.doc_id = d.doc_id LEFT JOIN d10 ON d10.doc_id = d.doc_id ORDER BY d.doc_id""" },

    // PII scrub: same RE2-safe patterns, same fixed redaction order
    // (email → IP → phone), counts taken at the same chain stage
    "doc_pii_scrub" ->
      s"""SELECT doc_id, CAST(len(regexp_extract_all(text, '${DocOps.EmailRe}')) AS BIGINT) AS n_emails, CAST(len(regexp_extract_all(regexp_replace(text, '${DocOps.EmailRe}', '<EMAIL>', 'g'), '${DocOps.Ipv4Re}')) AS BIGINT) AS n_ips, CAST(len(regexp_extract_all(regexp_replace(regexp_replace(text, '${DocOps.EmailRe}', '<EMAIL>', 'g'), '${DocOps.Ipv4Re}', '<IP>', 'g'), '${DocOps.PhoneRe}')) AS BIGINT) AS n_phones, regexp_replace(regexp_replace(regexp_replace(text, '${DocOps.EmailRe}', '<EMAIL>', 'g'), '${DocOps.Ipv4Re}', '<IP>', 'g'), '${DocOps.PhoneRe}', '<PHONE>', 'g') AS redacted_text FROM documents ORDER BY doc_id""",

    // sequence packing: the same windowed integer cumsum per hash bucket
    "doc_pack_sequences" ->
      """WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT) ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS bucket FROM documents), c AS (SELECT doc_id, bucket, n_tokens, CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM t) SELECT doc_id, bucket, n_tokens, CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 2048.0) AS BIGINT) AS pack_id, (cum - n_tokens) % 2048 AS pack_offset FROM c ORDER BY doc_id""",

    // BPE-ish packing: same windowed cumsum, token counts from the same
    // regex segmentation as doc_tokens' bpe_ish_tokens
    "doc_pack_sequences_bpe" ->
      """WITH t AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 32 AS bucket FROM documents), c AS (SELECT doc_id, bucket, n_tokens, CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM t) SELECT doc_id, bucket, n_tokens, CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 2048.0) AS BIGINT) AS pack_id, (cum - n_tokens) % 2048 AS pack_offset FROM c ORDER BY doc_id""",

    // sized packing: the bucket count is derived in a scalar CTE —
    // greatest(8, ceil(total/4096)) via integer-exact floor((t+4095)/4096)
    // — then the same windowed cumsum replays per derived bucket
    "doc_pack_sequences_sized" ->
      """WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT) ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens FROM documents), nb AS (SELECT greatest(CAST(8 AS BIGINT), CAST(floor(CAST(sum(n_tokens) + 4095 AS DOUBLE) / 4096.0) AS BIGINT)) AS n FROM t), b AS (SELECT doc_id, n_tokens, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % (SELECT n FROM nb) AS bucket FROM t), c AS (SELECT doc_id, bucket, n_tokens, CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM b) SELECT doc_id, bucket, n_tokens, CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 2048.0) AS BIGINT) AS pack_id, (cum - n_tokens) % 2048 AS pack_offset FROM c ORDER BY doc_id""",

    // stratified sampling: the same salted 60-bit hash vs the same
    // floor(rate·2^60) integer thresholds (0.25→2^58, 0.5→2^59, 0→0,
    // default 1.0→2^60)
    "doc_sample_stratified" ->
      """SELECT doc_id, source FROM documents WHERE CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) < CASE source WHEN 'src0' THEN 288230376151711744 WHEN 'src1' THEN 576460752303423488 WHEN 'src2' THEN 0 ELSE 1152921504606846976 END ORDER BY doc_id""",

    // chunking replay: same integer ceil-div chunk count, same 1-based
    // inclusive word-slice bounds (DuckDB list slice w[a:b])
    "doc_chunk" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w, CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT) ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n FROM documents), c AS (SELECT doc_id, w, n, CASE WHEN n <= 32 THEN CAST(1 AS BIGINT) ELSE CAST(floor(CAST(n - 32 + 23 AS DOUBLE) / 24.0) AS BIGINT) + 1 END AS nc FROM d), e AS (SELECT doc_id, w, n, unnest(range(nc)) AS chunk_idx FROM c) SELECT doc_id, chunk_idx, array_to_string(w[CAST(chunk_idx * 24 + 1 AS INT):CAST(chunk_idx * 24 + 32 AS INT)], ' ') AS chunk_text, least(CAST(32 AS BIGINT), n - chunk_idx * 24) AS n_words FROM e ORDER BY doc_id, chunk_idx""",

    // per-source cap replayed in its DIRECT form — one row_number window
    // per source over (salted hash, doc_id); the Spark side's two-phase
    // bucket-offset rank must equal it exactly (bucket = h >> 55 is
    // monotone in h, so bucket order refines hash order)
    "doc_source_caps" ->
      """WITH h AS (SELECT doc_id, source, CAST(('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS cap_h FROM documents), r AS (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source ORDER BY cap_h, doc_id) AS BIGINT) AS cap_rank FROM h) SELECT doc_id, source, cap_rank FROM r WHERE cap_rank <= 15 ORDER BY doc_id""",

    // α=1/2 upsampling factors: IEEE sqrt and division are correctly
    // rounded, floor is exact — the doubles never reach the output
    "doc_repeat_factors" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs, greatest(CAST(1 AS BIGINT), CAST(floor(10.0 / sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS repeat_factor FROM documents GROUP BY source ORDER BY source""",

    "doc_resample" ->
      """SELECT * FROM (WITH f AS (SELECT source, greatest(CAST(1 AS BIGINT), CAST(floor(10.0 / sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS rf FROM documents GROUP BY source) SELECT d.doc_id, d.source, unnest(range(f.rf)) AS copy_idx FROM documents d JOIN f USING (source)) ORDER BY doc_id, copy_idx""",

    // shard assignment replayed in its direct form: one window per shard
    // over (salted hash, doc_id) — the Spark side's two-phase rank must
    // equal it exactly
    "doc_shards" ->
      """WITH h AS (SELECT doc_id, CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS rk FROM documents) SELECT doc_id, rk % 8 AS shard, CAST(row_number() OVER (PARTITION BY rk % 8 ORDER BY rk, doc_id) AS BIGINT) - 1 AS shard_pos FROM h ORDER BY doc_id""",

    // vocabulary: same two aggregations + the same (tf DESC, word) total
    // order; rank over the full table then cut ≡ Spark's limit-then-rank
    "doc_vocab" ->
      """WITH tf AS (SELECT word, doc_id, count(*) AS c FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents) t WHERE length(word) > 0 GROUP BY word, doc_id), v AS (SELECT word, CAST(sum(c) AS BIGINT) AS tf, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word HAVING count(*) >= 2), r AS (SELECT word, tf, df, CAST(row_number() OVER (ORDER BY tf DESC, word) AS BIGINT) AS rank FROM v) SELECT word, tf, df, rank FROM r WHERE rank <= 25 ORDER BY rank""",

    // OOV: integer token/miss counts; the rate is one int/int IEEE divide
    "doc_oov" ->
      """WITH toks AS (SELECT doc_id, word FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents) t WHERE length(word) > 0), tf AS (SELECT word, doc_id, count(*) AS c FROM toks GROUP BY word, doc_id), v AS (SELECT word, CAST(sum(c) AS BIGINT) AS tf, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word HAVING count(*) >= 2), r AS (SELECT word, CAST(row_number() OVER (ORDER BY tf DESC, word) AS BIGINT) AS rank FROM v), vocab AS (SELECT word FROM r WHERE rank <= 25) SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, CAST(sum(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_frac FROM toks LEFT JOIN vocab ON toks.word = vocab.word GROUP BY doc_id ORDER BY doc_id""",

    // bigram counts replayed via the proven carry-the-array unnest(range)
    // pattern; 1-based inclusive slice ws[i+1 : i+2] = the 2-word window
    "doc_bigrams" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents WHERE length(trim(text)) > 0), e AS (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i FROM w WHERE len(ws) >= 2), g AS (SELECT doc_id, array_to_string(ws[CAST(i + 1 AS INT):CAST(i + 2 AS INT)], ' ') AS gram FROM e) SELECT gram, CAST(count(*) AS BIGINT) AS c, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM g GROUP BY gram HAVING count(*) >= 3 ORDER BY gram""",

    // exact quantiles: same histogram + cumulative window + smallest-value-
    // reaching-target selection; window sums CAST to BIGINT (HUGEINT)
    "doc_quantiles" ->
      """WITH c AS (SELECT source, n_chars, count(*) AS c FROM documents GROUP BY source, n_chars), t AS (SELECT source, n_chars, CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS cum, CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n FROM c) SELECT source, min(CASE WHEN cum >= greatest(CAST(ceil(0.25 * n) AS BIGINT), 1) THEN n_chars END) AS p25, min(CASE WHEN cum >= greatest(CAST(ceil(0.5 * n) AS BIGINT), 1) THEN n_chars END) AS p50, min(CASE WHEN cum >= greatest(CAST(ceil(0.9 * n) AS BIGINT), 1) THEN n_chars END) AS p90 FROM t GROUP BY source ORDER BY source""",

    // per-source report: integer sums merged then ratios derived
    "doc_source_report" ->
      """SELECT source, n_docs, total_chars, total_words, alpha_chars, min_chars, max_chars, CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars, CASE WHEN total_chars = 0 THEN 0.0 ELSE CAST(alpha_chars AS DOUBLE) / CAST(total_chars AS DOUBLE) END AS alpha_frac FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars, CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_words, CAST(sum(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS BIGINT) AS alpha_chars, CAST(min(length(text)) AS BIGINT) AS min_chars, CAST(max(length(text)) AS BIGINT) AS max_chars FROM documents GROUP BY source) t ORDER BY source""",

    // distinctive terms: tf/df recomputed via the same two aggregations;
    // (tf DESC, df ASC, term) is a total order within a doc
    "doc_top_terms" ->
      """WITH tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents) t WHERE length(term) > 0 GROUP BY doc_id, term), df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term), r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df, row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rank FROM tf JOIN df USING (term)) SELECT doc_id, rank, term, tf, df FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",

    // SimHash recomputed independently: 60-bit md5-prefix word hash
    // (CAST('0x..' AS BIGINT)), per-bit tf-weighted sums, pigeonhole bands
    "doc_simhash_pairs" ->
      s"""WITH ${simhashFpCtes("documents")} SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming FROM banded a JOIN banded b ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY doc_a, doc_b""",

    // the SimHash linear CC feed: the same fingerprint chain collapsed to
    // one representative per FINGERPRINT VALUE (matching the Spark-side
    // construction — collapsing on md5(text) instead diverges when ≥3
    // distinct texts share a fingerprint: C(g,2) rep pairs vs g−1 star
    // edges; same closure, different edge set — caught at sf0.001), plus
    // (min-doc rep → other member) star edges for every fp group of ≥2
    "doc_simhash_edges" ->
      s"""WITH ${simhashFpCtes("documents")}, reps AS (SELECT simhash AS g, min(doc_id) AS rep, count(*) AS n FROM fp GROUP BY simhash), rb AS (SELECT b.* FROM banded b JOIN reps r ON b.doc_id = r.rep), rp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM rb a JOIN rb b ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3), edges AS (SELECT doc_a, doc_b FROM rp UNION ALL SELECT r.rep AS doc_a, m.doc_id AS doc_b FROM reps r JOIN fp m ON m.simhash = r.g WHERE m.doc_id != r.rep AND r.n >= 2) SELECT doc_a, doc_b FROM edges ORDER BY doc_a, doc_b""",

    // SimHash keepers: recursive-CTE transitive closure over the
    // INDEPENDENTLY recomputed quadratic pair relation (no collapse on the
    // oracle side — the closure is the ground truth the linear feed must
    // reproduce)
    "doc_simhash_keepers" ->
      s"""WITH RECURSIVE ${simhashFpCtes("documents")}, sp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a JOIN banded b ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3), edges AS (SELECT doc_a AS u, doc_b AS v FROM sp UNION ALL SELECT doc_b AS u, doc_a AS v FROM sp), reach AS (SELECT doc_id AS u, doc_id AS r FROM documents UNION SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u) SELECT u AS doc_id, min(r) AS keeper_doc_id FROM reach GROUP BY u ORDER BY doc_id""",

    // incremental maintenance must reproduce the full recompute exactly —
    // the batch split exists only on the Spark side
    "doc_simhash_keepers_incr" ->
      s"""WITH RECURSIVE ${simhashFpCtes("documents")}, sp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a JOIN banded b ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3), edges AS (SELECT doc_a AS u, doc_b AS v FROM sp UNION ALL SELECT doc_b AS u, doc_a AS v FROM sp), reach AS (SELECT doc_id AS u, doc_id AS r FROM documents UNION SELECT e.v AS u, reach.r FROM reach JOIN edges e ON e.u = reach.u) SELECT u AS doc_id, min(r) AS keeper_doc_id FROM reach GROUP BY u ORDER BY doc_id""",

    // HLL registers recomputed independently: same 60-bit md5 word hash,
    // register = top 10 bits, rank = 50-bit leading zeros + 1 via bin()
    "doc_word_hll" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents), h AS (SELECT CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) AS h FROM w), rr AS (SELECT CAST(h >> 50 AS INT) AS reg, CASE WHEN (h & ((CAST(1 AS BIGINT) << 50) - 1)) = 0 THEN 51 ELSE 50 - length(bin(h & ((CAST(1 AS BIGINT) << 50) - 1))) + 1 END AS r FROM h), mx AS (SELECT reg, max(r) AS mr FROM rr GROUP BY reg), allreg AS (SELECT unnest(range(1024)) AS reg), regs AS (SELECT allreg.reg AS reg, coalesce(mx.mr, 0) AS r FROM allreg LEFT JOIN mx ON mx.reg = allreg.reg) SELECT (SELECT string_agg(lpad(to_hex(r), 2, '0'), '' ORDER BY reg) FROM regs) AS hll_registers, (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_words""",

    // Winnowing recomputed independently: distinct 5-word shingles, per-doc
    // minima of 4 md5 hash families, ':'-joined 16-hex-char prefixes
    "doc_winnow" ->
      """WITH words AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents), sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)-3), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s FROM words WHERE len(w) >= 5)) SELECT doc_id, min(substr(md5('w0:' || s), 1, 16)) || ':' || min(substr(md5('w1:' || s), 1, 16)) || ':' || min(substr(md5('w2:' || s), 1, 16)) || ':' || min(substr(md5('w3:' || s), 1, 16)) AS winnow_sig FROM sh GROUP BY doc_id ORDER BY doc_id""",

    "extract_lang_profile" ->
      s"""SELECT conv_id, turn_idx, latin_chars, cjk_chars, cyr_chars, arab_chars, CASE WHEN cjk_chars >= greatest(latin_chars, cyr_chars, arab_chars) AND cjk_chars > 0 THEN 'cjk' WHEN cyr_chars >= greatest(latin_chars, cjk_chars, arab_chars) AND cyr_chars > 0 THEN 'cyrillic' WHEN arab_chars >= greatest(latin_chars, cjk_chars, cyr_chars) AND arab_chars > 0 THEN 'arabic' WHEN latin_chars > 0 THEN 'latin' ELSE 'unknown' END AS script FROM (SELECT conv_id, turn_idx, length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS latin_chars, length(t) - length(regexp_replace(t, '[\\x{4E00}-\\x{9FFF}]', '', 'g')) AS cjk_chars, length(t) - length(regexp_replace(t, '[\\x{0400}-\\x{04FF}]', '', 'g')) AS cyr_chars, length(t) - length(regexp_replace(t, '[\\x{0600}-\\x{06FF}]', '', 'g')) AS arab_chars FROM (SELECT conv_id, turn_idx, coalesce(md, '') AS t FROM read_parquet('$ExpectedT2'))) x ORDER BY conv_id, turn_idx""",

    "mm_manifest" ->
      """SELECT doc_id AS asset_id, CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type, octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5 FROM documents ORDER BY asset_id""",

    // decode stub recomputed independently in Python (FNV dims/duration/
    // features + the reference's smart_resize), frozen keyed by content
    // digest — works at any sf dir via the md5 join
    "mm_decoded" ->
      s"""SELECT d.doc_id AS asset_id, CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type, CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes, CASE WHEN d.doc_id % 3 = 1 THEN 0 ELSE g.width END AS width, CASE WHEN d.doc_id % 3 = 1 THEN 0 ELSE g.height END AS height, CASE WHEN d.doc_id % 3 = 0 THEN 0 ELSE g.duration_ms END AS duration_ms, CASE WHEN d.doc_id % 3 = 1 THEN 0 ELSE g.resized_width END AS resized_width, CASE WHEN d.doc_id % 3 = 1 THEN 0 ELSE g.resized_height END AS resized_height, CASE WHEN d.doc_id % 3 = 2 THEN g.n_frames ELSE 0 END AS n_frames, g.feature_sq_norm FROM documents d JOIN read_parquet('${ExpectedT2.replace("expected_t2", "mm_decoded_golden")}') g ON md5(d.text) = g.content_md5 ORDER BY asset_id""",

    "vec_cosine_topk" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), q AS (SELECT vec_id AS query_id, e AS qe FROM base WHERE vec_id < 10), scored AS (SELECT query_id, vec_id, list_cosine_similarity(qe, e) AS c FROM base, q WHERE vec_id != query_id), r AS (SELECT query_id, vec_id, c, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank FROM scored) SELECT query_id, rank, vec_id AS neighbor_id, round(c, 6) AS cosine FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
  )
}
