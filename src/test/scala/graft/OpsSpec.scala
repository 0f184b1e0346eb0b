package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DocOps, VectorOps}

/** Properties for the ops without SQL oracles: LSH == brute force on the
  * planted near-dups, ANN recall vs exact top-k, SimHash sanity.
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("MinHash LSH finds exactly the brute-force near-dup pairs (τ=0.5)") {
    val lsh = DocOps.nearDups(docs, 0.5).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).sorted.toVector
    val brute = DocOps.bruteForceJaccard(docs, 0.5).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).sorted.toVector
    assert(lsh === brute)
    assert(lsh.nonEmpty, "corpus should contain planted near-dups")
  }

  test("LSH candidate-join inputs never carry the text column; identical docs collapse") {
    // no full-text column crosses the candidate shuffle: every join feeding
    // candidate generation projects only ids/bands/hashes
    val cands = DocOps.lshCandidates(DocOps.lshBands(
      DocOps.minhashSignatures(DocOps.shingles(docs))))
    val joins = cands.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    assert(joins.forall(_.children.forall(_.output.forall(_.name != "text"))))

    // degenerate cluster: k identical docs produce k*(k-1)/2 J=1.0 pairs but
    // only ONE representative enters the LSH bucket space
    val s = spark
    import s.implicits._
    val k = 6
    val dup = (0 until k).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
    val uniq = Seq((100L, "a completely different sentence with several words here"))
    val d = (dup ++ uniq).toDF("doc_id", "text")
    val pairs = DocOps.nearDups(d, 0.5).collect()
    assert(pairs.length === k * (k - 1) / 2)
    assert(pairs.forall(_.getDouble(2) === 1.0))
  }

  test("dedup keepers follow transitive chains (connected components, not star)") {
    val s = spark
    import s.implicits._
    // sliding-window chain: J(A,B)=J(B,C)=14/22≈0.64 ≥ τ, but
    // J(A,C)=10/26≈0.38 < τ — no direct A~C edge, only the chain
    def words(from: Int, to: Int): String =
      (from to to).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, words(1, 20)),   // A
      (2L, words(5, 24)),   // B: linked to A
      (3L, words(9, 28)),   // C: linked to B only
      (10L, words(50, 69)), // isolated
      (20L, words(80, 99)), // pair keeper
      (21L, words(80, 99))  // exact dup of 20
    ).toDF("doc_id", "text")
    // sanity: the edge set really is the chain (no A~C edge)
    val edges = DocOps.nearDups(d, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet // doc_a < doc_b already
    assert(edges === Set((1L, 2L), (2L, 3L), (20L, 21L)))
    val keepers = DocOps.dedupKeepers(d, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 20L -> 20L, 21L -> 20L))
    // edge-free corpus: everyone keeps themselves (empty fixpoint table)
    val solo = Seq((7L, words(1, 20)), (8L, words(50, 69))).toDF("doc_id", "text")
    assert(DocOps.dedupKeepers(solo, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === Map(7L -> 7L, 8L -> 8L))
  }

  test("linear edge feed: identical components as the expanded pair relation") {
    // dedupKeepers now consumes nearDupEdges (rep pairs + star edges)
    // instead of nearDups' k²-expanded pair relation; on the real corpus
    // the keeper assignment must be identical row-for-row
    val viaEdges = DocOps.dedupKeepers(docs, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPairs = DocOps.keepersFromEdges(docs,
      DocOps.nearDups(docs, 0.5).select("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaEdges === viaPairs)
    assert(viaEdges.exists { case (d, k) => d != k },
      "corpus should contain planted near-dups")
  }

  test("linear edge feed: 10k-copy duplicate group costs O(k) edges, not k²") {
    val s = spark
    import s.implicits._
    val k = 10000
    // one degenerate group of k byte-identical docs, one near-dup of its
    // text (a rep-level pair), one non-shingling duplicate pair (< 3
    // words: must stay disconnected, exactly like the pair relation), one
    // isolated doc
    val dupText = (1 to 20).map(i => s"tok$i").mkString(" ")
    val nearText = (3 to 22).map(i => s"tok$i").mkString(" ") // J = 18/22 ≥ τ
    val d = ((0 until k).map(i => (i.toLong, dupText)) ++ Seq(
      (20000L, nearText),
      (30000L, "two words"), (30001L, "two words"),
      (40000L, (50 to 69).map(i => s"x$i").mkString(" "))))
      .toDF("doc_id", "text").repartition(4)
    val edges = DocOps.nearDupEdges(d, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // k-1 star edges (rep 0 → members 1..k-1) + 1 rep pair (0, 20000) —
    // the expanded pair relation would be k(k-1)/2 + k ≈ 5·10⁷ rows
    assert(edges.length === k)
    assert(edges.count(_._1 == 0L) + edges.count(_._2 == 0L) === k)
    // the edge feed's INNER joins (candidates, verify, star expansion)
    // never carry the text column — same invariant the candidate-
    // generation spec asserts for the pair path; the one semi-join
    // selecting representative DOCS legitimately keeps text on its left
    // (it feeds the shingle explode, which consumes text map-side)
    val eJoins = DocOps.nearDupEdges(d, 0.5).queryExecution.optimizedPlan
      .collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
      }
    assert(eJoins.nonEmpty)
    assert(eJoins.forall(_.children.forall(_.output.forall(_.name != "text"))))
    val keepers = DocOps.dedupKeepers(d, 0.5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers.size === k + 4)
    assert((0 until k).forall(i => keepers(i.toLong) == 0L))
    assert(keepers(20000L) === 0L) // connected through the rep pair
    assert(keepers(30000L) === 30000L && keepers(30001L) === 30001L)
    assert(keepers(40000L) === 40000L)
  }

  test("keepers CC fixpoint: 10k-node path converges in O(log diameter) rounds, constant plan") {
    val s = spark
    import s.implicits._
    // adversarial shape for label propagation: ONE component of diameter
    // 9999 (a path), with doc ids decorrelated from path order (14-bit
    // bit-reversal permutation — unique by construction) so min-labels
    // can't ride the path monotonically
    val n = 10000
    def bitrev14(i: Int): Long = {
      var v = 0L
      for (b <- 0 until 14) if ((i & (1 << b)) != 0) v |= 1L << (13 - b)
      v
    }
    val ids = (0 until n).map(bitrev14)
    assert(ids.distinct.size === n)
    val minId = ids.min
    val edges = (0 until n - 1).map(i => (ids(i), ids(i + 1)))
      .toDF("doc_a", "doc_b").localCheckpoint(true)
    val adj = edges.union(edges.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
    val (labels, rounds) = DocOps.componentLabels(adj, maxIters = 30)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === n)
    assert(got.forall(_._2 === minId),
      s"${got.count(_._2 !== minId)} nodes not labeled $minId after $rounds rounds")
    // pointer jumping: reach ~doubles per round → ~log2(diameter) rounds
    // (+1 propagation tail, +1 to observe the unchanged sum), NEVER
    // O(diameter) — a plain propagate-only loop would need ~9999 rounds
    val bound = math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 4
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
    assert(rounds >= 5) // sanity: genuinely iterative on this graph
    // constant plan size: every round is localCheckpoint-truncated, so the
    // final label table's plan is a FIXED-SIZE tree over checkpoint leaves
    // (the last round's edge leaf + the caller's adjacency), never
    // 2^rounds nested joins. Round 8 dropped the final eager checkpoint
    // (labels are consumed exactly once), so the plan is a small join
    // instead of one leaf — the bound is what matters: independent of the
    // 30-round budget above.
    assert(labels.queryExecution.logical.collectLeaves().size <= 3,
      labels.queryExecution.logical.numberedTreeString)
    assert(labels.queryExecution.logical.collect { case p => p }.size <= 16,
      labels.queryExecution.logical.numberedTreeString)
  }

  test("repetition stats: duplicate-line fractions (Gopher-style signal)") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "aa\nbb\naa\ncc\naa"), // 5 lines, 3×"aa" → 2 dup lines, 4 dup chars of 10
      (2L, "unique one\nunique two"),
      (3L, ""),                    // one empty line; zero chars
      (4L, "x\nx\nx\nx")           // fully repeated
    ).toDF("doc_id", "text")
    val r = DocOps.repetitionStats(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 5L && r(1L).getLong(2) === 2L)
    assert(r(1L).getLong(3) === 10L && r(1L).getLong(4) === 4L)
    assert(r(1L).getDouble(5) === 0.4 && r(1L).getDouble(6) === 0.4)
    assert(r(2L).getLong(2) === 0L && r(2L).getDouble(5) === 0.0)
    assert(r(3L).getLong(1) === 1L && r(3L).getDouble(6) === 0.0) // 0-char guard
    assert(r(4L).getLong(2) === 3L && r(4L).getDouble(5) === 0.75)
    // pure projection: no Exchange anywhere in the physical plan
    assert(!DocOps.repetitionStats(d).queryExecution.executedPlan.toString
      .contains("Exchange"))
  }

  test("word top-k: exact counts, total order, TakeOrdered plan (no global sort)") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "a b b c c c"), (2L, "c a  a"), (3L, " ")).toDF("doc_id", "text")
    val r = DocOps.wordTopK(d, 3).collect().map(x => (x.getString(0), x.getLong(1)))
    assert(r.toSeq === Seq(("c", 4L), ("a", 3L), ("b", 2L)))
    val plan = DocOps.wordTopK(d).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("shared paragraphs: cross-doc boilerplate counted, text never shuffled") {
    val s = spark
    import s.implicits._
    val boiler = "COPYRIGHT NOTICE 2026"
    val d = Seq(
      (1L, s"$boiler\n\nunique body one"),
      (2L, s"$boiler\n\nunique body two"),
      (3L, "entirely original\n\ncontent here")
    ).toDF("doc_id", "text")
    val r = DocOps.sharedParagraphs(d).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 2L && r(1L).getLong(2) === 1L)
    assert(r(1L).getDouble(3) === 0.5)
    assert(r(2L).getLong(2) === 1L)
    assert(r(3L).getLong(2) === 0L && r(3L).getDouble(3) === 0.0)
    // scale shape: no raw paragraph strings cross an exchange — only the
    // 32-char digests (and partial-agg buffers) do
    val plan = DocOps.sharedParagraphs(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(p#"), plan)
  }

  test("paragraph dedup drops cross-doc boilerplate, keeps order, text never shuffled") {
    val s = spark
    import s.implicits._
    val boiler = "COPYRIGHT NOTICE 2026"
    val footer = "Subscribe to our newsletter"
    val d = Seq(
      (1L, s"$boiler\n\nunique body one\n\n$footer"),
      (2L, s"$boiler\n\nunique body two"),
      (3L, s"original content\n\n$footer"),
      (4L, "entirely original\n\ncontent here"),
      (5L, boiler) // the whole doc is boilerplate → fully emptied
    ).toDF("doc_id", "text")
    val r = DocOps.dedupParagraphs(d).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getString(1) === "unique body one" && r(1L).getLong(2) === 2L)
    assert(r(2L).getString(1) === "unique body two" && r(2L).getLong(2) === 1L)
    assert(r(3L).getString(1) === "original content" && r(3L).getLong(2) === 1L)
    assert(r(4L).getString(1) === "entirely original\n\ncontent here"
      && r(4L).getLong(2) === 0L)
    assert(r(5L).getString(1) === "" && r(5L).getLong(2) === 1L)
    // a WITHIN-doc repeat is not cross-doc boilerplate: countDistinct(doc)
    val within = Seq((1L, "dup\n\nmid\n\ndup")).toDF("doc_id", "text")
    val w = DocOps.dedupParagraphs(within).collect()(0)
    assert(w.getString(1) === "dup\n\nmid\n\ndup" && w.getLong(2) === 0L)
    // scale shape: raw paragraph text never crosses an exchange — the
    // shared-set and removal-position joins run on digests and ints; the
    // doc text reaches the final projection on its own row
    val plan = DocOps.dedupParagraphs(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(p#"), plan)
  }

  test("decontamination flags planted 13-gram eval overlap; eval side broadcasts") {
    val s = spark
    import s.implicits._
    val leak = (1 to 15).map(i => s"leak$i").mkString(" ") // 15 words ⇒ 3 13-grams
    val evalDocs = Seq(
      (100L, s"benchmark question about $leak and its answer")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"prefix words here $leak suffix tail"), // contains all 3 leaked 13-grams and more
      (2L, (1 to 40).map(i => s"clean$i").mkString(" ")), // 40 words, no overlap
      (3L, "too short to shingle at thirteen") // < 13 words → 0/0 → 0.0
    ).toDF("doc_id", "text")
    val r = DocOps.decontamAgainst(corpus, evalDocs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.size === 3)
    // doc 1: some shingles contaminated, not all (prefix/suffix differ)
    assert(r(1L).getLong(2) > 0L && r(1L).getLong(2) < r(1L).getLong(1))
    assert(r(1L).getDouble(3) > 0.0 && r(1L).getDouble(3) < 1.0)
    assert(r(2L).getLong(1) === 28L && r(2L).getLong(2) === 0L
      && r(2L).getDouble(3) === 0.0)
    assert(r(3L).getLong(1) === 0L && r(3L).getLong(2) === 0L
      && r(3L).getDouble(3) === 0.0)
    // exact expected overlap: the surrounding contexts differ, so the
    // contaminated shingles are exactly the windows fully inside the
    // 15-word leak run — 15 - 13 + 1 = 3 of doc 1's 20 - 12 = 8 shingles
    assert(r(1L).getLong(1) === 8L && r(1L).getLong(2) === 3L)
    // scale shape: the eval shingle set broadcasts, so the CORPUS shingle
    // stream joins map-side (a BroadcastHashJoin on s — round 8 made it a
    // row-preserving LEFT join so one pass tags AND counts, instead of a
    // semi-join pass plus a second totals pass). The only shuffle on a
    // shingle column is the EVAL side's own distinct — benchmark-sized,
    // under the BroadcastExchange.
    val plan = DocOps.decontamAgainst(corpus, evalDocs)
      .queryExecution.executedPlan.toString
    val bcastLine = plan.linesIterator
      .find(l => l.contains("BroadcastHashJoin [s#"))
    assert(bcastLine.nonEmpty, plan)
    // exactly one corpus-side shingle pass: the k-gram Generate appears
    // once below the join (the pre-r8 two-pass form had two)
    assert(plan.linesIterator.count(_.contains("Generate explode")) === 2,
      plan) // one corpus explode + one eval-side explode
    // holdout split: deterministic, disjoint, exhaustive
    val ev = DocOps.evalSplit(docs)
    val evIds = ev.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(evIds.nonEmpty && evIds.size < docs.count())
    val out = DocOps.decontaminate(docs).collect()
    assert(out.length.toLong === docs.count() - evIds.size)
    assert(out.forall(x => !evIds.contains(x.getLong(0))))
    // split-mode shape (round 6): the eval side is ~10% of the corpus, so
    // the plan must not FORCE a broadcast of its shingle set (at corpus
    // scale the size estimate exceeds the threshold and Catalyst picks a
    // shuffle semi-join; at this test scale it may still auto-broadcast
    // by size — which is fine, that's a size-based physical choice, not
    // the unconditional hint the benchmark path uses)
    val splitHints = DocOps.decontaminate(docs).queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(splitHints.isEmpty, splitHints.mkString("\n"))
    val benchHints = DocOps.decontamAgainst(corpus, evalDocs)
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    assert(benchHints.nonEmpty) // benchmark mode DOES force the broadcast
    // same results either shape: the join strategy is a physical choice
    val viaShuffle = DocOps.decontamAgainst(corpus, evalDocs,
        broadcastEval = false).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted.toVector
    assert(viaShuffle === r.values.toVector
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sorted)
  }

  test("decontam spans report exact matched word positions (excise-not-drop)") {
    val s = spark
    import s.implicits._
    val leak = (1 to 15).map(i => s"leak$i").mkString(" ")
    val evalDocs = Seq(
      (100L, s"benchmark question about $leak and its answer")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // words: prefix(0) words(1) here(2) leak1(3)..leak15(17) suffix(18)
      // tail(19) → the 13-gram windows fully inside the leak run start at
      // word indices 3, 4, 5; no other window matches
      (1L, s"prefix words here $leak suffix tail"),
      (2L, (1 to 40).map(i => s"clean$i").mkString(" ")),
      // duplicate occurrences both report: leak at starts 0 AND 17
      (3L, s"$leak xx $leak")
    ).toDF("doc_id", "text")
    val r = DocOps.decontamSpans(corpus, evalDocs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.keySet === Set(1L, 3L)) // clean doc absent, by contract
    assert(r(1L).getLong(1) === 3L)
    assert(r(1L).getString(2) === "3,4,5")
    // second leak run starts at word index 16 (15 leak words + "xx")
    assert(r(3L).getLong(1) === 6L)
    assert(r(3L).getString(2) === "0,1,2,16,17,18")
    // span positions index the SAME tokenization the count op uses: doc 1
    // matched-shingle count via spans == decontamAgainst's distinct count
    // here (all matched shingles distinct in doc 1)
    val counts = DocOps.decontamAgainst(corpus, evalDocs).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(counts(1L) === 3L)

    // the paired cleaning transform: words covered by any matched window
    // [start, start+13) are excised; doc 1 starts {3,4,5} cover words
    // 3..17 — exactly the leak run — leaving the 5 context words; doc 2
    // (clean) passes through byte-identical; doc 3 is fully leak+xx
    val ex = DocOps.exciseContaminated(corpus, evalDocs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(ex(1L).getString(1) === "prefix words here suffix tail")
    assert(ex(1L).getLong(2) === 15L)
    assert(ex(2L).getString(1) === (1 to 40).map(i => s"clean$i").mkString(" "))
    assert(ex(2L).getLong(2) === 0L)
    // doc 3: starts {0,1,2,16,17,18} cover 0..14 and 16..30 — every word
    // except "xx" at index 15
    assert(ex(3L).getString(1) === "xx")
    assert(ex(3L).getLong(2) === 30L)
    // scale shape (benchmark mode): the CORPUS shingle stream joins the
    // broadcast eval set map-side (LeftSemi BroadcastHashJoin on s; the
    // only s-shuffle is the eval side's own distinct, benchmark-sized,
    // under the BroadcastExchange — same nuance as the decontam spec);
    // the removal decision then shuffles as (doc_id, starts) ints
    for (df <- Seq(DocOps.exciseContaminated(corpus, evalDocs),
                   DocOps.decontamSpans(corpus, evalDocs))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin [s#") && l.contains("LeftSemi")), plan)
    }
  }

  test("eval leak report: per-benchmark-item compromise counts") {
    val s = spark
    import s.implicits._
    val leak = (1 to 15).map(i => s"leak$i").mkString(" ")
    // eval doc 100: 21 words → 9 distinct shingles, of which the 3
    // all-leak windows occur in the corpus; eval doc 200: clean
    val evalDocs = Seq(
      (100L, s"benchmark question about $leak and its answer"),
      (200L, (1 to 20).map(i => s"evalonly$i").mkString(" "))
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"prefix words here $leak suffix tail"),
      (2L, (1 to 40).map(i => s"clean$i").mkString(" ")),
      (3L, s"$leak xx $leak") // shares the same 3 shingles
    ).toDF("doc_id", "text")
    val r = DocOps.evalLeakReport(corpus, evalDocs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.keySet === Set(100L, 200L)) // every eval doc reported
    assert(r(100L).getLong(1) === 9L)
    assert(r(100L).getLong(2) === 3L) // 3 distinct leaked shingles
    assert(r(100L).getLong(3) === 2L) // shared by corpus docs 1 and 3
    assert(r(100L).getDouble(4) === 3.0 / 9.0)
    assert(r(200L).getLong(2) === 0L && r(200L).getLong(3) === 0L
      && r(200L).getDouble(4) === 0.0)
  }

  test("sequence packing by bpe_ish tokens differs from ws and replays exactly") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "alpha beta-42 gamma!"), // ws: 3 tokens; bpe_ish: 6
      (2L, "  "), // empty after trim: 0 either way
      (3L, (1 to 30).map(i => s"tok$i").mkString(" "))
    ).toDF("doc_id", "text")
    val ws = DocOps.packSequences(d, budget = 8, nBuckets = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bpe = DocOps.packSequences(d, budget = 8, nBuckets = 2,
      tokenizer = "bpe_ish").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ws(1L) === 3L && bpe(1L) === 6L) // alpha|beta|-|42|gamma|!
    assert(ws(2L) === 0L && bpe(2L) === 0L)
    assert(ws(3L) === 30L && bpe(3L) === 60L) // tokN = letters run + digits run
    assertThrows[IllegalArgumentException](
      DocOps.packSequences(d, tokenizer = "nope"))
  }

  test("Gopher rule bundle: metrics and verdict, pure projection") {
    val s = spark
    import s.implicits._
    val good = (1 to 60).map(i => s"word$i").mkString(" ") +
      " the and of that" // 64 words, all alphabetic, 4 stop words
    val hashy = (1 to 60).map(_ => "ok").mkString(" ") + " " +
      (1 to 20).map(_ => "#").mkString(" ") // 81 words, 20 '#' symbols
    val bullets = (1 to 10).map(i => s"• item $i the of").toSeq.mkString("\n")
    val d = Seq(
      (1L, good),
      (2L, hashy),            // symbol ratio 20/81 > 0.1 → fail
      (3L, "short doc the of"), // 4 words < 50 → fail
      (4L, bullets),          // 10/10 bullet lines ≥ 0.9 → fail
      (5L, "")                // degenerate: all guards → fail
    ).toDF("doc_id", "text")
    val r = DocOps.gopherRules(d).collect().map(x => x.getLong(0) -> x).toMap
    def f(id: Long, name: String) =
      r(id).getAs[Any](name)
    assert(f(1L, "n_words") === 64L && f(1L, "stops_present") === 4L
      && f(1L, "gopher_pass") === true)
    assert(f(2L, "symbols") === 20L && f(2L, "gopher_pass") === false)
    assert(f(3L, "n_words") === 4L && f(3L, "gopher_pass") === false)
    assert(f(4L, "bullet_lines") === 10L && f(4L, "n_lines") === 10L
      && f(4L, "gopher_pass") === false)
    assert(f(5L, "n_words") === 0L && f(5L, "mean_word_len") === 0.0
      && f(5L, "gopher_pass") === false)
    // ellipsis rules: 2 of 4 lines ellipsis-ended → frac 0.5 ≥ 0.3
    val ell = Seq((6L, "one line...\ntwo\nthree…\nfour")).toDF("doc_id", "text")
    val e = DocOps.gopherRules(ell).collect()(0)
    assert(e.getAs[Long]("ellipsis_lines") === 2L)
    assert(e.getAs[Boolean]("gopher_pass") === false)
    // pure projection: no Exchange in the plan
    assert(!DocOps.gopherRules(d).queryExecution.executedPlan.toString
      .contains("Exchange"))
  }

  test("corpus-clean verdict composes the stages with first-failure reasons") {
    val s = spark
    import s.implicits._
    // planted corpus where every stage fires. The eval split is
    // hash-determined, so pick ids AFTER computing the split over a
    // candidate range.
    val candidates = (1L to 60L).map(i => (i, "x")).toDF("doc_id", "text")
    val evAll = DocOps.evalSplit(candidates).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(evAll.nonEmpty)
    val nonEv = (1L to 60L).filterNot(evAll).take(5)
    val Seq(dupA, dupB, lowQ, contam, good) = nonEv
    val evId = evAll.head
    val cleanWords = (1 to 55).map(i => s"clean$i").mkString(" ")
    // a 25-word leak run → 25 − 12 = 13 distinct contaminated 13-grams,
    // safely past the 0.05 threshold after per-doc shingle dedup
    val leak = (1 to 25).map(i => s"leak$i").mkString(" ")
    val goodText = s"$cleanWords the and of that with" // 60 words, stops, alpha
    val docs5 = Seq(
      (evId, s"benchmark eval doc with $leak inside it"),
      (dupA, goodText), (dupB, goodText), // exact dups — min id is keeper
      (lowQ, "way too short the of"),     // fails the 50-word rule
      // passes Gopher (55+25+5 words, alphabetic, stops) but carries the
      // leaked run → contaminated
      (contam, s"$cleanWords $leak the and of that with"),
      (good, goodText + " extra tail words here")
    ).toDF("doc_id", "text")
    val r = DocOps.cleanCorpus(docs5).collect().map(x => x.getLong(0) -> x).toMap
    assert(r.size === 6)
    def reason(id: Long) = r(id).getAs[String]("drop_reason")
    assert(reason(evId) === "eval_holdout")
    assert(reason(math.min(dupA, dupB)) === null) // keeper survives all stages
    assert(reason(math.max(dupA, dupB)) === "exact_dup") // non-keeper stops here
    assert(reason(lowQ) === "quality")
    assert(reason(contam) === "contaminated")
    assert(r(contam).getAs[Double]("contaminated_frac") > 0.05)
    assert(reason(good) === null && r(good).getAs[Boolean]("kept"))
    // over the sf corpus: every doc gets a verdict, eval docs are held out
    val all = DocOps.cleanCorpus(docs).collect().map(x => x.getLong(0) -> x).toMap
    assert(all.size.toLong === docs.count())
    val evIds = DocOps.evalSplit(docs).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(evIds.forall(id => all(id).getAs[String]("drop_reason") === "eval_holdout"))
    assert(all.values.forall(row =>
      row.getAs[Boolean]("kept") === (row.getAs[String]("drop_reason") == null)))
  }

  test("sequence packing: deterministic cumsum packs, repartition-invariant") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, (1 to 4).map(i => s"a$i").mkString(" ")),  // 4 tokens
      (2L, (1 to 4).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 4).map(i => s"c$i").mkString(" ")),
      (4L, "x y z"),                                   // 3 tokens
      (5L, (1 to 10).map(i => s"d$i").mkString(" ")),  // fills past budget
      (6L, "p q"),
      (7L, "")                                         // 0 tokens
    ).toDF("doc_id", "text")
    // nBuckets=1: one stream, so the packing is the plain doc_id-order
    // cumsum: starts 0,4,8,12,15,25,27 with budget 10
    val r = DocOps.packSequences(d, budget = 10L, nBuckets = 1)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(3), x.getLong(4)))
    assert(r === Seq((1L, 0L, 0L), (2L, 0L, 4L), (3L, 0L, 8L), (4L, 1L, 2L),
      (5L, 1L, 5L), (6L, 2L, 5L), (7L, 2L, 7L)))
    // partitioning-invariant (the window order is total per bucket)
    val r2 = DocOps.packSequences(d.repartition(7), budget = 10L, nBuckets = 1)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(3), x.getLong(4)))
    assert(r2.toSeq === r.toSeq)
    // with real buckets, every bucket's packs fill contiguously from 0
    val many = (1L to 200L).map(i => (i, s"tok$i tok tok")).toDF("doc_id", "text")
    val packed = DocOps.packSequences(many, budget = 7L, nBuckets = 4)
    val perBucket = packed.groupBy("bucket")
      .agg(org.apache.spark.sql.functions.min("pack_id"),
        org.apache.spark.sql.functions.countDistinct("pack_id")).collect()
    assert(perBucket.nonEmpty && perBucket.forall(_.getLong(1) === 0L))
  }

  test("PII scrub: counts and fixed-order redaction, pure projection") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "contact me at alice.smith+test@example.co.uk or bob@site.org thanks"),
      (2L, "server at 192.168.1.100 and 10.0.0.1 responded"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "mixed: a@b.com from 8.8.8.8 dial +44 20 7946 0958 end"),
      (5L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val r = DocOps.piiScrub(d).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getInt(1) === 2 && r(1L).getString(4) ===
      "contact me at <EMAIL> or <EMAIL> thanks")
    assert(r(2L).getInt(2) === 2 && r(2L).getString(4) ===
      "server at <IP> and <IP> responded")
    assert(r(3L).getInt(3) === 1 && r(3L).getString(4) === "call <PHONE> now")
    assert(r(4L).getInt(1) === 1 && r(4L).getInt(2) === 1 && r(4L).getInt(3) === 1)
    assert(r(4L).getString(4) === "mixed: <EMAIL> from <IP> dial <PHONE> end")
    assert(r(5L).getInt(1) === 0 && r(5L).getString(4) === "nothing sensitive here")
    assert(!DocOps.piiScrub(d).queryExecution.executedPlan.toString
      .contains("Exchange"))
  }

  test("n-gram repetition: top and duplicated gram char fractions") {
    val s = spark
    import s.implicits._
    val rep10 = ((1 to 10) ++ (1 to 10)).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, "ab ab ab ab"),   // degenerate repetition
      (2L, "one two three four five six"), // all grams unique
      (3L, rep10),           // the 10-gram w1..w10 occurs twice
      (4L, "")               // empty → all zeros
    ).toDF("doc_id", "text")
    val r = DocOps.ngramRepetition(d).collect().map(x => x.getLong(0) -> x).toMap
    def f(id: Long, name: String) = r(id).getAs[Double](name)
    // doc 1 (11 chars): "ab ab" tf=3 ×5 chars = 15/11 (overlap overcount —
    // the published metric's property); "ab ab ab" tf=2 ×8 = 16/11;
    // top4 = the whole text once = 1.0; no 5-grams
    assert(f(1L, "top2_frac") === 15.0 / 11.0)
    assert(f(1L, "top3_frac") === 16.0 / 11.0)
    assert(f(1L, "top4_frac") === 1.0)
    assert(f(1L, "dup5_frac") === 0.0)
    // doc 2: every gram unique → top tf=1; dup = 0
    val len2 = "one two three four five six".length.toDouble
    assert(f(2L, "top2_frac") === "five six".length / len2) // lexicographic tie-break among tf=1 grams
    assert(f(2L, "dup5_frac") === 0.0 && f(2L, "dup10_frac") === 0.0)
    // doc 3: the duplicated 10-gram contributes both occurrences
    val gram10 = (1 to 10).map(i => s"w$i").mkString(" ")
    assert(f(3L, "dup10_frac") === 2.0 * gram10.length / rep10.length)
    assert(f(3L, "dup5_frac") > 0.0)
    assert(f(4L, "top2_frac") === 0.0 && f(4L, "dup10_frac") === 0.0)
  }

  test("stratified sampling: deterministic, repartition-invariant, rate-accurate") {
    val rates = Map("src0" -> 0.0, "src1" -> 0.3, "src2" -> 1.0)
    val a = DocOps.sampleStratified(docs, rates, defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = DocOps.sampleStratified(docs.repartition(13), rates, defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b) // pure function of (doc_id, source)
    val bySrc = DocOps.sampleStratified(docs, rates, defaultRate = 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perSrc = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src0")) // rate 0 drops everything
    assert(bySrc("src2") === perSrc("src2")) // rate 1 keeps everything
    // rate 0.3 keeps roughly 30% (binomial tolerance at n=25: wide band)
    assert(bySrc("src1") > 0L && bySrc("src1") < perSrc("src1"))
    // sampling draw is independent of the eval-holdout draw (different
    // salt): the sampled fraction of eval docs tracks the overall rate,
    // not 0 or 1
    val ev = DocOps.evalSplit(docs).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val sampledEval = a.intersect(ev)
    assert(sampledEval.nonEmpty && sampledEval.size < ev.size)
    // a rate outside [0, 1] is rejected
    assertThrows[IllegalArgumentException](
      DocOps.sampleStratified(docs, Map("src0" -> 1.5)))
    // rate accuracy at n=20k: the 60-bit hash is uniform enough that the
    // empirical keep rate lands within ±5σ of binomial expectation
    val s = spark
    import org.apache.spark.sql.functions.{col, lit}
    val big = s.range(20000).select(col("id").as("doc_id"),
      lit("x").as("text"), lit("webby").as("source"))
    val p = 0.3
    val kept = DocOps.sampleStratified(big, Map("webby" -> p)).count()
    val sigma = math.sqrt(20000 * p * (1 - p)) // ≈ 65
    assert(math.abs(kept - 20000 * p) < 5 * sigma, s"kept $kept of 20000 at rate $p")
    // no shuffle: pure projection + filter
    val plan = DocOps.sampleStratified(docs, rates)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("source report: integer-exact merge, derived ratios") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "abc def", "x", "crawlA"),
      (2L, "12345", "x", "crawlA"),
      (3L, "hello world", "x", "crawlB")
    ).toDF("doc_id", "text", "lang", "source")
    val r = DocOps.sourceReport(d).collect().map(x => x.getString(0) -> x).toMap
    val a = r("crawlA")
    assert(a.getAs[Long]("n_docs") === 2L)
    assert(a.getAs[Long]("total_chars") === 12L) // 7 + 5
    assert(a.getAs[Long]("total_words") === 3L)
    assert(a.getAs[Long]("alpha_chars") === 6L)
    assert(a.getAs[Long]("min_chars") === 5L && a.getAs[Long]("max_chars") === 7L)
    assert(a.getAs[Double]("mean_chars") === 6.0)
    assert(a.getAs[Double]("alpha_frac") === 0.5)
    val b = r("crawlB")
    assert(b.getAs[Long]("n_docs") === 1L && b.getAs[Double]("alpha_frac") === 10.0 / 11.0)
  }

  test("top terms rank by tf desc, df asc, term; ties total") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "apple apple apple rare common common"),
      (2L, "common rare zebra zebra")
    ).toDF("doc_id", "text")
    // df: apple=1 rare=2 common=2 zebra=1
    val r = DocOps.topTerms(d, 3).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getString(2), x.getLong(3), x.getLong(4)))
    val d1 = r.filter(_._1 == 1L).sortBy(_._2)
    // doc 1: apple tf=3; common tf=2; rare tf=1
    assert(d1 === Seq((1L, 1, "apple", 3L, 1L), (1L, 2, "common", 2L, 2L),
      (1L, 3, "rare", 1L, 2L)))
    val d2 = r.filter(_._1 == 2L).sortBy(_._2)
    // doc 2: zebra tf=2; then tf=1 ties common/rare → df equal (2) → term
    assert(d2 === Seq((2L, 1, "zebra", 2L, 1L), (2L, 2, "common", 1L, 2L),
      (2L, 3, "rare", 1L, 2L)))
    // a whitespace-only doc contributes no terms
    val none = Seq((3L, "  ")).toDF("doc_id", "text")
    assert(DocOps.topTerms(none).count() === 0L)
  }

  test("line dedup keeps first occurrences in order") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "b\na\nb\nc\na"),
      (2L, "solo"),
      (3L, "")
    ).toDF("doc_id", "text")
    val r = DocOps.dedupLines(d).collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getString(1) === "b\na\nc" && r(1L).getLong(2) === 2L)
    assert(r(2L).getString(1) === "solo" && r(2L).getLong(2) === 0L)
    assert(r(3L).getString(1) === "" && r(3L).getLong(2) === 0L)
  }

  test("SimHash: near-dup pairs have small hamming distance; identical text -> 0") {
    val fps = DocOps.simhash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fps.size === docs.count())
    // identical docs must collide exactly
    val self = DocOps.simhash(docs.limit(5).union(docs.limit(5)))
      .groupBy("doc_id").agg(org.apache.spark.sql.functions.countDistinct("simhash"))
      .collect()
    assert(self.forall(_.getLong(1) === 1L))
    // planted Jaccard>=0.9 near-dups should be close in simhash space
    val nd = DocOps.bruteForceJaccard(docs, 0.9).collect()
    val close = nd.count { r =>
      java.lang.Long.bitCount(fps(r.getLong(1)) ^ fps(r.getLong(0))) <= 12
    }
    assert(close >= nd.length * 0.8,
      s"only $close/${nd.length} J>=0.9 pairs within hamming 12")
  }

  /** The DIRECT (no fingerprint collapse) formulation of
    * [[DocOps.simhashPairs]], the reference it is asserted against: every
    * doc's band rows self-joined, quadratic on duplicate groups.
    */
  private def simhashPairsDirect(docs: org.apache.spark.sql.DataFrame,
                                 maxDist: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{bit_count, col}
    val banded = DocOps.simhashBandRows(DocOps.simhash(docs), maxDist)
    val a = banded.select(col("chunk_idx"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("chunk_idx"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }

  test("SimHash collapse: pairs ≡ direct formulation (corpus + planted dup groups)") {
    // round 7: simhashPairs routes through the digest-collapse trunk
    // (reps band/join, members expand); output must be byte-identical to
    // the direct formulation on a corpus WITH duplicate groups
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val viaCollapse = DocOps.simhashPairs(docs).collect().map(key).sorted.toVector
    val direct = simhashPairsDirect(docs).collect().map(key).sorted.toVector
    assert(viaCollapse === direct)
    assert(viaCollapse.nonEmpty, "sf corpus should contain near-identical docs")

    val s = spark
    import s.implicits._
    // two duplicate groups of the same cluster + an isolated doc: cross
    // pairs must inherit the rep hamming, within pairs are hamming 0
    val t1 = (1 to 20).map(i => s"tok$i").mkString(" ")
    val t2 = (1 to 19).map(i => s"tok$i").mkString(" ") + " tok21"
    val d = Seq(
      (0L, t1), (1L, t1), (2L, t1),
      (10L, t2), (11L, t2),
      (50L, (100 to 119).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")
    val a = DocOps.simhashPairs(d).collect().map(key).sorted.toVector
    val b = simhashPairsDirect(d).collect().map(key).sorted.toVector
    assert(a === b)
    // within-group pairs present with hamming 0
    assert(a.count { case (x, y, h) => h == 0L && Set(0L, 1L, 2L)(x) && Set(0L, 1L, 2L)(y) } === 3)
    assert(a.contains((10L, 11L, 0L)))
  }

  test("SimHash linear edge feed: 10k-copy duplicate group costs O(k) edges, not 4k²") {
    val s = spark
    import s.implicits._
    val k = 10000
    val dupText = (1 to 20).map(i => s"tok$i").mkString(" ")
    val nearText = (1 to 19).map(i => s"tok$i").mkString(" ") + " tok21"
    val farText = (100 to 119).map(i => s"zz$i").mkString(" ")
    // the hamming relation is deterministic but not hand-computable:
    // derive the expected near/far connectivity from the fingerprints
    val fps = DocOps.simhash(
      Seq((0L, dupText), (1L, nearText), (2L, farText)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearPaired = java.lang.Long.bitCount(fps(0L) ^ fps(1L)) <= 3
    val farPaired = java.lang.Long.bitCount(fps(0L) ^ fps(2L)) <= 3
    assert(!farPaired, "unrelated text should not sit within hamming 3")

    val d = ((0 until k).map(i => (i.toLong, dupText)) ++ Seq(
      (20000L, nearText), (40000L, farText)))
      .toDF("doc_id", "text").repartition(4)
    val edges = DocOps.simhashEdges(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // k-1 star edges (rep 0 → members 1..k-1) + the rep pair iff the
    // fingerprints land within hamming 3 — the direct formulation would
    // push ~4k² candidate rows through the self-join shuffle
    assert(edges.length === (k - 1) + (if (nearPaired) 1 else 0))
    assert(edges.count(e => e._1 == 0L || e._2 == 0L) === edges.length)
    // inner joins (candidate self-join, star/member expansion) never
    // carry the text column — the fingerprint-level collapse shuffles
    // only (doc_id, long) rows; text is consumed by the per-row word
    // explode before any join
    val eJoins = DocOps.simhashEdges(d).queryExecution.optimizedPlan
      .collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
      }
    assert(eJoins.nonEmpty)
    assert(eJoins.forall(_.children.forall(_.output.forall(_.name != "text"))))
    val keepers = DocOps.simhashKeepers(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers.size === k + 2)
    assert((0 until k).forall(i => keepers(i.toLong) == 0L))
    assert(keepers(20000L) === (if (nearPaired) 0L else 20000L))
    assert(keepers(40000L) === 40000L)
  }

  /** Deterministic clustered corpus: 12 centroids in R^16, 240 points with
    * small per-point noise. The real `embeddings` table is uniform-random
    * (no geometric clusters — verified: intra/inter-label cosine ≈ 0), so
    * recall there is information-theoretically poor for ANY sublinear ANN;
    * the recall contract is asserted where it's meaningful.
    */
  private def clusteredEmb = {
    import scala.util.Random
    val dim = 16
    val centroids = (0 until 12).map { c =>
      val r = new Random(c * 31 + 7)
      Array.fill(dim)(r.nextDouble() * 2 - 1)
    }
    val rows = (0 until 240).map { i =>
      val c = i % 12
      val r = new Random(1000 + i * 17)
      val v = centroids(c).map(x => (x + 0.08 * (r.nextDouble() * 2 - 1)).toFloat)
      (i.toLong, v.toSeq, c)
    }
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
  }

  test("cosine near-dups: LSH-bounded pairs are a subset of brute force with high recall") {
    val data = clusteredEmb
    val rows = data.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val tau = 0.9
    val brute = (for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib && cos(va, vb) >= tau
    } yield (ia, ib)).toSet
    val lsh = VectorOps.cosineNearDups(data, dim = 16, tau = tau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((lsh -- brute).isEmpty, "LSH pairs must verify exactly (subset of brute)")
    val recall = (lsh & brute).size.toDouble / brute.size
    info(s"cosine near-dup recall = $recall over ${brute.size} brute pairs")
    assert(recall >= 0.9)
  }

  test("ANN-LSH recall >= 0.9 on clustered data; candidates bounded") {
    val data = clusteredEmb
    val exact = VectorOps.cosineTopK(data).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = VectorOps.annLsh(data, dim = 16).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"ANN-LSH recall = $recall")
    assert(recall >= 0.9)
  }

  test("ANN-IVF recall >= 0.9 on clustered data at nProbe=2") {
    val data = clusteredEmb
    val exact = VectorOps.cosineTopK(data).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = VectorOps.annIvf(data).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"ANN-IVF recall = $recall")
    assert(recall >= 0.9)
  }

  test("IVF seeding plans as TakeOrderedAndProject, not a single-partition global window") {
    import org.apache.spark.sql.functions._
    val base = clusteredEmb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
    val plan = VectorOps.kmeansSeedQuery(base, 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"seed top-k should be tree-reduced, plan was:\n${plan.take(2000)}")
  }

  test("IVF corpus side never expands or shuffles (no vec_id window, no cross join)") {
    val df = VectorOps.annIvf(clusteredEmb)
    val lp = df.queryExecution.optimizedPlan
    val windowParts = lp.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.flatMap(_.references.toSeq).map(_.name)
    }
    // the ONLY window left is the final per-query rank — the Lloyd-round
    // and final assignments are per-row argmax projections, not
    // Window.partitionBy(vec_id) over a crossJoin-expanded corpus
    assert(windowParts.nonEmpty)
    assert(windowParts.forall(_.forall(_ == "query_id")),
      s"unexpected window partitioning: $windowParts")
    val crossJoins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType.toString.toLowerCase.contains("cross") => j
    }
    assert(crossJoins.isEmpty, "corpus must not cross-join the centroids")
    // the trained centroids are order-insensitive: same result after
    // repartitioning the corpus
    val again = VectorOps.annIvf(clusteredEmb.repartition(7))
    assert(df.collect().toSeq === again.collect().toSeq)
  }

  test("IVF trained on a deterministic sample still recalls (the corpus-scale path)") {
    val data = clusteredEmb
    val exact = VectorOps.cosineTopK(data).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = VectorOps.annIvf(data, trainSampleMod = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"sampled-trainer ANN-IVF recall = $recall")
    assert(recall >= 0.8)
  }

  test("ANN-LSH on uniform embeddings still runs and beats random scanning") {
    val exact = VectorOps.cosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = VectorOps.annLsh(emb, dim = 64, nBits = 6, nTables = 12).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"uniform-data ANN-LSH recall = $recall (expected low; data has no clusters)")
    assert(approx.nonEmpty)
  }

  test("incremental CC labels equal a full recompute; fixpoint sees only the contracted graph") {
    val s = spark
    import s.implicits._
    // old graph: TWO adversarial path components (ids decorrelated from
    // path order by bit reversal) + isolated old docs
    val n = 5000
    def bitrev14(i: Int): Long = {
      var v = 0L
      for (b <- 0 until 14) if ((i & (1 << b)) != 0) v |= 1L << (13 - b)
      v
    }
    val idsA = (0 until n).map(bitrev14)
    val idsB = (0 until n).map(i => 100000L + bitrev14(i))
    def path(ids: Seq[Long]) = ids.zip(ids.tail)
    val oldEdges = (path(idsA) ++ path(idsB)).toDF("doc_a", "doc_b")
      .localCheckpoint(true)
    val oldDocs = (idsA ++ idsB ++ Seq(900001L, 900002L)).toDF("doc_id")
    val labels0 = DocOps.keepersFromEdges(oldDocs, oldEdges).localCheckpoint(true)

    // append: a 3-doc chain hung off component B, ONE edge merging A and
    // B, and an isolated new doc
    val newIds = Seq(950000L, 950001L, 950002L, 960000L)
    val newEdges = Seq(
      (idsB(4321), 950000L), (950000L, 950001L), (950001L, 950002L),
      (idsA(1234), idsB(777))).toDF("doc_a", "doc_b").localCheckpoint(true)
    val allDocs = oldDocs.union(newIds.toDF("doc_id")).localCheckpoint(true)

    val inc = DocOps.resolveKeepers(labels0.union(
        DocOps.keepersFromEdges(newIds.toDF("doc_id"), newEdges, Some(labels0))))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val full = DocOps.keepersFromEdges(allDocs, oldEdges.union(newEdges))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(inc === full)
    // the merged A∪B component (now including the appended chain) labels
    // to the global min across BOTH old components; isolated docs stay self
    val minAB = (idsA ++ idsB).min
    val incMap = inc.toMap
    assert(incMap(idsA(4000)) === minAB && incMap(idsB(4000)) === minAB)
    assert(incMap(950002L) === minAB)
    assert(incMap(900001L) === 900001L && incMap(960000L) === 960000L)

    // cost ∝ affected subgraph: the contraction maps 10k old docs' worth
    // of edges down to ≤ |newEdges| rows over component ROOTS + new ids —
    // the A–B merge of two 5k-doc components is ONE contracted edge
    val ce = DocOps.contractEdges(labels0, newEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ce.length <= 4)
    val roots = Set(idsA.min, idsB.min)
    val contractedNodes = ce.flatMap(p => Seq(p._1, p._2)).toSet
    assert(contractedNodes.subsetOf(roots ++ newIds.toSet),
      s"contracted endpoints leak non-root old ids: $contractedNodes")
    assert(ce.count(p => roots.contains(p._1) && roots.contains(p._2)) === 1)
  }

  test("incremental edge feed: append composes with old edges; index is parquet state; cost ∝ batch") {
    val s = spark
    import s.implicits._
    def words(from: Int, to: Int): String =
      (from to to).map(i => s"tok$i").mkString(" ")
    val old = Seq(
      (1L, words(1, 20)),    // A
      (2L, words(5, 24)),    // B ~ A (old-old edge)
      (20L, words(80, 99)), (21L, words(80, 99)), // old dup group, rep 20
      (10L, words(50, 69))   // isolated old
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (100L, words(9, 28)),  // C ~ B only — merges into A's component
      (101L, words(80, 99)), // identical to the OLD dup group's text
      (110L, words(200, 219)), (111L, words(200, 219)),
      (112L, words(200, 219)), // in-batch dup group (star edges)
      (120L, words(300, 319)) // isolated new
    ).toDF("doc_id", "text")
    val all = old.union(fresh)

    // the index is PERSISTED STATE: round-trip through parquet, so the
    // append structurally cannot re-signature old text
    val idxDir = java.nio.file.Files.createTempDirectory("graft-bandidx").toString
    val (oldE0, oldIdx0) = DocOps.nearDupEdgesAppend(None, old, 0.5)
    oldIdx0.write.mode("overwrite").parquet(idxDir)
    val oldIdx = s.read.parquet(idxDir)

    val oldE = oldE0.localCheckpoint(true)
    val (newE0, newIdx) = DocOps.nearDupEdgesAppend(Some((old, oldIdx)), fresh, 0.5)
    val newE = newE0.localCheckpoint(true)

    def lab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // closure composition: old ∪ append ≡ full recompute
    val full = lab(DocOps.keepersFromEdges(all, DocOps.nearDupEdges(all, 0.5)))
    assert(lab(DocOps.keepersFromEdges(all, oldE.union(newE))) === full)
    // the production chain: contracted fixpoint over the append edges
    val labels1 = DocOps.keepersFromEdges(old, oldE).localCheckpoint(true)
    assert(lab(DocOps.resolveKeepers(
      labels1.union(DocOps.keepersFromEdges(fresh, newE, Some(labels1))))) === full)
    assert(full(100L) === 1L && full(101L) === 20L && full(21L) === 20L)
    assert(full(111L) === 110L && full(112L) === 110L)
    assert(full(120L) === 120L && full(10L) === 10L)

    // append edges touch ≥1 batch doc; index delta = 64 band rows per
    // distinct batch text (4 reps here), composable with the old state
    val newIds = Set(100L, 101L, 110L, 111L, 112L, 120L)
    val e = newE.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(e.forall(p => newIds(p._1) || newIds(p._2)), e.mkString(","))
    assert(newIdx.count() === 4L * DocOps.Bands)
    assert(newIdx.columns.toSeq === oldIdx.columns.toSeq)

    // degenerate append: 5k copies of an old doc cost O(k) edges — k-1
    // in-batch stars + ONE rep pair to the old rep through the index
    val k = 5000
    val dOld = Seq((0L, words(400, 419)), (1L, words(500, 519)))
      .toDF("doc_id", "text")
    val dNew = (0 until k).map(i => (1000L + i, words(400, 419)))
      .toDF("doc_id", "text")
    val (dE, _) = DocOps.nearDupEdgesAppend(
      Some((dOld, DocOps.nearDupEdgesAppend(None, dOld, 0.5)._2)), dNew, 0.5)
    val dEdges = dE.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dEdges.length === k)
    assert(dEdges.count(p => p._1 == 0L || p._2 == 0L) === 1)
  }

  test("incremental SimHash edges: append composes with old edges from the index alone") {
    val s = spark
    import s.implicits._
    def words(from: Int, to: Int): String =
      (from to to).map(i => s"tok$i").mkString(" ")
    val old = Seq(
      (1L, words(1, 20)), (2L, words(2, 21)), // likely hamming-close
      (20L, words(80, 99)), (21L, words(80, 99)), // old dup group
      (10L, words(400, 419))
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (100L, words(1, 20)),  // identical to old doc 1 (cross-batch, fp-equal)
      (110L, words(200, 219)), (111L, words(200, 219)),
      (112L, words(200, 219)), // in-batch dup group
      (120L, words(300, 319))
    ).toDF("doc_id", "text")
    val all = old.union(fresh)

    // the append takes ONLY the index + the batch — the old corpus is
    // structurally unreadable from inside simhashEdgesAppend; round-trip
    // the index through parquet as persisted state
    val idxDir = java.nio.file.Files.createTempDirectory("graft-shidx").toString
    val (oldE0, oldIdx) = DocOps.simhashEdgesAppend(None, old)
    oldIdx.write.mode("overwrite").parquet(idxDir)
    val oldE = oldE0.localCheckpoint(true)
    val (newE0, newIdx) = DocOps.simhashEdgesAppend(Some(s.read.parquet(idxDir)), fresh)
    val newE = newE0.localCheckpoint(true)

    def lab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = lab(DocOps.keepersFromEdges(all, DocOps.simhashEdges(all)))
    assert(lab(DocOps.keepersFromEdges(all, oldE.union(newE))) === full)
    val labels1 = DocOps.keepersFromEdges(old, oldE).localCheckpoint(true)
    assert(lab(DocOps.resolveKeepers(
      labels1.union(DocOps.keepersFromEdges(fresh, newE, Some(labels1))))) === full)
    // cross-batch identical text joins its old component regardless of
    // what else pairs (identical fp ⇒ hamming 0)
    assert(full(100L) === full(1L))
    assert(full(111L) === 110L && full(112L) === 110L && full(21L) === 20L)

    val newIds = Set(100L, 110L, 111L, 112L, 120L)
    val e = newE.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(e.forall(p => newIds(p._1) || newIds(p._2)), e.mkString(","))
    // 4 chunk rows per distinct batch fingerprint (100/dup-group/120 = 3)
    assert(newIdx.count() === 3L * 4L)

    // degenerate append: 5k copies of an old doc = k-1 in-batch stars +
    // ONE hamming-0 rep pair through the index
    val k = 5000
    val dOld = Seq((0L, words(400, 419)), (1L, words(500, 519)))
      .toDF("doc_id", "text")
    val dNew = (0 until k).map(i => (1000L + i, words(400, 419)))
      .toDF("doc_id", "text")
    val (dE, _) = DocOps.simhashEdgesAppend(
      Some(DocOps.simhashEdgesAppend(None, dOld)._2), dNew)
    val dEdges = dE.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dEdges.length === k)
    assert(dEdges.count(p => p._1 == 0L || p._2 == 0L) === 1)
  }

  test("char-span excision preserves every byte outside excised spans") {
    val s = spark
    import s.implicits._
    val ev = Seq((100L, "aaa bbb ccc")).toDF("doc_id", "text") // one 3-gram
    val corpus = Seq(
      // contaminated: match at word pos 1 covers words 1..3; survivors
      // keep their own preceding separators ("xx", "  yy", " zz")
      (1L, "xx\t aaa  bbb\nccc  yy zz"),
      // untouched: weird whitespace must come back byte-identical
      (2L, "  clean doc \t with odd   spacing\n"),
      // fully excised, no trailing whitespace -> empty string
      (3L, "aaa bbb ccc"),
      // code-point fidelity: surrogate-pair emoji + NBSP (not Java \s, so
      // part of a word) survive around an excised leading window
      (4L, "aaa bbb ccc 🦊  done end\n")
    ).toDF("doc_id", "text")
    val out = DocOps.exciseContaminatedSpans(corpus, ev, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === (("xx  yy zz", 3L)))
    assert(out(2L) === (("  clean doc \t with odd   spacing\n", 0L)))
    assert(out(3L) === (("", 3L)))
    assert(out(4L) === ((" 🦊  done end\n", 3L)))
    // same removal decision as the word-level rebuild, different fidelity
    val word = DocOps.exciseContaminated(corpus, ev, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.view.mapValues(_._2).toMap === word)
  }

  test("pack bucket sizing: derived from token volume, assignment stable at any count") {
    assert(DocOps.packBucketCount(0L) === 32)
    assert(DocOps.packBucketCount(1L << 27) === 32)
    assert(DocOps.packBucketCount((1L << 27) * 100L + 1L) === 101)
    assert(DocOps.packBucketCount(1000L, 10L, 4) === 100)
    assert(DocOps.packBucketCount(1001L, 10L, 4) === 101)
    // sized == fixed at the independently derived count (driver replay)
    val total = DocOps.tokenStats(docs).agg(
      org.apache.spark.sql.functions.sum("ws_tokens")).collect()(0).getLong(0)
    val derived = DocOps.packBucketCount(total, 1024L, 8)
    assert(derived > 8, s"sf0.001 corpus should exceed the floor (total=$total)")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted
    assert(rows(DocOps.packSequencesSized(docs,
        targetTokensPerBucket = 1024L, minBuckets = 8)) ===
      rows(DocOps.packSequences(docs, nBuckets = derived)))
    // assignment at a given count is deterministic under repartitioning
    // (two DIFFERENT counts legitimately differ — streams re-split)
    assert(rows(DocOps.packSequences(docs.repartition(7), nBuckets = derived)) ===
      rows(DocOps.packSequences(docs, nBuckets = derived)))
  }

  test("winnow fingerprints are stable under repartitioning") {
    val a = DocOps.winnowFingerprints(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val b = DocOps.winnowFingerprints(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(a === b)
    // scalar signature: 4 ':'-joined 16-hex-char minima (harness-hashable)
    assert(a.values.forall(_.matches("[0-9a-f]{16}(:[0-9a-f]{16}){3}")))
  }

  test("chunkDocs: coverage, overlap, and boundary arithmetic") {
    val s = spark
    import s.implicits._
    def doc(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    // n=80, maxWords=32, overlap=8 → stride 24 → chunks at 0/24/48: 3
    val d = Seq((1L, doc(80)), (2L, doc(32)), (3L, doc(5)), (4L, ""),
      (5L, doc(33)), (6L, doc(56)), (7L, doc(57))).toDF("doc_id", "text")
    val out = DocOps.chunkDocs(d, maxWords = 32, overlap = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val byDoc = out.groupBy(_._1).view.mapValues(_.length).toMap
    // exact multiples of stride past maxWords land a final SHORT chunk
    // (n=56 = 32+24 → 2 chunks); one word past adds a third (n=57)
    assert(byDoc === Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 2,
      6L -> 2, 7L -> 3))
    // every chunk is the exact word-window of the original
    val words80 = doc(80).split("\\s+")
    for ((_, ci, text, nw) <- out.filter(_._1 == 1L)) {
      val start = (ci * 24).toInt
      assert(text === words80.slice(start, start + 32).mkString(" "))
      assert(nw === math.min(32L, 80L - start))
    }
    // consecutive chunks overlap by exactly `overlap` words
    val c1 = out.filter(_._1 == 1L).map(_._3.split(" ").toSeq)
    assert(c1(0).takeRight(8) === c1(1).take(8))
    assert(c1(1).takeRight(8) === c1(2).take(8))
    // full reconstruction: chunk 0 + each later chunk minus its overlap
    assert((c1(0) ++ c1.drop(1).flatMap(_.drop(8))) === words80.toSeq)
    // empty doc: one empty chunk, 0 words
    assert(out.filter(_._1 == 4L).toSeq === Seq((4L, 0L, "", 0L)))
  }

  test("capPerSource: two-phase bucket-offset rank ≡ direct per-source window") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val d = (0 until 400).map(i => (i.toLong, s"text $i", "en", s"src${i % 3}", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val h = DocOps.md5Hash60(concat(lit("cap:"), col("doc_id").cast("string")))
    val direct = d.select(col("doc_id"), col("source"), h.as("cap_h"))
      .withColumn("cap_rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("cap_h"), col("doc_id"))).cast("long"))
      .where(col("cap_rank") <= 20)
      .select("doc_id", "source", "cap_rank")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toVector
    // equal at several bucket counts (incl. 1 = degenerate single bucket)
    for (b <- Seq(1, 4, 32))
      assert(rows(DocOps.capPerSource(d, k = 20, nBuckets = b)
        .select("doc_id", "source", "cap_rank")) === rows(direct), s"nBuckets=$b")
    // the unbounded-cardinality path (shuffle-joined offsets) is equal too
    assert(rows(DocOps.capPerSource(d, k = 20, broadcastOffsets = false)
      .select("doc_id", "source", "cap_rank")) === rows(direct))
    // k beyond the group size keeps everything, ranks a permutation of 1..n
    val all = DocOps.capPerSource(d, k = 1000).collect()
    assert(all.length === 400)
    // repartition-invariant (deterministic hash order, no RNG)
    assert(rows(DocOps.capPerSource(d.repartition(7), k = 20)
        .select("doc_id", "source", "cap_rank")) ===
      rows(DocOps.capPerSource(d, k = 20).select("doc_id", "source", "cap_rank")))
  }

  test("shardForTraining: deterministic permutation, dense in-shard positions") {
    val s = spark
    import s.implicits._
    val d = (0 until 500).map(i => (i.toLong, s"text $i"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toVector
    val out = rows(DocOps.shardForTraining(d, nShards = 8))
    assert(out.length === 500)
    assert(out.map(_._1).distinct.length === 500) // every doc exactly once
    // per shard: positions are exactly 0..n-1 (dense rank, no gaps)
    for ((_, inShard) <- out.groupBy(_._2))
      assert(inShard.map(_._3).sorted.toSeq === (0L until inShard.length))
    // balanced in expectation: no shard is pathologically loaded
    val sizes = out.groupBy(_._2).view.mapValues(_.length).values
    assert(sizes.max < 3 * sizes.min, sizes.mkString(","))
    // invariant under layout and bucket count
    assert(rows(DocOps.shardForTraining(d.repartition(7), 8)) === out)
    assert(rows(DocOps.shardForTraining(d, 8, nBuckets = 4)) === out)
  }

  test("sourceQuantiles: exact rank-⌈q·n⌉ selection via the value histogram") {
    val s = spark
    import s.implicits._
    val vals = Map(
      "a" -> (1L to 10L),                 // distinct run
      "b" -> Seq(5L, 5L, 5L, 5L),         // all-equal
      "c" -> Seq(1L, 1L, 2L, 100L, 100L)) // skewed with ties
    val d = vals.toSeq.flatMap { case (src, vs) => vs.map(src -> _) }
      .zipWithIndex
      .map { case ((src, v), i) => (i.toLong, "t", "en", src, v) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = DocOps.sourceQuantiles(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    def direct(vs: Seq[Long], q: Double): Long = {
      val sorted = vs.sorted
      sorted((math.max(1, math.ceil(q * vs.length).toLong) - 1).toInt)
    }
    for ((src, vs) <- vals)
      assert(out(src) === (direct(vs.toSeq, 0.25), direct(vs.toSeq, 0.5),
        direct(vs.toSeq, 0.9)), src)
  }

  test("DocJob: dedup appends through shared state; shard/report round-trip") {
    val work = java.nio.file.Files.createTempDirectory("graft-docjob")
      .toFile.getAbsolutePath
    // split the corpus into two batches that land as separate dedup runs
    val half = org.apache.spark.sql.functions.col("doc_id") % 2
    docs.where(half === 0).write.parquet(s"$work/b0")
    docs.where(half === 1).write.parquet(s"$work/b1")
    graft.DocJob.run(spark, Array("dedup", s"$work/b0", s"$work/state"))
    graft.DocJob.run(spark, Array("dedup", s"$work/b1", s"$work/state"))
    // round 8: labels_v* are deltas; the live table resolves the chain
    def labels = graft.streaming.DedupStream.readLabels(spark, s"$work/state")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = DocOps.keepersFromEdges(docs, DocOps.simhashEdges(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === full)
    // re-ingest: a known id keeps its label (its self row loses to the
    // prior one under the per-doc minimum)
    graft.DocJob.run(spark, Array("dedup", s"$work/b1", s"$work/state"))
    assert(labels === full)

    docs.write.parquet(s"$work/docs")
    graft.DocJob.run(spark, Array("shard", s"$work/docs", s"$work/shards", "4"))
    val sharded = spark.read.parquet(s"$work/shards")
    assert(sharded.count() === docs.count())
    assert(sharded.select("shard").distinct().count() === 4)
    // the partition layout carries the shard; positions stay dense per shard
    val pos = sharded.collect().map(r =>
      (r.getAs[Any]("shard").toString.toLong, r.getAs[Long]("shard_pos")))
    for ((_, ps) <- pos.groupBy(_._1))
      assert(ps.map(_._2).sorted.toSeq === (0L until ps.length))

    // round 8: the shard write must RANGE-partition on (shard, shard_pos)
    // — a hash partition on the shard value alone is one task per shard
    // (corpus/nShards bytes through a single sort at scale)
    val shardPlan = graft.DocJob.shardFrame(docs, 4).queryExecution.optimizedPlan
    val reparts = shardPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }
    assert(reparts.nonEmpty)
    assert(reparts.forall(_.partitionExpressions.forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SortOrder])),
      "shard materialization must use range partitioning, not hash")
    assert(reparts.forall(_.partitionExpressions.size === 2))

    graft.DocJob.run(spark, Array("report", s"$work/docs", s"$work/rep"))
    assert(spark.read.parquet(s"$work/rep/sources").collect().toSet ===
      DocOps.sourceReport(docs).collect().toSet)
    assert(spark.read.parquet(s"$work/rep/quantiles").collect().toSet ===
      DocOps.sourceQuantiles(docs).collect().toSet)

    // clean: kept = docs the verdict keeps, original rows intact
    graft.DocJob.run(spark, Array("clean", s"$work/docs", s"$work/clean"))
    val verdict = spark.read.parquet(s"$work/clean/verdict")
    val kept = spark.read.parquet(s"$work/clean/kept")
    assert(verdict.count() === docs.count())
    assert(kept.count() ===
      verdict.where(org.apache.spark.sql.functions.col("kept")).count())
    assert(kept.columns.sorted === docs.columns.sorted)

    // decontam: output schema is the excision shape, row per corpus doc
    docs.limit(20).select("doc_id", "text").write.parquet(s"$work/eval")
    graft.DocJob.run(spark,
      Array("decontam", s"$work/docs", s"$work/eval", s"$work/decon"))
    assert(spark.read.parquet(s"$work/decon").count() === docs.count())

    // pack: assignment row per doc at the given budget
    graft.DocJob.run(spark, Array("pack", s"$work/docs", s"$work/pack", "512"))
    assert(spark.read.parquet(s"$work/pack").count() === docs.count())
  }

  test("keepersByQuality: component representative moves to the quality argmax") {
    val s = spark
    import s.implicits._
    // component {1,2,3}: doc 3 has the most words → highest quality score;
    // singletons keep themselves; an all-equal-score component falls back
    // to min doc_id
    def lowQ(i: Int) = s"short text number$i"
    val richer = "the data and the table is it that for on with as was at " +
      "by be a an of row scan merge sort key value batch part hash line"
    val d = Seq(
      (1L, lowQ(1)), (2L, lowQ(1)), (3L, lowQ(1) + " " + richer),
      (10L, "isolated document with its own words here"),
      (20L, "same quality twin copy"), (21L, "same quality twin copy"))
      .toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (20L, 20L), (21L, 20L)).toDF("doc_id", "keeper_doc_id")
    val out = DocOps.keepersByQuality(d, labels).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val q = DocOps.qualityScore(d).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    assert(q(3L) > q(1L), s"fixture must make 3 the best: $q")
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 10L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("keep-first paragraph dedup: one copy survives, bytes outside joints preserved") {
    val s = spark
    import s.implicits._
    val boiler = "shared license block"
    val d = Seq(
      (1L, s"$boiler\n\nunique one\n\n$boiler"),   // in-doc repeat too
      (2L, s"intro two\n\n$boiler\n\ntail two"),
      (3L, boiler),                                 // fully-deduped doc
      (4L, s"solo\n\n\n\nafter empties"),           // empty paras are structural
      (5L, "")).toDF("doc_id", "text")
    val out = DocOps.dedupParagraphsKeepFirst(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) === (s"$boiler\n\nunique one", 1L)) // first copy kept (doc 1 pos 0)
    assert(out(2L) === ("intro two\n\ntail two", 1L))
    assert(out(3L) === ("", 1L))
    assert(out(4L) === (s"solo\n\n\n\nafter empties", 0L)) // empties untouched
    assert(out(5L) === ("", 0L))
    // untouched docs are byte-identical (split/join identity)
    val solo = Seq((9L, "a\n\nb\n\n\nc \n\n d")).toDF("doc_id", "text")
    assert(DocOps.dedupParagraphsKeepFirst(solo).collect()(0).getString(1) ===
      "a\n\nb\n\n\nc \n\n d")
  }

  test("ngramCounts: multiplicity-true windows, count floor, short-doc guard") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b a b a"),    // bigrams: "a b"×2, "b a"×2
      (2L, "a b c"),        // "a b", "b c"
      (3L, "solo"),         // < n words → no grams
      (4L, "")).toDF("doc_id", "text")
    val out = DocOps.ngramCounts(d, n = 2, minCount = 1).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map("a b" -> (3L, 2L), "b a" -> (2L, 1L), "b c" -> (1L, 1L)))
    // the floor prunes the tail
    assert(DocOps.ngramCounts(d, n = 2, minCount = 2).collect()
      .map(_.getString(0)).sorted.toSeq === Seq("a b", "b a"))
    // trigrams
    assert(DocOps.ngramCounts(d, n = 3, minCount = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a b a" -> 2L, "b a b" -> 1L, "a b c" -> 1L))
  }

  test("vocabulary: df floor + deterministic top-V cut; OOV counts tokens, not types") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "aa aa bb cc"),
      (2L, "aa bb bb dd"),
      (3L, "aa xx")).toDF("doc_id", "text")
    // df: aa=3, bb=2, cc=dd=xx=1 → minDf=2 keeps {aa(tf4), bb(tf3)}
    val v = DocOps.vocabulary(d, minDf = 2, maxSize = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(v.toSeq === Seq(("aa", 4L, 3L, 1L), ("bb", 3L, 2L, 2L)))
    // the size cut binds on the same total order
    val v1 = DocOps.vocabulary(d, minDf = 2, maxSize = 1).collect()
      .map(r => (r.getString(0), r.getLong(3)))
    assert(v1.toSeq === Seq(("aa", 1L)))
    val oov = DocOps.oovRate(d, DocOps.vocabulary(d, minDf = 2, maxSize = 10))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(oov === Map(
      1L -> (4L, 1L, 0.25),                 // cc
      2L -> (4L, 1L, 0.25),                 // dd
      3L -> (2L, 1L, 0.5)))                 // xx
  }

  test("temperature resampling: α=1/2 factors and materialized multiplicity") {
    val s = spark
    import s.implicits._
    // sources of size 1, 4, 25, 100 → budget 10 → factors 10, 5, 2, 1
    val d = (Seq.fill(1)("a") ++ Seq.fill(4)("b") ++ Seq.fill(25)("c") ++
      Seq.fill(100)("d")).zipWithIndex
      .map { case (src, i) => (i.toLong, s"text $i", "en", src, 6L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = DocOps.sourceRepeatFactors(d, budget = 10).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(f === Map("a" -> (1L, 10L), "b" -> (4L, 5L), "c" -> (25L, 2L),
      "d" -> (100L, 1L)))
    val rs = DocOps.resampleByTemperature(d, budget = 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rs.length === 1 * 10 + 4 * 5 + 25 * 2 + 100 * 1)
    // each doc appears exactly factor(source) times with copy_idx 0..f-1
    val byDoc = rs.groupBy(_._1)
    assert(byDoc.forall { case (_, copies) =>
      val fct = f(copies.head._2)._2
      copies.map(_._3).sorted.toSeq === (0L until fct)
    })
  }

  test("CacheLedger keeps a runtime-set canChangeCachedPlanOutputPartitioning") {
    val s = spark
    import s.implicits._
    val k = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val d = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z"))
      .toDF("doc_id", "text")
    spark.conf.set(k, "false")
    try {
      // simhashKeepers persists through CacheLedger.track
      assert(DocOps.simhashKeepers(d).collect().length === 3)
      assert(spark.conf.get(k) === "false")
    } finally {
      spark.conf.unset(k)
      graft.ops.CacheLedger.release()
    }
  }
}
