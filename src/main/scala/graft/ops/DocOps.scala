package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Training-data pipeline operators over a `documents(doc_id, text, lang,
  * source, n_chars)` corpus. All stages are Column-expression only (full
  * whole-stage codegen, no UDFs); every shuffle is keyed so partial
  * aggregation applies.
  *
  * Scale shape (100 TB corpus):
  *  - exact dedup: one hash-shuffle on a 128-bit digest (not the text!) —
  *    shuffle payload is digest+id, not documents.
  *  - MinHash LSH: shingle explode is map-side; signatures are one partial
  *    agg (128 mins); candidate generation joins on (band, hash) buckets so
  *    the O(n²) pair space never materializes; exact-Jaccard verification
  *    touches only candidate pairs.
  *
  * Near-dup dedup has ONE step per family — `minhashTrunk` and
  * `simhashTrunk` — and batch dedup is that step with no prior state.
  * The state an append carries is the union of the earlier steps' band
  * rows at representative level (MinHash: (doc_id, band_idx, band_hash),
  * 64 rows per distinct text; SimHash: (doc_id, simhash, chunk_idx,
  * chunk_val), maxDist+1 rows per distinct fingerprint) plus the keeper
  * labels (doc_id, keeper_doc_id). A step returns the edges incident to its
  * batch and its own band rows; [[keepersFromEdges]] turns them into label
  * rows against the prior labels (none for a batch run), and
  * [[resolveKeepers]] resolves any union of label rows to the keeper
  * table by per-doc minimum. The MinHash append also takes the OLD docs — old
  * only, never old ∪ batch — to verify old candidates by exact Jaccard;
  * the SimHash append verifies from the fingerprints in the index alone.
  * [[graft.streaming.DedupStream]] keeps this state as parquet deltas.
  */
object DocOps {

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup on content digest. Keeper = min doc_id per digest. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------ shingling

  /** Distinct k-word shingles per doc: (doc_id, s).
    *
    * Round 8: the window expansion is the compiled
    * [[graft.functions.ShingleStrings]] kernel — the previous
    * `transform(sequence, i → concat_ws(slice))` + `array_distinct` chain
    * ran interpreted per window (HOFs are CodegenFallback) with a fresh
    * slice array per shingle; identical strings, identical
    * first-occurrence order (equivalence spec).
    */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    docs
      .select(col("doc_id"), words.as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"),
        explode(graft.functions.ShingleStrings
          .shingle_strings(col("w"), k, distinct = true)).as("s"))
  }

  // ------------------------------------------------------------ MinHash LSH

  val NumHashes = 128
  val Bands = 64 // rows-per-band r=2: P(miss | J=0.5) = 0.75^64 ≈ 1e-8

  /** MinHash signatures: sig[i] = min over shingles of hash-family i.
    * One groupBy, one shuffle whose payload is 128 longs per doc.
    *
    * Round-3 constant-factor rework: each shingle string is hashed ONCE
    * (xxhash64), and the 128 families derive from that base hash via the
    * SplitMix64 stream ([[graft.functions.MinhashMix]], codegen'd) — the
    * round-2 form re-hashed the full shingle bytes per family
    * (128 × xxhash64(lit(i), s)). The per-group aggregate is ONE compact
    * long[128] elementwise-min buffer ([[graft.functions.VectorMinL]])
    * instead of 128 separate agg columns. Same output shape and identical
    * downstream behavior class (universal 64-bit families); LSH ≡ brute
    * stays spec-asserted.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int = NumHashes): DataFrame =
    sh.select(col("doc_id"),
        graft.functions.MinhashMix.minhash_mix(xxhash64(col("s")), numHashes).as("hs"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.VectorMinL.vec_lmin(col("hs")).as("sig"))

  /** LSH banding: (doc_id, band_idx, band_hash) with r=2 rows per band. */
  def lshBands(sig: DataFrame, bands: Int = Bands): DataFrame =
    sig.select(col("doc_id"), posexplode(array((0 until bands).map { j =>
      xxhash64(lit(j), col("sig").getItem(2 * j), col("sig").getItem(2 * j + 1))
    }: _*)).as(Seq("band_idx", "band_hash")))

  /** Candidate pairs: equi-join on (band_idx, band_hash); doc_a < doc_b.
    * The join key includes band_idx so different bands never cross-match.
    */
  def lshCandidates(bandsDf0: DataFrame): DataFrame = {
    // the self-join's two aliased branches would otherwise each recompute
    // the whole signature pipeline (different output names defeat
    // ReusedExchange); the band table is 64 small rows per doc —
    // persisting it is proportional to DOC COUNT, not corpus bytes
    val bandsDf = CacheLedger.track(
      bandsDf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = bandsDf.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_a"))
    val b = bandsDf.select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs: intersect shingle sets
    * via join (candidates only), union from per-doc distinct-shingle counts.
    *
    * Round 8 (guide §2.3/§3): the verification is CANDIDATE-proportional
    * end to end — the shingle stream is first restricted to candidate docs
    * by one semi-join (candidate ids are tiny and broadcast), and that
    * slice is persisted once; the per-doc counts, and both sides of the
    * intersection join, then read the slice instead of making three full
    * passes (two joins + a counts aggregation) over the corpus-wide
    * shingle table. Per-doc totals are unchanged by the restriction (a
    * candidate doc keeps ALL its shingles), so the output is identical.
    */
  def verifyJaccard(candidates0: DataFrame, sh: DataFrame, tau: Double): DataFrame = {
    // three consumers (both candIds sides + the intersection join) — persist
    // the tiny pair set instead of re-running the band self-join per branch
    val candidates = CacheLedger.track(
      candidates0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // no distinct: a semi-join probe side tolerates duplicates, and the
    // dedup shuffle would cost more than the duplicate probe rows
    val candIds = candidates.select(col("doc_a").as("doc_id"))
      .union(candidates.select(col("doc_b").as("doc_id")))
    val shC = CacheLedger.track(
      sh.join(candIds, Seq("doc_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val counts = shC.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shA = shC.select(col("doc_id").as("doc_a"), col("s"))
    val shB = shC.select(col("doc_id").as("doc_b"), col("s"))
    val pairInter = candidates.join(shA, Seq("doc_a")).join(shB, Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    pairInter
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** What one near-dup step over a batch yields, for both families, with
    * or without prior state. The batch collapses to ONE representative per
    * `key` (MinHash: the text's md5 digest `g`; SimHash: the fingerprint
    * `simhash`), the min doc_id of the key's group, and only
    * representatives band, join and verify:
    *  - `members` (key, doc_id) of every batch doc;
    *  - `starGroups` (key, rep) of the groups that get star edges: ≥2
    *    members, and for MinHash a text that shingles at all;
    *  - `repPairs` the verified rep pairs (doc_a < doc_b, plus the family's
    *    score columns);
    *  - `bands` the batch reps' band rows: the index delta a caller
    *    persists for the next append.
    */
  private case class DedupStep(key: String, members: DataFrame, starGroups: DataFrame,
                               repPairs: DataFrame, bands: DataFrame) {
    /** The LINEAR-SIZE edge feed for connected components: one edge per
      * verified rep pair plus one (rep, member) STAR edge per
      * non-representative member of a star group — O(groups + members)
      * edges, where the pair report expands a duplicate group to k² pairs.
      * Every member is one hop from its rep, which carries all cross-group
      * edges, so the transitive closure equals the expanded pair
      * relation's (spec-asserted, incl. a degenerate 10k-copy group).
      */
    def edges: DataFrame = {
      val star = members.join(starGroups, Seq(key))
        .where(col("doc_id") =!= col("rep"))
        .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
      repPairs.select(col("doc_a"), col("doc_b")).union(star)
    }
  }

  /** The one MinHash near-dup step: digest-collapse the batch → shingle its
    * representatives → signatures → LSH band candidates → exact-Jaccard
    * verify → star edges. Batch dedup is this step with no prior state;
    * an append passes `old` = (the OLD docs, their stored band index) —
    * old docs only, never old ∪ batch: the batch reps' shingles are
    * already in hand, and the old text the step reads is exactly the old
    * CANDIDATE docs (one semi-join-pruned shingle pass).
    *
    * The digest collapse keeps a degenerate group of k identical docs from
    * putting k copies into each of its LSH buckets (k² candidate pairs
    * through the shuffle): the group costs one representative and its
    * star edges.
    *
    * Without state the candidate join is the band self-join; with state
    * the batch reps probe old ∪ batch band rows, so (new, new) and
    * (new, old) collisions both surface and old↔old pairs — already in the
    * old edge set's closure — never do. The old-state branches are built
    * only when state exists.
    *
    * Persists: the (digest, doc_id) membership table (doc-count-sized,
    * read by reps and both star sides — unpersisted, each branch re-hashes
    * the corpus text), the rep table, the rep shingles on DISK_ONLY (at
    * corpus scale the distinct-shingle explosion outgrows the corpus) and
    * the signatures, one 128-long row per shingled rep whose key set
    * doubles as the shingled-rep set of the star gate.
    */
  private def minhashTrunk(newDocs: DataFrame, tau: Double,
                           old: Option[(DataFrame, DataFrame)]): DedupStep = {
    import org.apache.spark.storage.StorageLevel.{DISK_ONLY, MEMORY_AND_DISK}
    val members = CacheLedger.track(
      newDocs.select(md5(col("text")).as("g"), col("doc_id")).persist(MEMORY_AND_DISK))
    val reps = CacheLedger.track(
      members.groupBy(col("g"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_members"))
        .persist(MEMORY_AND_DISK))
    val repDocs = newDocs.join(reps.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val sh = CacheLedger.track(shingles(repDocs).persist(DISK_ONLY))
    val sigs = CacheLedger.track(minhashSignatures(sh).persist(MEMORY_AND_DISK))
    val bands = lshBands(sigs)

    def keyed(df: DataFrame, side: String): DataFrame =
      df.select(col("band_idx"), col("band_hash"), col("doc_id").as(s"doc_$side"))
    val index = old.fold(keyed(bands, "b"))(o => keyed(o._2, "b").union(keyed(bands, "b")))
    val (a, b) = (col("doc_a"), col("doc_b"))
    // without state a < b already orients the pair, and passing the probe's
    // doc_id through keeps the signature agg's hash partitioning, which the
    // distinct reuses (a computed least(...) column costs it a shuffle)
    val oriented =
      if (old.isEmpty) Seq(a, b) else Seq(least(a, b).as("doc_a"), greatest(a, b).as("doc_b"))
    val candidates = keyed(bands, "a").join(index, Seq("band_idx", "band_hash"))
      .where(if (old.isEmpty) a < b else a =!= b)
      .select(oriented: _*)
      .distinct()
    val verifySh = old.fold(sh) { case (oldDocs, _) =>
      // no distinct: a semi-join probe side tolerates duplicates
      val candIds = candidates.select(a.as("doc_id")).union(candidates.select(b.as("doc_id")))
      sh.union(shingles(oldDocs.join(candIds, Seq("doc_id"), "left_semi")))
    }
    val repPairs = verifyJaccard(candidates, verifySh, tau)

    val starGroups = reps.where(col("n_members") >= 2)
      .join(sigs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("g"), col("doc_id").as("rep"))
    DedupStep("g", members, starGroups, repPairs, bands)
  }

  /** Full MinHash+LSH near-dup pair REPORT with exact verification: the
    * `minhashTrunk` step with no state, its rep pairs expanded to every
    * (member of A, member of B) pair. Cross-group pairs inherit their
    * representatives' exact Jaccard (identical shingle sets); within-group
    * pairs are J=1.0 by definition — emitted only for groups whose text
    * shingles at all (≥ k words), like the direct formulation (LSH ≡ brute
    * spec). Quadratic in duplicate-group size by contract; the CC feed is
    * [[nearDupEdges]].
    */
  def nearDups(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    val t = minhashTrunk(docs, tau, None)
    val members = t.members
    def member(g: String, id: String): DataFrame =
      members.select(col("g").as(g), col("doc_id").as(id))
    // rep → its group → every member of the group, on both sides
    val cross = t.repPairs
      .join(member("ga", "doc_a"), Seq("doc_a"))
      .join(member("gb", "doc_b"), Seq("doc_b"))
      .join(member("ga", "a"), Seq("ga"))
      .join(member("gb", "b"), Seq("gb"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("jaccard"))

    // identical-doc pairs (J = 1.0) of the groups that shingle
    val dupGroups = t.starGroups.select(col("g"))
    val m1 = members.join(dupGroups, Seq("g")).select(col("g"), col("doc_id").as("doc_a"))
    val m2 = members.join(dupGroups, Seq("g")).select(col("g"), col("doc_id").as("doc_b"))
    val within = m1.join(m2, Seq("g"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))

    cross.union(within).orderBy(col("doc_a"), col("doc_b"))
  }

  /** LINEAR-SIZE edge feed for connected components — same components as
    * [[nearDups]]' pair relation: the `minhashTrunk` step with no state,
    * rep pairs + (rep, member) star edges (`DedupStep.edges`); a 10k-copy
    * group costs 9,999 star edges here vs ~5·10⁷ expanded pairs.
    */
  def nearDupEdges(docs: DataFrame, tau: Double = 0.5): DataFrame =
    minhashTrunk(docs, tau, None).edges

  /** One MinHash dedup APPEND — the `minhashTrunk` step over `newDocs`,
    * returning `(edges, indexRows)`: the near-dup edges INCIDENT TO THE
    * BATCH (rep pairs with ≥1 batch endpoint + the batch's star edges) and
    * the batch reps' band rows (64 per distinct text). `old` = (the OLD
    * docs, the union of the earlier index rows), or None for the first
    * batch — then the edges are exactly [[nearDupEdges]](newDocs).
    *
    * Cost is batch-proportional: shingles, signatures and bands run over
    * the batch's reps only; the old corpus enters through its stored band
    * rows (one equi-join) and through the shingles of old CANDIDATE docs.
    *
    * Closure composition (spec-asserted, incl. chained appends from empty
    * state ≡ [[dedupKeepers]]): signatures are pure functions of text, so a
    * batch doc identical or near-dup to ANY old doc collides with that
    * doc's rep in band space exactly as in a full run — old edges ∪ these
    * edges have the closure of [[nearDupEdges]] over old ∪ batch, and
    * [[keepersFromEdges]] over them against the old labels, resolved with
    * them ([[resolveKeepers]]), equals the full recompute.
    * New↔old-member pairs are covered through the old member's rep and
    * its old star edge.
    */
  def nearDupEdgesAppend(old: Option[(DataFrame, DataFrame)], newDocs: DataFrame,
                         tau: Double = 0.5): (DataFrame, DataFrame) = {
    val t = minhashTrunk(newDocs, tau, old)
    (t.edges, t.bands)
  }

  /** Brute-force n-gram Jaccard over ALL pairs via shingle inverted index —
    * the small-scale baseline the LSH path approximates (and the shape of
    * the DuckDB oracle). Quadratic in colliding docs; never use at scale.
    */
  def bruteForceJaccard(docs: DataFrame, tau: Double): DataFrame = {
    val sh = shingles(docs)
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("doc_a"), col("s"))
    val b = sh.select(col("doc_id").as("doc_b"), col("s"))
    val inter = a.join(b, Seq("s")).where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // ------------------------------------------------------------ SimHash

  /** Bits in the SimHash fingerprint. 60 (not 64) so the word hash is the
    * first 15 hex chars of md5 — portable to any engine that has md5 (the
    * DuckDB oracle recomputes it exactly), and still far past the ~48-bit
    * birthday bound of a 10^12-doc corpus when used per-band.
    */
  val SimhashBits = 60

  /** Word hash: 60-bit integer from the md5 prefix. Engine-portable (the
    * previous xxhash64 was Spark-specific, leaving SimHash/winnowing without
    * an independent oracle).
    */
  private[graft] def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 60-bit SimHash over word unigrams weighted by term frequency.
    *
    * Round 8: a pure PROJECTION — the per-row codegen kernel
    * [[graft.functions.SimhashWords]] folds the whole word loop (md5Hash60
    * per word, ±1 per bit per occurrence, sign threshold) into one pass
    * over each row's own words. The round-2→7 formulation exploded the
    * corpus token stream and shuffled it TWICE (groupBy(doc_id, word) for
    * tf, then a 60-sum-column groupBy(doc_id)) to compute a value that
    * never needs cross-row data; per-occurrence ±1 sums equal the
    * per-distinct-word ±tf sums exactly (integer arithmetic), so the
    * fingerprints are bit-identical (spec-asserted vs the aggregation
    * formulation; `doc_simhash_*` oracles unchanged). The guard keeps the
    * old row contract: a null text produced no explode rows, so it yields
    * no fingerprint row here either.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.SimhashWords.simhash_words(
          split(trim(col("text")), "\\s+")).as("simhash"))
      .where(col("simhash").isNotNull)

  /** The one SimHash near-dup step: collapse the batch to ONE
    * representative per FINGERPRINT VALUE (min doc_id per simhash) → band
    * the reps → chunk candidates verified by Hamming distance → star edges.
    * Batch dedup is this step with no prior state; an append passes the
    * stored band index of the earlier batches. The stored rows carry the
    * full fingerprint, so verification is `bit_count(xor)` on columns
    * already in the join — the OLD CORPUS IS NEVER READ, only its index.
    *
    * Collapsing on the fingerprint (not a text digest) is strictly
    * stronger than the MinHash digest collapse — it also merges
    * non-identical texts that fingerprint alike — and cheaper: no second
    * text hash, and only (doc_id, long) rows ever shuffle. A degenerate
    * group of k identical docs costs one rep instead of ~(maxDist+1)·k²
    * candidate rows.
    *
    * Pigeonhole band trick: the 60-bit fingerprint splits into maxDist+1
    * chunks — any pair within Hamming distance maxDist agrees exactly on
    * ≥1 chunk, so an equi-join on (chunk_idx, chunk_val) finds every such
    * pair without an O(n²) scan. Without state the join is the self-join
    * (doc_a < doc_b); with state the batch reps probe old ∪ batch rows and
    * `least`/`greatest` orient the pair, fingerprints following their
    * docs. Rep pairs keep both fingerprints (sh_a, sh_b) so
    * [[simhashPairs]] expands to members by a direct join. The old-state
    * branch is built only when state exists.
    */
  private def simhashTrunk(newDocs: DataFrame, maxDist: Int,
                           oldIndex: Option[DataFrame]): DedupStep = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the fingerprint table feeds reps and both star sides; it is
    // doc-count-proportional (doc_id + one long), never corpus-bytes
    val members = CacheLedger.track(simhash(newDocs).persist(MEMORY_AND_DISK))
    val reps = CacheLedger.track(
      members.groupBy(col("simhash"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_members"))
        .persist(MEMORY_AND_DISK))
    // banding is a cheap projection over the persisted rep table
    val bands = simhashBandRows(reps.select(col("doc_id"), col("simhash")), maxDist)

    def keyed(df: DataFrame, side: String): DataFrame = df.select(col("chunk_idx"),
      col("chunk_val"), col("doc_id").as(s"doc_$side"), col("simhash").as(s"sh_$side"))
    val index = oldIndex.fold(keyed(bands, "b"))(o => keyed(o, "b").union(keyed(bands, "b")))
    val (a, b, lo) = (col("doc_a"), col("doc_b"), col("doc_a") < col("doc_b"))
    val (shA, shB) = (col("sh_a"), col("sh_b"))
    // without state a < b already orients the pair, and passing the probe's
    // columns through keeps the rep agg's hash partitioning on sh_a, which
    // the distinct reuses (computed columns cost it a shuffle)
    val oriented =
      if (oldIndex.isEmpty) Seq(a, b, shA, shB)
      else Seq(least(a, b).as("doc_a"), greatest(a, b).as("doc_b"),
        when(lo, shA).otherwise(shB).as("sh_a"), when(lo, shB).otherwise(shA).as("sh_b"))
    // hamming filter BEFORE the dedup shuffle: chunk collisions are mostly
    // far pairs (15 shared bits say little about the other 45), so the
    // filter drops them map-side and only near pairs reach the distinct
    val repPairs = keyed(bands, "a").join(index, Seq("chunk_idx", "chunk_val"))
      .where(if (oldIndex.isEmpty) lo else a =!= b)
      .select(oriented :+ bit_count(shA.bitwiseXOR(shB)).cast("long").as("hamming"): _*)
      .where(col("hamming") <= maxDist)
      .distinct()

    // every doc fingerprints, so every group of ≥2 stars (no shingle gate)
    val starGroups = reps.where(col("n_members") >= 2)
      .select(col("simhash"), col("doc_id").as("rep"))
    DedupStep("simhash", members, starGroups, repPairs, bands)
  }

  /** Pigeonhole band rows (doc_id, simhash, chunk_idx, chunk_val) of a
    * (doc_id, simhash) table — maxDist+1 chunks of SimhashBits/(maxDist+1)
    * bits each.
    */
  private[graft] def simhashBandRows(fps: DataFrame, maxDist: Int): DataFrame = {
    val chunks = maxDist + 1
    val width = SimhashBits / chunks
    fps.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until chunks).map { j =>
        shiftright(col("simhash"), j * width)
          .bitwiseAND(lit((1L << width) - 1))
      }: _*)).as(Seq("chunk_idx", "chunk_val")))
  }

  /** One SimHash dedup APPEND — the `simhashTrunk` step over `newDocs`,
    * returning `(edges, indexRows)`: the edges incident to the batch and
    * the batch reps' band rows (maxDist+1 per distinct fingerprint).
    * `oldIndex` = the union of the earlier index rows, or None for the
    * first batch — then the edges are exactly [[simhashEdges]](newDocs).
    *
    * Closure composition (spec-asserted, incl. chained appends from empty
    * state ≡ [[simhashKeepers]]): fingerprints are pure functions of text,
    * so old edges ∪ these edges have the closure of [[simhashEdges]] over
    * old ∪ batch, and [[keepersFromEdges]] over them against the old
    * labels, resolved with them ([[resolveKeepers]]), equals the full
    * recompute (the `doc_simhash_keepers_incr` oracle).
    */
  def simhashEdgesAppend(oldIndex: Option[DataFrame], newDocs: DataFrame,
                         maxDist: Int = 3): (DataFrame, DataFrame) = {
    val t = simhashTrunk(newDocs, maxDist, oldIndex)
    (t.edges, t.bands)
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDist. Output is the
    * full pair REPORT — quadratic on duplicate groups by contract — but
    * GENERATED from O(k) shuffled data: the `simhashTrunk` step with no
    * state, its rep pairs expanded to members through fingerprint-keyed
    * joins; within-group pairs are Hamming 0 by definition (groups ARE
    * fingerprint-equality classes). Byte-identical to the direct
    * formulation, a band self-join over every doc (spec-asserted); use
    * [[simhashEdges]] as the CC feed when the k² report rows are not
    * themselves the deliverable.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val t = simhashTrunk(docs, maxDist, None)
    // ONE expansion pass for both pair classes: the fingerprint-pair
    // relation is the verified cross pairs PLUS a hamming-0 self-pair per
    // duplicate fingerprint. Members join in on each side; cross rows
    // produce each unordered doc pair exactly once (docs have one
    // fingerprint each), self rows produce both orderings so the a<b
    // guard dedups them — no distinct needed.
    val fpPairs = t.repPairs.select(col("sh_a"), col("sh_b"), col("hamming"))
      .union(t.starGroups.select(col("simhash").as("sh_a"), col("simhash").as("sh_b"),
        lit(0L).as("hamming")))
    fpPairs
      .join(t.members.select(col("simhash").as("sh_a"), col("doc_id").as("a")), Seq("sh_a"))
      .join(t.members.select(col("simhash").as("sh_b"), col("doc_id").as("b")), Seq("sh_b"))
      .where(col("sh_a") =!= col("sh_b") || col("a") < col("b"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("hamming"))
  }

  /** LINEAR-SIZE edge feed for connected components over the SimHash
    * near-dup relation: the `simhashTrunk` step with no state, rep pairs
    * + (rep, member) star edges (`DedupStep.edges`). Every group of ≥2
    * stars, so the closure is identical to [[simhashPairs]]' pair relation
    * (spec-asserted incl. a degenerate 10k-copy group costing O(k) edges);
    * feed to [[keepersFromEdges]] / [[simhashKeepers]].
    */
  def simhashEdges(docs: DataFrame, maxDist: Int = 3): DataFrame =
    simhashTrunk(docs, maxDist, None).edges

  /** Keeper assignment over the SimHash near-dup graph: keeper = MIN
    * doc_id of the connected component, via the same alternating
    * large-star/small-star fixpoint as [[dedupKeepers]], fed by the
    * linear [[simhashEdges]] relation.
    */
  def simhashKeepers(docs: DataFrame, maxDist: Int = 3, maxIters: Int = 25): DataFrame =
    keepersFromEdges(docs, simhashEdges(docs, maxDist), maxIters = maxIters)

  // ------------------------------------------------------------ text analysis

  /** The four script classes, as code-point ranges for the one-pass
    * [[graft.functions.CharClassCounts]] kernel (≡ the regex classes
    * `[A-Za-z]` `[一-鿿]` `[Ѐ-ӿ]` `[؀-ۿ]` —
    * equivalence spec-asserted incl. astral/surrogate inputs).
    */
  private[graft] val ScriptClasses: Seq[Seq[(Int, Int)]] = Seq(
    Seq(('A'.toInt, 'Z'.toInt), ('a'.toInt, 'z'.toInt)),
    Seq((0x4E00, 0x9FFF)),
    Seq((0x0400, 0x04FF)),
    Seq((0x0600, 0x06FF)))

  /** A staging-column name guaranteed absent from `df` — `withColumn` with
    * a fixed internal name would silently REPLACE a caller column that
    * happens to share it (langIdFor/qualityScore take arbitrary frames).
    */
  private def freshCol(df: DataFrame, base: String): String =
    Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
      .find(n => !df.columns.contains(n)).get

  /** Script-profile language ID (n-gram-free heuristic: per-script char
    * counts → dominant script). All four class counts come from ONE
    * codegen'd pass over the text (round 5; the regex idiom ran four full
    * regex passes and allocated four stripped copies per row). Counts are
    * regex-expressible so the DuckDB oracle replicates them exactly.
    * `idCols` pass through, so the same op runs over the documents corpus
    * and over extracted per-turn markdown.
    */
  def langIdFor(df: DataFrame, idCols: Seq[String], textCol: String): DataFrame = {
    val counts = graft.functions.CharClassCounts
      .char_class_counts(col(textCol), ScriptClasses)
    val cc = freshCol(df, "__cc")
    val latin = col(cc).getItem(0)
    val cjk = col(cc).getItem(1)
    val cyr = col(cc).getItem(2)
    val arab = col(cc).getItem(3)
    df.withColumn(cc, counts).select(idCols.map(col) ++ Seq(
      latin.as("latin_chars"), cjk.as("cjk_chars"),
      cyr.as("cyr_chars"), arab.as("arab_chars"),
      when(cjk >= greatest(latin, cyr, arab) && cjk > 0, "cjk")
        .when(cyr >= greatest(latin, cjk, arab) && cyr > 0, "cyrillic")
        .when(arab >= greatest(latin, cjk, cyr) && arab > 0, "arabic")
        .when(latin > 0, "latin")
        .otherwise("unknown").as("script")): _*)
  }

  def langId(docs: DataFrame): DataFrame = langIdFor(docs, Seq("doc_id"), "text")

  private val Stopwords = Seq("the", "a", "an", "of", "and", "to", "in", "is",
    "it", "that", "for", "on", "with", "as", "was", "at", "by", "be")

  /** ASCII punct (the four ranges of `[!-/:-@\[-`{-~]`) + digits. */
  private[graft] val QualityClasses: Seq[Seq[(Int, Int)]] = Seq(
    Seq((33, 47), (58, 64), (91, 96), (123, 126)),
    Seq(('0'.toInt, '9'.toInt)))

  /** Quality scoring: length/punct/digit/stopword ratios + a composite.
    * All arithmetic is plain double ops in a fixed order so the oracle's
    * IEEE results are bit-identical.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val t = col("text")
    val words = split(trim(t), "\\s+")
    val nWords = when(length(trim(t)) === 0, 0).otherwise(size(words))
    val nChars = length(t)
    // one codegen'd pass for both char classes (round 5; was two regex
    // passes + two stripped copies per row)
    val qc = freshCol(docs, "__qc")
    val punct = col(qc).getItem(0)
    val digits = col(qc).getItem(1)
    val stops = size(filter(words, w => w.isin(Stopwords.map(s => s: Any): _*)))
    docs.withColumn(qc, graft.functions.CharClassCounts
        .char_class_counts(t, QualityClasses))
      .select(col("doc_id"), nChars.as("n_chars_m"), nWords.as("n_words"),
        punct.as("punct_chars"), digits.as("digit_chars"), stops.as("stop_words"))
      .withColumn("punct_ratio", col("punct_chars").cast("double") / col("n_chars_m"))
      .withColumn("stop_ratio",
        when(col("n_words") === 0, 0.0)
          .otherwise(col("stop_words").cast("double") / col("n_words")))
      .withColumn("quality_score",
        least(lit(1.0), col("n_words").cast("double") / 200.0) *
          (lit(1.0) - least(lit(1.0), col("punct_ratio") * 5.0)) *
          (lit(0.5) + lit(0.5) * least(lit(1.0), col("stop_ratio") * 4.0)))
  }

  /** Line-repetition quality signal (the Gopher/RefinedWeb "duplicate
    * line fraction" family): per doc, the fraction of lines that are
    * repeats of an earlier line, and the fraction of line characters
    * inside those repeats. A doc that is one paragraph stamped 50 times —
    * the classic crawler/boilerplate failure — scores near 1.0 while
    * near-dup dedup across docs never sees it.
    *
    * 100-TB shape: a pure per-row projection (split + array HOFs), no
    * shuffle, no explode — the line arrays never leave their row. All
    * divisions are exact-int-to-double, so the DuckDB oracle is
    * bit-identical.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val dlines = array_distinct(lines)
    val nl = size(lines).cast("long")
    val nd = size(dlines).cast("long")
    val allChars = aggregate(lines, lit(0L), (acc, x) => acc + length(x))
    val distinctChars = aggregate(dlines, lit(0L), (acc, x) => acc + length(x))
    docs.select(col("doc_id"), nl.as("n_lines"), (nl - nd).as("n_dup_lines"),
        allChars.as("line_chars"), (allChars - distinctChars).as("dup_line_chars"))
      .withColumn("dup_line_frac",
        (col("n_dup_lines").cast("double")) / col("n_lines").cast("double"))
      .withColumn("dup_char_frac",
        when(col("line_chars") === 0L, 0.0)
          .otherwise(col("dup_line_chars").cast("double") /
            col("line_chars").cast("double")))
  }

  /** The Gopher REPETITION rules ([[gopherRules]] covers the quality
    * rules; Rae et al. 2021 appx. A1.1 table A1): per doc,
    *  - top n-gram char fraction (n = 2, 3, 4): chars of the most frequent
    *    word n-gram (occurrences × gram length, spaces included) over the
    *    doc's chars;
    *  - duplicated n-gram char fraction (n = 5, 10 as the family's
    *    representatives; the full 5–10 range is the same column repeated):
    *    chars of all n-grams occurring ≥ 2 times over the doc's chars —
    *    overlapping occurrences overcount, a known property of the
    *    published metric (fractions may exceed 1 on degenerate docs).
    *
    * 100-TB shape: per-n, one partial-aggregated shuffle on (doc_id, gram)
    * and either a bounded per-doc window (top) or a second tiny per-doc
    * agg (dup); the five signals join back on doc_id. All divisions are
    * exact int→double, so the DuckDB oracle is bit-identical.
    */
  def ngramRepetition(docs0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // five gram pipelines + the base projection each reference the source
    // — persist the pruned projection once (6 re-scans in the naive plan)
    val docs = CacheLedger.track(docs0.select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val words = split(trim(col("text")), "\\s+")
    def gramTf(n: Int): DataFrame = docs
      .where(length(trim(col("text"))) > 0 && size(words) >= n)
      .select(col("doc_id"),
        explode(graft.functions.ShingleStrings
          .shingle_strings(words, n, distinct = false)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tf"))
    def topChars(n: Int): DataFrame = {
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("g"))
      gramTf(n).withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("doc_id"), (col("tf") * length(col("g")).cast("long"))
          .as(s"top${n}_chars"))
    }
    def dupChars(n: Int): DataFrame =
      gramTf(n).where(col("tf") >= 2L)
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * length(col("g")).cast("long")).as(s"dup${n}_chars"))
    def frac(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(col("n_chars_m") === 0L, 0.0)
        .otherwise(coalesce(c, lit(0L)).cast("double") / col("n_chars_m").cast("double"))
    Seq(topChars(2), topChars(3), topChars(4), dupChars(5), dupChars(10))
      .foldLeft(docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m")))(
        (acc, d) => acc.join(d, Seq("doc_id"), "left"))
      .select(col("doc_id"), col("n_chars_m"),
        frac(col("top2_chars")).as("top2_frac"),
        frac(col("top3_chars")).as("top3_frac"),
        frac(col("top4_chars")).as("top4_frac"),
        frac(col("dup5_chars")).as("dup5_frac"),
        frac(col("dup10_chars")).as("dup10_frac"))
  }

  /** Corpus-level top-k word frequencies — the exact-count complement of
    * the HLL distinct-word sketch. Scale shape: map-side partial counts
    * shuffle (word, partial) pairs, then orderBy+limit plans as
    * TakeOrderedAndProject (a tree-reduced per-partition top-k, never a
    * single-partition global sort — plan-asserted). Ties break on the word
    * so the ordering is total.
    */
  def wordTopK(docs: DataFrame, k: Int = 100): DataFrame =
    docs.select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(k)

  /** Cross-doc shared-paragraph signal (the boilerplate analog of
    * paragraph-level training-data dedup): per doc, how many of its
    * paragraphs also occur in at least one OTHER doc. Catches sitewide
    * boilerplate (headers, license blocks) that document-level MinHash
    * misses because the surrounding text differs.
    *
    * 100-TB shape: paragraphs are digested map-side, so the global
    * occurrence count shuffles (digest, doc_id) pairs and the join-back
    * shuffles (doc_id, digest) — raw text never crosses an exchange.
    */
  def sharedParagraphs(docs: DataFrame): DataFrame = {
    val paras = docs.select(col("doc_id"),
      explode(transform(split(col("text"), "\n\n"), p => md5(p))).as("h"))
    val counts = paras.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    paras.join(counts, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared_paras"))
      .withColumn("shared_frac",
        col("n_shared_paras").cast("double") / col("n_paras").cast("double"))
  }

  /** Cross-doc paragraph dedup — the CLEANING transform paired with
    * [[sharedParagraphs]] (exactly as [[dedupLines]] pairs with
    * [[repetitionStats]]): drop every paragraph occurring in ≥ `minDocs`
    * documents (sitewide boilerplate — headers, license blocks), keeping
    * the rest in order.
    *
    * 100-TB shape: the removal DECISION never carries text — paragraphs
    * are digested map-side, the shared set is found on (digest, doc_id)
    * pairs, and the per-doc removal set is a handful of (doc_id, pos)
    * ints joined back to the doc's own row, where a pure projection
    * (index-aware filter HOF + array_join) rebuilds the cleaned text.
    * The only strings crossing an exchange are 32-char digests.
    */
  def dedupParagraphs(docs: DataFrame, minDocs: Int = 2): DataFrame = {
    val paras = docs.select(col("doc_id"),
      posexplode(transform(split(col("text"), "\n\n"), p => md5(p)))
        .as(Seq("pos", "h")))
    val shared = paras.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
    val rm = paras.join(shared.select(col("h")), Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("rm"))
    docs.join(rm, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(
          filter(split(col("text"), "\n\n"),
            (p, i) => coalesce(!array_contains(col("rm"), i), lit(true))),
          "\n\n").as("cleaned_text"),
        coalesce(size(col("rm")).cast("long"), lit(0L)).as("n_paras_removed"))
  }

  /** First-occurrence paragraph dedup — the other cleaning policy next to
    * [[dedupParagraphs]]: instead of dropping EVERY occurrence of shared
    * boilerplate, keep exactly ONE copy of each non-empty paragraph
    * corpus-wide (the first in (doc_id, pos) order — a deterministic total
    * order) and excise the rest. Empty/whitespace-only paragraphs are
    * structural and never removed, so delimiter runs survive; removing a
    * paragraph removes exactly one "\n\n" joint and every byte outside it
    * is preserved (exact-delimiter split/join).
    *
    * 100-TB shape: same discipline as [[dedupParagraphs]] — paragraphs are
    * digested map-side, the first-occurrence argmin is one partial-agg
    * shuffle on (digest, doc_id, pos), the removal set travels as ints,
    * and a pure index-aware filter HOF rebuilds the text in place. The
    * only strings crossing an exchange are 32-char digests.
    */
  def dedupParagraphsKeepFirst(docs: DataFrame): DataFrame = {
    val paras = docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n\n")).as(Seq("pos", "p")))
      .select(col("doc_id"), col("pos"), md5(col("p")).as("h"))
      .where(length(trim(col("p"))) > 0)
    val firsts = paras.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val rm = paras.join(firsts, Seq("h"))
      .where(!(col("f.doc_id") === col("doc_id") && col("f.pos") === col("pos")))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("rm"))
    docs.join(rm, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(
          filter(split(col("text"), "\n\n"),
            (p, i) => coalesce(!array_contains(col("rm"), i), lit(true))),
          "\n\n").as("deduped_text"),
        coalesce(size(col("rm")).cast("long"), lit(0L)).as("n_paras_removed"))
  }

  // ------------------------------------------------------- decontamination

  /** Shingle size for benchmark decontamination — the GPT-3/Llama 13-gram
    * recipe (Brown et al. 2020 appx. C; Touvron et al. 2023).
    */
  val DecontamK = 13

  /** The deterministic held-out eval split: docs whose portable doc_id
    * hash lands on `residue` mod `mod` (~1/mod of the corpus). A real
    * deployment passes its benchmark table to [[decontamAgainst]] instead.
    */
  def evalSplit(docs: DataFrame, mod: Int = 10, residue: Int = 7): DataFrame =
    docs.where(pmod(md5Hash60(col("doc_id").cast("string")), lit(mod.toLong))
      === residue.toLong)

  /** Benchmark decontamination: per corpus doc, how many of its distinct
    * k-gram shingles also occur in the eval set — the contamination signal
    * a training-data pipeline computes before training (docs overlapping
    * the benchmark are dropped or split-corrected).
    *
    * 100-TB shape: when the eval set is a benchmark — tiny next to the
    * corpus — its distinct shingle table BROADCASTS (`broadcastEval =
    * true`, the default) and the corpus-side semi-join is map-side (no
    * shuffle of the corpus shingle stream; plan-asserted). When the eval
    * side is itself corpus-sized (a holdout SPLIT, as in [[decontaminate]])
    * a broadcast would ship ~10% of the corpus's shingles to every
    * executor — pass `broadcastEval = false` for a shuffle semi-join
    * instead. The per-doc counts are partial-aggregated (doc_id, long)
    * pairs. Docs too short to shingle (< k words) report 0/0 → 0.0.
    */
  def decontamAgainst(corpus: DataFrame, evalDocs: DataFrame,
                      k: Int = DecontamK,
                      broadcastEval: Boolean = true): DataFrame = {
    // Round 8: ONE pass over the corpus shingle stream. The previous form
    // ran the k-gram explode twice — once for per-doc totals, once for the
    // eval semi-join — i.e. the single most expensive map stage of the
    // pipeline (string construction over ~k× the corpus bytes) twice. A
    // LEFT join against the distinct eval shingles tags each occurrence
    // instead, and one aggregation counts total + tagged together: counts
    // identical (the eval side is distinct on s, so the left join is
    // row-preserving and the tagged count equals the semi-join count).
    val evalSh0 = shingles(evalDocs, k).select(col("s")).distinct()
      .withColumn("__in_eval", lit(true))
    val evalSh = if (broadcastEval) broadcast(evalSh0) else evalSh0
    val sh = shingles(corpus, k)
    val stats = sh.join(evalSh, Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("__in_eval"), 1L).otherwise(0L)).as("n_con"))
    corpus.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_sh"), lit(0L)).as("n_shingles"),
        coalesce(col("n_con"), lit(0L)).as("n_contaminated"))
      .withColumn("contaminated_frac",
        when(col("n_shingles") === 0L, 0.0)
          .otherwise(col("n_contaminated").cast("double") /
            col("n_shingles").cast("double")))
  }

  /** [[decontamAgainst]] over the deterministic holdout split: eval = the
    * hash-selected ~10%, corpus = the rest. The eval side here is a
    * corpus SPLIT, not a tiny benchmark, so the shingle semi-join runs as
    * a shuffle (`broadcastEval = false`) — broadcasting ~10% of a 100-TB
    * corpus's distinct shingles would be the wrong shape.
    */
  def decontaminate(docs: DataFrame, k: Int = DecontamK): DataFrame = {
    val ev = evalSplit(docs)
    decontamAgainst(
      docs.join(ev.select(col("doc_id")), Seq("doc_id"), "left_anti"),
      ev, k, broadcastEval = false)
  }

  /** Positioned k-shingles: (doc_id, pos, s) with pos = the 0-based word
    * index of the shingle's first word. Unlike [[shingles]] the stream is
    * NOT distinct — span reporting needs every occurrence, each at its own
    * position.
    */
  private[graft] def shinglesPositioned(docs: DataFrame, k: Int): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    docs
      .select(col("doc_id"), words.as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"),
        posexplode(graft.functions.ShingleStrings
          .shingle_strings(col("w"), k, distinct = false)).as(Seq("pos", "s")))
  }

  /** Contaminated shingle occurrences: (doc_id, pos, s) of every corpus
    * shingle occurrence present in the eval set — the shared trunk of
    * [[decontamSpans]] and [[exciseContaminated]].
    */
  private def contamHits(corpus: DataFrame, evalDocs: DataFrame,
                         k: Int, broadcastEval: Boolean): DataFrame = {
    val evalSh0 = shingles(evalDocs, k).select(col("s")).distinct()
    val evalSh = if (broadcastEval) broadcast(evalSh0) else evalSh0
    shinglesPositioned(corpus, k).join(evalSh, Seq("s"), "left_semi")
  }

  /** Span-level decontamination detail (round 6) — WHICH parts of a doc
    * overlap the eval set, so a split-correction pipeline can EXCISE the
    * contaminated spans instead of dropping the whole document
    * ([[decontamAgainst]] reports only counts/fractions). One row per
    * contaminated doc: the number of matched shingle occurrences and
    * their start WORD indices (0-based, ascending, comma-joined into a
    * scalar the driver harness can sort/hash; each span covers words
    * [start, start + k)). Every occurrence reports its position — unlike
    * the count op's distinct-shingle stream — because excision needs all
    * of them.
    *
    * 100-TB shape: identical to [[decontamAgainst]] — the eval shingle
    * set broadcasts when it is a tiny benchmark (`broadcastEval = true`)
    * or shuffle-semi-joins when it is a corpus split; only (doc_id, pos)
    * ints and the matched shingle strings reach the per-doc aggregate.
    */
  def decontamSpans(corpus: DataFrame, evalDocs: DataFrame,
                    k: Int = DecontamK,
                    broadcastEval: Boolean = true): DataFrame =
    contamHits(corpus, evalDocs, k, broadcastEval)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        array_join(transform(array_sort(collect_list(col("pos"))),
          p => p.cast("string")), ",").as("span_starts"))

  /** The CLEANING transform paired with [[decontamSpans]] (exactly as
    * [[dedupLines]] pairs with [[repetitionStats]]): EXCISE every word
    * covered by a contaminated k-gram window — [start, start + k) per
    * matched start — and rebuild the text, instead of dropping the whole
    * document. Docs with no matches (including docs too short to shingle)
    * pass through with their ORIGINAL text byte-identical; only excised
    * docs are rebuilt from the surviving words, single-space-joined (the
    * canonical-whitespace loss is inherent to word-level excision and
    * mirrors the tokenization the spans index into).
    *
    * 100-TB shape: the removal decision travels as (doc_id, start) ints
    * ([[contamHits]] → collect_set per doc); the doc's own row rebuilds
    * the text in a pure projection (index-aware filter HOF + exists over
    * the start set) — text never crosses an exchange, same pattern as
    * [[dedupParagraphs]].
    */
  def exciseContaminated(corpus: DataFrame, evalDocs: DataFrame,
                         k: Int = DecontamK,
                         broadcastEval: Boolean = true): DataFrame = {
    val starts = contamHits(corpus, evalDocs, k, broadcastEval)
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("starts"))
    val words = split(trim(col("text")), "\\s+")
    val keptWords = filter(words, (_, i) =>
      !exists(col("starts"), st => i >= st && i < st + k))
    corpus.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("starts").isNull, col("text"))
          .otherwise(array_join(keptWords, " ")).as("cleaned_text"),
        when(col("starts").isNull, 0L)
          .otherwise((size(words) - size(keptWords)).cast("long"))
          .as("n_words_removed"))
  }

  /** CHAR-SPAN excision (round 7) — [[exciseContaminated]] with byte
    * fidelity: instead of rebuilding survivors single-space-joined (the
    * declared whitespace loss of the word-level rebuild), splice the
    * ORIGINAL text so every byte outside an excised span — including the
    * exact inter-word whitespace runs, leading and trailing whitespace —
    * survives untouched. This is the variant a real split-correction
    * pipeline ships: excision must not perturb the document around the
    * removed spans.
    *
    * Mechanics: the text is segmented by `\s*\S+` — each segment is one
    * word GLUED to the whitespace run that precedes it (the first segment
    * carries any leading whitespace; the trailing whitespace run after the
    * last word is unmatched and re-appended verbatim). Segment index ==
    * the word index [[shinglesPositioned]] reports, so the contaminated
    * start set indexes the segment array directly: a word covered by any
    * matched k-gram window [start, start+k) is dropped WITH its preceding
    * separator, and the next surviving word contributes its own preceding
    * separator — so splice points collapse to a single original-byte
    * separator, never doubled whitespace, and a doc with no matches
    * reconstructs byte-identically (spec-asserted). Docs with no matches
    * short-circuit to the original text column without touching the
    * segmentation at all.
    *
    * 100-TB shape: identical to [[exciseContaminated]] — the removal set
    * travels as (doc_id, start) ints; the splice is a pure per-row
    * projection (regexp segmentation + index-aware filter HOF), text never
    * crosses an exchange.
    */
  def exciseContaminatedSpans(corpus: DataFrame, evalDocs: DataFrame,
                              k: Int = DecontamK,
                              broadcastEval: Boolean = true): DataFrame = {
    val starts = contamHits(corpus, evalDocs, k, broadcastEval)
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("starts"))
    val segs = regexp_extract_all(col("text"), lit("\\s*\\S+"), lit(0))
    val kept = filter(segs, (_, i) =>
      !exists(col("starts"), st => i >= st && i < st + k))
    // everything after the last segment = the trailing whitespace run
    // (code-point offsets — length/substr count code points in both
    // engines, so the oracle splices at identical positions)
    val trailing = col("text").substr(
      length(array_join(segs, "")) + 1, length(col("text")))
    corpus.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("starts").isNull, col("text"))
          .otherwise(concat(array_join(kept, ""), trailing)).as("cleaned_text"),
        when(col("starts").isNull, 0L)
          .otherwise((size(segs) - size(kept)).cast("long"))
          .as("n_words_removed"))
  }

  /** The REVERSE direction of [[decontamAgainst]] (round 6): per EVAL
    * doc, how compromised is the benchmark item itself — how many of its
    * distinct k-gram shingles occur anywhere in the corpus, and how many
    * distinct corpus docs share at least one. `decontamAgainst` answers
    * "which training docs must be dropped/excised"; this answers "which
    * benchmark items can no longer be trusted" — the report an eval owner
    * reads before publishing scores.
    *
    * 100-TB shape: the eval shingle set (tiny for a real benchmark)
    * broadcasts and the CORPUS shingle stream joins it map-side; the
    * per-eval-doc aggregate then carries only (doc_id, s-digest, corpus
    * doc_id) tuples bounded by the number of LEAKED shingle occurrences.
    * `broadcastEval = false` for corpus-split eval sides, as everywhere
    * in this family.
    */
  def evalLeakReport(corpus: DataFrame, evalDocs: DataFrame,
                     k: Int = DecontamK,
                     broadcastEval: Boolean = true): DataFrame = {
    val evalSh0 = shingles(evalDocs, k) // distinct (doc_id, s) per eval doc
    val evalSh = if (broadcastEval) broadcast(evalSh0) else evalSh0
    val corpusSh = shingles(corpus, k).select(col("s"), col("doc_id").as("c_doc"))
    val totals = evalSh0.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val leaked = corpusSh.join(evalSh, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_leaked"),
        countDistinct(col("c_doc")).as("n_corpus_docs"))
    evalDocs.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(leaked, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"))
      .withColumn("leaked_frac",
        when(col("n_shingles") === 0L, 0.0)
          .otherwise(col("n_leaked").cast("double") /
            col("n_shingles").cast("double")))
  }

  /** End-to-end corpus-cleaning verdict — the composition the individual
    * operators exist for: every doc gets a kept/dropped decision with the
    * FIRST failing stage as the reason, in pipeline order:
    *   1. `eval_holdout` — the doc belongs to the held-out eval split;
    *   2. `exact_dup`    — not the keeper (min doc_id) of its content
    *                       digest group ([[exactDedup]]; swapping in
    *                       [[dedupKeepers]] upgrades this stage to
    *                       near-dup clusters with the same join shape);
    *   3. `quality`      — fails the Gopher rule bundle ([[gopherRules]]);
    *   4. `contaminated` — 13-gram eval overlap above `contamMax`
    *                       ([[decontaminate]]).
    *
    * 100-TB shape: four left joins keyed on doc_id against tables each of
    * which is itself scale-shaped (digest-keyed dedup, pure-projection
    * quality, broadcast-semi-join decontam); the verdict row carries no
    * text.
    */
  def cleanCorpus(docs0: DataFrame, contamMax: Double = 0.05): DataFrame = {
    // the verdict's stage tables reference the corpus from MANY branches
    // (digest dedup, quality projection, both holdout splits, the decontam
    // shingle pipelines) — without a persist each branch re-scans the
    // source table (22 parquet scans measured in the naive plan). Persist
    // the pruned (doc_id, text) projection once; same pattern and
    // justification as nearDups' membership/shingle persists.
    val docs = CacheLedger.track(docs0.select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val evDocs = CacheLedger.track(evalSplit(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ev = evDocs.select(col("doc_id"), lit(true).as("is_eval"))
    val keep = exactDedup(docs)
      .select(col("keeper_doc_id").as("doc_id"), lit(true).as("is_keeper"))
    val gp = gopherRules(docs).select(col("doc_id"), col("gopher_pass"))
    val corpusDocs = docs.join(evDocs.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    // eval here is the ~10% holdout split, not a tiny benchmark → shuffle
    // semi-join, same reasoning as decontaminate()
    val contam = decontamAgainst(corpusDocs, evDocs, broadcastEval = false)
      .select(col("doc_id"), col("contaminated_frac"))
    docs.select(col("doc_id"))
      .join(ev, Seq("doc_id"), "left")
      .join(keep, Seq("doc_id"), "left")
      .join(gp, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("is_eval"), lit(false)).as("is_eval"),
        coalesce(col("is_keeper"), lit(false)).as("is_exact_keeper"),
        col("gopher_pass"),
        coalesce(col("contaminated_frac"), lit(0.0)).as("contaminated_frac"))
      .withColumn("drop_reason",
        when(col("is_eval"), "eval_holdout")
          .when(!col("is_exact_keeper"), "exact_dup")
          .when(!col("gopher_pass"), "quality")
          .when(col("contaminated_frac") > contamMax, "contaminated")
          .otherwise(lit(null).cast("string")))
      .withColumn("kept", col("drop_reason").isNull)
  }

  /** Within-doc line dedup — the CLEANING transform paired with
    * [[repetitionStats]] (RefinedWeb-style boilerplate removal): keep each
    * distinct line's FIRST occurrence, preserving order. Pure per-row
    * projection (array_distinct preserves first-occurrence order), no
    * shuffle; the DuckDB oracle replays it with a per-(doc, line) window
    * because its list_distinct does NOT preserve order.
    */
  def dedupLines(docs: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val dlines = array_distinct(lines)
    docs.select(col("doc_id"),
      array_join(dlines, "\n").as("cleaned_text"),
      (size(lines) - size(dlines)).cast("long").as("n_lines_removed"))
  }

  /** Gopher quality-rule bundle (Rae et al. 2021, "Scaling Language
    * Models: ...Gopher", appendix A1.1) — the canonical pre-training
    * document filter, as ONE pure projection emitting every rule metric
    * plus the pass/fail verdict:
    *   50 ≤ words ≤ 100,000; 3 ≤ mean word length ≤ 10; hash OR ellipsis
    *   symbol-to-word ratio ≤ 0.1; < 90% of lines bullet-started; < 30%
    *   of lines ellipsis-ended; ≥ 80% of words contain an alphabetic
    *   character; ≥ 2 of the 8 Gopher stop words present.
    *
    * 100-TB shape: no shuffle, no explode — per-row split + HOF counts,
    * whole-stage codegen (plan-asserted). All ratios are exact
    * int→double divisions in a fixed order, so the DuckDB oracle is
    * bit-identical.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val t = col("text")
    val words = split(trim(t), "\\s+")
    val nWords = when(length(trim(t)) === 0, 0L).otherwise(size(words).cast("long"))
    val wordChars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val lines = split(t, "\n")
    val nLines = size(lines).cast("long")
    val bulletLines = size(filter(lines, l =>
      l.startsWith("•") || l.startsWith("- ") || l.startsWith("* ")))
      .cast("long")
    val ellipsisLines = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("…"))).cast("long")
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val hashes = length(t) - length(regexp_replace(t, "#", ""))
    val ellipses = regexp_count(t, lit("\\.\\.\\.|…"))
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopsPresent = gopherStops.map(sw =>
      when(array_contains(words, sw), 1L).otherwise(0L)).reduce(_ + _)
    docs.select(col("doc_id"), nWords.as("n_words"),
        wordChars.as("word_chars"), nLines.as("n_lines"),
        bulletLines.as("bullet_lines"), ellipsisLines.as("ellipsis_lines"),
        alphaWords.as("alpha_words"), (hashes + ellipses).cast("long").as("symbols"),
        stopsPresent.as("stops_present"))
      .withColumn("mean_word_len",
        when(col("n_words") === 0L, 0.0)
          .otherwise(col("word_chars").cast("double") / col("n_words").cast("double")))
      .withColumn("symbol_ratio",
        when(col("n_words") === 0L, 0.0)
          .otherwise(col("symbols").cast("double") / col("n_words").cast("double")))
      .withColumn("bullet_frac",
        col("bullet_lines").cast("double") / col("n_lines").cast("double"))
      .withColumn("ellipsis_frac",
        col("ellipsis_lines").cast("double") / col("n_lines").cast("double"))
      .withColumn("alpha_frac",
        when(col("n_words") === 0L, 0.0)
          .otherwise(col("alpha_words").cast("double") / col("n_words").cast("double")))
      .withColumn("gopher_pass",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("bullet_frac") < 0.9 &&
          col("ellipsis_frac") < 0.3 &&
          col("alpha_frac") >= 0.8 &&
          col("stops_present") >= 2L)
  }

  /** Per-doc distinctive terms: top `k` words ranked by term frequency
    * DESC, document frequency ASC, word ASC — the integer-exact ordering
    * equivalent of tf-idf ranking (log() differs in the last bit across
    * engines; the (tf, 1/df) lexicographic order does not, and for
    * single-corpus ranking they agree wherever tf-idf has a strict order).
    *
    * 100-TB shape: per-doc tf is one partial-aggregated shuffle on
    * (doc_id, word); df is one on word; the join back is keyed on word;
    * the final top-k is a bounded per-doc window. Docs with no words have
    * no terms and are absent, by definition.
    */
  def topTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf feeds both the df derivation and the final join — persist it or
    // the scan+explode+aggregate (the dominant cost) runs twice
    val tf = CacheLedger.track(docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.join(df, Seq("term"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
  }

  /** PII scrubbing — the redaction stage a released training corpus runs
    * (emails, IPv4 addresses, phone-like digit runs): per doc, match
    * counts plus the redacted text. The patterns are deliberately
    * backtracking-trivial (single character classes + greedy counts, no
    * alternation-ordering traps) so Java regex and RE2 (DuckDB) agree
    * match-for-match, and redaction applies in a fixed order (email → IP
    * → phone) so later patterns see earlier placeholders, identically in
    * both engines.
    *
    * 100-TB shape: pure per-row projection, no shuffle (plan-asserted).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "\\+[0-9][0-9()\\- ]{7,}[0-9]"

  def piiScrub(docs: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    val afterPhone = regexp_replace(afterIp, PhoneRe, "<PHONE>")
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
      regexp_count(afterEmail, lit(Ipv4Re)).as("n_ips"),
      regexp_count(afterIp, lit(PhoneRe)).as("n_phones"),
      afterPhone.as("redacted_text"))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letters run | digits run | single other-symbol).
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.select(
      col("doc_id"),
      when(length(trim(t)) === 0, 0).otherwise(size(split(trim(t), "\\s+"))).as("ws_tokens"),
      regexp_count(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("bpe_ish_tokens"),
      length(t).as("n_chars_m"))
  }

  /** The per-doc token-count column both packing entry points budget by —
    * trainers pack by TOKENIZER counts, not words: "bpe_ish" budgets by
    * the same segmentation [[tokenStats]] reports (letter runs | digit
    * runs | single other-symbol), "ws" by whitespace words.
    */
  private def packTokens(tokenizer: String): org.apache.spark.sql.Column =
    tokenizer match {
      case "ws" => when(length(trim(col("text"))) === 0, 0L)
        .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
      case "bpe_ish" =>
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
          .cast("long")
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer '$other' (expected ws | bpe_ish)")
    }

  /** Sequence packing for pretraining: assign each doc a (bucket, pack_id,
    * offset) so that consecutive docs fill fixed `budget`-token packs —
    * the contiguous-cumsum approximation of bin packing: docs are laid
    * head-to-tail in deterministic doc_id order and a doc belongs to the
    * pack containing its FIRST token (a straddling doc overflows its
    * pack; the trainer truncates or spills, as sequence packers do).
    *
    * 100-TB shape: packing is a RUNNING SUM, which is inherently
    * sequential — so the corpus is first split into `nBuckets`
    * INDEPENDENT streams by the portable doc_id hash, and the cumsum
    * window runs per bucket in parallel (one shuffle, bounded partitions).
    * Each bucket's window is ONE task over ~corpus/nBuckets rows, so the
    * bucket count must SCALE with the corpus — size it via
    * [[packBucketCount]] (or call [[packSequencesSized]], which derives
    * it); the 32-bucket default here is a small-scale convenience, not a
    * production setting. A trainer consumes packs per (bucket, pack_id);
    * global pack ids are unnecessary at scale and deliberately not
    * produced. All arithmetic is integer, so the DuckDB window replay is
    * exact.
    */
  def packSequences(docs: DataFrame, budget: Long = 2048,
                    nBuckets: Int = 32,
                    tokenizer: String = "ws"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = packTokens(tokenizer)
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), toks.as("n_tokens"))
      .withColumn("bucket",
        pmod(md5Hash60(col("doc_id").cast("string")), lit(nBuckets.toLong)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        // floor (not cast-truncate vs round — engines disagree there);
        // the division is exact: per-bucket token sums stay far below 2^53
        floor((col("cum_tokens") - col("n_tokens")) / lit(budget)).as("pack_id"),
        ((col("cum_tokens") - col("n_tokens")) % lit(budget)).as("pack_offset"))
  }

  /** The bucket-count sizing rule for [[packSequences]] (round 7): one
    * bucket per `targetTokensPerBucket` tokens, floored at `minBuckets`.
    * Each bucket's cumsum window is ONE task sorting ~corpus/nBuckets
    * (doc_id, n_tokens) rows — a constant default caps parallelism AND
    * per-task memory at scale (32 buckets over a 100-TB corpus is ~3 TB of
    * window input per task), so the count must grow with the corpus. The
    * default target (2²⁷ ≈ 134 M tokens ≈ a few hundred MB of window rows
    * per task) keeps every bucket comfortably inside one executor while
    * the bucket count scales linearly with corpus volume. Integer
    * ceil-division, so any engine replays it exactly.
    */
  def packBucketCount(totalTokens: Long, targetTokensPerBucket: Long = 1L << 27,
                      minBuckets: Int = 32): Int = {
    require(targetTokensPerBucket > 0 && minBuckets >= 1,
      s"bad sizing: target=$targetTokensPerBucket min=$minBuckets")
    math.max(minBuckets.toLong,
      (totalTokens + targetTokensPerBucket - 1) / targetTokensPerBucket)
      .min(Int.MaxValue.toLong).toInt
  }

  /** [[packSequences]] with `nBuckets` DERIVED from the corpus token
    * volume via [[packBucketCount]] — the production entry point, so the
    * constant-bucket default is never a trap at scale. The one-pass token
    * total is a control-plane aggregate (a single long to the driver, like
    * the IVF centroid collects); pack assignment itself stays the same
    * deterministic, repartition-invariant hash-bucket cumsum.
    */
  def packSequencesSized(docs: DataFrame, budget: Long = 2048,
                         targetTokensPerBucket: Long = 1L << 27,
                         minBuckets: Int = 32,
                         tokenizer: String = "ws"): DataFrame = {
    val total = docs.select(sum(packTokens(tokenizer)).cast("long"))
      .collect()(0) match { case r if r.isNullAt(0) => 0L; case r => r.getLong(0) }
    packSequences(docs, budget,
      packBucketCount(total, targetTokensPerBucket, minBuckets), tokenizer)
  }

  /** Deterministic stratified sampling — the mixture-reweighting stage a
    * training-data pipeline runs to hit a target per-source composition
    * (down-sample the crawl, keep all of wikipedia, …): a doc survives
    * iff its salted portable doc_id hash lands below its source's
    * threshold. Deterministic (no RNG state → repeatable across runs and
    * resumes), repartition-invariant, and per-row independent.
    *
    * The keep test is INTEGER: threshold = floor(rate · 2⁶⁰) compared
    * against the 60-bit md5-prefix hash — bit-exact in any engine with
    * md5 (the DuckDB oracle replays it literally). The "sample:" salt
    * decorrelates the draw from [[evalSplit]]'s unsalted doc_id hash, so
    * sampling and holdout selection are independent events.
    *
    * 100-TB shape: a pure projection + filter, the rates map folded into
    * one plan-time CASE — no shuffle, no sampling state, no driver round
    * trip.
    */
  def sampleStratified(docs: DataFrame, rates: Map[String, Double],
                       defaultRate: Double = 1.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      s"rates must be in [0, 1]: $rates / $defaultRate")
    def thresholdOf(r: Double): Long = (r * (1L << 60).toDouble).toLong
    val h = md5Hash60(concat(lit("sample:"), col("doc_id").cast("string")))
    val threshold = rates.foldLeft(lit(thresholdOf(defaultRate))) {
      case (acc, (s, r)) => when(col("source") === s, lit(thresholdOf(r))).otherwise(acc)
    }
    docs.where(h < threshold)
  }

  /** Overlapping word-window chunking — the "split long documents into
    * model-sized pieces" stage of a pretraining pipeline: each doc yields
    * ⌈(n−maxWords)/stride⌉+1 chunks of ≤ maxWords whitespace words, where
    * stride = maxWords − overlap (consecutive chunks share `overlap`
    * words so no context is lost at a boundary). Chunk 0 always exists
    * (an empty/short doc is its own single chunk).
    *
    * 100-TB shape: a pure per-row flatMap projection — split, sequence,
    * posexplode, slice, array_join are all codegen HOFs; no shuffle, no
    * state, output rows ≈ input tokens / stride. All index arithmetic is
    * integer (ceil-div via (a+b−1) floor-div b), so the DuckDB oracle
    * replays it exactly.
    */
  def chunkDocs(docs: DataFrame, maxWords: Int = 64, overlap: Int = 16): DataFrame = {
    require(maxWords > 0 && overlap >= 0 && overlap < maxWords,
      s"need 0 <= overlap < maxWords: $maxWords/$overlap")
    val stride = maxWords - overlap
    val t = trim(col("text"))
    val words = split(t, "\\s+")
    val n = when(length(t) === 0, 0L).otherwise(size(words).cast("long"))
    // ceil((n - maxWords)/stride) + 1 for n > maxWords, else 1; integer-only
    val nChunks = when(n <= maxWords, 1L).otherwise(
      floor((n - maxWords + (stride.toLong - 1L)) / lit(stride.toLong)).cast("long") + 1L)
    docs
      .select(col("doc_id"), words.as("w"), n.as("n"), nChunks.as("nc"))
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0L), col("nc") - 1L)).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        array_join(slice(col("w"), (col("chunk_idx") * stride + 1L).cast("int"),
          lit(maxWords)), " ").as("chunk_text"),
        least(lit(maxWords.toLong), col("n") - col("chunk_idx") * stride)
          .as("n_words"))
  }

  /** Per-source document cap — "keep at most K docs per source, chosen by
    * a deterministic pseudo-random order" (the crawl-rebalancing stage
    * that stops one mega-source from dominating a mixture). Selection
    * order is the salted 60-bit doc_id hash (ties broken by doc_id), so
    * the kept set is repeatable across runs and independent of layout.
    *
    * 100-TB shape — the reason this is NOT one `row_number` window per
    * source: with ~20 sources that window is 20 tasks sorting 5 TB each.
    * Instead the hash order is range-bucketed by its own top bits
    * (bucket = h >> (60 − log₂ nBuckets), a MONOTONE function of h, so
    * bucket order refines hash order): (source, bucket) windows rank
    * locally with nSources·nBuckets-way parallelism, a tiny
    * per-(source,bucket) count table (nSources·nBuckets rows) prefix-sums
    * into bucket offsets broadcast back, and a doc survives iff
    * offset + local_rank ≤ K. Spec-asserted ≡ the direct single-window
    * formulation; the oracle replays that direct form in SQL.
    */
  def capPerSource(docs: DataFrame, k: Int, nBuckets: Int = 32,
                   broadcastOffsets: Boolean = true): DataFrame = {
    require(k >= 0, s"k must be >= 0: $k")
    val h = md5Hash60(concat(lit("cap:"), col("doc_id").cast("string")))
    twoPhaseRank(docs.select(col("doc_id"), col("source").as("grp"),
        h.as("rk_h")), nBuckets, broadcastOffsets)
      .where(col("rank") <= k.toLong)
      .select(col("doc_id"), col("grp").as("source"), col("rank").as("cap_rank"))
  }

  /** Shared trunk of [[capPerSource]] and [[shardForTraining]]: the global
    * rank of each row within its `grp` under the total order
    * (rk_h, doc_id), computed WITHOUT a one-task-per-group window. The
    * rank key's own top bits range-bucket its order (bucket = rk_h >>
    * (60 − log₂ nBuckets) is monotone in rk_h, so bucket order refines
    * key order); (grp, bucket) windows rank locally with
    * nGroups·nBuckets-way parallelism, and a count table prefix-sums into
    * per-bucket offsets joined back: rank = offset + local rank.
    * Input (doc_id, grp, rk_h); output + `rank` (1-based).
    *
    * `broadcastOffsets`: with a bounded group key (~20 sources, N shards)
    * the nGroups·nBuckets offset table broadcasts (default). For
    * UNBOUNDED group cardinality (per-domain caps on a crawl — millions
    * of groups) pass false: the offsets join becomes an ordinary
    * shuffle join on (grp, bkt) — rows are (grp, long, long), never text —
    * and the offsets window itself stays a per-group pass over ≤nBuckets
    * rows. Equality with the broadcast path is spec-asserted.
    */
  private def twoPhaseRank(d: DataFrame, nBuckets: Int,
                           broadcastOffsets: Boolean = true): DataFrame = {
    require(nBuckets >= 1 && (nBuckets & (nBuckets - 1)) == 0 &&
      nBuckets <= (1 << 20), s"nBuckets must be a power of two: $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val shift = 60 - Integer.numberOfTrailingZeros(nBuckets)
    val b = d.withColumn("bkt", shiftright(col("rk_h"), shift))
    val local = b.withColumn("lr",
      row_number().over(Window.partitionBy(col("grp"), col("bkt"))
        .orderBy(col("rk_h"), col("doc_id"))).cast("long"))
    val offsets = b.groupBy(col("grp"), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off",
        coalesce(sum(col("c")).over(Window.partitionBy(col("grp"))
          .orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("grp"), col("bkt"), col("off"))
    local.join(if (broadcastOffsets) broadcast(offsets) else offsets,
        Seq("grp", "bkt"))
      .withColumn("rank", col("off") + col("lr"))
  }

  /** Deterministic global shuffle into training shards — the last step
    * before a trainer reads the corpus: shard = salted hash mod nShards
    * (balanced in expectation), position within the shard = rank in hash
    * order (a repeatable pseudo-random permutation — no RNG state, stable
    * across retries/resumes, independent of input layout). Writers then
    * `partitionBy(shard)` + sort by shard_pos to lay the files out.
    *
    * 100-TB shape: the same two-phase bucket-offset rank as
    * [[capPerSource]] — nShards·nBuckets parallel local windows plus one
    * broadcast offset table; never a single-task per-shard sort.
    */
  def shardForTraining(docs: DataFrame, nShards: Int, nBuckets: Int = 32): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    val h = md5Hash60(concat(lit("shard:"), col("doc_id").cast("string")))
    twoPhaseRank(docs.select(col("doc_id"), h.as("rk_h"))
        .withColumn("grp", pmod(col("rk_h"), lit(nShards.toLong))), nBuckets)
      .select(col("doc_id"), col("grp").as("shard"),
        (col("rank") - 1L).as("shard_pos"))
  }

  /** Temperature-style source upsampling factors (α = 1/2): rare sources
    * repeat more — factor = max(1, ⌊budget / √n_source⌋), the classic
    * "flatten the source mixture toward uniform" reweighting. Exact
    * cross-engine: IEEE sqrt and division are correctly rounded and floor
    * is exact, so the doubles never reach the output (factors are longs).
    *
    * 100-TB shape: one low-cardinality partial-agg shuffle (the source
    * count table is nSources rows).
    */
  def sourceRepeatFactors(docs: DataFrame, budget: Int = 10): DataFrame = {
    require(budget >= 1, s"budget must be >= 1: $budget")
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        greatest(lit(1L),
          floor(lit(budget.toDouble) / sqrt(col("n_docs").cast("double")))
            .cast("long")).as("repeat_factor"))
  }

  /** Materialized temperature resampling: every doc of source s appears
    * `repeat_factor(s)` times, tagged (doc_id, copy_idx) — the expanded
    * epoch list a trainer consumes (dataset order is the trainer's own
    * shuffle; this op fixes only multiplicity).
    *
    * 100-TB shape: the nSources-row factor table broadcast-joins onto the
    * corpus; the explode is map-side (sequence + explode, codegen); no
    * wide shuffle. Output ids only — the text stays in the base table and
    * re-joins at read time, so upsampling never duplicates bytes at rest.
    */
  def resampleByTemperature(docs: DataFrame, budget: Int = 10): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(sourceRepeatFactors(docs, budget)
        .select(col("source"), col("repeat_factor"))), Seq("source"))
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0L), col("repeat_factor") - 1L)).as("copy_idx"))

  /** Re-select each near-dup component's representative as its BEST
    * member by quality score (ties → min doc_id) — the production keeper
    * choice: min-doc_id keepers are an artifact of the CC algebra, but a
    * pipeline wants to keep the cleanest copy, not the first-crawled one.
    * Takes the min-label keeper table (component id = its min doc_id) and
    * returns the same (doc_id, keeper_doc_id) shape with keepers moved to
    * the component argmax. The score is derived from integer counts by
    * deterministic IEEE steps (the `doc_quality` oracle proves it
    * bit-exact cross-engine), so the argmax — including its tie-break —
    * replays exactly in the oracle.
    *
    * 100-TB shape: singleton components (the corpus majority) never enter
    * the argmax — a count aggregate restricts the quality join + max_by to
    * members of ≥2-member components (dup-density-proportional), and the
    * final relabel is one left join on the component id with
    * coalesce-to-self. All shuffled rows are (long, long) or
    * (long, double).
    */
  def keepersByQuality(docs: DataFrame, labels: DataFrame): DataFrame = {
    val q = qualityScore(docs).select(col("doc_id"), col("quality_score"))
    val multi = labels.groupBy(col("keeper_doc_id"))
      .agg(count(lit(1)).as("n")).where(col("n") >= 2)
      .select(col("keeper_doc_id"))
    val best = labels.join(multi, Seq("keeper_doc_id"))
      .join(q, Seq("doc_id"))
      .groupBy(col("keeper_doc_id"))
      .agg(max_by(col("doc_id"),
        struct(col("quality_score"), negate(col("doc_id")))).as("best_doc_id"))
    labels.join(best, Seq("keeper_doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("best_doc_id"), col("keeper_doc_id")).as("keeper_doc_id"))
  }

  /** [[dedupKeepers]] with the representative moved to the component's
    * best-quality member ([[keepersByQuality]]).
    */
  def dedupKeepersByQuality(docs: DataFrame, tau: Double = 0.5): DataFrame =
    keepersByQuality(docs, keepersFromEdges(docs, nearDupEdges(docs, tau)))

  /** Corpus vocabulary — the table a tokenizer/filter trainer consumes:
    * words with document frequency ≥ minDf, top maxSize by (total count
    * DESC, word ASC — a total order, so the cut is deterministic), with
    * their dense frequency rank.
    *
    * 100-TB shape: two partial-agg shuffles (word counts collapse
    * map-side; the df agg runs over (doc_id, word) distincts) and a
    * TakeOrderedAndProject for the top-V cut — the vocab (≤ maxSize rows)
    * never grows with the corpus, so downstream consumers broadcast it.
    */
  def vocabulary(docs: DataFrame, minDf: Long = 2,
                 maxSize: Int = 1 << 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("c"))
    val byWord = tf.groupBy(col("word"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .orderBy(col("tf").desc, col("word")).limit(maxSize)
    // rank over the ≤ maxSize cut — a driver-small table, the single
    // window partition is by construction bounded
    byWord.withColumn("rank",
      row_number().over(Window.orderBy(col("tf").desc, col("word"))).cast("long"))
  }

  /** Corpus n-gram counts — the integer-exact counts table an n-gram
    * LM / KenLM-style filter trains from: every n-word window (WITH
    * multiplicity, unlike [[shingles]]' distinct sets), its total
    * occurrence count and document frequency, floored at minCount. All
    * outputs are integers — no probabilities here, because cross-engine
    * log/exp are not correctly rounded; consumers derive them.
    *
    * 100-TB shape: the window expansion is a map-side HOF (one output row
    * per input token), and the count table is ONE partial-agg shuffle
    * keyed on the gram — identical shape to the word-count trunk of
    * [[vocabulary]]. The minCount floor prunes the long tail before it is
    * ever written.
    */
  def ngramCounts(docs: DataFrame, n: Int = 2, minCount: Long = 2): DataFrame = {
    require(n >= 1 && minCount >= 1, s"bad params: n=$n minCount=$minCount")
    val w = split(trim(col("text")), "\\s+")
    val grams = when(length(trim(col("text"))) === 0 || size(w) < n,
        typedLit(Array.empty[String]))
      .otherwise(graft.functions.ShingleStrings
        .shingle_strings(w, n, distinct = false))
    docs.select(col("doc_id"), explode(grams).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("c"), countDistinct(col("doc_id")).as("df"))
      .where(col("c") >= minCount)
  }

  /** Per-doc out-of-vocabulary rate against a [[vocabulary]] table — the
    * "will my tokenizer shred this document" filter signal. Counts are
    * integers; the rate is one int/int IEEE division (bit-exact in any
    * engine).
    *
    * 100-TB shape: word explode is map-side; the vocab (bounded by
    * maxSize) broadcasts into a left-semi-free aggregation — per doc we
    * count total tokens inline and in-vocab tokens via the broadcast
    * join, so the only shuffle is the final doc_id partial agg.
    */
  def oovRate(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("word"))
      .where(length(col("word")) > 0)
    val joined = toks.join(
      broadcast(vocab.select(col("word"), lit(true).as("in_vocab"))),
      Seq("word"), "left")
    joined.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_frac",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** EXACT per-source quantiles of an integer metric (here n_chars) by
    * the histogram method — the right shape for corpus-scale exact
    * percentiles over bounded-cardinality values: ONE partial-agg shuffle
    * on (source, value) collapses the corpus to its value histogram
    * (|distinct lengths| rows per source, independent of corpus size);
    * the cumulative window and the quantile selection then run over that
    * tiny table. The q-quantile is the element of rank max(1, ⌈q·n⌉) in
    * sorted order = the smallest value whose cumulative count reaches the
    * target — integer comparisons throughout (the only double is q·n,
    * identical IEEE multiply-and-ceil in any engine).
    *
    * Contrast with percentile_approx: no error bound to reason about, and
    * the oracle can replay it exactly.
    */
  def sourceQuantiles(docs: DataFrame,
                      qs: Seq[Double] = Seq(0.25, 0.5, 0.9)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0), s"bad qs: $qs")
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val cum = counts
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("n_chars"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
    val sels = qs.map { q =>
      val target = greatest(ceil(lit(q) * col("n")), lit(1L))
      min(when(col("cum") >= target, col("n_chars")))
        .as(s"p${math.round(q * 100)}")
    }
    cum.groupBy(col("source")).agg(sels.head, sels.tail: _*)
  }

  /** Corpus-wide distinct-word sketch via the custom HLL aggregate
    * (graft.functions.HllSketch): one narrow pass, a 1KB partial per task,
    * merge = elementwise max — COUNT(DISTINCT) at corpus scale without
    * shuffling the key set. Registers emit as a deterministic hex string
    * (md5-derived hashes), so the DuckDB oracle recomputes them exactly;
    * the float estimate is derived client-side (HllSketch.estimate).
    */
  def wordHll(docs: DataFrame): DataFrame =
    docs.select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .agg(
        graft.functions.HllSketch.hll_sketch(md5Hash60(col("word"))).as("hll_registers"),
        count(lit(1)).as("n_words"))

  /** Per-source corpus health report — the view a pipeline owner reads
    * when deciding which crawl/source to keep, reweight, or drop: doc
    * count, char/word volume, alphabetic-char fraction, size range.
    *
    * 100-TB shape: one partial-aggregated shuffle keyed on source (a
    * low-cardinality key — partial aggregation collapses almost
    * everything map-side). All merged quantities are INTEGER sums
    * (associative — exact under any partitioning); ratios are derived
    * from the merged sums, so the doubles are bit-identical to the
    * DuckDB oracle's.
    */
  def sourceReport(docs: DataFrame): DataFrame = {
    val t = col("text")
    val words = split(trim(t), "\\s+")
    val nWords = when(length(trim(t)) === 0, 0L).otherwise(size(words).cast("long"))
    docs.select(col("source"), length(t).cast("long").as("c"), nWords.as("w"),
        graft.functions.CharClassCounts.char_class_counts(t,
          Seq(Seq(('A'.toInt, 'Z'.toInt), ('a'.toInt, 'z'.toInt))))
          .getItem(0).as("a"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("c")).as("total_chars"),
        sum(col("w")).as("total_words"),
        sum(col("a")).as("alpha_chars"),
        min(col("c")).as("min_chars"),
        max(col("c")).as("max_chars"))
      .withColumn("mean_chars",
        col("total_chars").cast("double") / col("n_docs").cast("double"))
      .withColumn("alpha_frac",
        when(col("total_chars") === 0L, 0.0)
          .otherwise(col("alpha_chars").cast("double") /
            col("total_chars").cast("double")))
  }

  /** Content fingerprints: md5 digest + 64-bit prefix (hex) — the
    * dedup/lineage key at corpus scale.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("content_md5"),
      substring(md5(col("text")), 1, 16).as("fp64_hex"))

  /** Winnowing document fingerprints (rolling scheme): from the k-shingle
    * stream keep each window's minimum hash (here: global per-doc minima of
    * w hash families — a deterministic, order-free variant that keeps the
    * selection stable under re-partitioning).
    *
    * Hash family i = md5("w<i>:" + shingle); the minimum is taken on the
    * 16-hex-char prefix (fixed width ⇒ lexicographic min = unsigned numeric
    * min), and the signature is emitted as ONE ':'-joined string — a scalar
    * the driver harness can sort/hash, and md5 keeps it DuckDB-recomputable.
    */
  def winnowFingerprints(docs: DataFrame, w: Int = 4): DataFrame = {
    val sh = shingles(docs, k = 5)
    val mins = (0 until w).map(i =>
      min(substring(md5(concat(lit(s"w$i:"), col("s"))), 1, 16)).as(s"w$i"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        concat_ws(":", (0 until w).map(i => col(s"w$i")): _*).as("winnow_sig"))
  }

  /** Keeper assignment for near-dup clusters: keeper = MIN doc_id of the
    * CONNECTED COMPONENT in the near-dup graph (true transitive closure, not
    * the round-2 single-pass star approximation — a chain A~B, B~C without
    * an A~C edge now assigns keeper=A to all three).
    *
    * Algorithm: alternating large-star/small-star over the edge set (see
    * [[componentLabels]]; Kiveris et al., SoCC'14) — ~log₂(diameter)
    * rounds even on adversarial high-diameter graphs, where round 3's
    * propagate+pointer-jump stagnated to Θ(diameter). The edge set is the
    * LINEAR [[nearDupEdges]] feed (round 6): rep-level verified pairs plus
    * (rep, member) star edges — a degenerate million-copy duplicate group
    * contributes O(k) edges, not the k² pairs the report-shaped [[nearDups]]
    * relation deliberately expands to. Per-round cost is two groupBy-min +
    * join passes over (id, id) rows only, never text.
    */
  def dedupKeepers(docs: DataFrame, tau: Double = 0.5, maxIters: Int = 25): DataFrame =
    keepersFromEdges(docs, nearDupEdges(docs, tau), maxIters = maxIters)

  /** Keeper label rows for `docs` from an edge set, against the `prior`
    * keeper table (None: no prior state, a batch run) — the one keeper
    * function of batch dedup, the `_incr` queries and
    * [[graft.streaming.DedupStream]], over any near-dup relation (MinHash,
    * SimHash, embedding-cosine):
    *
    *  1. [[contractEdges]] maps every edge endpoint through `prior`, an
    *     exact contraction of the old graph, so old edges are never
    *     revisited;
    *  2. [[ComponentLabels.labelsOf]] labels the contracted graph: an edge
    *     set within `spark.sql.autoBroadcastJoinThreshold` (16 bytes an
    *     edge) by union-find on the driver, a larger one by the
    *     [[componentLabels]] fixpoint — exact component minima either way;
    *  3. the rows: every doc of `docs` (its contracted component's
    *     minimum; self when it is no contracted node — an isolated doc, or
    *     one the prior already labels, whose prior row then wins under
    *     [[resolveKeepers]]) plus every prior doc whose root moved to a
    *     smaller merged minimum.
    *
    * With a prior the rows are a DELTA: [[resolveKeepers]] over prior ∪
    * rows is the keeper table of old ∪ new edges (spec-asserted, including
    * old-component merges), at a cost proportional to the affected
    * subgraph — at most |edges| contracted edges, and a merge of two
    * million-doc components is ONE of them. With no prior the same
    * expression runs over an empty prior, which Spark's empty-relation
    * pruning removes from the plan: the rows are the keeper table of
    * `docs` itself.
    */
  def keepersFromEdges(docs: DataFrame, edges: DataFrame,
                       prior: Option[DataFrame] = None,
                       maxIters: Int = 25): DataFrame = {
    val labels0 = prior.getOrElse(docs.sparkSession.createDataFrame(
        java.util.Collections.emptyList[Row](), KeeperSchema))
      .select(col("doc_id"), col("keeper_doc_id"))
    val relabel = ComponentLabels.labelsOf(contractEdges(labels0, edges), maxIters)
    // edge-touched docs the prior does not know are contracted-graph nodes
    // under their own id; isolated docs — the corpus majority — label self
    // (a broadcast join whenever the labels came back driver-sized)
    val docRows = docs.select(col("doc_id"))
      .join(relabel, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("keeper_doc_id"))
    // prior docs change label iff their root was relabeled to a smaller
    // merged-component minimum
    val moved = relabel.where(col("label") =!= col("doc_id"))
      .select(col("doc_id").as("keeper_doc_id"), col("label"))
    docRows.union(labels0.join(moved, Seq("keeper_doc_id"))
      .select(col("doc_id"), col("label").as("keeper_doc_id")))
  }

  /** (doc_id, keeper_doc_id): the schema of keeper label rows. */
  private[graft] val KeeperSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("keeper_doc_id", LongType)))

  /** The keeper table of a union of label rows — a prior table and the
    * [[keepersFromEdges]] rows of later appends: per doc_id the MINIMUM
    * keeper. In an append-only graph a component's minimum only falls as
    * components merge, so on consistent state the minimum is the newest
    * row; and a re-ingested doc's self row loses to its prior label.
    */
  def resolveKeepers(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id")).agg(min(col("keeper_doc_id")).as("keeper_doc_id"))

  /** Contraction of the OLD near-dup graph under its label table — the
    * first step of [[keepersFromEdges]]: every new edge's endpoints
    * are mapped to their existing component label (keeper), endpoints
    * unknown to `labels0` (brand-new docs) map to themselves, and edges
    * that collapse within one old component drop out. The result is an
    * edge set over old component ROOTS and new doc ids only — size ≤ the
    * new-edge batch, never proportional to the old graph (spec-asserted).
    *
    * This contraction is EXACT, not approximate: `labels0` assigns every
    * old doc the MIN doc_id of its old component, so (a) connectivity of
    * the union graph is preserved — two docs are connected in
    * old ∪ new iff their images are connected in the contracted graph —
    * and (b) minima are preserved — the min over a merged component's
    * contracted nodes IS the min over all its member doc ids, because
    * each old root already is its component's minimum.
    */
  private[graft] def contractEdges(labels0: DataFrame,
                                   newEdges: DataFrame): DataFrame = {
    val la = labels0.select(col("doc_id").as("doc_a"), col("keeper_doc_id").as("la"))
    val lb = labels0.select(col("doc_id").as("doc_b"), col("keeper_doc_id").as("lb"))
    newEdges.select(col("doc_a"), col("doc_b"))
      .join(la, Seq("doc_a"), "left")
      .join(lb, Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
        coalesce(col("lb"), col("doc_b")).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
  }

  /** Connected-component labels over an undirected adjacency table (both
    * edge directions present) via ALTERNATING LARGE-STAR / SMALL-STAR — the
    * canonical MapReduce CC algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Each round rewires the
    * edge set toward per-component stars centered on the component minimum:
    *
    *   large-star(u): every neighbor v > u reconnects to
    *                  m(u) = min(Γ(u) ∪ {u});
    *   small-star(u): every smaller neighbor (and u itself) reconnects to
    *                  min(Γ⁻(u)).
    *
    * Converges in O(log² n) rounds worst-case, ~log₂(diameter) in practice
    * (the high-diameter spec asserts this on a 10k path with adversarially
    * permuted ids — the round-3 propagate+pointer-jump formulation
    * stagnated to Θ(diameter) there, because a region minimum only extends
    * its reach O(1) hops per round once label chains stop composing).
    * Returns the (doc_id, label) table and the number of rounds.
    *
    * This is the route for edge sets that do NOT fit one node: the keeper
    * paths reach it through [[ComponentLabels.labelsOf]], which solves an
    * edge set within `spark.sql.autoBroadcastJoinThreshold` on the driver
    * instead (same labels; ~16 fewer jobs on a one-round graph) and hands
    * everything larger — or everything, at a threshold ≤ 0 — to this loop.
    *
    * Two structural rules for ANY Spark fixpoint loop, both load-bearing:
    *  - eager checkpoint per round, or the logical plan doubles per round
    *    (plan analysis explodes exponentially — NOTES #12);
    *  - checkpoint with STATS truncation ([[GraftColumnBridge
    *    .localCheckpointStatsFresh]]): localCheckpoint keeps the
    *    pre-checkpoint plan's stats, whose sizeInBytes MULTIPLIES through
    *    each round's joins — the estimate's bit-length doubles per round
    *    and Catalyst ends up Karatsuba-multiplying million-bit BigIntegers
    *    (measured: 0.3 s → 80 s per round by round 23).
    */
  private[graft] def componentLabels(adj: DataFrame,
                                     maxIters: Int): (DataFrame, Int) = {
    import org.apache.spark.sql.GraftColumnBridge.localCheckpointStatsFreshLazy
    // the fixpoint iterates ONLY over edge-touched nodes — O(|E|) per
    // round, not O(N): at corpus scale near-dups are a small fraction of
    // documents, and the isolated majority trivially keeps keeper=self
    // (joined back once by the caller)
    val nodes = adj.select(col("doc_a").as("doc_id")).distinct()
    // canonical undirected edge set: (hi, lo) with hi > lo, no self loops.
    // Round 8: checkpoints in the loop are LAZY (plan still truncated to a
    // LogicalRDD leaf each round, so the plan-doubling and stats-inflation
    // rules in the scaladoc above still hold) — each round's ONE checksum
    // aggregate materializes the round's edge set as a side effect, where
    // the eager form paid two checkpoint jobs PLUS the checksum job per
    // round. Multiple references to a lazy leaf are safe: one RDD means
    // each shuffle dependency is scheduled once per shuffle id.
    var e = localCheckpointStatsFreshLazy(
      adj.where(col("doc_a") > col("doc_b"))
        .select(col("doc_a").as("hi"), col("doc_b").as("lo")).distinct())
    var it = 0
    // cheap per-round convergence signal: (count, sum of row hashes) — one
    // aggregate, no join. A checksum match is CONFIRMED with a real
    // set-equality (exceptAll) before terminating, so a hash-sum collision
    // can only cost one extra confirmation round, never a wrong result.
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("hi"), col("lo")).cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    // the initial checksum doubles as the edge-free-corpus check and as
    // the materializing action of the initial checkpoint (was a separate
    // limit(1).count job)
    var prevChk = checksum(e)
    var converged = prevChk._1 == 0L
    while (!converged && it < maxIters) {
      // ---- large-star ----
      val a = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val m = a.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val eL = localCheckpointStatsFreshLazy(
        a.join(m, "u").where(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo"))
          .where(col("hi") > col("lo")).distinct())
      // ---- small-star ----
      val aMinus = eL.select(col("hi").as("u"), col("lo").as("v"))
      val m2 = aMinus.groupBy(col("u")).agg(min(col("v")).as("m"))
      val eNew = localCheckpointStatsFreshLazy(
        aMinus.join(m2, "u").where(col("v") =!= col("m"))
          .select(col("v").as("hi"), col("m").as("lo"))
          .union(m2.select(col("u").as("hi"), col("m").as("lo")))
          .where(col("hi") > col("lo")).distinct())
      // converged when a full (large; small) pass is the identity — true
      // exactly at the star fixpoint. The checksum aggregate is the ONE
      // job of the round (it materializes eL and eNew through their lazy
      // checkpoints); on a match, confirm with the real set equality once.
      val chk = checksum(eNew)
      converged = chk._1 == prevChk._1 &&
        chk._2.compareTo(prevChk._2) == 0 &&
        eNew.exceptAll(e).limit(1).count() == 0L
      prevChk = chk
      // dropped round tables (e, eL) aren't unpersisted here: their blocks
      // belong to localCheckpoint RDDs (explicit unpersist would destroy
      // truncated lineage); ContextCleaner frees them once unreferenced
      e = eNew
      it += 1
    }
    // star set → labels: every non-center appears as hi with its center as
    // lo (min(lo) guards the maxIters-cutoff case); centers label themselves.
    // No checkpoint here (round 8): the label plan is two leaf-sized nodes
    // deep and its single consumer joins it exactly once — an eager
    // materialization bought nothing.
    val starOf = e.groupBy(col("hi").as("doc_id")).agg(min(col("lo")).as("label"))
    val labels = nodes.join(starOf, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("label"))
    (labels, it)
  }
}
