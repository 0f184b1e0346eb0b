package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DocOps

/** Round-8 optimization equivalence proofs: every operator whose INTERNALS
  * changed for performance is pinned bit-for-bit against its previous
  * formulation here (the oracles re-prove the same thing externally).
  */
class OptimizationEquivalenceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("opt-equivalence")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  /** The round-2→7 simhash formulation, verbatim: explode the word stream,
    * per-(doc, word) tf, md5Hash60 per word, 60 tf-weighted bit sums, sign
    * threshold. The round-8 projection must reproduce it bit-for-bit.
    */
  private def simhashReference(d: DataFrame): DataFrame = {
    val wordTf = d
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .withColumn("h",
        conv(substring(md5(col("word")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until DocOps.SimhashBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, col("tf"))
        .otherwise(-col("tf"))).as(s"b$i")
    }
    val agg = wordTf.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until DocOps.SimhashBits).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i))
        .otherwise(lit(0L))
    }.reduce[org.apache.spark.sql.Column](_.bitwiseOR(_))
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  private def fpMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("simhash projection ≡ aggregation formulation on the sf0.001 corpus") {
    val got = fpMap(DocOps.simhash(docs))
    val want = fpMap(simhashReference(docs))
    assert(got.size === want.size)
    assert(got === want)
  }

  test("simhash projection ≡ aggregation formulation on adversarial rows") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      1L -> "",                                  // split("") = [""] → md5("")
      2L -> "   ",                               // trims to "" → [""]
      3L -> "\ta b\t",                           // trim() strips spaces only: leading \t survives → ["", "a", "b"]
      4L -> "one",
      5L -> "a a a a b",                         // tf weighting vs per-occurrence sums
      6L -> "x y x y",                           // exact ± cancellation → counter 0 → bit clear
      7L -> "café naïve 中文 中文", // multi-byte UTF-8
      8L -> "emoji 😀 pair 😀",           // astral (surrogate pair)
      9L -> "nbsp glued words",             // NBSP is \s in neither engine? (java \s excludes NBSP)
      10L -> "line\nbreaks\ttabs  doubled spaces",
      11L -> (1 to 3000).map(i => s"w${i % 7}").mkString(" ")) // heavy tf skew
      .toDF("doc_id", "text")
    assert(fpMap(DocOps.simhash(rows)) === fpMap(simhashReference(rows)))
  }

  test("simhash drops null-text rows exactly like the explode formulation") {
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val d = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "hello world"), Row(2L, null)), schema)
    val got = fpMap(DocOps.simhash(d))
    val want = fpMap(simhashReference(d))
    assert(got.keySet === Set(1L))
    assert(got === want)
  }

  /** The pre-round-8 verifyJaccard, verbatim: three full passes over the
    * shingle table (counts aggregation + both intersection sides).
    */
  private def verifyJaccardReference(candidates: DataFrame, sh: DataFrame,
                                     tau: Double): DataFrame = {
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shA = sh.select(col("doc_id").as("doc_a"), col("s"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("s"))
    val pairInter = candidates.join(shA, Seq("doc_a")).join(shB, Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    pairInter
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  test("verifyJaccard candidate-pruned ≡ full-table formulation") {
    val sh = DocOps.shingles(docs)
    // candidate set: real LSH candidates of the corpus, plus a planted
    // non-near pair (exercises the below-tau path through both forms)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0))
    val s = spark
    import s.implicits._
    val planted = Seq((ids(0), ids(1))).toDF("doc_a", "doc_b")
    val cands = DocOps.lshCandidates(
      DocOps.lshBands(DocOps.minhashSignatures(sh)))
      .union(planted).distinct()
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toVector
    val got = key(DocOps.verifyJaccard(cands, sh, 0.5))
    val want = key(verifyJaccardReference(cands, sh, 0.5))
    assert(got === want)
    assert(got.nonEmpty, "corpus should contain verified near-dup pairs")
    graft.ops.CacheLedger.release()
  }

  test("ShingleStrings kernel ≡ transform/slice/concat_ws (+array_distinct) formulation") {
    import graft.functions.ShingleStrings.shingle_strings
    val s = spark
    import s.implicits._
    val rows = docs.select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ Seq(
      (9001L, "a b c d e"),
      (9002L, "x x x x x x"),              // duplicate shingles → distinct path
      (9003L, "one two three"),            // exactly k words
      (9004L, "short two"),                // below k (caller-guarded, still compared)
      (9005L, "café 中文 😀 naïve x"), // multi-byte + astral
      (9006L, "a b c d e f"))         // NBSP inside a "word"
    val d = rows.toDF("doc_id", "text")
    for (k <- Seq(2, 3, 13); distinct <- Seq(true, false)) {
      val words = split(trim(col("text")), "\\s+")
      val ref0 = transform(sequence(lit(1), size(words) - (k - 1)),
        i => concat_ws(" ", slice(words, i, lit(k))))
      val ref = if (distinct) array_distinct(ref0) else ref0
      val got = d.where(size(words) >= k)
        .select(col("doc_id"), shingle_strings(words, k, distinct).as("a"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val want = d.where(size(words) >= k)
        .select(col("doc_id"), ref.as("a"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got === want, s"k=$k distinct=$distinct")
    }
  }

  test("keepersFromEdges with a prior: resolved rows = full keepers") {
    val s = spark
    import s.implicits._
    def words(from: Int, to: Int): String =
      (from to to).map(i => s"tok$i").mkString(" ")
    // old corpus: two components {10,11} (root 10) and {21,22} (root 21)
    // + isolated 30
    val old = Seq((10L, words(1, 20)), (11L, words(1, 20)),
      (21L, words(100, 119)), (22L, words(100, 119)),
      (30L, words(300, 319))).toDF("doc_id", "text")
    val labels0 = DocOps.keepersFromEdges(old, DocOps.simhashEdges(old))
      .localCheckpoint(true)
    // append: doc 5's id is SMALLER than root 10 and shares its text, so
    // the merged component minimum MOVES — the old docs {10, 11} must be
    // RELABELED to 5 (the rows' old-doc branch); 50 extends {21,22}
    // without moving its root; 60 joins nobody
    val app = Seq((5L, words(1, 20)), (50L, words(100, 119)),
      (60L, words(500, 519))).toDF("doc_id", "text")
    val all = old.union(app)
    val (edges, _) = DocOps.simhashEdgesAppend(
      Some(DocOps.simhashEdgesAppend(None, old)._2), app)
    def lab(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = lab(DocOps.simhashKeepers(all))
    val rows = DocOps.keepersFromEdges(app, edges, Some(labels0))
    val delta = lab(rows)
    // the root move relabels BOTH old members of {10,11}; the unmoved
    // component and the isolated old doc contribute no rows
    assert(delta.get(10L) === Some(5L) && delta.get(11L) === Some(5L))
    assert(!delta.contains(21L) && !delta.contains(22L) && !delta.contains(30L))
    // rows only for appended docs + relabeled old docs
    assert(delta.keySet.intersect(Set(10L, 11L, 21L, 22L, 30L))
      .forall(d => full(d) !== lab(labels0)(d)))
    // resolution: per doc the minimum of labels0 and the rows
    assert(lab(DocOps.resolveKeepers(labels0.union(rows))) === full)
    assert(full(10L) === 5L && full(50L) === 21L && full(60L) === 60L)
    // appended docs are always present in the rows
    assert(Set(5L, 50L, 60L).subsetOf(delta.keySet))
    graft.ops.CacheLedger.release()
  }

  /** The sf0.001 corpus plus adversarial rows: a 5k-copy group of a corpus
    * text (so it also merges with the corpus doc), identical texts under
    * k words (no shingles, one fingerprint), an empty text and a null text.
    */
  private def adversarialCorpus(): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val copied = base.where(col("doc_id") === 7L).first().getString(1)
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = true),
      StructField("text", StringType, nullable = true)))
    val rows = (0 until 5000).map(i => Row(10000L + i, copied)) ++ Seq(
      Row(20000L, "two words"), Row(20001L, "two words"), Row(20002L, "one"),
      Row(20003L, ""), Row(20004L, null))
    base.union(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  private def keeperMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Appends `batches` one after another from EMPTY state — each batch's
    * edges and index rows from `step(state, batch)`, its label rows from
    * keepersFromEdges against the labels resolved so far — and returns the
    * labels resolved by per-doc minimum ([[DocOps.resolveKeepers]]).
    */
  private def chained(batches: Seq[DataFrame],
                      step: (Option[(DataFrame, DataFrame)], DataFrame) => (DataFrame, DataFrame))
      : Map[Long, Long] = {
    val init = (Option.empty[(DataFrame, DataFrame)], Option.empty[DataFrame])
    val labels = batches.foldLeft(init) {
      case ((state, labels0), batch) =>
        val (edges, idx) = step(state, batch)
        val rows = DocOps.keepersFromEdges(batch, edges, labels0)
        val resolved = DocOps.resolveKeepers(labels0.fold(rows)(_.union(rows)))
        val next = state match {
          case None => (batch, idx)
          case Some((d, i)) => (d.union(batch), i.union(idx))
        }
        (Some((next._1.localCheckpoint(true), next._2.localCheckpoint(true))),
          Some(resolved.localCheckpoint(true)))
    }._2
    labels.fold(Map.empty[Long, Long])(keeperMap)
  }

  private def splits(d: DataFrame): Seq[Seq[DataFrame]] = (1 to 3).map { n =>
    val part = pmod(xxhash64(lit(20260417L), col("doc_id")), lit(n.toLong))
    (0 until n).map(i => d.where(part === i.toLong))
  }

  test("MinHash: chained appends from empty state ≡ dedupKeepers (1, 2, 3 batches)") {
    val d = adversarialCorpus().localCheckpoint(true)
    val full = keeperMap(DocOps.dedupKeepers(d, 0.5))
    assert(full(10000L) === full(7L) && full(20000L) === 20000L && full(20004L) === 20004L)
    for (batches <- splits(d)) {
      val got = chained(batches, DocOps.nearDupEdgesAppend(_, _, 0.5))
      assert(got === full, s"${batches.size} batches")
    }
    graft.ops.CacheLedger.release()
  }

  test("SimHash: chained appends from empty state ≡ simhashKeepers (1, 2, 3 batches)") {
    val d = adversarialCorpus().localCheckpoint(true)
    val full = keeperMap(DocOps.simhashKeepers(d))
    assert(full(10000L) === full(7L) && full(20001L) === 20000L && full(20004L) === 20004L)
    for (batches <- splits(d)) {
      val got = chained(batches, (state, b) => DocOps.simhashEdgesAppend(state.map(_._2), b))
      assert(got === full, s"${batches.size} batches")
    }
    graft.ops.CacheLedger.release()
  }
}
