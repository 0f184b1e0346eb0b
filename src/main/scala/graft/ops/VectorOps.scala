package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding corpus `embeddings(vec_id, embedding:
  * array<float>, label)`. All math is Column-expression HOFs (zip_with /
  * aggregate) — codegen'd, no UDFs.
  *
  * Scale shape: brute force is the correctness baseline (O(Q·N), broadcast
  * the query side); the LSH and IVF variants bound the scan to matching
  * buckets/probed lists so N never fans out per query.
  */
object VectorOps {

  private def toDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Codegen'd native dot product (graft.functions.DotProduct) — same
    * left-to-right summation order as the HOF formulation it replaced
    * (`aggregate(zip_with(a,b,_*_), 0.0, _+_)`), so results are
    * bit-identical, just without interpreted lambdas + an intermediate
    * array per comparison.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k: queries broadcast against the corpus.
    * Query set = vec_id < nQueries (deterministic).
    */
  def cosineTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = emb.select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val scored = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("qe"), col("e")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic hyperplane components via splitmix64 — reproducible
    * across runs with no RNG state; materialized as one nested array
    * LITERAL so the projection is a pair of HOF loops, not dim×bits×tables
    * scalar expressions (which would explode codegen size).
    */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private[graft] def planes(dim: Int, nBits: Int, nTables: Int): Seq[Seq[Double]] =
    (0 until nTables * nBits).map { j =>
      (0 until dim).map(d => splitmix64(j.toLong * 100003 + d).toDouble / Long.MaxValue)
    }

  /** SQL array literals of the hyperplanes (shortest round-trip digits —
    * a decimal literal parses back to the identical double), so an external
    * engine can recompute the projections BIT-exactly: its sequential
    * list_dot_product matches [[graft.functions.DotProduct]]'s left-to-right
    * summation, making the LSH bucket assignment independently checkable.
    */
  private[graft] def planeSqlLiterals(dim: Int, nBits: Int, nTables: Int): Seq[String] =
    planes(dim, nBits, nTables).map(_.map(d => java.lang.Double.toString(d))
      .mkString("[", ", ", "]"))

  /** Multi-table sign-random-projection codes: (vec_id, table_id, bucket).
    * L independent tables of nBits hyperplanes each — the standard LSH
    * recall lever (P(candidate) = 1-(1-p^nBits)^L).
    */
  def lshCodes(emb: DataFrame, dim: Int, nBits: Int, nTables: Int): DataFrame = {
    val e = toDouble(col("embedding"))
    val planesLit = typedLit(planes(dim, nBits, nTables))
    // ONE codegen'd expression computes every table's bucket code (the
    // round-2 HOF formulation — transform + aggregate(slice(...)) — ran its
    // lambdas interpreted per plane; SignProjectBuckets is bit-identical to
    // it, spec-asserted, with a flat loop nest and no intermediate arrays)
    val codes = graft.functions.VectorExpressions
      .sign_project_buckets(e, planesLit, nBits, nTables)
    emb.select(col("vec_id"), col("embedding"),
      posexplode(codes).as(Seq("table_id", "bucket")))
  }

  /** ANN via multi-table LSH: candidates share a (table, bucket) with the
    * query in ANY table; union-distinct, then exact cosine on candidates
    * only. The scan is bounded by bucket sizes, never O(N) per query.
    */
  def annLsh(emb: DataFrame, dim: Int, nQueries: Int = 10, k: Int = 5,
             nBits: Int = 10, nTables: Int = 8): DataFrame = {
    val base = emb.select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
    val coded = CacheLedger.track(lshCodes(emb, dim, nBits, nTables)
      .select(col("vec_id"), col("table_id"), col("bucket"))
      // reused by the candidate join AND the query-code branch — persist
      // (nTables small rows per vector) instead of recomputing the
      // projection scan per branch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val qCodes = coded.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("table_id"), col("bucket"))
    val candidates = coded.join(broadcast(qCodes), Seq("table_id", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val scored = candidates
      .join(base, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cosine", dot(col("qe"), col("e")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (the vector-space analog of
    * MinHash dedup): candidates share an LSH (table, bucket), exact cosine
    * verifies at threshold `tau`. Candidate space is bucket-bounded — never
    * the O(N²) all-pairs — which makes this the 100-TB-scale shape; recall
    * vs brute force is the standard (1-(1-p^nBits)^nTables) LSH trade,
    * asserted on clustered data in the spec.
    */
  def cosineNearDups(emb: DataFrame, dim: Int, tau: Double = 0.4,
                     nBits: Int = 10, nTables: Int = 8): DataFrame = {
    val base = emb.select(col("vec_id"), toDouble(col("embedding")).as("e"))
      .withColumn("nrm", norm(col("e")))
    val coded = CacheLedger.track(lshCodes(emb, dim, nBits, nTables)
      .select(col("vec_id"), col("table_id"), col("bucket"))
      // a/b self-join branches would each recompute the projections
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = coded.select(col("table_id"), col("bucket"), col("vec_id").as("vec_a"))
    val b = coded.select(col("table_id"), col("bucket"), col("vec_id").as("vec_b"))
    val cands = a.join(b, Seq("table_id", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    cands
      .join(base.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("nrm").as("na")), Seq("vec_a"))
      .join(base.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("nrm").as("nb")), Seq("vec_b"))
      .withColumn("cosine", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .where(col("cosine") >= tau)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // ------------------------------------------------------------ IVF ANN

  /** A trained coarse-quantizer centroid, driver-resident (≤ nCells of
    * them by construction — control-plane data, like Spark MLlib's KMeans
    * cluster centers).
    */
  private[graft] final case class Centroid(cell: Int, ce: Array[Double], cn: Double)

  /** Fixed-point quantization scale for the deterministic Lloyd mean:
    * components are summed as `floor(v·1e6 + 0.5)` longs, so the update is
    * EXACT integer arithmetic — associative, commutative, identical on any
    * partitioning/cluster size, and bit-reproducible by the DuckDB oracle.
    */
  private[graft] val MeanScale = 1e6

  /** DuckDB-portable 60-bit seed hash (md5-prefix, the SimHash/HLL family). */
  private def seedHash(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Seed selection is a global top-k (smallest hash): orderBy(...).limit(k)
    * plans as TakeOrderedAndProject — a tree-reduced per-partition top-k,
    * never a single-partition global window (the round-1 scale-killer).
    */
  private[graft] def kmeansSeedQuery(base: DataFrame, nCells: Int): DataFrame =
    base.select(col("vec_id"), col("e"))
      .orderBy(seedHash(col("vec_id")), col("vec_id")).limit(nCells)

  private def centroidLit(cs: Seq[Centroid]): Column =
    typedLit(cs.map(c => (c.cell, c.ce.toSeq, c.cn)))

  /** Zero-shuffle per-row cell assignment: argmax cosine over the ≤ nCells
    * driver-collected centroids embedded as ONE array literal, folded with
    * array_max over (cosine, -cell) structs (ties → smallest cell). This
    * replaces the round-2 `crossJoin(broadcast) + row_number over
    * Window.partitionBy(vec_id)` — which shuffled the nCells-expanded corpus
    * once per Lloyd round — with a pure per-row projection.
    */
  private def bestCell(e: Column, nrm: Column, cs: Seq[Centroid]): Column = {
    val best = array_max(transform(centroidLit(cs), c =>
      struct((dot(e, c.getField("_2")) / (nrm * c.getField("_3"))).as("c"),
        (-c.getField("_1")).as("nc"))))
    -best.getField("nc")
  }

  /** Sequential (left-to-right) self-dot — matches DuckDB list_dot_product
    * and the codegen'd [[graft.functions.DotProduct]] bit-for-bit.
    */
  private def seqNorm(a: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    math.sqrt(s)
  }

  /** Deterministic k-means-lite trainer (Lloyd): seeds = the nCells vectors
    * with the smallest portable hash, then `iters` rounds of
    * assign → fixed-point mean. Each round is ONE narrow N-row shuffle: the
    * zero-shuffle argmax assignment feeds [[graft.functions.VectorSumL]]
    * (8·dim-byte partials per partition), and the ≤ nCells (sum, count)
    * rows are collected to the driver where the new centroids are computed
    * as `sum / (n · MeanScale)` — every arithmetic step IEEE-exact or
    * integer-exact, so the trained centroids are independent of execution
    * order AND recomputable bit-for-bit by an external engine (the
    * `vec_ann_ivf` oracle replays the full trainer in DuckDB).
    *
    * Cells that lose all members drop out (both engines drop the empty
    * group identically).
    */
  def trainCentroids(base: DataFrame, nCells: Int, iters: Int = 3,
                     trainSampleMod: Int = 1): Seq[Centroid] = {
    // Corpus-scale lever: real IVF trainers fit the quantizer on a sample,
    // not the full corpus. The sample is DETERMINISTIC and engine-portable
    // (seed-hash % mod == 0), unlike Bernoulli sample(): the oracle can
    // replicate it, and the trained centroids stay bit-reproducible.
    // mod=1 (default, used by the oracled query) trains on everything.
    val train =
      if (trainSampleMod <= 1) base
      else base.where(pmod(seedHash(col("vec_id")), lit(trainSampleMod)) === 0)
    val seeds = kmeansSeedQuery(train, nCells).collect()
    var cents: Seq[Centroid] = seeds.zipWithIndex.map { case (r, i) =>
      val e = r.getSeq[Double](1).toArray
      Centroid(i, e, seqNorm(e))
    }.toSeq
    for (_ <- 0 until iters) {
      val sums = train
        .withColumn("cell", bestCell(col("e"), col("nrm"), cents))
        .groupBy(col("cell"))
        .agg(graft.functions.VectorSumL.vec_lsum(col("e"), MeanScale).as("s"),
          count(lit(1)).as("n"))
        .collect()
      cents = sums.map { r =>
        val s = r.getSeq[Long](1).toArray
        val n = r.getLong(2)
        val ce = s.map(x => x.toDouble / (n.toDouble * MeanScale))
        Centroid(r.getInt(0), ce, seqNorm(ce))
      }.sortBy(_.cell).toSeq
    }
    cents
  }

  /** IVF-style ANN: k-means-lite coarse cells, queries probe the nProbe
    * nearest centroids, exact cosine only over those inverted lists. The
    * corpus side never expands or shuffles: assignment is a per-row argmax
    * projection, probes broadcast, and the only exchange below the final
    * per-query rank is the candidate set keyed on query_id.
    */
  def annIvf(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
             nProbe: Int = 2, nCells: Int = 16, iters: Int = 3,
             trainSampleMod: Int = 1): DataFrame = {
    // scanned iters+2 times (training collects + final query): persist the
    // projected (id, e, nrm) once, spill-to-disk beyond memory. At corpus
    // scale, set trainSampleMod so the TRAINER touches a deterministic
    // sample and only the final assignment scans everything.
    val base = CacheLedger.track(
      emb.select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", norm(col("e")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cents = trainCentroids(base, nCells, iters, trainSampleMod)
    val cLit = centroidLit(cents)

    val assigned = base.withColumn("cell", bestCell(col("e"), col("nrm"), cents))

    // per-query probe list: sort the ≤ nCells (−cosine, cell) structs,
    // take nProbe — again a per-row projection over the centroid literal.
    // NaN policy: a NaN cosine (zero-norm query or centroid) maps to −∞
    // via nanvl so it ranks LAST for probing — Spark's array_sort puts NaN
    // last ascending while DuckDB's ORDER BY DESC puts NaN first, so
    // without the guard the two engines would pick different probe sets
    // for degenerate vectors (the oracle applies the same CASE isnan rule)
    val probeCells = slice(array_sort(transform(cLit, c =>
      struct((-nanvl(dot(col("qe"), c.getField("_2")) /
        (col("qn") * c.getField("_3")), lit(Double.NegativeInfinity))).as("nc"),
        c.getField("_1").as("cell")))), 1, nProbe)
    val probes = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
      .withColumn("cell", explode(transform(probeCells, p => p.getField("cell"))))

    // each vector lives in exactly ONE cell and a query's probed cells are
    // distinct, so the join yields each (query, vector) at most once
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("qe"), col("e")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }
}
