package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Extract, ExtractTurn, ResultJson}

/** The per-turn text-equality contract (FIXTURES.md §3): run the engine over
  * transcripts_t1 and require 100% byte equality with the frozen golden
  * outputs produced by the reference's own Python functions.
  */
class GoldenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("golden-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private case class Golden(inputWidth: Int, inputHeight: Int, cellsJson: Option[String],
                            md: Option[String], mdNohf: Option[String], filtered: Boolean,
                            spansJson: String)

  test("engine output equals reference golden on every t1 turn") {
    val expected = spark.read.parquet("src/test/resources/expected_t1.parquet")
      .collect()
      .map { r =>
        (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> Golden(
          r.getAs[Int]("input_width"), r.getAs[Int]("input_height"),
          Option(r.getAs[String]("cells_json")), Option(r.getAs[String]("md")),
          Option(r.getAs[String]("md_nohf")), r.getAs[Boolean]("filtered"),
          r.getAs[String]("spans_json"))
      }.toMap

    val results = Extract.run(spark, "data/transcripts_t1").collect()
    assert(results.length === expected.size)

    var mismatches = 0
    results.foreach { res =>
      val key = (res.conv_id, res.turn_idx)
      val g = expected(key)
      val got = Golden(res.input_width, res.input_height, res.cells_json, res.md,
        res.md_nohf, res.filtered, ResultJson.spansJson(res.spans))
      if (got != g) {
        mismatches += 1
        if (mismatches <= 5) {
          info(s"MISMATCH at $key:")
          info(s"  got:      $got")
          info(s"  expected: $g")
        }
      }
      assert(res.status === "ok", s"unexpected error row at $key: ${res.error_reason}")
    }
    assert(mismatches === 0, s"$mismatches / ${results.length} turns differ from golden")
  }

  test("output order is data-defined and stable across parallelism (O1)") {
    val s = spark
    import s.implicits._
    val a = Extract.run(spark, "data/transcripts_t1")
      .select($"conv_id", $"turn_idx").as[(String, Int)].collect().sorted.toVector
    val turns = Extract.readTranscripts(spark, "data/transcripts_t1")
    val b = Extract.extract(turns.repartition(13))
      .select($"conv_id", $"turn_idx").as[(String, Int)].collect().sorted.toVector
    assert(a === b)
  }

  test("resume anti-join skips processed keys (J1/Q5)") {
    val turns = Extract.readTranscripts(spark, "data/transcripts_t1")
    val processed = turns.limit(100).select("conv_id", "turn_idx")
    val remaining = Extract.resumeFrom(turns, processed.toDF())
    assert(remaining.count() === turns.count() - 100)
  }

  test("checkpointed run is resumable and idempotent (Q3-Q5)") {
    val out = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile.getAbsolutePath
    val m1 = Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    assert(m1("rows").asInstanceOf[Long] === 1163L)
    def lineageState(): Seq[(String, Long, Long)] = {
      def files(dir: String) = {
        val d = new java.io.File(s"$out/$dir")
        if (!d.exists()) Seq.empty
        else d.listFiles().toSeq.filter(_.getName.startsWith("part-"))
          .map(f => (s"$dir/${f.getName}", f.length(), f.lastModified()))
          .sortBy(_._1)
      }
      files("lineage") ++ files("lineage_buckets")
    }
    val afterFirst = lineageState()
    // second run: everything already processed -> zero-row increment
    val m2 = Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    assert(m2("rows").asInstanceOf[Long] === 0L)
    // incremental maintenance: a zero-row resume leaves every lineage file
    // untouched (same names, sizes, mtimes) — no full-table recompute pass
    assert(lineageState() === afterFirst)
    assert(spark.read.parquet(s"$out/results").count() === 1163L)
    val lineage = spark.read.parquet(s"$out/lineage")
    assert(lineage.agg(org.apache.spark.sql.functions.sum("rows_out"))
      .collect()(0).getLong(0) === 1163L)
    // deterministic bucket lineage: same totals, error rows carried (Q4)
    val buckets = spark.read.parquet(s"$out/lineage_buckets")
    val tot = buckets.agg(
      org.apache.spark.sql.functions.sum("rows_out"),
      org.apache.spark.sql.functions.sum("error_rows")).collect()(0)
    assert(tot.getLong(0) === 1163L)
    val errTotal = spark.read.parquet(s"$out/results")
      .where(org.apache.spark.sql.functions.col("status") === "error").count()
    assert(tot.getLong(1) === errTotal)
  }

  test("error-row re-parse restores the clean state byte-for-byte (Q4 loop)") {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum => fsum, xxhash64}
    val out = java.nio.file.Files.createTempDirectory("graft-reparse-spec")
      .toFile.getAbsolutePath
    Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    // manifest-aware reads: inject/reparse rewrites retain the replaced
    // files on disk for time travel (round 7), so a plain dir read would
    // see every historical version at once
    def snapshot() = Extract.readResults(spark, out)
      .orderBy("conv_id", "turn_idx").collect().toSeq
    val clean = snapshot()
    val cleanBuckets = spark.read.parquet(s"$out/lineage_buckets")
      .orderBy("bucket").collect().toSeq

    // corrupt a deterministic ~1/7 of the batch to the transient-error shape
    val pred = pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(7)) === 0
    val nInjected = Extract.injectTransientErrors(spark, out, pred)
    assert(nInjected > 0L)
    val degradedErrors = Extract.readResults(spark, out)
      .where(col("status") === "error").count()
    assert(degradedErrors >= nInjected)
    assert(snapshot() !== clean)

    // fix: re-parse every error key in place
    val m = Extract.reparseErrors(spark, "data/transcripts_t1", out)
    assert(m("rows").asInstanceOf[Long] === degradedErrors)
    assert(snapshot() === clean)

    // lineage reconciles: the delta-patched buckets equal both the clean
    // run's table and an independent full recompute
    val buckets = spark.read.parquet(s"$out/lineage_buckets")
      .orderBy("bucket").collect().toSeq
    assert(buckets === cleanBuckets)
    assert(buckets === Extract.bucketLineage(Extract.readResults(spark, out))
      .orderBy("bucket").collect().toSeq)
    // partition lineage: the re-parse batch is its own run; totals reconcile
    val lin = spark.read.parquet(s"$out/lineage")
    assert(lin.where(col("run_id") === 0L).agg(fsum("rows_out"))
      .collect()(0).getLong(0) === 1163L)
    assert(lin.where(col("run_id") === 1L).agg(fsum("rows_out"))
      .collect()(0).getLong(0) === degradedErrors)
  }

  test("lineage self-heals after a crash between results append and lineage write") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val out = java.nio.file.Files.createTempDirectory("graft-heal").toFile.getAbsolutePath
    Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    val cleanBuckets = spark.read.parquet(s"$out/lineage_buckets")
      .orderBy("bucket").collect().toSeq
    // simulate the crash window: results written, lineage not
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(s"$out/lineage_buckets"))
    // a zero-row resume must DETECT the broken invariant and recompute
    val m = Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    assert(m("rows").asInstanceOf[Long] === 0L)
    assert(spark.read.parquet(s"$out/lineage_buckets")
      .orderBy("bucket").collect().toSeq === cleanBuckets)
    assert(spark.read.parquet(s"$out/lineage").agg(fsum("rows_out"))
      .collect()(0).getLong(0) === 1163L)
    // and a stale (undercounting) buckets table trips the same guard
    spark.read.parquet(s"$out/lineage_buckets").where(col("bucket") =!= 0)
      .write.mode("overwrite").parquet(s"$out/lineage_buckets_tmp")
    rmrf(new java.io.File(s"$out/lineage_buckets"))
    new java.io.File(s"$out/lineage_buckets_tmp")
      .renameTo(new java.io.File(s"$out/lineage_buckets"))
    Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    assert(spark.read.parquet(s"$out/lineage_buckets")
      .orderBy("bucket").collect().toSeq === cleanBuckets)
  }

  test("writers refuse a legacy bucket-partitioned results dir untouched") {
    val out = java.nio.file.Files.createTempDirectory("graft-legacy")
    // the layout an older build could write: part-files under bucket=N
    Extract.run(spark, "data/transcripts_t1").limit(20).coalesce(1)
      .write.parquet(s"$out/results/bucket=0")
    def tree(): Seq[(String, Long, Long, Int)] = {
      val ps = java.nio.file.Files.walk(out)
      try ps.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (out.relativize(p).toString, java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis,
          java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(p))))
        .toSeq.sorted
      finally ps.close()
    }
    val before = tree()
    assert(before.exists(_._1.matches("results/bucket=0/part-.*\\.parquet")))
    val writers = Seq[(String, () => Any)](
      "runCheckpointed" -> (() =>
        Extract.runCheckpointed(spark, "data/transcripts_t1", out.toString)),
      "reparseErrors" -> (() =>
        Extract.reparseErrors(spark, "data/transcripts_t1", out.toString)),
      "compactResults" -> (() => Extract.compactResults(spark, out.toString)))
    for ((name, call) <- writers) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("bucket-partitioned layout"), s"$name: $e")
      assert(tree() === before, s"$name touched the legacy dir")
    }
  }

  test("reparse retires only the part-files holding errors") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val base = java.nio.file.Files.createTempDirectory("graft-reparse-files")
    // t1 split into 8 conv_id ranges: one results part-file per range
    val split = s"$base/t1_split"
    Extract.readTranscripts(spark, "data/transcripts_t1").toDF()
      .repartitionByRange(8, col("conv_id")).write.parquet(split)
    val out = s"$base/out"
    Extract.runCheckpointed(spark, split, out)
    def rows() = Extract.readResults(spark, out)
      .orderBy("conv_id", "turn_idx").collect().toSeq
    val clean = rows()
    assert(clean.size === 1163)
    // This spec audits FILE-granularity through plain directory listings,
    // so after each maintenance op expire history down to the current
    // snapshot (retention would otherwise keep the replaced files on disk
    // for time travel — SnapshotSpec covers that contract).
    def files(): Map[String, (Long, Long)] =
      new java.io.File(s"$out/results").listFiles()
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap

    // corrupt one conversation: only the file holding it has error rows
    val n = Extract.injectTransientErrors(spark, out,
      col("conv_id") === "t1-conv-00007")
    assert(n > 0L)
    Extract.expireResultSnapshots(spark, out, retainLast = 1)
    val degraded = files()
    // the exact files holding error rows — the ONLY files reparse may touch
    val errFiles = Extract.readResults(spark, out)
      .withColumn("__f", input_file_name())
      .where(col("status") === "error")
      .select("__f").distinct().collect()
      .map(r => new java.io.File(new java.net.URI(r.getString(0))).getName).toSet
    assert(errFiles.nonEmpty && errFiles.size * 2 <= degraded.size,
      s"${errFiles.size} of ${degraded.size} files hold errors")

    val m = Extract.reparseErrors(spark, "data/transcripts_t1", out)
    assert(m("rows").asInstanceOf[Long] === n)
    assert(m("rewrite_mode") === "file_granular")
    Extract.expireResultSnapshots(spark, out, retainLast = 1)
    assert(rows() === clean)
    // FILE-granular: the error files are gone (replaced by fresh UUID-named
    // parts); every other file survives byte-identical
    val after = files()
    assert(errFiles.forall(!after.contains(_)), "error file not retired")
    for (f <- degraded.keySet -- errFiles)
      assert(after.get(f) === degraded.get(f), s"non-error file $f changed")
    // lineage reconciles with a full recompute over the restored table
    val buckets = spark.read.parquet(s"$out/lineage_buckets")
      .orderBy("bucket").collect().toSeq
    assert(buckets === Extract.bucketLineage(Extract.readResults(spark, out))
      .orderBy("bucket").collect().toSeq)

    // maintenance: compaction preserves rows + lineage and brings the file
    // count (grown by the reparse replacements) down to flatFiles
    Extract.compactResults(spark, out, flatFiles = 4)
    Extract.expireResultSnapshots(spark, out, retainLast = 1)
    assert(rows() === clean)
    assert(files().size <= 4, s"expected <= 4 files, got ${files().size}")
    assert(spark.read.parquet(s"$out/lineage_buckets")
      .orderBy("bucket").collect().toSeq === buckets)
    // and a subsequent resume still sees a consistent table (no heal, no
    // re-extraction)
    val mAfter = Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    assert(mAfter("rows").asInstanceOf[Long] === 0L)
  }

  test("incremental lineage merge equals a full recompute across increments") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt-inc")
    val splitDir = s"$base/first_half"
    val out = s"$base/out"
    // increment 1: a conv_id-prefix subset of t1; increment 2: the rest
    val turns = Extract.readTranscripts(spark, "data/transcripts_t1")
    val half = turns.toDF().where(col("conv_id") < "t1-conv-00060")
    val halfRows = half.count()
    assert(halfRows > 0 && halfRows < 1163)
    half.write.parquet(splitDir)
    val mA = Extract.runCheckpointed(spark, splitDir, out)
    assert(mA("rows").asInstanceOf[Long] === halfRows)
    val mB = Extract.runCheckpointed(spark, "data/transcripts_t1", out)
    assert(mB("rows").asInstanceOf[Long] === 1163L - halfRows)
    // the merged bucket lineage must equal the one-shot recompute over the
    // full results table (sums add, min/max combine — merge is exact)
    val merged = spark.read.parquet(s"$out/lineage_buckets")
      .orderBy("bucket").collect().toSeq
    val full = Extract.bucketLineage(spark.read.parquet(s"$out/results"))
      .orderBy("bucket").collect().toSeq
    assert(merged === full)
    // partition lineage: one appended batch per run, totals reconcile
    val lin = spark.read.parquet(s"$out/lineage")
    assert(lin.select("run_id").distinct().collect().map(_.getLong(0)).sorted
      === Array(0L, 1L))
    assert(lin.agg(org.apache.spark.sql.functions.sum("rows_out"))
      .collect()(0).getLong(0) === 1163L)
  }

  test("fused strict path equals the tree path on every t2 turn") {
    import graft.json.{JArr, PyJson, StrictFast}
    import graft.geom.SmartResize
    import graft.pipeline.PageGeom
    val turns = Extract.readTranscripts(spark, "data/transcripts_t2").collect()
    var fastRows = 0
    var parseFails = 0
    turns.foreach { t =>
      val (origH, origW) = PageGeom.of(t.conv_id, t.turn_idx)
      val (ih, iw) = SmartResize.smartResize(origH, origW)
      val (ih2, iw2) = SmartResize.smartResize(ih, iw)
      val fast = StrictFast.transcode(t.text,
        iw2.toDouble / origW, ih2.toDouble / origH)
      // ParseFail guarantee: the tree parse must throw on these (the
      // trailing-comma tag carries the same guarantee)
      if (fast == StrictFast.ParseFail || fast == StrictFast.ParseFailTrail) {
        parseFails += 1
        assertThrows[Exception](PyJson.parse(t.text))
      }
      fast match { case StrictFast.Ok(fastJson, lean) =>
        fastRows += 1
        // the tree path, run independently on the same payload
        val parsed = PyJson.parse(t.text).asInstanceOf[JArr].items
        val rescaled = ExtractTurn.postProcessCells(parsed, origW, origH, iw, ih)
        assert(PyJson.dumps(JArr(rescaled), t.text.length + 64) === fastJson,
          s"cells_json mismatch at (${t.conv_id}, ${t.turn_idx})")
        // lean fields feeding the renderer
        rescaled.zip(lean).foreach { case (cv, lc) =>
          val cell = cv.asInstanceOf[graft.json.JObj]
          assert(cell.get("category") === Some(graft.json.JStr(lc.category)))
          cell.get("text") match {
            case Some(graft.json.JStr(s)) => assert(lc.text === s)
            case None                     => assert(lc.text === "")
            case other                    => fail(s"fused succeeded on non-string text $other")
          }
          val JArr(b) = (cell.get("bbox"): @unchecked).get
          assert(b.map(_.asInstanceOf[graft.json.JInt].v.toInt) ===
            Vector(lc.x1, lc.y1, lc.x2, lc.y2))
        }
        assert(rescaled.length === lean.length)
      case _ => ()
      }
    }
    info(s"fused path covered $fastRows/${turns.length} turns; $parseFails parse-fail shortcuts")
    assert(fastRows > turns.length / 3, "fused path should cover the strict majority")
    assert(parseFails > 0, "corpus should exercise the ParseFail shortcut")
  }

  test("fused repair path equals the real ladder on every t2 turn") {
    import graft.json.StrictFast
    import graft.geom.SmartResize
    import graft.pipeline.PageGeom
    val turns = Extract.readTranscripts(spark, "data/transcripts_t2").collect()
    var tagged = 0
    var fused = 0
    turns.foreach { t =>
      ExtractTurn.strictRepairEnabled = true
      val withRepair = ExtractTurn.apply(t)
      ExtractTurn.strictRepairEnabled = false
      val ladder = ExtractTurn.apply(t)
      ExtractTurn.strictRepairEnabled = true
      assert(withRepair === ladder,
        s"repair-path divergence at (${t.conv_id}, ${t.turn_idx})")
      if (ExtractTurn.LayoutModes.contains(t.tool)) {
        val (origH, origW) = PageGeom.of(t.conv_id, t.turn_idx)
        val (ih, iw) = SmartResize.smartResize(origH, origW)
        val (ih2, iw2) = SmartResize.smartResize(ih, iw)
        val sx = iw2.toDouble / origW; val sy = ih2.toDouble / origH
        if (StrictFast.transcode(t.text, sx, sy) == StrictFast.ParseFailTrail) {
          tagged += 1
          if (graft.clean.StrictRepair.attempt(t.text, sx, sy).isDefined) fused += 1
        }
      }
    }
    info(s"trailing-comma tagged $tagged rows; fused repair covered $fused")
    assert(tagged > 0, "corpus should exercise the trailing-comma tag")
    assert(fused > 0, "fused repair should cover part of the tagged class")
  }

  test("error rows are carried with reason, never dropped (Q4)") {
    import graft.pipeline.{ExtractTurn, Turn}
    // Formula text that preamble-cleans to empty: CPython raises IndexError
    // at text[0] (task death in the reference); here it must surface as a
    // status='error' row with a reason, not vanish
    val r = ExtractTurn(Turn("conv-x", 0, "user",
      """[{"bbox": [1, 2, 30, 40], "category": "Formula", "text": "\\usepackage{x}"}]""",
      "prompt_layout_all_en"))
    assert(r.status === "error")
    assert(r.error_reason.exists(_.contains("IndexError")))
    assert(r.filtered)
    // non-layout mode passes any payload through untouched
    val ok = ExtractTurn(Turn("conv-x", 1, "user", "free text", "prompt_ocr"))
    assert(ok.status === "ok" && ok.md.contains("free text"))
    // top-level JSON dict takes the str(dict)-repr repair path (no longer an
    // error row): filtered=True, md="" like the reference
    val d = ExtractTurn(Turn("conv-x", 2, "user", """{"bbox": [1, 2, 3, 4]}""",
      "prompt_layout_all_en"))
    assert(d.status === "ok" && d.filtered && d.md.contains(""))
  }

  test("PageGeom matches the generator's shape function") {
    import graft.pipeline.PageGeom
    // spot-checks derived from the Python fnv1a64 (same algorithm)
    val (h, w) = PageGeom.of("t1-conv-00000", 0)
    assert(PageGeom.Shapes.contains((h, w)))
    assert(PageGeom.of("x", 1) === PageGeom.of("x", 1)) // deterministic
  }
}
