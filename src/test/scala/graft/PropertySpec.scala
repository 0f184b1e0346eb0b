package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.clean.OutputCleaner
import graft.geom.SmartResize
import graft.json.{JArr, JInt, JObj, JStr, JValue}
import graft.pipeline.Prompts

/** Property-based invariants (SURVEY §5.2). Plain scalacheck runner (the
  * scalatestplus bridge isn't in the offline cache).
  */
class PropertySpec extends AnyFunSuite {

  private def check(prop: Prop, name: String): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val dims = Gen.choose(1, 20000)

  private def throws[T <: Throwable](c: Class[T])(f: => Any): Boolean =
    try { f; false } catch { case t: Throwable => c.isInstance(t) }

  test("smart_resize: dims divisible by factor; area within bounds when feasible") {
    check(Prop.forAll(dims, dims) { (h, w) =>
      val ratio = math.max(h, w).toDouble / math.min(h, w)
      if (ratio > 200) {
        throws(classOf[SmartResize.AspectRatioError])(SmartResize.smartResize(h, w))
      } else {
        val (hb, wb) = SmartResize.smartResize(h, w)
        val area = hb.toLong * wb
        hb % 28 == 0 && wb % 28 == 0 && hb >= 28 && wb >= 28 &&
          area <= SmartResize.MaxPixels &&
          (area >= SmartResize.MinPixels || hb == 28 || wb == 28)
      }
    }, "smart_resize bounds")
  }

  test("smart_resize is idempotent on its own output (when re-admissible)") {
    check(Prop.forAll(dims, dims) { (h, w) =>
      val ratio = math.max(h, w).toDouble / math.min(h, w)
      ratio > 200 || {
        val (hb, wb) = SmartResize.smartResize(h, w)
        // factor-rounding can push a near-200 input OVER the aspect guard
        // (e.g. 29x5700 -> 28x5712 = 204): the reference then throws on the
        // second call too, so idempotence only applies to admissible output
        val outRatio = math.max(hb, wb).toDouble / math.min(hb, wb)
        outRatio > 200 || SmartResize.smartResize(hb, wb) == ((hb, wb))
      }
    }, "smart_resize idempotence")
  }

  private val genCell: Gen[JValue] = for {
    nb <- Gen.oneOf(3, 4, 4, 4, 5)
    coords <- Gen.listOfN(nb, Gen.choose(0, 2000))
    cat <- Gen.oneOf(Prompts.Categories.toSeq :+ "Bogus")
    text <- Gen.oneOf("alpha", "beta", "gamma", "重复", "x y z")
    hasText <- Gen.prob(0.9)
    hasBbox <- Gen.prob(0.9)
  } yield {
    var o = JObj(Vector.empty)
    if (hasBbox) o = o.put("bbox", JArr(coords.toVector.map(c => JInt(c): JValue)))
    o = o.put("category", JStr(cat))
    if (hasText) o = o.put("text", JStr(text))
    o
  }

  private val genCellList: Gen[Vector[JValue]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, genCell).map(_.toVector))

  test("cleaner is idempotent on list inputs") {
    check(Prop.forAll(genCellList) { cells =>
      val once = OutputCleaner.cleanModelOutput(Right(cells))
      once.cleaned match {
        case Right(out1) =>
          OutputCleaner.cleanModelOutput(Right(out1)).cleaned == Right(out1)
        case Left(_) => true
      }
    }, "cleaner idempotence")
  }

  // 3-coord bboxes are REWRITTEN (not passed through), so a rewritten cell
  // can coincidentally equal another verbatim cell and defeat a positional
  // check; restrict this property to pass-through shapes (3-coord rewrite
  // behavior is pinned by the golden fixtures instead).
  private val genPassThroughList: Gen[Vector[JValue]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n,
      genCell.suchThat {
        case o: JObj => o.get("bbox") match {
          case Some(JArr(b)) => b.length != 3
          case _ => true
        }
        case _ => true
      }).map(_.toVector))

  test("cleaner preserves relative order of surviving items") {
    check(Prop.forAll(genPassThroughList) { cells =>
      OutputCleaner.cleanModelOutput(Right(cells)).cleaned match {
        case Right(out) =>
          // verbatim-surviving items must form a subsequence of the input
          // (greedy two-pointer; rewritten items — e.g. 3-coord bbox fixes —
          // are skipped, they have no verbatim source position)
          var ip = 0
          out.forall { o =>
            val from = ip
            val found = cells.indexOf(o, from)
            if (found >= 0) { ip = found + 1; true }
            else !cells.contains(o) // present only BEFORE ip → order broken
          }
        case Left(_) => true
      }
    }, "cleaner order preservation")
  }

  test("hand-rolled scanners equal the reference regexes (adversarial strings)") {
    import java.util.regex.Pattern
    val dictRe = Pattern.compile(
      """\{[^{}]*?"bbox"\s*:\s*\[[^\]]*?\][^{}]*?\}""",
      Pattern.UNICODE_CHARACTER_CLASS)
    val delimRe = Pattern.compile("""\}\s*\{(?!")""", Pattern.UNICODE_CHARACTER_CLASS)
    // alphabet stresses the scanners: braces, brackets, quotes, partial
    // "bbox" fragments, whitespace (NOT U+001C-001F, where the scanner
    // intentionally follows Python instead of Java's \s — see below)
    val sym = Gen.oneOf("{", "}", "[", "]", "\"", ":", ",", " ", "\t", "\n",
      "\u00a0", "b", "x", "1", "\"bbox\"", "\"bbox\" :", "{\"bbox\": [1]",
      "\"bbox\":[", "]}", "}{", "} {", "}\u00a0{\"")
    val adversarial = Gen.listOf(sym).map(_.mkString)
    check(Prop.forAll(adversarial) { s =>
      val regexBlocks = {
        val m = dictRe.matcher(s)
        val b = Vector.newBuilder[String]
        while (m.find()) b += m.group()
        b.result()
      }
      OutputCleaner.findDictBlocks(s) == regexBlocks
    }, "findDictBlocks == dict regex")
    check(Prop.forAll(adversarial) { s =>
      val m = delimRe.matcher(s)
      val sb = new java.lang.StringBuilder
      var fixes = 0
      while (m.find()) { fixes += 1; m.appendReplacement(sb, "},{") }
      m.appendTail(sb)
      OutputCleaner.fixMissingDelimiters(s) == ((sb.toString, fixes))
    }, "fixMissingDelimiters == delimiter regex")
    // the intentional divergence FROM the Java regex: U+001C-001F are
    // whitespace to Python's \s (and to the scanner), not to Java's
    assert(OutputCleaner.fixMissingDelimiters("}\u001c{a") === (("},{a", 1)))
    assert(OutputCleaner.findDictBlocks("{\"bbox\"\u001d:\u001e[1]}") ===
      Vector("{\"bbox\"\u001d:\u001e[1]}"))
  }

  test("PyWs character class == Py.isSpace over the full BMP") {
    val p = java.util.regex.Pattern.compile(OutputCleaner.PyWs)
    (0 until 0x10000).foreach { cp =>
      val c = cp.toChar
      if (!Character.isSurrogate(c))
        assert(p.matcher(c.toString).matches() === graft.text.Py.isSpace(c),
          f"divergence at U+$cp%04X")
    }
  }

  test("single-incomplete-dict fix matches Python \\s on U+001C-001F and NBSP (C8)") {
    // goldens pinned by executing the reference's _handle_single_incomplete_dict
    // (output_cleaner.py:300-343) on these exact strings
    val t1 = "[{\"bbox\":\u001c[1, 2, 3, 4], \"category\"\u001d:\u001e\"Title\", \"text\"\u001f:\u001c\"hel"
    assert(OutputCleaner.parseFinalJson(t1).map(_.map(graft.json.PyJson.dumps)) ===
      Some(Vector("""{"bbox": [1, 2, 3, 4], "category": "Title", "text": "hel"}""")))
    val t2 = "[{\"bbox\": [5,6,7,8], \"category\"\u00a0:\u00a0\"Formula\", \"text\": \"x"
    assert(OutputCleaner.parseFinalJson(t2).map(_.map(graft.json.PyJson.dumps)) ===
      Some(Vector("""{"bbox": [5, 6, 7, 8], "category": "Formula", "text": "x"}""")))
  }

  test("fused strict transcoder: success implies tree-path equality (adversarial payloads)") {
    import graft.json.{JArr, JObj, JStr, JInt, PyJson, StrictFast}
    import graft.pipeline.ExtractTurn
    val origW = 1275; val origH = 1650
    val (ih, iw) = SmartResize.smartResize(origH, origW)
    val (ih2, iw2) = SmartResize.smartResize(ih, iw)
    val sx = iw2.toDouble / origW; val sy = ih2.toDouble / origH

    val ws = Gen.oneOf("", "", " ", "\n", "\t ")
    val scalar = Gen.oneOf("1", "-1", "0", "-0", "42", "1.5", "-0.0", "1e3",
      "1E-2", "123456789012345678901234567890", "9007199254740993",
      "NaN", "Infinity", "-Infinity", "true", "false", "null",
      "\"plain text\"", "\"esc\\n\\t\\\"q\\\" \\\\\"", "\"uni\\u00e9\\u001c\"",
      "\"sl\\/ash\"", "\"\\ud83d\\ude00\"", "\"日本語テキスト\"", "\"\"")
    def value(d: Int): Gen[String] =
      if (d <= 0) scalar
      else Gen.frequency(
        (6, scalar),
        (1, Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, value(d - 1))
          .map(_.mkString("[", ",", "]")))),
        (1, Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, for {
          k <- Gen.oneOf("\"a\"", "\"b\"", "\"bbox\"", "\"a\"") // dups possible
          v <- value(d - 1)
        } yield s"$k: $v").map(_.mkString("{", ",", "}")))))
    val coord = Gen.oneOf("1", "100", "-3", "2.5", "999.75", "0", "-0",
      "1e2", "\"12\"", "NaN", "[1]", "3000000000")
    val cellGen = for {
      nb <- Gen.choose(0, 6)
      bbox <- Gen.listOfN(nb, coord).map(_.mkString("[", ", ", "]"))
      cat <- Gen.oneOf("\"Text\"", "\"Picture\"", "\"Formula\"",
        "\"Page-header\"", "3", "null", "")
      txt <- Gen.oneOf("\"hello\\nworld\"", "\"x\"", "7", "", "\"\\u0041b\"")
      extra <- Gen.option(value(2))
      dupBbox <- Gen.oneOf(true, false, false, false)
      w1 <- ws; w2 <- ws; w3 <- ws
    } yield {
      val fields = scala.collection.mutable.ArrayBuffer[String]()
      fields += s""""bbox"$w1:$w2$bbox"""
      if (cat.nonEmpty) fields += s""""category": $cat"""
      if (txt.nonEmpty) fields += s""""text":$w3$txt"""
      extra.foreach(e => fields += s""""meta" : $e""")
      if (dupBbox) fields += s""""bbox": [1,2,3,4]"""
      fields.mkString("{", ", ", "}")
    }
    val payload = for {
      n <- Gen.choose(0, 5)
      cells <- Gen.listOfN(n, cellGen)
      w1 <- ws; w2 <- ws
      trailingComma <- Gen.oneOf("", "", "", ",", ", ") // the >50k class shape
      tail <- Gen.oneOf("", "", " ", "x")
    } yield s"$w1[${cells.mkString(",\n")}$trailingComma]$w2$tail"

    check(Prop.forAll(payload) { s =>
      StrictFast.transcode(s, sx, sy) match {
        case StrictFast.ShapeFail => true // replays the tree path: trivially equal
        case StrictFast.ParseFail | StrictFast.ParseFailTrail |
             _: StrictFast.ParseFailTrailCaptured =>
          // the guarantee the ExtractTurn shortcut relies on
          try { PyJson.parse(s); false } catch { case _: Exception => true }
        case StrictFast.Ok(fastJson, lean) =>
          // fused success must imply the tree path succeeds with equal bytes
          val items = PyJson.parse(s).asInstanceOf[JArr].items
          val rescaled = ExtractTurn.postProcessCells(items, origW, origH, iw, ih)
          PyJson.dumps(JArr(rescaled), s.length + 64) == fastJson &&
            rescaled.length == lean.length &&
            rescaled.zip(lean).forall { case (cv, lc) =>
              val cell = cv.asInstanceOf[JObj]
              cell.get("category") == Some(JStr(lc.category)) &&
                (cell.get("text") match {
                  case Some(JStr(t)) => lc.text == t
                  case None          => lc.text == ""
                  case _             => false
                }) && {
                  val JArr(b) = (cell.get("bbox"): @unchecked).get
                  b.map(_.asInstanceOf[JInt].v.toInt) ==
                    Vector(lc.x1, lc.y1, lc.x2, lc.y2)
                }
            }
      }
    }, "fused == tree on success")
  }

  test("fused strict transcoder: depth bound agrees with tree parser at 1000/1001") {
    import graft.json.{JArr, PyJson, StrictFast}
    import graft.pipeline.ExtractTurn
    val origW = 1275; val origH = 1650
    val (ih, iw) = SmartResize.smartResize(origH, origW)
    val (ih2, iw2) = SmartResize.smartResize(ih, iw)
    val sx = iw2.toDouble / origW; val sy = ih2.toDouble / origH
    // containers: top-level array (1) + cell dict (2) + k nested meta arrays
    def payload(k: Int): String =
      "[{\"bbox\": [5, 6, 7, 8], \"category\": \"Text\", \"text\": \"x\", " +
        "\"meta\": " + ("[" * k) + "0" + ("]" * k) + "}]"

    // 2 + 998 = 1000 containers: both parsers succeed, bytes equal
    val ok = payload(998)
    StrictFast.transcode(ok, sx, sy) match {
      case StrictFast.Ok(fastJson, _) =>
        val items = PyJson.parse(ok).asInstanceOf[JArr].items
        val rescaled = ExtractTurn.postProcessCells(items, origW, origH, iw, ih)
        assert(PyJson.dumps(JArr(rescaled), ok.length + 64) === fastJson)
      case other => fail(s"expected Ok at depth 1000, got $other")
    }

    // 2 + 999 = 1001 containers: tree parser raises RecursionError, fused
    // path must classify ParseFail (not Ok) so both routes hit the repair
    // ladder identically
    val over = payload(999)
    assert(StrictFast.transcode(over, sx, sy) === StrictFast.ParseFail)
    intercept[Exception](PyJson.parse(over))
  }

  test("fused repair ladder == real ladder (adversarial trailing-comma payloads)") {
    import graft.pipeline.{ExtractTurn, Turn}
    // generator biased toward the trailing-comma class and its near-misses:
    // in-string braces / "}{" / "bbox" decoys, dup cells, meta keys, bbox
    // extras and floats — everything that must either fuse equal or bail to
    // the real ladder
    val texts = Gen.oneOf("\"a\"", "\"\"", "\"x{y\"", "\"} {\"", "\"}{\"",
      "\"has \\\"bbox\\\": inside\"", "\"bbox\"", "\"a}b\"", "\"ln\\nbr\"",
      "\"日本語\"")
    val coord = Gen.oneOf("1", "42", "-3", "2.5", "999.75", "0", "1e2", "100")
    val cellG: Gen[String] = for {
      c0 <- coord; c1 <- coord; c2 <- coord; c3 <- coord
      extra <- Gen.oneOf("", "", "", ", 9") // bbox arity 5 sometimes
      cat <- Gen.oneOf("\"Text\"", "\"Picture\"", "\"Formula\"")
      txt <- texts
      hasTxt <- Gen.oneOf(true, true, true, false)
      meta <- Gen.oneOf("", "", "", """, "meta": [1, "m"]""", """, "meta": 4""")
      wsB <- Gen.oneOf("", " ", "\n")
      order <- Gen.oneOf(0, 1, 2)
    } yield {
      val bbox = s""""bbox":$wsB[$c0, $c1, $c2, $c3$extra]"""
      val rest = (if (hasTxt) s""", "text": $txt""" else "") + meta
      order match {
        case 0 => s"""{$bbox, "category": $cat$rest}"""
        case 1 => s"""{"category": $cat, $bbox$rest}"""
        case _ => s"""{ $bbox , "category": $cat$rest}"""
      }
    }
    val payloadG: Gen[String] = for {
      n <- Gen.choose(1, 6)
      cells0 <- Gen.listOfN(n, cellG)
      dupIdx <- Gen.oneOf(true, false, false)
      sep <- Gen.oneOf(",", ",\n", " , ")
      tws <- Gen.oneOf("", " ", "\n ")
      trailer <- Gen.oneOf(",", ", ", " ,")
    } yield {
      val cells = if (dupIdx && cells0.nonEmpty) cells0 ++ List(cells0.head) else cells0
      s"[${cells.mkString(sep)}$trailer$tws]"
    }
    check(Prop.forAll(payloadG) { payload =>
      val t = Turn("prop-conv", 2, "assistant", payload, "prompt_layout_all_en")
      ExtractTurn.strictRepairEnabled = true
      val fused = ExtractTurn.apply(t)
      ExtractTurn.strictRepairEnabled = false
      val ladder = ExtractTurn.apply(t)
      ExtractTurn.strictRepairEnabled = true
      fused == ladder
    }, "fused repair == ladder")
  }

  test("fused repair: branch coverage (truncation >50k, salvage, dups, bails)") {
    import graft.pipeline.{ExtractTurn, Turn}
    def bothWays(payload: String): (graft.pipeline.TurnResult, graft.pipeline.TurnResult) = {
      val t = Turn("branch-conv", 3, "assistant", payload, "prompt_layout_all_en")
      ExtractTurn.strictRepairEnabled = true
      val a = ExtractTurn.apply(t)
      ExtractTurn.strictRepairEnabled = false
      val b = ExtractTurn.apply(t)
      ExtractTurn.strictRepairEnabled = true
      (a, b)
    }
    def cell(i: Int, pad: Int = 0): String =
      s"""{"bbox": [${i * 10}, ${i * 10 + 1}, ${i * 10 + 8}, ${i * 10 + 9}], "category": "Text", "text": "cell $i ${"x" * pad}"}"""

    // >50000 chars: truncation drops the LAST cell; fused must agree
    val big = "[" + (0 until 12).map(i => cell(i, 5000)).mkString(",\n") + ",]"
    assert(big.length > 50000)
    val (bigA, bigB) = bothWays(big)
    assert(bigA === bigB)
    assert(bigA.clean_ops.tail_truncated)
    assert(bigA.clean_ops.final_objects === 11) // last cell cut
    assert(bigA.md.get.contains("cell 10") && !bigA.md.get.contains("cell 11"))

    // <=50k: per-block salvage keeps ALL cells
    val small = "[" + (0 until 4).map(i => cell(i)).mkString(", ") + ", ]"
    val (smA, smB) = bothWays(small)
    assert(smA === smB)
    assert(!smA.clean_ops.tail_truncated)
    assert(smA.clean_ops.final_objects === 4)

    // duplicate dict removal (first occurrence wins)
    val dup = s"[${cell(1)}, ${cell(2)}, ${cell(1)},]"
    val (dA, dB) = bothWays(dup)
    assert(dA === dB)
    assert(dA.clean_ops.duplicate_dicts_removed === 1)
    assert(dA.clean_ops.final_objects === 2)

    // in-string brace: class precondition fails -> real ladder, still equal
    val brace = """[{"bbox": [1, 2, 3, 4], "category": "Text", "text": "a { b"},]"""
    val (brA, brB) = bothWays(brace)
    assert(brA === brB)
    // in-string "}{" that the string-blind delimiter regex WOULD rewrite
    val delim = """[{"bbox": [1, 2, 3, 4], "category": "Text", "text": "x} {y"},]"""
    val (deA, deB) = bothWays(delim)
    assert(deA === deB)
    // bbox extras -> bail path, still equal
    val extra = """[{"bbox": [1, 2, 3, 4, 5], "category": "Text", "text": "e"},]"""
    val (exA, exB) = bothWays(extra)
    assert(exA === exB)
  }

  test("string dedup (C5) preserves first-occurrence order") {
    check(Prop.forAll(Gen.listOfN(8, Gen.oneOf(
      """{"bbox": [1, 2, 3, 4], "category": "Text"}""",
      """{"bbox": [5, 6, 7, 8], "category": "Title"}""",
      """{"bbox": [9, 9, 10, 10], "category": "Caption"}"""))) { ds =>
      val text = ds.mkString("[", ", ", "]")
      val (out, removed) = OutputCleaner.removeDuplicateCompleteDictsPreserveOrder(text)
      if (removed > 0) out == ds.distinct.mkString("[", ", ", "]")
      else out == text
    }, "C5 order")
  }

  test("bbox P6/P7 round-trip error is bounded by one scale step") {
    val geom = Gen.oneOf(graft.pipeline.PageGeom.Shapes.toSeq)
    check(Prop.forAll(geom, Gen.choose(0, 1500), Gen.choose(0, 1500)) { case ((h, w), x, y) =>
      val (ih, iw) = SmartResize.smartResize(h, w)
      val bx = math.min(x, w - 1); val by = math.min(y, h - 1)
      val fwd = Prompts.preProcessBbox(Array(bx, by, bx + 1, by + 1), w, h, w, h)
      val back0 = SmartResize.scaleCoord(fwd(0).toDouble, iw.toDouble / w)
      val back1 = SmartResize.scaleCoord(fwd(1).toDouble, ih.toDouble / h)
      math.abs(back0 - bx) <= w.toDouble / iw + 1 &&
        math.abs(back1 - by) <= h.toDouble / ih + 1
    }, "bbox roundtrip")
  }

  test("transient-error classifier matches retryable patterns") {
    assert(Prompts.isTransientError("Connection refused by host"))
    assert(Prompts.isTransientError("Read timed out after 30s"))
    assert(Prompts.isTransientError("HTTP 429 rate limit exceeded"))
    assert(!Prompts.isTransientError("invalid JSON payload"))
    assert(!Prompts.isTransientError("assertion failed: bbox"))
  }

  test("grounding prompt renders bbox like Python str(list)") {
    val p = Prompts.getPrompt("prompt_grounding_ocr", Some(Array(10, 20, 110, 220)),
      1275, 1650, 1275, 1650)
    assert(p.endsWith("Bounding Box:\n[" +
      Prompts.preProcessBbox(Array(10, 20, 110, 220), 1275, 1650, 1275, 1650)
        .mkString(", ") + "]"))
  }

  test("is_legal_bbox predicate (F2)") {
    assert(Prompts.isLegalBbox(Seq(Array(0, 0, 5, 5), Array(1, 2, 3, 4))))
    assert(!Prompts.isLegalBbox(Seq(Array(5, 0, 5, 5))))
    assert(!Prompts.isLegalBbox(Seq(Array(0, 9, 5, 5))))
  }
}
