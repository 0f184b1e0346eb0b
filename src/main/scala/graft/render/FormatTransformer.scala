package graft.render

import java.util.regex.Pattern

import graft.json.{JArr, JObj, JStr, JValue}
import graft.text.Py

/** One rendered cell's contribution to the page markdown — the span-offsets
  * record required by the north star (SURVEY.md §2.5 R3). Offsets are UTF-16
  * code units into the full `md` string (start inclusive, end exclusive).
  */
final case class Span(cellIdx: Int, category: String, start: Int, end: Int)

/** Port of dots_ocr/utils/format_transformer.py — JSON-layout → Markdown
  * rendering in reading order, formula normalization, text cleaning.
  * String/regex behavior matches CPython (SURVEY.md §7.4).
  */
object FormatTransformer {

  // format_transformer.py:24-32 — all probed with re.DOTALL.
  private val LatexPatterns: Array[Pattern] = Array(
    """\$\$.*?\$\$""",                    // block math
    """\$[^$\n]+?\$""",                   // inline math
    """\\begin\{.*?\}.*?\\end\{.*?\}""",  // environment
    """\\[a-zA-Z]+\{.*?\}""",             // \command{...}
    """\\[a-zA-Z]+""",                    // \command
    """\\\[.*?\\\]""",                    // display \[...\]
    """\\\(.*?\\\)"""                     // inline \(...\)
  ).map(p => Pattern.compile(p, Pattern.DOTALL))

  // format_transformer.py:54-58 — removed case-insensitively.
  private val PreamblePatterns: Array[Pattern] = Array(
    """\\documentclass\{[^}]+\}""",
    """\\usepackage\{[^}]+\}""",
    """\\usepackage\[[^\]]*\]\{[^}]+\}""",
    """\\begin\{document\}""",
    """\\end\{document\}"""
  ).map(p => Pattern.compile(p, Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE))

  private val BracketWrapped = Pattern.compile(""".*\\\[.*\\\].*""") // :96, no DOTALL
  private val InlineDollar = Pattern.compile("""\$([^$]+)\$""")      // :100

  /** format_transformer.py:10-39 */
  def hasLatexMarkdown(text: String): Boolean =
    LatexPatterns.exists(_.matcher(text).find())

  /** format_transformer.py:42-66 */
  def cleanLatexPreamble(latexText: String): String = {
    var cleaned = latexText
    PreamblePatterns.foreach { p =>
      cleaned = p.matcher(cleaned).replaceAll("")
    }
    cleaned
  }

  /** format_transformer.py:69-119 — the ordered 7-case formula analysis. */
  def getFormulaInMarkdown(text0: String): String = {
    var text = Py.strip(text0)

    // Python slicing text[2:-2] yields "" when the wrappers overlap
    // (e.g. "$$" or "$$$"); substring would throw, so clamp.
    def innerSlice(t: String): String =
      if (t.length >= 4) t.substring(2, t.length - 2) else ""

    if (text.startsWith("$$") && text.endsWith("$$")) {
      val textNew = Py.strip(innerSlice(text))
      return if (!textNew.contains("$")) s"$$$$\n$textNew\n$$$$" else text
    }

    if (text.startsWith("\\[") && text.endsWith("\\]")) {
      val inner = Py.strip(innerSlice(text))
      return s"$$$$\n$inner\n$$$$"
    }

    if (BracketWrapped.matcher(text).find()) return text

    if (InlineDollar.matcher(text).find()) return text

    if (!hasLatexMarkdown(text)) return text

    if (text.contains("usepackage")) text = cleanLatexPreamble(text)

    // format_transformer.py:113 `text[0]`: preamble cleaning can empty the
    // string, and CPython then raises IndexError (task death in the
    // reference); the analog here is an exception → error-status row.
    if (text.isEmpty)
      throw new StringIndexOutOfBoundsException("IndexError: string index out of range")
    if (text.charAt(0) == '`' && text.charAt(text.length - 1) == '`') {
      // single "`": both tests hit the same char; Python text[1:-1] == ""
      text = if (text.length >= 2) text.substring(1, text.length - 1) else ""
    }

    s"$$$$\n$text\n$$$$"
  }

  /** format_transformer.py:122-142 — strip + unwrap backticked `$...$`. */
  def cleanText(text0: String): String = {
    if (text0 == null || text0.isEmpty) return ""
    var text = Py.strip(text0)
    if (text.length >= 2 && text.startsWith("`$") && text.endsWith("$`")) {
      // CPython slices text[:2]=='`$' and text[-2:]=='$`' — on "`$`" both
      // tests pass (overlapping slices), producing "$" via text[1:-1].
      text = text.substring(1, text.length - 1)
    }
    text
  }

  /** Deterministic stand-in for the Picture base64 crop
    * (format_transformer.py:169-172) — no pixel data exists in the
    * transcript corpus, so the fixture contract defines this placeholder
    * (SURVEY.md §7.4.5, declared divergence).
    */
  def picturePlaceholder(x1: Int, y1: Int, x2: Int, y2: Int): String =
    s"![](bbox:$x1,$y1,$x2,$y2)"

  /** One rendered cell: (category, piece). The render is per-cell pure, so
    * the full and nohf markdowns share one render pass.
    */
  private def renderPieces(cells: Vector[JValue]): Vector[(String, String)] =
    cells.map { cv =>
      val cell = cv.asInstanceOf[JObj]
      val category = cell.get("category") match {
        case Some(JStr(c)) => c
        case other => throw new IllegalArgumentException(s"non-string category: $other")
      }
      val piece = category match {
        case "Picture" =>
          val JArr(b) = (cell.get("bbox"): @unchecked).get
          val Seq(x1, y1, x2, y2) = b.map(v => jvToInt(v))
          picturePlaceholder(x1, y1, x2, y2)
        case "Formula" =>
          getFormulaInMarkdown(textOf(cell))
        case _ =>
          cleanText(textOf(cell))
      }
      (category, piece)
    }

  /** format_transformer.py:145-180 `layoutjson2md` + the span-offset
    * accumulation (SURVEY §2.5 R3). Cells render IN ARRAY ORDER (reading
    * order); pieces join with "\n\n". Cells are the post-rescale JObj
    * cells: bbox is a 4-int JSON array (int(coord) at :163 is a no-op).
    *
    * Both variants from ONE render pass (the hot-path form). Returns
    * (md, spans-of-md, mdNohf). When the page has no header/footer cells the
    * two markdowns are the same string — share the instance instead of
    * assembling it twice (most pages).
    */
  def layoutJsonToMdBoth(cells: Vector[JValue]): (String, Vector[Span], String) = {
    val pieces = renderPieces(cells)
    val (md, spans) = assemble(pieces, noPageHf = false)
    val hasHf = pieces.exists(p => p._1 == "Page-header" || p._1 == "Page-footer")
    if (!hasHf) (md, spans, md)
    else {
      val (mdNohf, _) = assemble(pieces, noPageHf = true)
      (md, spans, mdNohf)
    }
  }

  /** [[layoutJsonToMdBoth]] over the fused strict path's lean cells
    * (graft.json.StrictFast) — same per-cell dispatch, same assemble, no
    * JValue tree. The piece functions (picturePlaceholder /
    * getFormulaInMarkdown / cleanText) are shared, so output — including
    * the exceptions that classify a row as error — is identical.
    */
  def layoutJsonToMdBothLean(cells: Vector[graft.json.StrictFast.LeanCell]): (String, Vector[Span], String) = {
    val pieces = cells.map { c =>
      val piece = c.category match {
        case "Picture" => picturePlaceholder(c.x1, c.y1, c.x2, c.y2)
        case "Formula" => getFormulaInMarkdown(c.text)
        case _         => cleanText(c.text)
      }
      (c.category, piece)
    }
    val (md, spans) = assemble(pieces, noPageHf = false)
    val hasHf = pieces.exists(p => p._1 == "Page-header" || p._1 == "Page-footer")
    if (!hasHf) (md, spans, md)
    else {
      val (mdNohf, _) = assemble(pieces, noPageHf = true)
      (md, spans, mdNohf)
    }
  }

  private def assemble(pieces: Vector[(String, String)],
                       noPageHf: Boolean): (String, Vector[Span]) = {
    var cap = 2 * pieces.length
    pieces.foreach(cap += _._2.length)
    val sb = new java.lang.StringBuilder(math.max(cap, 16))
    val spans = Vector.newBuilder[Span]
    var first = true
    var i = 0
    while (i < pieces.length) {
      val (category, piece) = pieces(i)
      if (!(noPageHf && (category == "Page-header" || category == "Page-footer"))) {
        if (!first) sb.append("\n\n")
        first = false
        val start = sb.length()
        sb.append(piece)
        spans += Span(i, category, start, sb.length())
      }
      i += 1
    }
    (sb.toString, spans.result())
  }

  private def textOf(cell: JObj): String = cell.get("text") match {
    case Some(JStr(t)) => t
    case Some(other)   => throw new IllegalArgumentException(s"non-string text: $other")
    case None          => "" // cell.get(text_key, "")
  }

  private def jvToInt(v: JValue): Int = v match {
    case graft.json.JInt(i) => i.toInt
    case graft.json.JBig(i) => i.toInt
    case graft.json.JNum(d) => d.toInt // int(coord) truncates toward zero
    case other => throw new IllegalArgumentException(s"non-numeric bbox coord: $other")
  }
}
