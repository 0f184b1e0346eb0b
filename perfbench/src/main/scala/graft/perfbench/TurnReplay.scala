package graft.perfbench

import graft.clean.{OutputCleaner, StrictRepair}
import graft.geom.SmartResize
import graft.json.{JArr, JBig, JBool, JInt, JNull, JNum, JObj, JStr, JValue, PyJson, StrictFast}
import graft.pipeline.{ExtractTurn, PageGeom, Turn, TurnResult}
import graft.render.FormatTransformer
import graft.text.Py

/** Replays the dispatch of `ExtractTurn.apply` from outside, one public
  * layer call at a time, so each call can be timed as a span and each turn
  * classified into the branch it takes. The replay calls the same
  * functions in the same order as `apply`; [[agrees]] checks it against
  * `apply`'s own output turn by turn.
  */
final class TurnReplay(tr: Tracer) {
  import TurnReplay._

  private val turnSpan = tr.code("pipeline.turn")
  private val geom = tr.code("geom.smart_resize")
  private val transcode = tr.code("json.transcode")
  private val parse = tr.code("json.pyjson_parse")
  private val rescale = tr.code("pipeline.rescale")
  private val dumps = tr.code("json.pyjson_dumps")
  private val render = tr.code("render.md")
  private val repair = tr.code("clean.strict_repair")
  private val ladder = tr.code("clean.ladder")
  private val ladderBig = tr.code("clean.ladder_big")

  /** Replays one turn; returns (branch, md) where md is the markdown the
    * replay rendered (null when the branch renders none).
    */
  def apply(t: Turn, traceId: Long): (Int, String) = {
    val id = tr.open(turnSpan, System.nanoTime(), -1, traceId)
    var a = 0L
    def span(code: Int): Unit = {
      val b = System.nanoTime(); tr.add(code, a, b, id, traceId); a = b
    }
    var branch = Error
    var md: String = null
    try {
      a = System.nanoTime()
      val (origH, origW) = PageGeom.of(t.conv_id, t.turn_idx)
      val (ih, iw) = SmartResize.smartResize(origH, origW)
      span(geom)
      if (!ExtractTurn.LayoutModes.contains(t.tool)) {
        md = t.text
        branch = Raw
      } else {
        val repairOn = ExtractTurn.strictRepairEnabled
        val fast: StrictFast.Result = if (ExtractTurn.strictFastEnabled) {
          a = System.nanoTime()
          val (ih2, iw2) = SmartResize.smartResize(ih, iw)
          span(geom)
          val r =
            if (t.text.length > 10000 && repairOn)
              StrictFast.transcodeCapture(t.text, iw2.toDouble / origW, ih2.toDouble / origH)
            else StrictFast.transcode(t.text, iw2.toDouble / origW, ih2.toDouble / origH)
          span(transcode)
          r
        } else StrictFast.ShapeFail
        fast match {
          case StrictFast.Ok(_, lean) =>
            if (t.tool != "prompt_layout_only_en") {
              a = System.nanoTime()
              md = FormatTransformer.layoutJsonToMdBothLean(lean)._1
              span(render)
            }
            branch = FastOk
          case _ =>
            var parsed: Option[JValue] = None
            val strict: Option[Vector[JValue]] =
              if ((fast eq StrictFast.ParseFail) || (fast eq StrictFast.ParseFailTrail) ||
                fast.isInstanceOf[StrictFast.ParseFailTrailCaptured]) None
              else try {
                a = System.nanoTime()
                val v = try PyJson.parse(t.text) finally span(parse)
                parsed = Some(v)
                val items = v match {
                  case JArr(xs) => xs
                  case _ => throw new IllegalArgumentException("not a list")
                }
                a = System.nanoTime()
                Some(try ExtractTurn.postProcessCells(items, origW, origH, iw, ih)
                  finally span(rescale))
              } catch { case _: Exception => None }
            strict match {
              case Some(rescaled) =>
                a = System.nanoTime()
                PyJson.dumps(JArr(rescaled), t.text.length + 64)
                span(dumps)
                if (t.tool != "prompt_layout_only_en") {
                  a = System.nanoTime()
                  md = FormatTransformer.layoutJsonToMdBoth(rescaled)._1
                  span(render)
                }
                branch = TreeStrict
              case None =>
                val input: Either[String, Vector[JValue]] = parsed match {
                  case Some(JArr(xs)) => Right(xs)
                  case Some(other) => Left(pyStr(other))
                  case None => Left(t.text)
                }
                a = System.nanoTime()
                val fused = fast match {
                  case c: StrictFast.ParseFailTrailCaptured if repairOn =>
                    try StrictRepair.fromCaptured(t.text, c) finally span(repair)
                  case f if (f eq StrictFast.ParseFailTrail) && repairOn =>
                    val (ih2, iw2) = SmartResize.smartResize(ih, iw)
                    try StrictRepair.attempt(t.text, iw2.toDouble / origW, ih2.toDouble / origH)
                    finally span(repair)
                  case _ => None
                }
                val res = fused.getOrElse {
                  a = System.nanoTime()
                  try OutputCleaner.cleanModelOutput(input)
                  finally span(if (t.text.length > 10000) ladderBig else ladder)
                }
                branch = if (fused.isDefined) StrictRepairB else Ladder
                val joined = res.cleaned match {
                  case Right(list) =>
                    list.collect {
                      case o: JObj if o.contains("text") =>
                        o.get("text").get match {
                          case JStr(s) => s
                          case other => throw new IllegalArgumentException(s"join $other")
                        }
                    }.mkString("\n\n")
                  case Left(original) => original
                }
                a = System.nanoTime()
                PyJson.dumps(JStr(if (t.tool == "prompt_layout_only_en") joined else t.text))
                span(dumps)
                if (t.tool != "prompt_layout_only_en") md = joined
            }
        }
      }
    } catch { case _: Exception => branch = Error; md = null }
    tr.close(id, System.nanoTime())
    (branch, md)
  }
}

object TurnReplay {
  val Raw = 0
  val FastOk = 1
  val TreeStrict = 2
  val StrictRepairB = 3
  val Ladder = 4
  val Error = 5
  val BranchNames: Seq[String] =
    Seq("raw", "fast_ok", "tree_strict", "strict_repair", "ladder", "error")

  /** Whether `apply`'s result is consistent with the replayed branch and
    * markdown.
    */
  def agrees(r: TurnResult, branch: Int, md: String): Boolean = branch match {
    case Error => r.status == "error"
    case Raw => r.status == "ok" && r.cells_json.isEmpty && r.md.orNull == md
    case FastOk | TreeStrict =>
      r.status == "ok" && !r.filtered && r.md.orNull == md
    case _ => r.status == "ok" && r.filtered && r.md.orNull == md
  }

  // Python str()/repr() of a parsed value, as the ladder input needs them
  private def pyRepr(v: JValue): String = v match {
    case JStr(s) => Py.reprStr(s)
    case JInt(i) => i.toString
    case JBig(i) => i.toString
    case JNum(d) => Py.floatRepr(d)
    case JBool(b) => if (b) "True" else "False"
    case JNull => "None"
    case JArr(xs) => xs.map(pyRepr).mkString("[", ", ", "]")
    case JObj(es) => es.map { case (k, x) => Py.reprStr(k) + ": " + pyRepr(x) }
      .mkString("{", ", ", "}")
  }

  private def pyStr(v: JValue): String = v match {
    case JStr(s) => s
    case JInt(i) => i.toString
    case JBig(i) => i.toString
    case JNum(d) => Py.floatRepr(d)
    case JBool(b) => if (b) "True" else "False"
    case JNull => "None"
    case container => pyRepr(container)
  }
}
