package graft.perfbench

import scala.jdk.CollectionConverters._

/** Writes the harness's raw result as JSON for `run.py` to summarise. */
object Result {

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  private def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  def write(path: String, workload: String, h: Harness, setups: Seq[Double],
            fatal: Option[String]): Unit = {
    // h is null when the first set-up failed
    val run = Option(h).toSeq
    val body = obj(Seq(
      "workload" -> str(workload),
      "setup_s" -> arr(setups.map(num)),
      "fatal" -> fatal.map(str).getOrElse("null"),
      "attempted" -> run.map(_.attempted).sum.toString,
      "failed" -> run.map(_.failed).sum.toString,
      "samples" -> obj(run.flatMap(r => r.samples.toSeq.map { case (k, v) =>
        k -> obj(Seq("unit" -> str(r.units.getOrElse(k, "")),
          "values" -> arr(v.toSeq.map(num))))
      })),
      "layer" -> obj(run.flatMap(_.layer.toSeq.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u)))
      })),
      "checks" -> arr(run.flatMap(_.checks.toSeq.map { case (n, ok, d) =>
        obj(Seq("name" -> str(n), "ok" -> ok.toString, "detail" -> str(d)))
      })),
      "logged_errors" -> obj(Seq(
        "total" -> LoggedErrors.total.get.toString,
        "by_call" -> obj(LoggedErrors.byCall.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> v.get.toString }),
        "samples" -> arr(LoggedErrors.samples.asScala.toSeq.map(str))))))
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }
}
