package graft.perfbench

import scala.collection.mutable

/** In-memory span store: (name, start, end, parent) per span, grouped by a
  * trace id (one per turn or per timed call). Spans are written out once,
  * at the end of the run; self time is derived from them.
  */
final class Tracer {
  private val nameIds = mutable.LinkedHashMap.empty[String, Int]
  private var n = 0
  private var name = new Array[Int](1 << 16)
  private var start = new Array[Long](1 << 16)
  private var end = new Array[Long](1 << 16)
  private var parent = new Array[Int](1 << 16)
  private var trace = new Array[Long](1 << 16)

  def code(spanName: String): Int = nameIds.getOrElseUpdate(spanName, nameIds.size)

  private def grow(): Unit = if (n == name.length) {
    val m = n * 2
    name = java.util.Arrays.copyOf(name, m)
    start = java.util.Arrays.copyOf(start, m)
    end = java.util.Arrays.copyOf(end, m)
    parent = java.util.Arrays.copyOf(parent, m)
    trace = java.util.Arrays.copyOf(trace, m)
  }

  /** Records a finished span; returns its id. */
  def add(nameCode: Int, t0: Long, t1: Long, parentId: Int, traceId: Long): Int = {
    grow()
    name(n) = nameCode; start(n) = t0; end(n) = t1
    parent(n) = parentId; trace(n) = traceId
    n += 1
    n - 1
  }

  /** Opens a span whose end is set later by [[close]] (parents of spans
    * recorded with [[add]]).
    */
  def open(nameCode: Int, t0: Long, parentId: Int, traceId: Long): Int =
    add(nameCode, t0, t0, parentId, traceId)

  def close(id: Int, t1: Long): Unit = end(id) = t1

  def size: Int = n

  /** Per span name: (spans, total ns, self ns). Self time is a span's
    * duration minus the time its children cover; children of one parent
    * never overlap here (the harness calls layers one after another).
    */
  def selfTimes(): Map[String, (Long, Long, Long)] = {
    val childNs = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (parent(i) >= 0) childNs(parent(i)) += end(i) - start(i)
      i += 1
    }
    val names = nameIds.toSeq.sortBy(_._2).map(_._1).toArray
    val count = new Array[Long](names.length)
    val total = new Array[Long](names.length)
    val self = new Array[Long](names.length)
    i = 0
    while (i < n) {
      val d = end(i) - start(i)
      count(name(i)) += 1; total(name(i)) += d; self(name(i)) += d - childNs(i)
      i += 1
    }
    names.indices.map(k => names(k) -> ((count(k), total(k), self(k)))).toMap
  }

  /** Writes every span as a gzip'd TSV: id, trace, parent, name, start_ns,
    * end_ns (start relative to the first span).
    */
  def write(path: String): Unit = {
    val names = nameIds.toSeq.sortBy(_._2).map(_._1).toArray
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f)), "UTF-8"))
    try {
      val base = if (n > 0) start.take(n).min else 0L
      out.println("id\ttrace\tparent\tname\tstart_ns\tend_ns")
      var i = 0
      while (i < n) {
        out.println(s"$i\t${trace(i)}\t${parent(i)}\t${names(name(i))}\t" +
          s"${start(i) - base}\t${end(i) - base}")
        i += 1
      }
    } finally out.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Least-squares slope of ys over 0, 1, 2, ... */
  def slope(ys: Seq[Double]): Double = {
    val n = ys.length
    if (n < 2) 0.0
    else {
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }
  }
}
