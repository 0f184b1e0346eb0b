package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{Column, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{coalesce, col, length, lit, spark_partition_id, udaf}
import org.apache.spark.unsafe.types.UTF8String

/** Lineage counters of one key — a conv_id-hash bucket or a write task
  * partition — before the lineage table adds its own key column name.
  * `min_conv_id`/`max_conv_id` follow Spark's string order (UTF-8 bytes,
  * `UTF8String.compareTo`), so a tally merges exactly with rows Spark's
  * own `min`/`max` aggregates wrote.
  */
final case class LineageTally(key: Option[Long], rows_out: Long,
                              filtered_rows: Long, error_rows: Long,
                              md_chars: Long, min_conv_id: String,
                              max_conv_id: String) {
  def +(o: LineageTally): LineageTally = LineageTally(key,
    rows_out + o.rows_out, filtered_rows + o.filtered_rows,
    error_rows + o.error_rows, md_chars + o.md_chars,
    LineageTally.least(min_conv_id, o.min_conv_id),
    LineageTally.greatest(max_conv_id, o.max_conv_id))
}

/** One written row as the tally sees it. Every field is a Spark-computed
  * column (see [[LineageTally.column]]), so the tally counts exactly what
  * [[Extract.bucketLineage]] would count over the same rows.
  */
final case class LineageIn(bucket: Option[Long], part: Long, filtered: Boolean,
                           error: Boolean, md_chars: Long, conv_id: String)

/** The increment's lineage: per bucket and per write task partition. */
final case class LineageTallies(buckets: Seq[LineageTally], parts: Seq[LineageTally])

object LineageTally {

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Null-ignoring min/max in UTF-8 byte order (Spark's `min`/`max`). */
  private def least(a: String, b: String): String =
    if (a == null) b else if (b == null) a
    else if (utf8(a).compareTo(utf8(b)) <= 0) a else b

  private def greatest(a: String, b: String): String =
    if (a == null) b else if (b == null) a
    else if (utf8(a).compareTo(utf8(b)) >= 0) a else b

  /** Sum tallies per key (sums add, min/max combine — all associative). */
  private[pipeline] def merge(tallies: Seq[LineageTally]): Seq[LineageTally] =
    tallies.groupBy(_.key).values.map(_.reduce(_ + _)).toSeq

  private[pipeline] final class Buffer extends Serializable {
    val buckets = mutable.HashMap.empty[Option[Long], LineageTally]
    val parts = mutable.HashMap.empty[Option[Long], LineageTally]
  }

  private def add(m: mutable.HashMap[Option[Long], LineageTally],
                  t: LineageTally): Unit =
    m.update(t.key, m.get(t.key).fold(t)(_ + t))

  private object Agg extends Aggregator[LineageIn, Buffer, LineageTallies] {
    def zero: Buffer = new Buffer
    def reduce(b: Buffer, r: LineageIn): Buffer = {
      val one = LineageTally(r.bucket, 1L, if (r.filtered) 1L else 0L,
        if (r.error) 1L else 0L, r.md_chars, r.conv_id, r.conv_id)
      add(b.buckets, one)
      add(b.parts, one.copy(key = Some(r.part)))
      b
    }
    def merge(a: Buffer, b: Buffer): Buffer = {
      b.buckets.valuesIterator.foreach(add(a.buckets, _))
      b.parts.valuesIterator.foreach(add(a.parts, _))
      a
    }
    def finish(b: Buffer): LineageTallies =
      LineageTallies(b.buckets.values.toSeq, b.parts.values.toSeq)
    def bufferEncoder: Encoder[Buffer] = Encoders.javaSerialization[Buffer]
    def outputEncoder: Encoder[LineageTallies] = Encoders.product[LineageTallies]
  }

  private lazy val fn = udaf(Agg)

  /** The typed aggregate over result rows, for an `observe` on the write:
    * `bucket` is the caller's conv_id-hash column, the partition is the
    * task partition that writes the row, and md chars count code points
    * (`length`), as in [[Extract.bucketLineage]].
    */
  private[pipeline] def column(bucket: Column): Column =
    fn(bucket, spark_partition_id().cast("long"),
      coalesce(col("filtered"), lit(false)),
      coalesce(col("status") === "error", lit(false)),
      length(coalesce(col("md"), lit(""))).cast("long"), col("conv_id"))

  /** A row in [[LineageTally]] field order (also `lineage_buckets`'s). */
  private[pipeline] def fromRow(r: Row): LineageTally =
    LineageTally(if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5), r.getString(6))

  /** The observed value of [[column]] back in typed form. */
  private[pipeline] def tallies(r: Row): LineageTallies =
    LineageTallies(r.getSeq[Row](0).map(fromRow), r.getSeq[Row](1).map(fromRow))
}
