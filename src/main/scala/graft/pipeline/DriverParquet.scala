package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.{ColumnIOFactory, OutputFile, api}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Parquet I/O on the driver for tables of a few dozen rows (the lineage
  * tables), through parquet-hadoop: no Spark job. A written file is the
  * file Spark would write for the same rows — the same parquet schema
  * (`required` for a non-nullable field) and Spark's row-schema footer key
  * — so `spark.read.parquet` reads it with the same `StructType`. Flat
  * schemas of int, long and string fields only. A write may add its own
  * key-value pairs to the footer, and a read returns them: `Extract`
  * stamps `lineage_buckets` that way with the snapshot it describes.
  */
private[pipeline] object DriverParquet {

  /** The row metadata key Spark writes and reads its `StructType` from. */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** `schema` as Spark's parquet writer converts it. */
  private def parquetSchema(schema: StructType): MessageType =
    new MessageType("spark_schema", schema.fields.toSeq.map { f =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      f.dataType match {
        case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep).named(f.name)
        case LongType => Types.primitive(PrimitiveTypeName.INT64, rep).named(f.name)
        case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case t => throw new IllegalArgumentException(s"${f.name}: $t is not supported")
      }
    }: _*)

  private final class RowWriteSupport(schema: StructType, meta: Map[String, String])
      extends WriteSupport[Row] {
    private var out: api.RecordConsumer = _
    def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(parquetSchema(schema), (meta ++ Map(
        RowMetadataKey -> schema.json,
        "org.apache.spark.version" -> org.apache.spark.SPARK_VERSION_SHORT)).asJava)
    def prepareForWrite(c: api.RecordConsumer): Unit = out = c
    def write(r: Row): Unit = {
      out.startMessage()
      for ((f, i) <- schema.fields.zipWithIndex if !r.isNullAt(i)) {
        out.startField(f.name, i)
        f.dataType match {
          case IntegerType => out.addInteger(r.getInt(i))
          case LongType => out.addLong(r.getLong(i))
          case _ => out.addBinary(api.Binary.fromString(r.getString(i)))
        }
        out.endField(f.name, i)
      }
      out.endMessage()
    }
  }

  private final class Builder(file: OutputFile, schema: StructType, meta: Map[String, String])
      extends ParquetWriter.Builder[Row, Builder](file) {
    protected def self(): Builder = this
    protected def getWriteSupport(conf: Configuration): WriteSupport[Row] =
      new RowWriteSupport(schema, meta)
  }

  /** The data files of `dir` as Spark lists them: names not starting with
    * `_` or `.`. Empty when `dir` is missing.
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.getName)

  /** The rows of every data file of `dir`, in `schema`'s field order (a
    * field a file does not have reads as null), and the footer key-value
    * pairs of its file when it has exactly one (else none). Empty when
    * `dir` is missing.
    */
  def read(fs: FileSystem, dir: Path, schema: StructType): (Seq[Row], Map[String, String]) = {
    val files = dataFiles(fs, dir).map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, fs.getConf))
      try {
        val meta = r.getFooter.getFileMetaData
        val io = new ColumnIOFactory().getColumnIO(meta.getSchema)
        val rows = Iterator.continually(r.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { pages =>
            val rr = io.getRecordReader(pages, new GroupRecordConverter(meta.getSchema))
            Iterator.fill(pages.getRowCount.toInt)(rowOf(rr.read(), schema))
          }.toList
        (rows, meta.getKeyValueMetaData.asScala.toMap)
      } finally r.close()
    }
    (files.flatMap(_._1), if (files.size == 1) files.head._2 else Map.empty)
  }

  private def rowOf(g: Group, schema: StructType): Row = Row.fromSeq(schema.fields.toSeq.map { f =>
    if (!g.getType.containsField(f.name) || g.getFieldRepetitionCount(f.name) == 0) null
    else f.dataType match {
      case IntegerType => g.getInteger(f.name, 0)
      case LongType => g.getLong(f.name, 0)
      case _ => g.getString(f.name, 0)
    }
  })

  /** Write `rows` to `dir` as one new `part-` file: it is written under a
    * `_` name, which readers skip, and renamed once complete, so no reader
    * sees a partial file. With `replace`, the dir's other files go first
    * (an overwrite); a crash between the two leaves the table empty.
    * `meta` goes into the file's footer beside Spark's keys.
    */
  def write(fs: FileSystem, dir: Path, schema: StructType, rows: Seq[Row],
            replace: Boolean, meta: Map[String, String] = Map.empty): Unit = {
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet"
    val staged = new Path(dir, s"_$name")
    val w = new Builder(HadoopOutputFile.fromPath(staged, fs.getConf), schema, meta)
      .withConf(fs.getConf).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach(w.write) finally w.close()
    if (replace) fs.listStatus(dir).map(_.getPath)
      .filterNot(p => p.getName == staged.getName || p.getName == s".${staged.getName}.crc")
      .foreach(fs.delete(_, true))
    if (!fs.rename(staged, new Path(dir, name)))
      throw new java.io.IOException(s"could not rename $staged to $name")
  }
}
