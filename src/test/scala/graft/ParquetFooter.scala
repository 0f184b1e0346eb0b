package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The footer of a parquet file, or of the first part file of a parquet
  * output directory: its parquet schema (nullability as
  * `required`/`optional`) and the Spark row schema Spark stores beside it.
  */
object ParquetFooter {
  def apply(conf: Configuration, path: String): (String, String) = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val part = if (fs.getFileStatus(p).isFile) p
      else fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, conf))
    try {
      val meta = r.getFooter.getFileMetaData
      (meta.getSchema.toString,
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }
}
