package graft

import org.apache.hadoop.conf.Configuration

/** The footer of the first part file of a parquet output directory: its
  * parquet schema (nullability as `required`/`optional`) and the Spark row
  * schema Spark stores beside it.
  */
object ParquetFooter {
  def apply(conf: Configuration, dir: String): (String, String) = {
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .minBy(_.getName)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath), conf))
    try {
      val meta = r.getFooter.getFileMetaData
      (meta.getSchema.toString,
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }
}
