package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Writes parquet files into a kv table directory through
  * [[ParquetIO.openWriter]], outside the kv writer: no commit runs, so no
  * sidecar learns of them — the "written by another writer" case that
  * `KvBloom.append` and `KvIndex.append` exist for.
  */
object RawParquet {
  def write(dir: String, name: String, df: DataFrame): Unit = {
    val w = ParquetIO.openWriter(new Path(dir, name), df.schema)
    try df.queryExecution.toRdd.map(_.copy()).collect().foreach(w.write)
    finally w.close()
  }

  /** The parquet schema `ParquetIO.openWriter` writes for `schema`. */
  def messageType(schema: StructType): MessageType =
    new SparkToParquetSchemaConverter(writeLegacyParquetFormat = false,
      outputTimestampType = SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS)
      .convert(schema)
}
