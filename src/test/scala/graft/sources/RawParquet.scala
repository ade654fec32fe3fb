package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Writes parquet files into a kv table directory through
  * [[ParquetIO.openWriter]], outside the kv writer: no commit runs, so no
  * sidecar learns of them — the "written by another writer" case that
  * `KvBloom.append` and `KvIndex.append` exist for.
  */
object RawParquet {
  def write(dir: String, name: String, df: DataFrame): Unit = {
    val schema = df.schema
    val messageType = ParquetIO.toParquetSchema(schema)
    val w = ParquetIO.openWriter(new Path(dir, name), schema)
    try df.queryExecution.toRdd.map(_.copy()).collect()
      .foreach(r => w.write(ParquetIO.rowToGroup(r, schema, messageType)))
    finally w.close()
  }
}
