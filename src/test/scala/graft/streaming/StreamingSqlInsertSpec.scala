package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL streaming-table DDL surface: CREATE TABLE ... USING <graft source>
  * OPTIONS(..., output.mode), SET query name/checkpoint, INSERT INTO
  * launching a Structured Streaming query — the reference corpus's
  * pure-SQL job shape (`emr-baseline-testing/queries/q3.sql:12-21`).
  * Runs on a clone of the shared session, so its SETs stay in this suite.
  */
class StreamingSqlInsertSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    org.apache.spark.sql.graftshim.GraftSession.clone(graft.SparkSpec.session)

  /** author a log shard directory with (id long, k string, v double). */
  private def writeShard(dir: String, name: String, rows: Seq[(Long, String, Double)]): Unit = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("sqlins-tmp").toString
    rows.toDF("id", "k", "v").coalesce(1)
      .write.format("kv").option("path", tmp).mode("overwrite").save()
    val p = graft.sources.ParquetIO.listFiles(tmp).head
    val fs = p.getFileSystem(graft.sources.ParquetIO.hadoopConf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.rename(p, new org.apache.hadoop.fs.Path(dir, name))
  }

  test("pure spark.sql INSERT INTO runs as a streaming query (append mode, incremental)") {
    val src = Files.createTempDirectory("sqlins-src").toString
    val sink = Files.createTempDirectory("sqlins-sink").toString + "/t"
    val ckpt = Files.createTempDirectory("sqlins-ckpt").toString
    writeShard(src, "s0.parquet", Seq((1L, "a", 1.0), (2L, "b", 2.0)))

    spark.sql("DROP TABLE IF EXISTS sqlins_src")
    spark.sql(s"CREATE TABLE sqlins_src USING log OPTIONS (path '$src')")
    spark.sql("DROP TABLE IF EXISTS sqlins_sink")
    spark.sql(
      s"""CREATE TABLE sqlins_sink USING kv OPTIONS (path '$sink', output.mode 'append',
         |catalog '{"columns": {"id": {"type": "long"}, "k": {"type": "string"}, "v": {"type": "double"}}}')""".stripMargin)
    spark.sql("SET streaming.query.name=sqlins_job")
    spark.sql(s"SET spark.sql.streaming.checkpointLocation.sqlins_job=$ckpt")

    spark.sql("INSERT INTO sqlins_sink SELECT id, k, v FROM sqlins_src WHERE v > 1.5")
    val after1 = spark.read.format("kv").option("path", sink).load().collect()
    assert(after1.map(_.getLong(0)).toSeq == Seq(2L))

    // new shard arrives; re-running the INSERT resumes from the offset log
    // and appends ONLY the new matching rows (same checkpoint)
    writeShard(src, "s1.parquet", Seq((3L, "c", 3.0), (4L, "d", 0.5)))
    spark.sql("INSERT INTO sqlins_sink SELECT id, k, v FROM sqlins_src WHERE v > 1.5")
    val after2 = spark.read.format("kv").option("path", sink).load()
      .orderBy("id").collect()
    assert(after2.map(_.getLong(0)).toSeq == Seq(2L, 3L),
      "append output mode: incremental, exactly-once per shard")
  }

  test("output.mode complete: sink always reads as the latest full aggregate") {
    val src = Files.createTempDirectory("sqlins2-src").toString
    val sink = Files.createTempDirectory("sqlins2-sink").toString + "/t"
    val ckpt = Files.createTempDirectory("sqlins2-ckpt").toString
    writeShard(src, "s0.parquet", Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 4.0)))
    writeShard(src, "s1.parquet", Seq((4L, "b", 8.0)))

    // one shard per trigger → several epochs in one drain: the complete-
    // mode sink must hold only the final image, not accumulated epochs
    spark.sql("DROP TABLE IF EXISTS sqlins2_src")
    spark.sql(s"CREATE TABLE sqlins2_src USING log OPTIONS (path '$src', maxOffsetsPerTrigger '3')")
    spark.sql("DROP TABLE IF EXISTS sqlins2_sink")
    spark.sql(
      s"""CREATE TABLE sqlins2_sink USING kv OPTIONS (path '$sink', output.mode 'complete',
         |catalog '{"columns": {"k": {"type": "string"}, "total": {"type": "double"}}}')""".stripMargin)
    spark.sql("SET streaming.query.name=sqlins2_job")
    spark.sql(s"SET spark.sql.streaming.checkpointLocation.sqlins2_job=$ckpt")

    spark.sql("INSERT INTO sqlins2_sink SELECT k, sum(v) AS total FROM sqlins2_src GROUP BY k")
    val got = spark.read.format("kv").option("path", sink).load()
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(("a", 3.0), ("b", 12.0)),
      s"complete mode must retire earlier epochs' files, got $got")
  }

  test("runScript executes a reference-shaped .sql file end-to-end on a plain session") {
    // the gate path: a fresh session over the same context — it keeps the
    // builder-time extensions, and the script runs on its own clone
    val plain = spark.newSession()
    val src = Files.createTempDirectory("sqlins3-src").toString
    val sink = Files.createTempDirectory("sqlins3-sink").toString + "/t"
    val ckpt = Files.createTempDirectory("sqlins3-ckpt").toString
    writeShard(src, "s0.parquet", Seq((1L, "x", 5.0), (2L, "y", 7.0)))
    GraftSql.runScript(plain,
      s"""DROP TABLE IF EXISTS sqlins3_src;
         |CREATE TABLE sqlins3_src USING log OPTIONS (path '$src');
         |DROP TABLE IF EXISTS sqlins3_sink;
         |CREATE TABLE sqlins3_sink USING kv OPTIONS (path '$sink', output.mode 'append',
         |catalog '{"columns": {"k": {"type": "string"}, "v": {"type": "double"}}}');
         |SET streaming.query.name=sqlins3_job;
         |SET spark.sql.streaming.checkpointLocation.sqlins3_job=$ckpt;
         |INSERT INTO sqlins3_sink SELECT k, v FROM sqlins3_src""".stripMargin)
    val got = plain.read.format("kv").option("path", sink).load()
      .orderBy("k").collect().map(_.getString(0)).toSeq
    assert(got == Seq("x", "y"))
  }
}
