package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Trigger.AvailableNow drain semantics for the SQL-text streaming gates —
  * these are the exact emission rules the `SqlCorpus` DuckDB oracles
  * replay (q102 append windows, q40 left-outer nulls), pinned here so a
  * Spark behavior change fails a spec before it flips a gate:
  *
  *  - append windowed agg: after the drain (final no-data batch included),
  *    a window is emitted iff window_end <= max(event time) - delay,
  *    INCLUSIVE at the boundary;
  *  - left-outer stream-stream join: unmatched left rows emit
  *    null-extended iff left event time < global watermark, STRICT at the
  *    boundary, where global watermark = min over both sides of
  *    (side max event time - side delay).
  *
  * Also proves `GraftSql.runScript` runs delay()/watermark scripts on the
  * session `GraftSession.build` makes (the Verify gate path).
  */
class AvailableNowDrainSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.SparkSpec.session

  private def writeShard(dir: String, name: String, rows: Seq[(String, Long, Double)]): Unit = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("t").toString
    rows.toDF("ts_s", "k", "v")
      .select(org.apache.spark.sql.functions.col("ts_s").cast("timestamp").as("ts"),
        org.apache.spark.sql.functions.col("k"), org.apache.spark.sql.functions.col("v"))
      .coalesce(1).write.format("kv").option("path", tmp).mode("overwrite").save()
    val p = graft.sources.ParquetIO.listFiles(tmp).head
    val fs = p.getFileSystem(graft.sources.ParquetIO.hadoopConf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.rename(p, new org.apache.hadoop.fs.Path(dir, name))
  }

  test("append tumbling window + delay: emitted iff window_end <= max(ts) - delay (inclusive)") {
    val src = Files.createTempDirectory("adrain-src").toString
    val sink = Files.createTempDirectory("adrain-sink").toString + "/t"
    val ckpt = Files.createTempDirectory("adrain-ckpt").toString
    // max ts = 00:05:00 → watermark 00:03:00; [2:00,3:00) ends exactly AT it.
    writeShard(src, "s0.parquet", Seq(
      ("2024-01-01 00:00:10", 1L, 1.0),
      ("2024-01-01 00:01:10", 1L, 1.0),
      ("2024-01-01 00:02:30", 1L, 1.0),   // end == wm → emitted (inclusive)
      ("2024-01-01 00:03:20", 1L, 1.0),   // end 4:00 > wm → retained, not emitted
      ("2024-01-01 00:05:00", 1L, 1.0)))  // wm driver
    GraftSql.runScript(spark,
      s"""DROP TABLE IF EXISTS adrain_src;
         |CREATE TABLE adrain_src USING log OPTIONS (path '$src');
         |DROP TABLE IF EXISTS adrain_sink;
         |CREATE TABLE adrain_sink USING kv OPTIONS (path '$sink', output.mode 'append',
         |catalog '{"columns": {"w_start": {"type": "bigint"}, "n": {"type": "bigint"}}}');
         |SET streaming.query.name=adrain_job;
         |SET spark.sql.streaming.checkpointLocation.adrain_job=$ckpt;
         |INSERT INTO adrain_sink
         |SELECT CAST(unix_timestamp(w.start) AS BIGINT) AS w_start, count(*) AS n
         |FROM (SELECT tumbling(ts, interval 1 minute) AS w FROM adrain_src WHERE delay(ts) < '2 minutes')
         |GROUP BY w""".stripMargin)
    val base = 1704067200L // 2024-01-01 epoch
    val got = spark.read.format("kv").option("path", sink).load()
      .orderBy("w_start").collect().map(r => (r.getLong(0) - base, r.getLong(1))).toSeq
    assert(got == Seq((0L, 1L), (60L, 1L), (120L, 1L)),
      s"windows ending <= wm (inclusive) must emit, later ones must not: $got")
  }

  test("left-outer stream-stream join: unmatched left emits iff a_ts < global wm (strict)") {
    val srcA = Files.createTempDirectory("adrain-a").toString
    val srcB = Files.createTempDirectory("adrain-b").toString
    val sink = Files.createTempDirectory("adrain-js").toString + "/t"
    val ckpt = Files.createTempDirectory("adrain-jck").toString
    // max both sides 00:10:00 → wm = min(10:00-60s, 10:00-30s) = 00:09:00.
    writeShard(srcA, "a.parquet", Seq(
      ("2024-01-01 00:00:05", 1L, 1.0),   // matched by b@00:00:03
      ("2024-01-01 00:01:00", 2L, 2.0),   // unmatched, 1:00 < 9:00 → nulls
      ("2024-01-01 00:08:50", 3L, 3.0),   // unmatched, 8:50 < 9:00 → nulls
      ("2024-01-01 00:09:00", 5L, 5.0),   // == wm → NOT emitted (strict)
      ("2024-01-01 00:09:30", 4L, 4.0),   // > wm → not emitted
      ("2024-01-01 00:10:00", 9L, 9.0)))
    writeShard(srcB, "b.parquet", Seq(
      ("2024-01-01 00:00:03", 1L, 10.0),
      ("2024-01-01 00:10:00", 8L, 80.0)))
    GraftSql.runScript(spark,
      s"""DROP TABLE IF EXISTS adrain_ja; CREATE TABLE adrain_ja USING log OPTIONS (path '$srcA');
         |DROP TABLE IF EXISTS adrain_jb; CREATE TABLE adrain_jb USING log OPTIONS (path '$srcB');
         |DROP TABLE IF EXISTS adrain_jsink;
         |CREATE TABLE adrain_jsink USING kv OPTIONS (path '$sink', output.mode 'append',
         |catalog '{"columns": {"ak": {"type": "bigint"}, "bv": {"type": "double"}}}');
         |SET streaming.query.name=adrain_jjob;
         |SET spark.sql.streaming.checkpointLocation.adrain_jjob=$ckpt;
         |INSERT INTO adrain_jsink
         |SELECT a.k AS ak, b.v AS bv
         |FROM (SELECT ts AS a_ts, k, v FROM adrain_ja) a
         |LEFT OUTER JOIN (SELECT ts AS b_ts, k AS bk, v FROM adrain_jb) b
         |ON (a.k = b.bk AND a.a_ts >= b.b_ts AND a.a_ts <= b.b_ts + interval 30 seconds)
         |WHERE delay(b_ts) < '30 seconds' AND delay(a_ts) < '60 seconds'""".stripMargin)
    val got = spark.read.format("kv").option("path", sink).load()
      .orderBy("ak").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
    assert(got == Seq((1L, Some(10.0)), (2L, None), (3L, None)),
      s"matched always; unmatched iff a_ts strictly below the global watermark: $got")
  }
}
