package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** U4: TUMBLING / HOPPING / delay SQL spellings, on a clone of the
  * shared session (which `GraftSession.build` made with the extensions).
  */
class GraftSqlExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    org.apache.spark.sql.graftshim.GraftSession.clone(graft.SparkSpec.session)

  private def eventsDf = {
    import spark.implicits._
    Seq(
      ("2024-01-01 00:00:10", "a", 1.0),
      ("2024-01-01 00:00:40", "a", 2.0),
      ("2024-01-01 00:01:10", "b", 3.0),
      ("2024-01-01 00:02:30", "a", 4.0))
      .toDF("ts_s", "k", "v")
      .select(col("ts_s").cast("timestamp").as("ts"), col("k"), col("v"))
  }

  test("tumbling(ts, interval) groups into fixed windows (q101 semantics)") {
    eventsDf.createOrReplaceTempView("ev")
    val got = spark.sql(
      """SELECT w.start AS ws, count(*) AS n, sum(v) AS s
        |FROM (SELECT tumbling(ts, interval 1 minute) AS w, v FROM ev)
        |GROUP BY w.start ORDER BY ws""".stripMargin).collect()
    assert(got.map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2))).toSeq == Seq(
      ("2024-01-01 00:00:00.0", 2L, 3.0),
      ("2024-01-01 00:01:00.0", 1L, 3.0),
      ("2024-01-01 00:02:00.0", 1L, 4.0)))
  }

  test("hopping(ts, slide, size) assigns events to overlapping windows (q100 semantics)") {
    eventsDf.createOrReplaceTempView("ev")
    val got = spark.sql(
      """SELECT w.start AS ws, count(*) AS n
        |FROM (SELECT hopping(ts, interval 30 seconds, interval 1 minute) AS w FROM ev)
        |GROUP BY w.start ORDER BY ws""".stripMargin).collect()
    // every event lands in exactly 2 windows of (60s size, 30s slide)
    assert(got.map(_.getLong(1)).sum == 8L)
  }

  test("GROUP BY tumbling(...) directly in SQL") {
    eventsDf.createOrReplaceTempView("ev")
    val got = spark.sql(
      """SELECT count(*) AS n FROM ev
        |GROUP BY tumbling(ts, interval 1 minute) ORDER BY n DESC""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 1L, 1L))
  }

  test("delay(ts) < 'd' rewrites to a watermark and drops late rows in streaming") {
    import spark.implicits._
    val dir = Files.createTempDirectory("delaystream").toString
    val ckpt = Files.createTempDirectory("delayckpt").toString
    // shard 1: on-time data advancing the watermark far past the late row
    val w1 = Seq(
      ("2024-01-01 00:00:10", 1.0), ("2024-01-01 00:00:20", 2.0),
      ("2024-01-01 00:10:00", 9.0)) // advances watermark to 00:09:30
    val w2 = Seq(("2024-01-01 00:00:30", 5.0)) // late by far more than 30s
    def writeShard(name: String, rows: Seq[(String, Double)]): Unit = {
      val tmp = Files.createTempDirectory("t").toString
      rows.toDF("ts_s", "v")
        .select(col("ts_s").cast("timestamp").as("ts"), col("v"))
        .coalesce(1).write.format("kv").option("path", tmp).mode("overwrite").save()
      val p = graft.sources.ParquetIO.listFiles(tmp).head
      val fs = p.getFileSystem(graft.sources.ParquetIO.hadoopConf)
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      fs.rename(p, new org.apache.hadoop.fs.Path(dir, name))
    }
    writeShard("w1.parquet", w1)

    spark.readStream.format("log").option("path", dir).load()
      .createOrReplaceTempView("ev_stream")
    val agg = spark.sql(
      """SELECT tumbling(ts, interval 1 minute) AS w, count(*) AS n, sum(v) AS s
        |FROM ev_stream
        |WHERE delay(ts) < '30 seconds'
        |GROUP BY tumbling(ts, interval 1 minute)""".stripMargin)
    // the watermark node must exist in the analyzed plan
    assert(agg.queryExecution.analyzed.toString.contains("EventTimeWatermark"),
      agg.queryExecution.analyzed.toString)
    val q = agg.selectExpr("w.start AS ws", "n", "s")
      .writeStream.outputMode("append").format("memory").queryName("delay_out")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      writeShard("w2.parquet", w2) // late row arrives in a later batch
      q.processAllAvailable()
      // force one more batch so the watermark state finalizes windows
      writeShard("w3.parquet", Seq(("2024-01-01 00:20:00", 0.0)))
      q.processAllAvailable()
      val rows = spark.table("delay_out").orderBy("ws").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2))).toSeq
      // window 00:00 closed before the late row arrived → n=2 (late row dropped)
      assert(rows.contains(("2024-01-01 00:00:00.0", 2L, 3.0)), rows.toString)
    } finally q.stop()
  }

  test("stream-stream self-join over the log source (reference suite :427)") {
    val dir = Files.createTempDirectory("ssjoin").toString
    val ckpt = Files.createTempDirectory("ssjoinckpt").toString
    import spark.implicits._
    val tmp = Files.createTempDirectory("t").toString
    (0 until 10).map(i => (i.toLong, i % 3)).toDF("id", "grp")
      .coalesce(1).write.format("kv").option("path", tmp).mode("overwrite").save()
    val p = graft.sources.ParquetIO.listFiles(tmp).head
    val fs = p.getFileSystem(graft.sources.ParquetIO.hadoopConf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.rename(p, new org.apache.hadoop.fs.Path(dir, "s.parquet"))

    val s1 = spark.readStream.format("log").option("path", dir).load()
    val s2 = spark.readStream.format("log").option("path", dir).load()
    val joined = s1.join(s2, "id")
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("ssjoin_out").count() == 10)
    } finally q.stop()
  }
}
