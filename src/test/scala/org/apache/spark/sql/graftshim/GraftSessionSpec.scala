package org.apache.spark.sql.graftshim

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, Executors}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.operators.SessionCaches
import graft.sources.ParquetIO
import graft.sources.log.LogTailCache

/** The one session helper: conf set on a gate's, script's or drain's
  * clone stays on that clone, and a gate's resources are released once
  * it has executed.
  */
class GraftSessionSpec extends SparkSpec {

  private val Partitions = "spark.sql.shuffle.partitions"

  test("two gates on concurrent clones each see only their own shuffle partitions") {
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val barrier = new CyclicBarrier(2)
    def gate(n: Int): Future[(String, Int)] = Future {
      val parent = GraftSession.clone(spark, Partitions -> n.toString,
        "spark.sql.adaptive.enabled" -> "false")
      GraftSession.runGate(parent) { s =>
        barrier.await() // both clones exist and are active before either reads
        val grouped = s.range(100).groupBy((col("id") % 7).as("k")).count()
        val parts = grouped.rdd.getNumPartitions
        barrier.await() // neither finishes before the other has planned
        (s.conf.get(Partitions), parts)
      }
    }
    val (a, b) = (gate(3), gate(5))
    try {
      assert(Await.result(a, 2.minutes) == ("3", 3))
      assert(Await.result(b, 2.minutes) == ("5", 5))
    } finally pool.shutdown()
    assert(spark.conf.get(Partitions) == "4", "the parent kept its own value")
  }

  test("a q_sql script's SET stays on the script's clone") {
    val parent = GraftSession.clone(spark, Partitions -> "7")
    val rows = GraftSession.runGate(parent) { s =>
      graft.SparkEntry.queries("q_sql_q84")(s, sf("")).count()
    }
    assert(rows > 0)
    assert(parent.conf.get(Partitions) == "7",
      "the script's SET spark.sql.shuffle.partitions=4 leaked into its parent")
    assert(parent.conf.getOption("streaming.query.name").isEmpty)
  }

  test("runScript on a session without the graft extensions fails and names the helper") {
    val plain = new ClassicSparkSession(spark.sparkContext)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.GraftSql.runScript(plain, "SET a.b=1")
    }
    assert(e.getMessage.contains("GraftSession.build"), e.getMessage)
    assert(plain.conf.getOption("a.b").isEmpty)
  }

  test("after a gate: no registered caches and no parked log readers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gatescope").toString
    val tmp = Files.createTempDirectory("gatescopetmp").toString
    (0 until 500).map(i => (i.toLong, s"m$i")).toDF("id", "body")
      .coalesce(1).write.format("kv").option("path", tmp).mode("overwrite").save()
    val part = ParquetIO.listFiles(tmp).head
    part.getFileSystem(ParquetIO.hadoopConf)
      .rename(part, new org.apache.hadoop.fs.Path(dir, "shard-a.parquet"))
    SessionCaches.releaseAll()
    LogTailCache.clearAll()

    val (registered, parked) = GraftSession.runGate(spark) { s =>
      SessionCaches.register(s.range(1000).toDF("id")).count()
      // a rate-limited drain, then a mid-file slice that parks its reader
      val q = s.readStream.format("log").option("path", dir)
        .option("maxOffsetsPerTrigger", "37").load()
        .writeStream.format("noop")
        .option("checkpointLocation", Files.createTempDirectory("gatescopeck").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(s.read.format("log").option("path", dir)
        .option("starting.offsets", """{"shard-a.parquet": 100}""")
        .option("ending.offsets", """{"shard-a.parquet": 200}""").load().count() == 100)
      (SessionCaches.outstanding, LogTailCache.parkedCount)
    }
    assert(registered > 0 && parked > 0, s"the gate held $registered caches, $parked readers")
    assert(SessionCaches.outstanding == 0)
    assert(LogTailCache.parkedCount == 0)
  }
}
