package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.sinks.ExactlyOnceJdbcSink
import graft.sources.kv.{KvBloom, KvIndex, KvSidecar}
import Inputs._

/** `log_ingest`: a sharded `log` backlog drained with `Trigger.AvailableNow`
  * and a small `maxOffsetsPerTrigger`, so per-trigger overhead dominates.
  * Each trigger runs one `foreachBatch` that appends the rows to a `kv`
  * table, maintains its Bloom and zone-map sidecars, computes a windowed
  * sketch aggregate in SQL and commits it through the exactly-once JDBC
  * sink into in-memory Derby.
  *
  * The client drains the same backlog into a fresh table, checkpoint and
  * sink table, cycle after cycle, until the window closes; every cycle is
  * checked in full.
  */
final class LogIngest(ctx: Ctx, logShape: LogShape, maxOffsetsPerTrigger: Int)
    extends Workload {
  import ctx.spark

  private var input: LogInput = _
  private var logDir: Path = _
  private var drains = 0

  def shape: Seq[(String, Any)] = Seq(
    "shards" -> logShape.shards, "rows" -> logShape.shards * logShape.rowsPerShard,
    "users" -> logShape.users, "zipf_s" -> logShape.zipfS,
    "out_of_order_share" -> logShape.outOfOrderShare,
    "max_offsets_per_trigger" -> maxOffsetsPerTrigger,
    "out_of_order_rows" -> input.outOfOrder,
    "triggers_per_drain" -> math.ceil(logShape.shards * logShape.rowsPerShard.toDouble /
      maxOffsetsPerTrigger).toInt, "input_digest" -> input.digest)

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("amount", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  /** One parquet file per shard, all written by one job. */
  private def writeLog(in: LogInput, dir: Path): Unit = {
    Files.createDirectories(dir)
    val shards = in.shards.map(_.map(e => Row(e.eventId, e.userId, e.eventType, e.amount,
      new java.sql.Timestamp(e.tsMicros / 1000))))
    val rdd = spark.sparkContext.parallelize(shards, shards.length).flatMap(identity)
    LocalFiles.writeParquetFiles(spark.createDataFrame(rdd, eventSchema),
      shards.indices.map(s => dir.resolve(f"shard-$s%02d.parquet")))
  }

  /** The first triggers of a drain of the prepared backlog: enough for
    * trigger times to stop falling as the JIT compiles the trigger path.
    */
  def warmUp(scratch: Path): Unit =
    drain(input, logDir, scratch, maxOffsetsPerTrigger, _ >= LogIngest.WarmUpTriggers, None)

  def prepare(dir: Path): Unit = {
    input = Inputs.log(ctx.seed, logShape)
    logDir = dir.resolve("log")
    writeLog(input, logDir)
  }

  private val aggSql =
    """SELECT batch_id, CAST(unix_timestamp(w.start) AS BIGINT) AS window_start,
      |  event_type, count(*) AS n, sum(amount) AS amount,
      |  hll_distinct(user_id, 12) AS users
      |FROM (SELECT tumbling(ts, interval 1 minute) AS w, batch_id, event_type,
      |        amount, user_id FROM %s)
      |GROUP BY batch_id, w.start, event_type""".stripMargin

  /** Drains `in` from `log` into fresh state under `dir` until the backlog
    * is empty or `stop(batchId)` holds at the start of a trigger, which
    * then ends the query before doing any work. Checks the result when
    * `rec` is given.
    */
  private def drain(in: LogInput, log: Path, dir: Path, maxOffsets: Int,
      stop: Long => Boolean, rec: Option[Recorder]): LogIngest.Drained = {
    val kv = dir.resolve("kv").toString
    // each trigger's steal share, over its foreachBatch, which is most of it
    val stealByBatch = scala.collection.concurrent.TrieMap.empty[Long, Double]
    val url = s"jdbc:derby:memory:perfbench_${java.util.UUID.randomUUID().toString.replace("-", "")};create=true"
    val table = "WINDOW_AGG"
    Files.createDirectories(dir)
    // The table starts empty but indexed, so every trigger maintains the
    // sidecars incrementally.
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
        eventSchema.add("batch_id", LongType, nullable = false))
      .write.format("kv").option("path", kv).mode("append").save()
    KvBloom.build(spark, kv, Seq("user_id"))
    KvIndex.build(kv, Seq("event_id", "ts"))
    val t0 = System.nanoTime()
    val steal = Steal.start()
    val q = spark.readStream.format("log").option("path", log.toString)
      .option("maxOffsetsPerTrigger", maxOffsets.toString).load()
      .writeStream
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (stop(batchId)) throw new LogIngest.WindowClosed
        ctx.tracer.op = batchId
        val batchSteal = Steal.start()
        ctx.span("stream.foreach_batch") { oneBatch(batch, batchId, kv, url, table) }
        stealByBatch(batchId) = batchSteal.share
        ()
      }
      .start()
    try q.awaitTermination()
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException
          if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[LogIngest.WindowClosed]) => ()
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val stealShare = steal.share
    org.apache.spark.perfbenchshim.ListenerBus.drain(spark.sparkContext)
    val progress = ctx.runtime.progressOf(q.id).filter(_.numInputRows > 0)
    rec.foreach(checkDrain(in, progress, kv, url, table, _))
    dropDerby(url)
    LocalFiles.deleteTree(dir)
    val netTriggerMs = progress.map(p => p.durationMs.get("triggerExecution").doubleValue *
      (1 - stealByBatch.getOrElse(p.batchId, stealShare)))
    LogIngest.Drained(wallMs, stealShare, netTriggerMs, progress)
  }

  private def oneBatch(batch: DataFrame, batchId: Long, kv: String, url: String,
      table: String): Unit = {
    val rows = ctx.span("log.read") { batch.persist(); batch.count() }
    try {
      val before = if (ctx.tracer.enabled) LocalFiles.dataFiles(java.nio.file.Paths.get(kv)).toSet else Set.empty[Path]
      ctx.span("kv.write") {
        batch.withColumn("batch_id", lit(batchId))
          .write.format("kv").option("path", kv).mode("append").save()
      }
      if (ctx.tracer.enabled) {
        val added = LocalFiles.dataFiles(java.nio.file.Paths.get(kv)).filterNot(before.contains)
        ctx.tracer.count("kv.files_written", added.length)
        ctx.tracer.count("kv.bytes_written", added.map(f => Files.size(f)).sum.toDouble)
        ctx.tracer.count("log.rows_served", rows.toDouble)
      }
      ctx.span("kv.bloom_append") { KvBloom.append(spark, kv) }
      ctx.span("kv.index_append") { KvIndex.append(kv) }
      val agg = ctx.span("sql.window_agg") {
        val view = "perfbench_batch"
        batch.withColumn("batch_id", lit(batchId)).createOrReplaceTempView(view)
        // the batch belongs to the streaming query's own session
        val s = batch.sparkSession
        val df = s.sql(aggSql.format(view))
        s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema).coalesce(1)
      }
      ctx.span("jdbc.add_batch") {
        if (ExactlyOnceJdbcSink.addBatch(url, table, batchId, agg))
          ctx.tracer.count("jdbc.rows_committed", agg.count().toDouble)
      }
    } finally batch.unpersist()
  }

  private def jdbcRows(url: String, sql: String): Seq[Seq[Any]] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) out += (1 to n).map(i => rs.getObject(i) match {
        case l: java.lang.Long => l.longValue
        case o => o
      })
      out.toSeq
    } finally c.close()
  }

  private def dropDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // a successful drop reports as an exception

  /** The drain's checks: the kv table holds exactly the log's rows, the
    * sink holds exactly the batch recomputation of the aggregate, and a
    * replay of a committed batch is skipped.
    */
  private def checkDrain(in: LogInput,
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], kv: String,
      url: String, table: String, r: Recorder): Unit = {
    val lastBatch = progress.lastOption.map(_.batchId).getOrElse(-1L)
    val got = spark.read.format("kv").option("path", kv).load()
    // the rows the committed triggers consumed: each shard's prefix up to
    // the last committed end offset
    val end: Map[String, Long] = progress.lastOption.map { p =>
      org.json4s.jackson.JsonMethods.parse(p.sources.head.endOffset).values
        .asInstanceOf[Map[String, BigInt]].map { case (k, v) => k -> v.toLong }
    }.getOrElse(Map.empty)
    val events = in.shards.zipWithIndex.flatMap { case (rows, s) =>
      rows.take(end.getOrElse(f"shard-$s%02d.parquet", 0L).toInt) }
    r.check("log_ingest kv row count equals the log") { got.count() == events.length }
    r.check("log_ingest kv user_id multiset equals the log") {
      val want = events.groupBy(_.userId).map { case (u, es) => u -> es.length.toLong }
      got.groupBy("user_id").count().collect().map(x => x.getLong(0) -> x.getLong(1)).toMap == want
    }
    r.check("log_ingest kv event ids equal the log") {
      got.select("event_id").collect().map(_.getLong(0)).sorted.toSeq == events.map(_.eventId).sorted
    }
    val cols = "batch_id, window_start, event_type, n, amount, users"
    def sinkRows = jdbcRows(url, s"SELECT $cols FROM $table").map(_.mkString("|")).sorted
    r.check("log_ingest JDBC aggregate equals the batch recomputation") {
      got.createOrReplaceTempView("perfbench_kv_all")
      val want = spark.sql(aggSql.format("perfbench_kv_all")).select(
        cols.split(", ").map(col).toSeq: _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq
      sinkRows == want
    }
    r.check("log_ingest replayed committed batch is skipped") {
      val before = sinkRows
      val replay = spark.read.format("kv").option("path", kv).load()
        .filter(col("batch_id") === lastBatch)
      replay.createOrReplaceTempView("perfbench_replay")
      val skipped = !ExactlyOnceJdbcSink.addBatch(url, table, lastBatch,
        spark.sql(aggSql.format("perfbench_replay")))
      if (skipped) ctx.tracer.count("jdbc.batches_skipped", 1)
      skipped && sinkRows == before
    }
  }

  def measure(seconds: Double): Window = {
    val triggers = math.max(2, math.round(seconds / LogIngest.NominalTriggerS)).toInt
    val rec = ctx.rec
    val parses0 = KvSidecar.parseCount.get()
    drains += 1
    val LogIngest.Drained(wallMs, s, netTriggerMs, progress) = rec.op("drain") {
      drain(input, logDir, logDir.resolveSibling(s"drain-$drains"), maxOffsetsPerTrigger,
        _ >= triggers, Some(rec))
    }.getOrElse(LogIngest.Drained(Double.PositiveInfinity, 0.0, Nil, Nil))
    rec.attempted += progress.length // every committed trigger is an operation
    val rows = progress.map(_.numInputRows).sum
    val trig = progress.map(_.durationMs.get("triggerExecution").doubleValue)
    def d(key: String) = progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0))
    val e2e = Map(
      "op_ms_p50" -> (Stats.medianOr(netTriggerMs, Double.PositiveInfinity), "ms"),
      "ops_per_s" -> (progress.length / (wallMs * (1 - s) / 1000), "1/s"),
      "steal_share" -> (s, "ratio"),
      "ingest_rows_per_s" -> (rows / (wallMs / 1000), "rows/s"),
      "trigger_ms_p50" -> (Stats.medianOr(trig, Double.PositiveInfinity), "ms"),
      "trigger_ms_p95" -> (if (trig.isEmpty) Double.PositiveInfinity else Stats.pct(trig, 95), "ms"),
      "trigger_samples" -> (trig.length.toDouble, "count"))
    val t = ctx.tracer
    val layers = if (!t.enabled) Map.empty[String, (Double, String)] else {
      val logTasks = ctx.runtime.taskRecs("traced").filter(_.span == "log.read")
      val rowsRead = logTasks.map(_.recordsRead).sum.toDouble
      val served = t.counter("log.rows_served")
      val inBytes = LocalFiles.sizeOf(logDir).toDouble * served / input.rows
      Map(
        "stream.latest_offset_ms" -> (Stats.layerMedian(d("latestOffset")), "ms"),
        "stream.get_batch_ms" -> (Stats.layerMedian(d("getBatch")), "ms"),
        "stream.query_planning_ms" -> (Stats.layerMedian(d("queryPlanning")), "ms"),
        "stream.add_batch_ms" -> (Stats.layerMedian(d("addBatch")), "ms"),
        "stream.wal_commit_ms" -> (Stats.layerMedian(d("walCommit")), "ms"),
        "stream.commit_offsets_ms" -> (Stats.layerMedian(d("commitOffsets")), "ms"),
        "stream.triggers" -> (trig.length.toDouble, "count"),
        "log.rows_read" -> (rowsRead, "count"),
        "log.rows_served" -> (served, "count"),
        "log.decode_ratio" -> (if (served > 0) rowsRead / served else 0.0, "ratio"),
        "log.bytes_read" -> (logTasks.map(_.bytesRead).sum.toDouble, "bytes"),
        "kv.write_ms" -> (Stats.layerMedian(t.durationsMs("kv.write")), "ms"),
        "kv.files_written" -> (t.counter("kv.files_written"), "count"),
        "kv.bytes_written_per_input_byte" -> (t.counter("kv.bytes_written") / inBytes, "ratio"),
        "kv.bloom_append_ms" -> (Stats.layerMedian(t.durationsMs("kv.bloom_append")), "ms"),
        "kv.index_append_ms" -> (Stats.layerMedian(t.durationsMs("kv.index_append")), "ms"),
        "kv.sidecar_parses" -> ((KvSidecar.parseCount.get() - parses0).toDouble, "count"),
        "sql.window_agg_ms" -> (Stats.layerMedian(t.durationsMs("sql.window_agg")), "ms"),
        "jdbc.add_batch_ms" -> (Stats.layerMedian(t.durationsMs("jdbc.add_batch")), "ms"),
        "jdbc.rows_committed" -> (t.counter("jdbc.rows_committed"), "count"),
        "jdbc.batches_skipped" -> (t.counter("jdbc.batches_skipped"), "count"))
    }
    Window(e2e, layers)
  }

  def finish(): Window = Window(Map.empty, Map.empty)
}

object LogIngest {
  /** A drain's wall time from query start to its end, in ms, the steal
    * share over that time, and for every committed trigger its
    * `triggerExecution` time net of the steal over its `foreachBatch` and
    * its progress.
    */
  final case class Drained(wallMs: Double, steal: Double,
      netTriggerMs: Seq[Double],
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

  val WarmUpTriggers = 4
  /** About how long one trigger takes; sizes the window. */
  val NominalTriggerS = 1.0

  /** Ends a drain: thrown by the first trigger past the window's count.
    * `Trigger.AvailableNow` has no graceful stop between triggers, and
    * failing the trigger before it writes anything leaves exactly the
    * committed triggers' output behind.
    */
  final class WindowClosed extends RuntimeException("drain stopped by the client")
}
