package graft.examples

import java.nio.file.Files
import org.apache.spark.sql.graftshim.GraftSession
import org.apache.spark.sql.functions._
import graft.sources.cdc.Cdc

/** Runnable examples mirroring the reference's `examples/` tree.
  *
  * Run with: `sbt "runMain graft.examples.<Name>"`.
  */

/** Streaming windowed aggregation over the log source — the reference's
  * `StructuredTableStoreAggSample.scala:78-80` shape: read a stream,
  * window by event time, count + sum per window.
  */
object StreamingWindowAggExample {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local[4]")
    import spark.implicits._

    // stage one shard of events into a log-store directory
    val dir = Files.createTempDirectory("example-log").toString
    val tmp = Files.createTempDirectory("t").toString
    (0 until 100).map(i => (f"2024-01-01 00:${i / 30}%02d:${i % 30}", i % 3, i * 1.0))
      .toDF("ts_s", "k", "v")
      .select($"ts_s".cast("timestamp").as("ts"), $"k", $"v")
      .coalesce(1).write.format("kv").option("path", tmp).mode("overwrite").save()
    val p = graft.sources.ParquetIO.listFiles(tmp).head
    val fs = p.getFileSystem(graft.sources.ParquetIO.hadoopConf)
    fs.rename(p, new org.apache.hadoop.fs.Path(dir, "shard-0.parquet"))

    val q = spark.readStream.format("log").option("path", dir).load()
      .withWatermark("ts", "30 seconds")
      .groupBy(window($"ts", "30 seconds"), $"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("total"))
      .writeStream.outputMode("complete").format("console")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.stop()
  }
}

/** CDC changelog → continuously-merged table — the reference's
  * `DeltaTableStoreCDC.scala:108-165` MERGE pattern on our stack.
  */
object CdcMergeExample {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local[4]")
    import spark.implicits._

    val changelog = Files.createTempDirectory("example-cdc").toString
    val target = Files.createTempDirectory("example-target").toString + "/t"

    def change(t: String, ts: Long, pk: Long, name: String, nameOp: String) =
      (t, ts, pk, name, nameOp)
    Cdc.appendBatch(Seq(
      change("PUT", 1L, 1L, "alice", "PUT"),
      change("PUT", 1L, 2L, "bob", "PUT"))
      .toDF("__record_type__", "__record_timestamp__", "pk", "name", "__column_type_name"),
      changelog)
    Cdc.appendBatch(Seq(
      change("UPDATE", 2L, 1L, "alice2", "PUT"),
      change("DELETE", 2L, 2L, null, null))
      .toDF("__record_type__", "__record_timestamp__", "pk", "name", "__column_type_name"),
      changelog)

    val q = Cdc.applyStream(spark, changelog, target, Seq("pk"),
      Files.createTempDirectory("ck").toString)
    q.processAllAvailable()
    q.stop()

    println("=== merged table state ===")
    spark.read.format("kv").option("path", target).load().orderBy("pk").show()
    spark.stop()
  }
}

/** A reference-shaped streaming job as pure SQL text — the
  * `emr-baseline-testing/queries/q3.sql:12-21` contract: CREATE TABLE ...
  * USING <source> OPTIONS(..., output.mode), SET query name + checkpoint,
  * INSERT INTO starts the stream.
  */
object SqlStreamingJobExample {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local[4]")
    import spark.implicits._

    val src = Files.createTempDirectory("example-sql-src").toString
    val sink = Files.createTempDirectory("example-sql-sink").toString + "/t"
    val ckpt = Files.createTempDirectory("example-sql-ck").toString
    val tmp = Files.createTempDirectory("t").toString
    (0 until 50).map(i => (i.toLong, s"cat${i % 3}", i * 1.0)).toDF("id", "cat", "v")
      .coalesce(1).write.format("kv").option("path", tmp).mode("overwrite").save()
    val p = graft.sources.ParquetIO.listFiles(tmp).head
    p.getFileSystem(graft.sources.ParquetIO.hadoopConf)
      .rename(p, new org.apache.hadoop.fs.Path(src, "shard-0.parquet"))

    graft.streaming.GraftSql.runScript(spark,
      s"""CREATE TABLE example_events USING log OPTIONS (path '$src');
         |CREATE TABLE example_sink USING kv OPTIONS (path '$sink', output.mode 'complete',
         |  catalog '{"columns": {"cat": {"type": "string"}, "n": {"type": "long"}, "total": {"type": "double"}}}');
         |SET streaming.query.name=example_job;
         |SET spark.sql.streaming.checkpointLocation.example_job=$ckpt;
         |INSERT INTO example_sink
         |SELECT cat, count(*) AS n, sum(v) AS total FROM example_events GROUP BY cat""".stripMargin)

    println("=== sink table (complete mode, latest image) ===")
    spark.read.format("kv").option("path", sink).load().orderBy("cat").show()
    spark.stop()
  }
}

/** Search-index scan mode: build a zone-map index, watch filters become
  * source-satisfied (no post-scan Filter) and row groups prune at
  * planning time.
  */
object SearchIndexExample {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local[4]")
    import spark.implicits._

    val dir = Files.createTempDirectory("example-idx").toString + "/t"
    (0 until 4).foreach { part =>
      (part * 1000 until (part + 1) * 1000).map(i => (i.toLong, s"cat${i % 5}", i * 1.5))
        .toDF("k", "cat", "v").coalesce(1)
        .write.format("kv").option("path", dir).mode("append").save()
    }

    def q = spark.read.format("kv").option("path", dir).load()
      .filter($"k" >= 1200L && $"k" < 1300L)
    println("=== plan WITHOUT index (filters residual, re-applied) ===")
    q.explain()
    graft.sources.kv.KvIndex.build(dir, Seq("k", "cat"))
    println("=== plan WITH index (filters satisfied, groups pruned) ===")
    q.explain()
    println(s"rows: ${q.count()}")
    spark.stop()
  }
}

/** End-to-end training-data curation over the fixture corpus: quality
  * gate → PII scrub → repetition filter → MinHash near-dedup →
  * mixture-weighted thinning → token accounting → sequence packing.
  * Every stage is an operator from this library; the chain stays one
  * lazily-composed set of Catalyst plans until the final actions.
  */
object CurationPipelineExample {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local[4]")
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"

    import graft.functions.TextFunctions
    import graft.operators.{Curation, Dedup}

    val docs = graft.Tables.load(spark, sfDir, "documents")

    // 1. quality gate + PII scrub
    val gated = Curation.scrubPii(
      docs.where(TextFunctions.qualityScore(col("text")) >= 0.4), "text")

    // 2. drop high-repetition docs (Gopher-style thresholds)
    val rep = Curation.repetitionSignals(gated, "text", "doc_id")
      .where(col("word_rep") <= 0.9 && col("dup5_frac") <= 1.0)
      .select("doc_id")
    val clean = gated.join(rep, Seq("doc_id"), "left_semi")

    // 3. near-dedup: MinHash-LSH pairs → connected components → keep reps
    val pairs = Dedup.minHashLsh(clean, "text", "doc_id",
      numHashes = 64, bands = 16, minJaccard = 0.5)
    val deduped = Dedup.dropNearDuplicates(clean, pairs, "doc_id")

    // 4. mixture weighting: downsample each source at a per-source rate
    val mixed = Curation.sampleMixture(deduped, "doc_id",
      ((substring(col("source"), 4, 10).cast("int") % 4) + 1).cast("double") / 4.0)

    // 5. pack into 2048-token training sequences across 8 shards
    val packed = Curation.packSequences(mixed, "doc_id",
      TextFunctions.tokenCount(col("text")), capacity = 2048, shards = 8)

    println(s"docs in: ${docs.count()}, after curation: ${mixed.count()}")
    packed.orderBy(col("shard"), col("tok_offset")).show(10, truncate = false)
    spark.stop()
  }
}
