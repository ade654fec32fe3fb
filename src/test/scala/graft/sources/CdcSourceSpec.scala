package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.functions.CdcFunctions._
import graft.sources.cdc.Cdc
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CdcSourceSpec extends SparkSpec {
  import spark.implicits._

  private val userSchema = StructType(Seq(
    StructField("pk", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  test("schema augmentation matches reference meta-column layout") {
    val aug = Cdc.augmentSchema(userSchema, Seq("pk"))
    assert(aug.fieldNames.toSeq == Seq(
      "__record_type__", "__record_timestamp__", "pk", "name", "score",
      "__column_type_name", "__column_type_score"))
  }

  private def changeRow(t: String, ts: Long, pk: Long, name: String, score: java.lang.Double,
      nameOp: String, scoreOp: String) = (t, ts, pk, name, score, nameOp, scoreOp)

  private def changesDf(rows: Seq[(String, Long, Long, String, java.lang.Double, String, String)]) =
    rows.toDF("__record_type__", "__record_timestamp__", "pk", "name", "score",
      "__column_type_name", "__column_type_score")

  test("changelog append + batch read + streaming read") {
    val dir = Files.createTempDirectory("cdclog").toString
    val ckpt = Files.createTempDirectory("cdcckpt").toString
    Cdc.appendBatch(changesDf(Seq(
      changeRow("PUT", 1L, 1L, "alice", 1.0, "PUT", "PUT"),
      changeRow("PUT", 1L, 2L, "bob", 2.0, "PUT", "PUT"))), dir)
    Cdc.appendBatch(changesDf(Seq(
      changeRow("UPDATE", 2L, 1L, "alice2", null, "PUT", "DELETE_ONE_VERSION"))), dir)

    val batch = spark.read.format("cdc").option("path", dir).load()
    assert(batch.count() == 3)

    val q = spark.readStream.format("cdc").option("path", dir)
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.format("memory").queryName("cdc_out")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_out").count() == 3)
      val perBatch = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(perBatch.forall(_ <= 2), s"maxFilesPerTrigger=1 → ≤1 file (≤2 rows)/batch: ${perBatch.mkString(",")}")
      // late-arriving change batch picked up incrementally
      Cdc.appendBatch(changesDf(Seq(
        changeRow("DELETE", 3L, 2L, null, null, null, null))), dir)
      q.processAllAvailable()
      assert(spark.table("cdc_out").count() == 4)
    } finally q.stop()
  }

  test("applyChanges: upsert + column delete + row delete") {
    val changes = changesDf(Seq(
      changeRow("PUT", 1L, 1L, "alice", 1.0, "PUT", "PUT"),
      changeRow("PUT", 1L, 2L, "bob", 2.0, "PUT", "PUT"),
      changeRow("PUT", 1L, 3L, "carol", 3.0, "PUT", "PUT"),
      changeRow("UPDATE", 2L, 1L, "alice2", null, "PUT", "DELETE_ONE_VERSION"),
      changeRow("DELETE", 2L, 3L, null, null, null, null)))
    val state = Cdc.applyChanges(changes, Seq("pk"))
      .orderBy("pk").collect()
    assert(state.length == 2)
    assert(state(0).getLong(0) == 1L && state(0).getString(1) == "alice2" && state(0).isNullAt(2))
    assert(state(1).getLong(0) == 2L && state(1).getString(1) == "bob" &&
      state(1).getDouble(2) == 2.0)
  }

  test("streaming CDC apply: changelog stream merges into a kv table (Delta-MERGE example shape)") {
    val logDir = Files.createTempDirectory("cdcapply").toString
    val target = Files.createTempDirectory("cdctarget").toString + "/t"
    val ckpt = Files.createTempDirectory("cdcapplyckpt").toString
    Cdc.appendBatch(changesDf(Seq(
      changeRow("PUT", 1L, 1L, "alice", 1.0, "PUT", "PUT"),
      changeRow("PUT", 1L, 2L, "bob", 2.0, "PUT", "PUT"),
      changeRow("PUT", 1L, 3L, "carol", 3.0, "PUT", "PUT"))), logDir)
    Cdc.appendBatch(changesDf(Seq(
      changeRow("UPDATE", 2L, 1L, "alice2", null, "PUT", "DELETE_ONE_VERSION"),
      changeRow("DELETE", 2L, 3L, null, null, null, null))), logDir)

    val q = Cdc.applyStream(spark, logDir, target, Seq("pk"), ckpt)
    try {
      q.processAllAvailable()
      val got = spark.read.format("kv").option("path", target).load()
        .orderBy("pk").collect()
      assert(got.length == 2)
      assert(got(0).getLong(0) == 1L && got(0).getString(1) == "alice2" && got(0).isNullAt(2))
      assert(got(1).getLong(0) == 2L && got(1).getString(1) == "bob")
      // late change batch applies incrementally onto the same table
      Cdc.appendBatch(changesDf(Seq(
        changeRow("PUT", 3L, 4L, "dave", 4.0, "PUT", "PUT"))), logDir)
      q.processAllAvailable()
      val after = spark.read.format("kv").option("path", target).load()
      assert(after.count() == 3)
      // streaming result equals the batch applyChanges oracle
      val batchState = Cdc.applyChanges(
        spark.read.format("cdc").option("path", logDir).load(), Seq("pk"))
      assert(after.orderBy("pk").collect().map(_.toSeq).toSeq ==
        batchState.orderBy("pk").collect().map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("streaming CDC apply starts on an empty changelog from the target's recorded schema") {
    val logDir = Files.createTempDirectory("cdcempty").toString + "/log"
    val target = Files.createTempDirectory("cdcemptytarget").toString + "/t"
    val ckpt = Files.createTempDirectory("cdcemptyckpt").toString
    Seq((1L, "seed", 0.5)).toDF("pk", "name", "score")
      .write.format("kv").option("path", target).mode("append").save()
    val noTarget = Files.createTempDirectory("cdcnotarget").toString + "/t"
    val err = intercept[IllegalArgumentException](
      Cdc.applyStream(spark, logDir, noTarget, Seq("pk"), ckpt))
    assert(err.getMessage.contains(logDir) && err.getMessage.contains(noTarget),
      err.getMessage)

    val q = Cdc.applyStream(spark, logDir, target, Seq("pk"), ckpt)
    try {
      q.processAllAvailable()
      Cdc.appendBatch(changesDf(Seq(
        changeRow("PUT", 1L, 1L, "alice", 1.0, "PUT", "PUT"),
        changeRow("PUT", 1L, 2L, "bob", 2.0, "PUT", "PUT"))), logDir)
      Cdc.appendBatch(changesDf(Seq(
        changeRow("UPDATE", 2L, 1L, "alice2", null, "PUT", "DELETE_ONE_VERSION"),
        changeRow("DELETE", 2L, 2L, null, null, null, null),
        changeRow("PUT", 2L, 3L, "carol", 3.0, "PUT", "PUT"))), logDir)
      q.processAllAvailable()
      // every seeded key is rewritten by the changelog, so the applied
      // table equals the batch fold of the changelog alone
      val got = spark.read.format("kv").option("path", target).load()
      val want = Cdc.applyChanges(
        spark.read.format("cdc").option("path", logDir).load(), Seq("pk"))
      assert(got.orderBy("pk").collect().map(_.toSeq).toSeq ==
        want.orderBy("pk").collect().map(_.toSeq).toSeq)
      assert(got.count() == 2)
    } finally q.stop()
  }

  test("equal-timestamp changes resolve by changelog position (deterministic tiebreak)") {
    // PUT then DELETE for one key, same record timestamp, committed in one
    // batch: the later changelog row (higher __cdc_seq__) must win.
    val dir1 = Files.createTempDirectory("cdctie1").toString
    Cdc.appendBatch(changesDf(Seq(
      changeRow("PUT", 5L, 1L, "alice", 1.0, "PUT", "PUT"),
      changeRow("DELETE", 5L, 1L, null, null, null, null))), dir1)
    val s1 = Cdc.applyChanges(
      spark.read.format("cdc").option("path", dir1).load(), Seq("pk"))
    assert(s1.count() == 0, "DELETE written after PUT at the same ts must retire the row")

    val dir2 = Files.createTempDirectory("cdctie2").toString
    Cdc.appendBatch(changesDf(Seq(
      changeRow("DELETE", 5L, 1L, null, null, null, null),
      changeRow("PUT", 5L, 1L, "alice", 1.0, "PUT", "PUT"))), dir2)
    val s2 = Cdc.applyChanges(
      spark.read.format("cdc").option("path", dir2).load(), Seq("pk"))
    assert(s2.count() == 1, "PUT written after DELETE at the same ts must keep the row")

    // a later file beats an earlier file at the same timestamp
    Cdc.appendBatch(changesDf(Seq(
      changeRow("DELETE", 5L, 1L, null, null, null, null))), dir2)
    val s3 = Cdc.applyChanges(
      spark.read.format("cdc").option("path", dir2).load(), Seq("pk"))
    assert(s3.count() == 0)
  }

  test("large changelog files split by row group; change sequence is split-invariant") {
    val dir = Files.createTempDirectory("cdcsplit").toString
    // author one changelog file with many small row groups
    val schema = StructType(Seq(
      StructField("__record_type__", StringType),
      StructField("__record_timestamp__", LongType),
      StructField("pk", LongType), StructField("v", DoubleType),
      StructField("__column_type_v", StringType)))
    val f = new org.apache.hadoop.fs.Path(dir, "chg-000000.parquet")
    val w = ParquetIO.openWriter(f, schema, rowGroupBytes = 16 * 1024L)
    val put = org.apache.spark.unsafe.types.UTF8String.fromString("PUT")
    (0 until 20000).foreach { i =>
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](put, i.toLong, (i % 500).toLong, i.toDouble, put)))
    }
    w.close()
    assert(ParquetIO.footer(f).groups.length > 1, "fixture must span several row groups")

    // split.size.mb=0 ⇒ one partition per row group
    val split = spark.read.format("cdc").option("path", dir)
      .option("split.size.mb", "0").load()
    assert(split.rdd.getNumPartitions > 1,
      s"apply parallelism must not be capped at file count (got ${split.rdd.getNumPartitions})")
    val whole = spark.read.format("cdc").option("path", dir).load()
    val seqsSplit = split.select("pk", "__cdc_seq__").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seqsWhole = whole.select("pk", "__cdc_seq__").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(seqsSplit == seqsWhole, "synthesized sequence must not depend on split boundaries")
  }

  test("cdc_col_parser resolves PUT vs DELETE ops (U1 semantics)") {
    val df = Seq(("v", "PUT"), ("v", "DELETE_ONE_VERSION"), ("v", "DELETE_ALL_VERSION"))
      .toDF("value", "op")
      .select(cdcColParser(col("value"), col("op")).as("resolved"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("v"), None, None))
  }
}
