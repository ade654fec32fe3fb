package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.kv.{KvStreamingWrite, KvStreamingWriterFactory}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `snapshot.epoch` time travel over a streaming kv table: the sink's
  * commit markers double as the snapshot log, so "the table as of epoch
  * N" is the committed epoch files with id ≤ N (batch files always
  * visible). Torn epochs stay invisible at every snapshot.
  */
class KvTimeTravelSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  /** writes epochs 0..2 with rows (10e+i, "e<e>-<i>") i<3; returns dir. */
  private def stage(): String = {
    val dir = Files.createTempDirectory("kvtt").toString + "/t"
    val factory = KvStreamingWriterFactory(dir, schema)
    val write = new KvStreamingWrite(dir, schema)
    (0L to 2L).foreach { e =>
      val w = factory.createWriter(0, 0L, e)
      (0 until 3).foreach { i =>
        w.write(new GenericInternalRow(Array[Any](
          10L * e + i, UTF8String.fromString(s"e$e-$i"))))
      }
      write.commit(e, Array(w.commit()))
    }
    dir
  }

  private def read(dir: String, epoch: Option[Long]) = {
    val r = spark.read.format("kv").option("path", dir)
    epoch.fold(r)(e => r.option("snapshot.epoch", e.toString)).load()
  }

  test("snapshot.epoch hides later epochs; full read sees all") {
    val dir = stage()
    assert(read(dir, None).count() == 9)
    assert(read(dir, Some(0L)).select("k").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.toSeq == Seq(0L, 1L, 2L))
    assert(read(dir, Some(1L)).count() == 6)
    assert(read(dir, Some(2L)).count() == 9)
    // beyond the last epoch = the full table
    assert(read(dir, Some(99L)).count() == 9)
  }

  test("snapshot schema is computed from visible files only (schema evolution)") {
    val dir = stage() // epochs 0..2 with (k, v)
    // epoch 3 evolves the schema: (k, v, w). The sidecar now records the
    // union — but a snapshot at epoch ≤ 2 must NOT expose `w`.
    val evolved = StructType(schema.fields :+ StructField("w", LongType))
    val w = KvStreamingWriterFactory(dir, evolved).createWriter(0, 0L, 3L)
    w.write(new GenericInternalRow(Array[Any](
      30L, UTF8String.fromString("e3-0"), 7L)))
    new KvStreamingWrite(dir, evolved).commit(3L, Array(w.commit()))

    assert(read(dir, None).columns.toSeq == Seq("k", "v", "w"))
    assert(read(dir, Some(1L)).columns.toSeq == Seq("k", "v"),
      "snapshot read leaked a column added after the snapshot epoch")
    // and the evolved column reads null-filled for pre-evolution files
    val full = read(dir, None)
    assert(full.where(col("w").isNull).count() == 9)
    assert(full.where(col("w") === 7L).count() == 1)
  }

  test("torn epochs stay invisible at every snapshot") {
    val dir = stage()
    val w = KvStreamingWriterFactory(dir, schema).createWriter(0, 0L, 3L)
    w.write(new GenericInternalRow(Array[Any](999L, UTF8String.fromString("TORN"))))
    w.commit() // files on disk, NO commit marker
    assert(read(dir, None).where(col("k") === 999L).count() == 0)
    assert(read(dir, Some(3L)).where(col("k") === 999L).count() == 0)
    assert(read(dir, Some(3L)).count() == 9)
  }

  test("filters still push down under a snapshot; footer aggregates refuse") {
    val dir = stage()
    val filtered = read(dir, Some(1L)).where(col("k") >= 10L)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual"),
      plan)
    assert(filtered.count() == 3)
    // footer COUNT folds every visible file — must refuse under snapshot
    // (the answer must come from the snapshot's files, proven by value)
    val agg = read(dir, Some(1L)).agg(count(lit(1)).as("n"))
    assert(!agg.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(agg.collect()(0).getLong(0) == 6L)
  }

  test("batch (non-epoch) files remain visible at any snapshot") {
    import spark.implicits._
    val dir = stage()
    Seq((100L, "batch")).toDF("k", "v")
      .write.format("kv").option("path", dir).mode("append").save()
    assert(read(dir, Some(0L)).where(col("k") === 100L).count() == 1)
    assert(read(dir, Some(0L)).count() == 4)
  }

  test("row-level ops fold history: snapshots below the rlo watermark fail loudly") {
    val dir = stage()
    // a row-level UPDATE rewrites (and deletes) bytes from epoch files —
    // its marker records watermark 2 (the highest committed epoch)
    spark.sql(s"UPDATE kvcat.`$dir` SET v = 'rewritten' WHERE k = 11")
    // snapshots at/above the watermark include the rewrite
    val atWm = read(dir, Some(2L)).where(col("k") === 11L).head().getString(1)
    assert(atWm == "rewritten")
    assert(read(dir, Some(2L)).count() == 9)
    // snapshots BELOW it cannot be reconstructed (the replaced epoch-1
    // bytes are gone): fail with a clear error, never silently serve
    // post-rewrite values for a pre-rewrite epoch
    val e = intercept[Exception] {
      read(dir, Some(0L)).count()
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) t.getMessage else t.getMessage + rootMsg(t.getCause)
    assert(rootMsg(e).contains("row-level operation"), rootMsg(e))

    // marker compaction keeps the gate through the recorded floor
    assert(graft.operators.KvMerge.compactMarkers(dir) == 1)
    val e2 = intercept[Exception] { read(dir, Some(1L)).count() }
    assert(rootMsg(e2).contains("compacted row-level history"), rootMsg(e2))
    assert(read(dir, Some(2L)).count() == 9)
  }
}
