package graft.sources

import graft.SparkSpec
import graft.sources.kv.KvEvolution
import org.apache.spark.sql.functions._

/** DROP COLUMN / RENAME COLUMN through the kv catalog (the KvEvolution
  * column-mapping ledger) and RESTORE-to-epoch: metadata-only evolution
  * on name-resolved parquet, with the resurrection refusals that make
  * it safe without Iceberg field IDs.
  */
class KvEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def stage(): String = {
    val dir = java.nio.file.Files.createTempDirectory("kvevo").toString + "/t"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "x")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    dir
  }

  test("RENAME COLUMN is metadata-only and old files keep their bytes") {
    val dir = stage()
    val filesBefore = ParquetIO.listFiles(dir).map(_.toString).sorted
    spark.sql(s"ALTER TABLE kvcat.`$dir` RENAME COLUMN v TO label")
    assert(ParquetIO.listFiles(dir).map(_.toString).sorted == filesBefore)
    // pre-rename bytes resolve through the alias
    assert(spark.read.format("kv").option("path", dir).load()
      .orderBy("k").select("label").as[String].collect().toSeq == Seq("a", "b"))
    // post-rename append writes the new name; mixed layouts read together
    Seq((3L, "c", 30L)).toDF("k", "label", "x")
      .write.format("kv").option("path", dir).mode("append").save()
    val all = spark.read.format("kv").option("path", dir).load()
    assert(all.orderBy("k").select("label").as[String].collect().toSeq ==
      Seq("a", "b", "c"))
    // a filter on the renamed column is correct across both layouts
    // (stays residual — the column is out of the files' common schema)
    assert(all.where(col("label") > "a").select("k").as[Long]
      .collect().toSet == Set(2L, 3L))
  }

  test("rename chains collapse to the original physical name") {
    val dir = stage()
    spark.sql(s"ALTER TABLE kvcat.`$dir` RENAME COLUMN v TO v2")
    spark.sql(s"ALTER TABLE kvcat.`$dir` RENAME COLUMN v2 TO v3")
    assert(KvEvolution.read(dir).renames == Map("v3" -> "v"))
    assert(spark.read.format("kv").option("path", dir).load()
      .orderBy("k").select("v3").as[String].collect().toSeq == Seq("a", "b"))
  }

  test("DROP COLUMN hides bytes; appends cannot resurface them; re-ADD refuses") {
    val dir = stage()
    spark.sql(s"ALTER TABLE kvcat.`$dir` DROP COLUMN x")
    val t = spark.read.format("kv").option("path", dir).load()
    assert(t.columns.toSeq == Seq("k", "v"))
    // an append that still writes the dropped name: other columns land,
    // the orphan bytes stay invisible
    Seq((3L, "c", 99L)).toDF("k", "v", "x")
      .write.format("kv").option("path", dir).mode("append").save()
    assert(spark.read.format("kv").option("path", dir).load()
      .columns.toSeq == Seq("k", "v"))
    // resurrection refusals
    assertThrows[Exception](
      spark.sql(s"ALTER TABLE kvcat.`$dir` ADD COLUMN x BIGINT"))
    spark.sql(s"ALTER TABLE kvcat.`$dir` RENAME COLUMN v TO w")
    assertThrows[Exception](
      spark.sql(s"ALTER TABLE kvcat.`$dir` ADD COLUMN v STRING"))
    assertThrows[Exception](
      spark.sql(s"ALTER TABLE kvcat.`$dir` RENAME COLUMN w TO x"))
  }

  test("footer-aggregate pushdown refuses under a rename mapping") {
    val dir = stage()
    spark.sql(s"ALTER TABLE kvcat.`$dir` RENAME COLUMN x TO y")
    // the fold's absent→all-null premise is wrong for aliased columns;
    // the values must still be CORRECT (computed by the scan, not the
    // footers)
    val agg = spark.read.format("kv").option("path", dir).load()
      .agg(count(lit(1)).as("n"), max(col("y")).as("mx")).collect().head
    assert(agg.getLong(0) == 2L && agg.getLong(1) == 20L)
    assert(graft.sources.kv.KvAggregates.compile(dir,
      spark.read.format("kv").option("path", dir).load().schema,
      new org.apache.spark.sql.connector.expressions.aggregate.Aggregation(
        Array(new org.apache.spark.sql.connector.expressions.aggregate.CountStar()),
        Array.empty)).isEmpty)
  }

  test("restore folds columns introduced by rolled-back epochs out of the sidecar") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val dir = java.nio.file.Files.createTempDirectory("kvresfold").toString + "/t"
    val s1 = StructType(Seq(StructField("k", LongType)))
    val s2 = StructType(Seq(StructField("k", LongType),
      StructField("extra", LongType)))
    val w1 = new graft.sources.kv.KvStreamingWrite(dir, s1)
    (0L to 1L).foreach { e =>
      val w = graft.sources.kv.KvStreamingWriterFactory(dir, s1)
        .createWriter(0, 0L, e)
      w.write(new GenericInternalRow(Array[Any](e)))
      w1.commit(e, Array(w.commit()))
    }
    val w2 = new graft.sources.kv.KvStreamingWrite(dir, s2)
    locally {
      val w = graft.sources.kv.KvStreamingWriterFactory(dir, s2)
        .createWriter(0, 0L, 2L)
      w.write(new GenericInternalRow(Array[Any](2L, 22L)))
      w2.commit(2L, Array(w.commit()))
    }
    assert(spark.read.format("kv").option("path", dir).load()
      .columns.toSeq == Seq("k", "extra"))
    graft.operators.KvMerge.restoreToEpoch(dir, 1)
    // the column's only bytes rolled back with epoch 2 — the sidecar
    // folds it away; pre-existing columns keep their recorded types
    assert(spark.read.format("kv").option("path", dir).load()
      .columns.toSeq == Seq("k"))
  }

  test("restore rolls back epochs newest-first and refuses what it cannot undo") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("kvres").toString + "/t"
    val schema = StructType(Seq(StructField("k", LongType)))
    val factory = graft.sources.kv.KvStreamingWriterFactory(dir, schema)
    val write = new graft.sources.kv.KvStreamingWrite(dir, schema)
    (0L to 3L).foreach { e =>
      val w = factory.createWriter(0, 0L, e)
      w.write(new GenericInternalRow(Array[Any](e * 10)))
      write.commit(e, Array(w.commit()))
    }
    // never-committed target refuses
    assertThrows[Exception](graft.operators.KvMerge.restoreToEpoch(dir, 9))
    assert(graft.operators.KvMerge.restoreToEpoch(dir, 1) == 2)
    assert(spark.read.format("kv").option("path", dir).load()
      .as[Long].collect().toSet == Set(0L, 10L))
    // idempotent
    assert(graft.operators.KvMerge.restoreToEpoch(dir, 1) == 0)
    // a compacted row-level floor above the target refuses (history
    // below the floor is not reconstructible)
    ParquetIO.recordRloFloor(dir, 1L)
    assertThrows[Exception](graft.operators.KvMerge.restoreToEpoch(dir, 0))
    // bulk rows written after the target carry no epoch: refuse
    Seq(77L).toDF("k").write.format("kv").option("path", dir)
      .mode("append").save()
    assertThrows[Exception](graft.operators.KvMerge.restoreToEpoch(dir, 1))
  }
}
