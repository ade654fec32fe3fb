package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.kv.{KvIndex, KvInputPartition, KvScan}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The kv writer is Spark's `ParquetWriteSupport`: a decimal of
  * precision ≤ 9 lands as INT32, where earlier graft builds wrote INT64.
  * A table holding both layouts must read the same on every path, with
  * pushdown kept on the columns whose layout did not change. Types the
  * kv/log readers would not read back as themselves are refused at write,
  * naming the column.
  */
class KvParquetCodecSpec extends SparkSpec {
  import spark.implicits._

  private def isColumnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  private def plannedFiles(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KvScan] => b.scan.asInstanceOf[KvScan]
    }.get
    scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[KvInputPartition].chunks.map(_.file)).toSet
  }

  /** One file in the earlier graft layout: INT64-backed decimal(5,2). */
  private def writeOldLayout(dir: String, keys: Seq[Long]): Unit = {
    val mt = Types.buildMessage()
      .addField(Types.optional(PrimitiveTypeName.INT64).named("k"))
      .addField(Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.decimalType(2, 5)).named("d"))
      .addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("s"))
      .named("graft_schema")
    val w = ExampleParquetWriter.builder(new Path(dir, "part-old.parquet"))
      .withConf(ParquetIO.hadoopConf).withType(mt).build()
    keys.foreach { k =>
      val g = new SimpleGroup(mt)
      g.add("k", k)
      if (k % 7 != 0) g.add("d", k * 13 % 99999)
      g.add("s", s"ö-$k")
      w.write(g)
    }
    w.close()
  }

  test("a table mixing INT64 and INT32 decimal(5,2) files reads the same on every path") {
    val dir = Files.createTempDirectory("kvmixed").toString + "/t"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    writeOldLayout(dir, 0L until 100L)
    (1 to 2).foreach { i =>
      (i * 100L until (i + 1) * 100L).map { k =>
        (k, if (k % 7 == 0) null else BigDecimal(k * 13 % 99999, 2).bigDecimal, s"ö-$k")
      }.toDF("k", "d", "s")
        .select(col("k"), col("d").cast(DecimalType(5, 2)).as("d"), col("s"))
        .coalesce(1).write.format("kv").option("path", dir).mode("append").save()
    }
    val layouts = ParquetIO.listFiles(dir).map { f =>
      val s = ParquetIO.footer(f).schema
      s.getType(s.getFieldIndex("d")).asPrimitiveType().getPrimitiveTypeName
    }
    assert(layouts.count(_ == PrimitiveTypeName.INT64) == 1 &&
      layouts.count(_ == PrimitiveTypeName.INT32) == 2, layouts)

    def read(vectorized: Boolean) = spark.read.format("kv").option("path", dir)
      .option("vectorized.read", vectorized.toString).load()
    assert(read(true).schema("d").dataType == DecimalType(5, 2))
    assert(isColumnar(read(true)) && !isColumnar(read(false)))
    val expected = (0L until 300L).map { k =>
      (k, if (k % 7 == 0) null else BigDecimal(k * 13 % 99999, 2).bigDecimal, s"ö-$k")
    }
    val rowPath = read(false).orderBy("k").as[(Long, java.math.BigDecimal, String)].collect().toSeq
    assert(rowPath == expected)
    assert(read(true).orderBy("k").as[(Long, java.math.BigDecimal, String)].collect().toSeq ==
      expected)
    assert(spark.read.parquet(dir).select("k", "d", "s").orderBy("k")
      .as[(Long, java.math.BigDecimal, String)].collect().toSeq == expected)

    // d's layouts differ, so d is not pushed; k's did not, and k still prunes
    KvIndex.build(dir, Seq("k"))
    val onK = read(false).filter(col("k") === 150L)
    assert(plannedFiles(onK).size == 1, "a k lookup prunes to its owning file")
    assert(onK.select("s").as[String].collect().toSeq == Seq("ö-150"))
    val onD = read(false).filter(col("d") === BigDecimal("19.50"))
    assert(onD.select("k").as[Long].collect().sorted.toSeq ==
      expected.filter(r => r._2 != null && r._2.compareTo(BigDecimal("19.50").bigDecimal) == 0)
        .map(_._1))
  }

  test("a kv write of a byte, short or interval column fails and names the column") {
    val cases = Seq(
      lit(1).cast(ByteType) -> "b_col",
      lit(1).cast(ShortType) -> "s_col",
      expr("INTERVAL '1' DAY") -> "i_col")
    cases.foreach { case (value, name) =>
      val dir = Files.createTempDirectory("kvbadtype").toString + "/t"
      val e = intercept[Exception] {
        spark.range(3).select(col("id"), value.as(name))
          .write.format("kv").option("path", dir).mode("overwrite").save()
      }
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(messages.exists(_.contains(s"column $name")), messages.mkString("\n"))
    }
  }
}
