package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.kv.KvVectorized
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Columnar kv data plane: Spark's vectorized parquet reader behind the
  * kv control plane. Results must be bit-identical to the row path, the
  * plan must actually go columnar when eligible, and the coercion cases
  * must fall back to the row reader.
  */
class KvVectorizedSpec extends SparkSpec {
  import spark.implicits._

  private def isColumnar(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  private def kvRead(dir: String, vectorized: Boolean,
      extra: (String, String)* ): DataFrame =
    extra.foldLeft(
      spark.read.format("kv").option("path", dir)
        .option("vectorized.read", vectorized.toString)
    )((r, o) => r.option(o._1, o._2)).load()

  test("flat native schema goes columnar, values identical to row path") {
    val dir = Files.createTempDirectory("kvvec").toString
    val df = (0 until 1000).map(i =>
      (i.toLong, i, i * 0.5, i % 2 == 0, s"s$i")).toDF("k", "i", "d", "b", "s")
    df.write.format("kv").option("path", dir).mode("overwrite").save()
    val vec = kvRead(dir, vectorized = true)
    val row = kvRead(dir, vectorized = false)
    assert(isColumnar(vec), "eligible flat scan must take the columnar path")
    assert(!isColumnar(row), "vectorized.read=false must force the row path")
    assert(vec.orderBy("k").collect().toSeq == row.orderBy("k").collect().toSeq)
  }

  test("filter + projection pushdown on the columnar path") {
    val dir = Files.createTempDirectory("kvvecf").toString
    (0 until 1000).map(i => (i.toLong, i * 0.5, s"s$i")).toDF("k", "d", "s")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    val got = kvRead(dir, vectorized = true)
      .filter(col("k") >= 900L).select("k", "d")
    assert(isColumnar(got))
    assert(got.orderBy("k").as[(Long, Double)].collect().toSeq ==
      (900 until 1000).map(i => (i.toLong, i * 0.5)))
  }

  test("nested + wide-decimal columns: row/columnar agreement (or fallback)") {
    val dir = Files.createTempDirectory("kvvecn").toString
    (0 until 100).map(i => (i.toLong, BigDecimal(i) * 1.5, Seq(i, i + 1),
      Map("a" -> i.toDouble), (s"x$i", i.toLong)))
      .toDF("k", "dec", "arr", "m", "st")
      .select(col("k"), col("dec").cast("decimal(28,4)").as("dec"),
        col("arr"), col("m"), col("st"))
      .write.format("kv").option("path", dir).mode("overwrite").save()
    val vec = kvRead(dir, vectorized = true).orderBy("k").collect().toSeq
    val row = kvRead(dir, vectorized = false).orderBy("k").collect().toSeq
    assert(vec == row)
  }

  test("widening catalog (long over int32 storage) falls back to the row path") {
    val dir = Files.createTempDirectory("kvvecw").toString
    (0 until 50).map(i => (i, s"v$i")).toDF("k", "name")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    val cat = """{"columns": {"k": {"type": "long"}, "name": {"type": "string"}}}"""
    val widened = kvRead(dir, vectorized = true, "catalog" -> cat)
    assert(!isColumnar(widened), "widened read must use the row reader")
    assert(widened.orderBy("k").as[(Long, String)].collect().toSeq ==
      (0 until 50).map(i => (i.toLong, s"v$i")))
  }

  test("sparse attribute (column absent from file) reads as nulls columnar") {
    val dir = Files.createTempDirectory("kvvecs").toString
    (0 until 50).map(i => (i.toLong, s"v$i")).toDF("k", "name")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    val cat = """{"columns": {"k": {"type": "long"}, "name": {"type": "string"}, "extra": {"type": "double"}}}"""
    val got = kvRead(dir, vectorized = true, "catalog" -> cat)
    assert(isColumnar(got), "absent column is a null vector, still columnar")
    val rows = got.orderBy("k").collect()
    assert(rows.length == 50 && rows.forall(_.isNullAt(2)))
  }

  test("timestamp/date columns stay columnar and round-trip exactly") {
    val dir = Files.createTempDirectory("kvvect").toString
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"),
        java.sql.Date.valueOf("2024-03-01")),
      (2L, java.sql.Timestamp.valueOf("1999-12-31 23:59:59.999"),
        java.sql.Date.valueOf("1999-12-31"))).toDF("k", "ts", "dt")
    df.write.format("kv").option("path", dir).mode("overwrite").save()
    val vec = kvRead(dir, vectorized = true)
    assert(isColumnar(vec))
    assert(vec.orderBy("k").collect().toSeq ==
      kvRead(dir, vectorized = false).orderBy("k").collect().toSeq)
  }

  test("eligibility matcher rejects nanos and mismatched decimals") {
    val micros = RawParquet.messageType(StructType(Seq(
      StructField("ts", TimestampType), StructField("d", DecimalType(10, 2)))))
    assert(KvVectorized.eligible(micros, StructType(Seq(
      StructField("ts", TimestampType), StructField("d", DecimalType(10, 2))))))
    // declared decimal precision differs from storage → row path
    assert(!KvVectorized.eligible(micros, StructType(Seq(
      StructField("d", DecimalType(12, 2))))))
  }
}
