package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column pruning + columnar data plane on the log batch scan: the
  * projected subset must reach the parquet reader (ReadSchema in the
  * scan description), full-range typed scans of natively-stored columns
  * go columnar, and offset slices that cut inside a row group stay on
  * the row reader with identical results.
  */
class LogPruneSpec extends SparkSpec {
  import spark.implicits._

  private def writeShard(dir: String, name: String, n: Int): Unit = {
    val tmp = Files.createTempDirectory("lpshard").toString
    (0 until n).map(i => (i.toLong, s"msg-$i", i * 1.5)).toDF("id", "body", "score")
      .coalesce(1).write.format("kv").option("path", tmp).mode("overwrite").save()
    val part = ParquetIO.listFiles(tmp).head
    val fs = part.getFileSystem(ParquetIO.hadoopConf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.rename(part, new org.apache.hadoop.fs.Path(dir, name))
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("projection is pruned into the log scan") {
    val dir = Files.createTempDirectory("logprune").toString
    writeShard(dir, "shard-a.parquet", 100)
    val df = spark.read.format("log").option("path", dir).load()
      .select(col("id"), col("score"))
    val plan = planOf(df)
    assert(plan.contains("ReadSchema: struct<id:bigint,score:double>"),
      s"scan must read only the projected columns:\n$plan")
    assert(df.orderBy("id").as[(Long, Double)].collect().toSeq ==
      (0 until 100).map(i => (i.toLong, i * 1.5)))
  }

  test("full-range typed scan goes columnar; values equal the row path") {
    val dir = Files.createTempDirectory("logvec").toString
    writeShard(dir, "shard-a.parquet", 500)
    writeShard(dir, "shard-b.parquet", 300)
    val vec = spark.read.format("log").option("path", dir).load()
    assert(planOf(vec).contains("ColumnarToRow"),
      s"full-range native-typed log scan must be columnar:\n${planOf(vec)}")
    val row = spark.read.format("log").option("path", dir)
      .option("vectorized.read", "false").load()
    assert(!planOf(row).contains("ColumnarToRow"))
    assert(vec.orderBy("id", "body").collect().toSeq ==
      row.orderBy("id", "body").collect().toSeq)
    assert(vec.count() == 800)
  }

  test("mid-group offset slice stays on the row reader, same results") {
    val dir = Files.createTempDirectory("logslice").toString
    writeShard(dir, "shard-a.parquet", 200)
    // a 200-row kv part file is one row group → offset 7 cuts inside it
    val sliced = spark.read.format("log").option("path", dir)
      .option("starting.offsets", """{"shard-a.parquet": 7}""").load()
    assert(!planOf(sliced).contains("ColumnarToRow"))
    assert(sliced.select("id").as[Long].collect().sorted.toSeq ==
      (7L until 200L))
  }

  test("raw mode is never pruned and keeps its 3-column layout") {
    val dir = Files.createTempDirectory("lograwp").toString
    writeShard(dir, "shard-a.parquet", 10)
    val raw = spark.read.format("log").option("path", dir)
      .option("schema.mode", "raw").load().select("__value__")
    assert(raw.count() == 10)
    assert(raw.head().getString(0).startsWith("{"))
  }

  test("filters compile into the scan and stats-skip row groups on the columnar path") {
    val dir = Files.createTempDirectory("logfilter").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("body", org.apache.spark.sql.types.StringType)))
    val file = new org.apache.hadoop.fs.Path(dir, "shard-a.parquet")
    val w = ParquetIO.openWriter(file, schema, rowGroupBytes = 4096L)
    (0 until 1000).foreach { i =>
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      row.setLong(0, i.toLong)
      row.update(1, org.apache.spark.unsafe.types.UTF8String.fromString(s"b-$i-" + ("x" * 64)))
      w.write(row)
    }
    w.close()
    assert(ParquetIO.footer(file).groups.length >= 4) // sorted ids → tight group stats
    val vec = spark.read.format("log").option("path", dir).load()
      .filter(col("id") >= 900L)
    val plan = planOf(vec)
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(id,900)"), plan)
    assert(plan.contains("ColumnarToRow"), plan)
    val row = spark.read.format("log").option("path", dir)
      .option("vectorized.read", "false").load().filter(col("id") >= 900L)
    assert(vec.select("id").as[Long].collect().sorted.toSeq == (900L until 1000L))
    assert(vec.orderBy("id").collect().toSeq == row.orderBy("id").collect().toSeq)
  }

  test("footer-only aggregate pushdown on full-range typed log scans") {
    val dir = Files.createTempDirectory("logagg").toString
    writeShard(dir, "shard-a.parquet", 400)
    writeShard(dir, "shard-b.parquet", 200)
    val df = spark.read.format("log").option("path", dir).load()
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"), max(col("id")).as("mx"))
    assert(planOf(df).contains("PushedAggregation"),
      s"full-range count/min/max must be footer-only:\n${planOf(df)}")
    assert(df.as[(Long, Long, Long)].head() == ((600L, 0L, 399L)))
    // an offset slice changes the answer → must NOT push, and must agree
    // with a real scan
    val sliced = spark.read.format("log").option("path", dir)
      .option("starting.offsets", """{"shard-a.parquet": 10}""").load()
      .agg(count(lit(1)).as("n"))
    assert(!planOf(sliced).contains("PushedAggregation"))
    assert(sliced.as[Long].head() == 590L)
    // a filter refuses pushdown too
    val filtered = spark.read.format("log").option("path", dir).load()
      .filter(col("id") >= 100L).agg(count(lit(1)))
    assert(!planOf(filtered).contains("PushedAggregation"))
    assert(filtered.as[Long].head() == 400L) // 300 from a + 100 from b
  }

  test("nanos-timestamp shard: pruning the ts column re-enables columnar") {
    // Own NANOS-storage fixture (the driver's shared tables store micros,
    // which IS columnar-eligible — the fallback only triggers on storage
    // units the vectorized reader can't serve without coercion).
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val dir = Files.createTempDirectory("lognanos").toString
    val mt = Types.buildMessage()
      .addField(Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS)).named("ts"))
      .addField(Types.optional(PrimitiveTypeName.INT64).named("id"))
      .named("t")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(dir, "shard-a.parquet"))
      .withConf(ParquetIO.hadoopConf).withType(mt).build()
    (0 until 100).foreach { i =>
      val g = new SimpleGroup(mt)
      g.add("ts", i * 1000000000L); g.add("id", i.toLong)
      w.write(g)
    }
    w.close()
    val all = spark.read.format("log").option("path", dir).load()
    // ts requested → ineligible (nanos storage) → row path
    assert(!planOf(all).contains("ColumnarToRow"), planOf(all))
    val pruned = all.select("id")
    assert(planOf(pruned).contains("ColumnarToRow"),
      s"pruned scan without the nanos column must be columnar:\n${planOf(pruned)}")
    assert(pruned.count() == all.count())
  }
}
