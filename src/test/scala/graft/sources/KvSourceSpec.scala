package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

class KvSourceSpec extends SparkSpec {
  import spark.implicits._

  private val liPath = "/root/testdata/sf0.001/lineitem.parquet"

  test("kv scan matches vanilla parquet scan") {
    val kv = spark.read.format("kv").option("path", liPath).load()
    val pq = spark.read.parquet(liPath)
    assert(kv.schema.map(f => (f.name, f.dataType)) == pq.schema.map(f => (f.name, f.dataType)))
    assert(kv.count() == pq.count())
    val a = kv.agg(sum("l_quantity")).as[Double].head()
    val b = pq.agg(sum("l_quantity")).as[Double].head()
    assert(a == b)
  }

  test("filter + projection pushdown produce correct results") {
    val kv = spark.read.format("kv").option("path", liPath).load()
      .filter($"l_shipdate" >= "1997-01-01" && $"l_quantity" < 10 &&
        $"l_returnflag" === "R")
      .select($"l_orderkey", $"l_quantity")
    val pq = spark.read.parquet(liPath)
      .filter($"l_shipdate" >= "1997-01-01" && $"l_quantity" < 10 &&
        $"l_returnflag" === "R")
      .select($"l_orderkey", $"l_quantity")
    assert(kv.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      pq.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    val plan = kv.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"plan must show pushed filters:\n$plan")
    assert(!plan.contains("PushedFilters: []"), s"filters must actually push:\n$plan")
  }

  test("split cap packs chunks across files: more files than max.split.count still reads") {
    val dir = java.nio.file.Files.createTempDirectory("kvcap").toString + "/t"
    // 12 part files (one per row via repartition on a unique key)
    (0 until 12).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(12, col("k"))
      .write.format("kv").option("path", dir).mode("append").save()
    assert(ParquetIO.listFiles(dir).length >= 4)
    val df = spark.read.format("kv").option("path", dir)
      .option("max.split.count", "3").load()
    assert(df.rdd.getNumPartitions <= 3, s"cap must bound partitions: ${df.rdd.getNumPartitions}")
    assert(df.as[(Long, String)].collect().toSet ==
      (0 until 12).map(i => (i.toLong, s"v$i")).toSet)
  }

  test("catalog option declares the schema (user-schema mode)") {
    val catalog =
      """{"columns": {"l_orderkey": {"type": "long"},
        | "l_quantity": {"type": "double"},
        | "l_returnflag": {"type": "string"}}}""".stripMargin
    val kv = spark.read.format("kv")
      .option("path", liPath).option("catalog", catalog).load()
    assert(kv.columns.toSeq == Seq("l_orderkey", "l_quantity", "l_returnflag"))
    assert(kv.count() == spark.read.parquet(liPath).count())
  }

  test("filter compiler NNF + residual semantics") {
    val schema = ParquetIO.footer(ParquetIO.listFiles(liPath).head).schema
    // Not(And(a,b)) → Or(Not a, Not b): compilable (both sides eq → notEq)
    val nnf = KvFilters.toNNF(Not(And(EqualTo("l_returnflag", "R"), EqualTo("l_linestatus", "F"))))
    assert(nnf == Or(Not(EqualTo("l_returnflag", "R")), Not(EqualTo("l_linestatus", "F"))))
    assert(KvFilters.compile(nnf, schema).isDefined)
    // unsupported leaf (StartsWith) → None → residual
    assert(KvFilters.compile(StringStartsWith("l_returnflag", "R"), schema).isEmpty)
    // unknown column → None
    assert(KvFilters.compile(EqualTo("nope", 1L), schema).isEmpty)
    // In-list compiles to OR chain
    assert(KvFilters.compile(In("l_returnflag", Array("R", "A")), schema).isDefined)
  }

  test("write round-trip with append and overwrite") {
    val dir = java.nio.file.Files.createTempDirectory("kvwrite").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "name", "v")
    df.write.format("kv").option("path", dir).option("primary.keys", "k")
      .mode("append").save()
    val read1 = spark.read.format("kv").option("path", dir).load()
    assert(read1.count() == 2)
    df.write.format("kv").option("path", dir).mode("append").save()
    assert(spark.read.format("kv").option("path", dir).load().count() == 4)
    df.write.format("kv").option("path", dir).mode("overwrite").save()
    val after = spark.read.format("kv").option("path", dir).load()
    assert(after.count() == 2)
    assert(after.orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("sparse attribute columns: files missing a declared column read as NULL") {
    val dir = java.nio.file.Files.createTempDirectory("kvsparse").toString
    Seq((1L, "a1")).toDF("k", "attr_a")
      .write.format("kv").option("path", dir).mode("append").save()
    Seq((2L, 9.5)).toDF("k", "attr_b")
      .write.format("kv").option("path", dir).mode("append").save()
    val catalog =
      """{"columns": {"k": {"type": "long"}, "attr_a": {"type": "string"},
        | "attr_b": {"type": "double"}}}""".stripMargin
    val got = spark.read.format("kv")
      .option("path", dir).option("catalog", catalog).load()
      .orderBy("k").collect()
    assert(got.length == 2)
    assert(got(0).getLong(0) == 1L && got(0).getString(1) == "a1" && got(0).isNullAt(2))
    assert(got(1).getLong(0) == 2L && got(1).isNullAt(1) && got(1).getDouble(2) == 9.5)
    // filters on a column absent from one file stay correct (residual path)
    val filtered = spark.read.format("kv")
      .option("path", dir).option("catalog", catalog).load()
      .filter($"attr_b" > 1.0)
    assert(filtered.count() == 1)
  }

  test("write validates primary key presence") {
    val dir = java.nio.file.Files.createTempDirectory("kvpk").toString
    val err = intercept[Exception] {
      Seq((1L, "a")).toDF("k", "name").write.format("kv")
        .option("path", dir).option("primary.keys", "missing_pk")
        .mode("append").save()
    }
    assert(err.getMessage.contains("missing_pk"))
  }

  test("decimal(p<=18,s) round-trips through kv write/read with catalog") {
    val dir = java.nio.file.Files.createTempDirectory("kvdec").toString
    val df = Seq((1L, BigDecimal("12345.67")), (2L, BigDecimal("-0.01")))
      .toDF("k", "amount")
      .select($"k", $"amount".cast("decimal(12,2)").as("amount"))
    df.write.format("kv").option("path", dir).mode("append").save()
    // inferred schema keeps the decimal type
    val inferred = spark.read.format("kv").option("path", dir).load()
    assert(inferred.schema("amount").dataType.simpleString == "decimal(12,2)")
    val got = inferred.orderBy("k").as[(Long, BigDecimal)].collect().toSeq
    assert(got.map(_._2) == Seq(BigDecimal("12345.67"), BigDecimal("-0.01")))
    // catalog-declared decimal works too
    val viaCatalog = spark.read.format("kv").option("path", dir)
      .option("catalog", """{"columns": {"k": {"type": "long"}, "amount": {"type": "decimal(12,2)"}}}""")
      .load()
    assert(viaCatalog.agg(sum($"amount")).head().getDecimal(0)
      .compareTo(new java.math.BigDecimal("12345.66")) == 0)
  }

  test("catalog type widening: long/double declared over int/float storage (W1 coercions)") {
    val dir = java.nio.file.Files.createTempDirectory("kvwiden").toString
    Seq((7, 1.5f)).toDF("k", "v") // stored as INT32 / FLOAT
      .write.format("kv").option("path", dir).mode("append").save()
    val catalog = """{"columns": {"k": {"type": "long"}, "v": {"type": "double"}}}"""
    val got = spark.read.format("kv")
      .option("path", dir).option("catalog", catalog).load()
      .as[(Long, Double)].head()
    assert(got == ((7L, 1.5)))
    // pushed filters convert to the STORAGE type (int32 eq), staying correct
    val filtered = spark.read.format("kv")
      .option("path", dir).option("catalog", catalog).load()
      .filter($"k" === 7L)
    assert(filtered.count() == 1)
  }

  test("nested container types round-trip at write (recursive ODPS fidelity)") {
    // arrays of primitives round-trip (KvWideTypesSpec); deeper nesting
    // (array of array) recurses too — OdpsUtils.sparkData2OdpsData's
    // arbitrary-depth conversion
    val dir = java.nio.file.Files.createTempDirectory("kvnest").toString
    Seq((1L, Seq(Seq(1, 2), Seq(3)))).toDF("k", "arr")
      .write.format("kv").option("path", dir).mode("append").save()
    val got = spark.read.format("kv").option("path", dir).load()
      .as[(Long, Seq[Seq[Int]])].head()
    assert(got == ((1L, Seq(Seq(1, 2), Seq(3)))))
  }

  test("convert.types sink option: decimal → double, timestamp/date → epoch ms (W3 parity)") {
    val dir = java.nio.file.Files.createTempDirectory("kvconv").toString + "/t"
    val df = spark.sql(
      """SELECT 1L AS k, CAST(12.34 AS DECIMAL(10,2)) AS price,
        |  TIMESTAMP '2024-03-01 12:00:00.5' AS ts, DATE '2024-03-01' AS d""".stripMargin)
    df.write.format("kv").option("path", dir).option("convert.types", "true")
      .mode("append").save()
    val got = spark.read.format("kv").option("path", dir).load()
    assert(got.schema("price").dataType == org.apache.spark.sql.types.DoubleType)
    assert(got.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(got.schema("d").dataType == org.apache.spark.sql.types.LongType)
    val r = got.head()
    assert(r.getAs[Double]("price") == 12.34)
    // reference semantics: epoch milliseconds (Utils.scala:68-71)
    assert(r.getAs[Long]("ts") ==
      java.time.Instant.parse("2024-03-01T12:00:00.500Z").toEpochMilli)
    assert(r.getAs[Long]("d") ==
      java.time.LocalDate.parse("2024-03-01").toEpochDay * 86400000L)
    // without the option the stricter default still writes native types
    val dir2 = java.nio.file.Files.createTempDirectory("kvconv2").toString + "/t"
    df.write.format("kv").option("path", dir2).mode("append").save()
    assert(spark.read.format("kv").option("path", dir2).load()
      .schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("empty DataFrame write/read round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("kvempty").toString
    Seq((1L, "a")).toDF("k", "name").limit(0)
      .write.format("kv").option("path", dir).mode("append").save()
    val got = spark.read.format("kv").option("path", dir)
      .option("catalog", """{"columns": {"k": {"type": "long"}, "name": {"type": "string"}}}""")
      .load()
    assert(got.count() == 0)
    assert(got.columns.toSeq == Seq("k", "name"))
  }

  test("timestamp round-trip through kv write/read") {
    val dir = java.nio.file.Files.createTempDirectory("kvts").toString
    val df = Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789")))
      .toDF("k", "ts")
    df.write.format("kv").option("path", dir).mode("append").save()
    val got = spark.read.format("kv").option("path", dir).load()
      .as[(Long, java.sql.Timestamp)].head()
    assert(got._2 == java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789"))
  }

  test("writer.batch.size bounds buffering: file-append flush every N rows, contents unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("kvbatch").toString
    val df = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "name")
    df.coalesce(1).write.format("kv").option("path", dir)
      .option("writer.batch.size", "30").mode("overwrite").save()
    // 100 rows / 30-row flushes from one task → 4 part files
    val files = ParquetIO.listFiles(dir)
    assert(files.length == 4, s"expected 4 rolled files, got ${files.map(_.getName)}")
    assert(files.forall(f => ParquetIO.footer(f).rowCount <= 30))
    val got = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == (0 until 100).map(i => (i.toLong, s"v$i")))
  }

  test("writer.mode batch defaults to bounded flushes; bulk stays one file per task") {
    val dir1 = java.nio.file.Files.createTempDirectory("kvmode1").toString
    val dir2 = java.nio.file.Files.createTempDirectory("kvmode2").toString
    val df = (0 until 2500).map(i => (i.toLong, s"v$i")).toDF("k", "name").coalesce(1)
    df.write.format("kv").option("path", dir1)
      .option("writer.mode", "batch").mode("overwrite").save()
    assert(ParquetIO.listFiles(dir1).length == 3) // 2500 rows / 1024 default
    df.write.format("kv").option("path", dir2)
      .option("writer.mode", "bulk").mode("overwrite").save()
    assert(ParquetIO.listFiles(dir2).length == 1)
    // identical contents either way
    val a = spark.read.format("kv").option("path", dir1).load()
      .orderBy("k").as[(Long, String)].collect().toSeq
    val b = spark.read.format("kv").option("path", dir2).load()
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(a == b)
  }

  test("writer option validation: bad mode / row change type / batch size rejected") {
    val dir = java.nio.file.Files.createTempDirectory("kvbadopts").toString
    val df = Seq((1L, "a")).toDF("k", "name")
    def messageOf(opts: (String, String)*): String =
      intercept[Exception] {
        opts.foldLeft(df.write.format("kv").option("path", dir))(
          (w, o) => w.option(o._1, o._2)).mode("append").save()
      }.getMessage
    assert(messageOf("writer.mode" -> "turbo").contains("writer.mode"))
    assert(messageOf("writer.batch.size" -> "0").contains("writer.batch.size"))
    assert(messageOf("writer.row.change.type" -> "delete").contains("KvMerge"))
  }
}
