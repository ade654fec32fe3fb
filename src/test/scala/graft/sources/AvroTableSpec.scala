package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Registry-style Avro table ingestion on the log source
  * (`value.format=avro`): schema from inline JSON or a file registry,
  * payload bytes decoded per record, nullable unions preserved, the
  * rate-limited micro-batch path riding the same reader.
  */
class AvroTableSpec extends SparkSpec {
  import spark.implicits._

  private val schemaJson =
    """{"type":"record","name":"Sale","namespace":"graft.test","fields":[
      | {"name":"id","type":"long"},
      | {"name":"name","type":["null","string"],"default":null},
      | {"name":"price","type":"double"}]}""".stripMargin
  private lazy val avroSchema = new Schema.Parser().parse(schemaJson)

  private def encode(id: Long, name: Option[String], price: Double): Array[Byte] = {
    val rec = new GenericData.Record(avroSchema)
    rec.put("id", id)
    rec.put("name", name.orNull)
    rec.put("price", price)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](avroSchema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** One shard of avro payloads in a binary `value` column. */
  private def writeShard(dir: String, name: String, ids: Range): Unit = {
    val binSchema = StructType(Seq(StructField("value", BinaryType)))
    val fs = new Path(dir).getFileSystem(ParquetIO.hadoopConf)
    fs.mkdirs(new Path(dir))
    val w = ParquetIO.openWriter(new Path(dir, name), binSchema)
    ids.foreach { i =>
      val row = new GenericInternalRow(1)
      row.update(0, encode(i.toLong,
        if (i % 5 == 0) None else Some(s"n$i"), i * 1.25))
      w.write(row)
    }
    w.close()
  }

  test("batch read with inline avro.schema decodes records and nullable unions") {
    val dir = Files.createTempDirectory("avrotab").toString
    writeShard(dir, "shard-a.parquet", 0 until 100)
    val df = spark.read.format("log").option("path", dir)
      .option("value.format", "avro").option("avro.schema", schemaJson).load()
    assert(df.columns.toSeq == Seq("id", "name", "price"))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 100)
    assert(rows(5).isNullAt(1) && rows(6).getString(1) == "n6")
    assert(rows(7).getDouble(2) == 7 * 1.25)
  }

  test("file-registry resolution: avro.schema.dir + record name/namespace") {
    val dir = Files.createTempDirectory("avroreg").toString
    val registry = Files.createTempDirectory("registry").toString
    Files.writeString(java.nio.file.Paths.get(registry, "graft.test.Sale.avsc"), schemaJson)
    writeShard(dir, "shard-a.parquet", 0 until 10)
    val df = spark.read.format("log").option("path", dir)
      .option("value.format", "avro")
      .option("avro.schema.dir", registry)
      .option("avro.record.name", "Sale")
      .option("avro.record.namespace", "graft.test").load()
    assert(df.count() == 10)
    assert(df.agg(sum("id")).head().getLong(0) == 45L)
  }

  test("micro-batch stream over an avro table honors the rate limit") {
    val dir = Files.createTempDirectory("avrostream").toString
    val ckpt = Files.createTempDirectory("avrock").toString
    writeShard(dir, "shard-a.parquet", 0 until 30)
    val q = spark.readStream.format("log").option("path", dir)
      .option("value.format", "avro").option("avro.schema", schemaJson)
      .option("maxOffsetsPerTrigger", "7").load()
      .writeStream.format("memory").queryName("avro_out")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("avro_out").count() == 30)
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.nonEmpty && batches.forall(_ <= 7))
  }

  test("from_avro_record decodes logical decimals standalone") {
    val decJson =
      """{"type":"record","name":"D","fields":[
        | {"name":"amt","type":{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}}]}""".stripMargin
    val s = new Schema.Parser().parse(decJson)
    val rec = new GenericData.Record(s)
    rec.put("amt", java.nio.ByteBuffer.wrap(BigInt(123456).toByteArray)) // 1234.56
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](s).write(rec, enc)
    enc.flush()
    val df = Seq(out.toByteArray).toDF("value")
      .select(graft.functions.AvroFunctions.fromAvroRecord(col("value"), decJson).as("r"))
      .select("r.amt")
    assert(df.head().getDecimal(0) == new java.math.BigDecimal("1234.56"))
  }

  test("conflicting and unsupported modes fail fast") {
    val dir = Files.createTempDirectory("avrobad").toString
    writeShard(dir, "shard-a.parquet", 0 until 3)
    val e1 = intercept[Exception] {
      spark.read.format("log").option("path", dir)
        .option("value.format", "avro").option("avro.schema", schemaJson)
        .option("schema.mode", "raw").load().collect()
    }
    assert(e1.getMessage.contains("conflict"))
    val e2 = intercept[Exception] {
      spark.readStream.format("log").option("path", dir)
        .option("value.format", "avro").option("avro.schema", schemaJson).load()
        .writeStream.format("console")
        .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("1 second"))
        .start()
    }
    assert(e2.getMessage != null)
  }
}
