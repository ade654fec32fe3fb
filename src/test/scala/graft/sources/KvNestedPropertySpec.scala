package graft.sources

import java.nio.file.Files
import scala.util.Random
import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Randomized round-trip property for the recursive nested-type plane
  * (the kv writer's Spark `ParquetWriteSupport`, the row path's Spark
  * row converter, and KvSource.toStructType): random schemas to depth 3
  * over every
  * supported leaf type, random rows with nulls at every level — read
  * back through the kv source, values and inferred schema must match
  * exactly.
  */
class KvNestedPropertySpec extends SparkSpec {

  private val leaves: Vector[DataType] = Vector(
    LongType, IntegerType, DoubleType, FloatType, BooleanType,
    StringType, BinaryType, DateType, TimestampType,
    DecimalType(5, 2), DecimalType(10, 2), DecimalType(28, 6))

  private def randType(rnd: Random, depth: Int): DataType =
    if (depth <= 0) leaves(rnd.nextInt(leaves.length))
    else rnd.nextInt(6) match {
      case 0 => ArrayType(randType(rnd, depth - 1), containsNull = true)
      case 1 =>
        // map keys: non-null primitive with clean equality/serialization
        val keyTypes = Vector(LongType, IntegerType, StringType)
        MapType(keyTypes(rnd.nextInt(keyTypes.length)),
          randType(rnd, depth - 1), valueContainsNull = true)
      case 2 => StructType((0 until 1 + rnd.nextInt(3)).map(i =>
        StructField(s"f$i", randType(rnd, depth - 1), nullable = true)))
      case _ => leaves(rnd.nextInt(leaves.length))
    }

  private def randValue(rnd: Random, dt: DataType, nullable: Boolean): Any = {
    if (nullable && rnd.nextInt(5) == 0) return null
    dt match {
      case LongType => rnd.nextLong()
      case IntegerType => rnd.nextInt()
      case DoubleType => rnd.nextDouble() * 1000
      case FloatType => rnd.nextFloat() * 1000
      case BooleanType => rnd.nextBoolean()
      case StringType => Random.alphanumeric.take(rnd.nextInt(8)).mkString
      case BinaryType => Array.fill(rnd.nextInt(6))(rnd.nextInt(256).toByte)
      case DateType => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(rnd.nextInt(20000).toLong))
      case TimestampType => java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(rnd.nextInt(1600000000).toLong,
          rnd.nextInt(1000000).toLong * 1000L))
      case d: DecimalType =>
        val unscaled = BigInt(rnd.nextLong() % BigInt(10).pow(math.min(d.precision, 18)).toLong)
        new java.math.BigDecimal(unscaled.bigInteger, d.scale)
      case ArrayType(et, cn) => Seq.fill(rnd.nextInt(4))(randValue(rnd, et, cn))
      case MapType(kt, vt, vcn) =>
        (0 until rnd.nextInt(3)).map(_ =>
          randValue(rnd, kt, nullable = false) -> randValue(rnd, vt, vcn)).toMap
      case st: StructType =>
        Row.fromSeq(st.fields.map(f => randValue(rnd, f.dataType, f.nullable)).toSeq)
      case other => fail(s"unexpected type $other")
    }
  }

  test("random nested schemas round-trip value-exactly through the kv source") {
    val rnd = new Random(20260814L)
    for (trial <- 0 until 8) {
      val schema = StructType(StructField("id", LongType, nullable = false) +:
        (0 until 2 + rnd.nextInt(3)).map(i =>
          StructField(s"c$i", randType(rnd, 2), nullable = true)))
      val rows = (0 until 30).map { i =>
        Row.fromSeq(i.toLong +: schema.fields.tail.map(f =>
          randValue(rnd, f.dataType, f.nullable)).toSeq)
      }
      val dir = Files.createTempDirectory(s"kvprop$trial").toString
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      df.write.format("kv").option("path", dir).mode("overwrite").save()
      val back = spark.read.format("kv").option("path", dir).load()
      assert(back.schema == schema.copy(fields = schema.fields.map(_.copy(nullable = true))),
        s"trial $trial schema drift:\n${back.schema.treeString}\nvs\n${schema.treeString}")
      // row-wise compare through a canonical string projection (binary →
      // hex, maps sorted) so Scala equality quirks can't mask diffs
      import org.apache.spark.sql.functions._
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.orderBy("id").select(col("id"),
          to_json(struct(schema.fieldNames.tail.map(col): _*)).as("j"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(canon(back) == canon(df), s"trial $trial value drift")
    }
  }
}
