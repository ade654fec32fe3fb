package graft.sources

import java.nio.file.Files
import scala.util.Random
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Randomized row-path/columnar-path equivalence: any flat schema of
  * supported types, with nulls sprinkled everywhere, must read back
  * identically through the row path (Spark's row converter) and the
  * vectorized plane.
  * Catches decode divergences (timestamp units, decimal scales, binary
  * copies) that a fixed fixture might miss.
  */
class KvVectorizedPropertySpec extends SparkSpec {

  private val types: Vector[DataType] = Vector(
    LongType, IntegerType, DoubleType, FloatType, BooleanType,
    StringType, BinaryType, TimestampType, DateType,
    DecimalType(5, 2), DecimalType(10, 2), DecimalType(28, 4))

  private def randomValue(dt: DataType, rnd: Random): Any = dt match {
    case LongType => rnd.nextLong()
    case IntegerType => rnd.nextInt()
    case DoubleType => rnd.nextDouble() * 1e6
    case FloatType => rnd.nextFloat() * 1e3f
    case BooleanType => rnd.nextBoolean()
    case StringType => Random.alphanumeric.take(rnd.nextInt(12)).mkString
    case BinaryType => Array.fill(rnd.nextInt(8))(rnd.nextInt().toByte)
    case TimestampType =>
      new java.sql.Timestamp(math.abs(rnd.nextLong()) % 4102444800000L)
    case DateType => new java.sql.Date(math.abs(rnd.nextLong()) % 4102444800000L)
    case d: DecimalType =>
      new java.math.BigDecimal(java.math.BigInteger.valueOf(
        rnd.nextInt(math.pow(10, math.min(d.precision, 6)).toInt)), d.scale)
    case other => throw new IllegalArgumentException(other.toString)
  }

  test("random flat schemas read identically on both paths") {
    val rnd = new Random(20260813L)
    (0 until 8).foreach { trial =>
      val nCols = 1 + rnd.nextInt(5)
      val schema = StructType(
        StructField("k", LongType, nullable = false) +:
          (0 until nCols).map(i =>
            StructField(s"c$i", types(rnd.nextInt(types.length)), nullable = true)))
      val rows = (0 until 60).map { r =>
        Row.fromSeq(r.toLong +: (0 until nCols).map { i =>
          if (rnd.nextInt(5) == 0) null
          else randomValue(schema(i + 1).dataType, rnd)
        })
      }
      val dir = Files.createTempDirectory(s"kvprop$trial").toString
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
        .write.format("kv").option("path", dir).mode("overwrite").save()
      def read(vec: Boolean) =
        spark.read.format("kv").option("path", dir)
          .option("vectorized.read", vec.toString).load()
          .orderBy("k").collect().toSeq
      val (v, r) = (read(true), read(false))
      // binary columns need element-wise comparison (Array equality is eq)
      val norm = (s: Seq[Row]) => s.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      })
      assert(norm(v) == norm(r), s"trial $trial schema ${schema.simpleString}")
    }
  }
}
