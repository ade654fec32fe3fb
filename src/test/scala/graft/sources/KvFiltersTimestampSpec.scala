package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Timestamp pushdown must be EXACT per storage unit: the record-level
  * parquet filter runs before Spark's residual re-apply, so a pushed
  * predicate that drops a row Spark's read-side conversion would keep is a
  * silent wrong answer (rows cannot be resurrected). Read conversions
  * (ParquetIO.readFile): MILLIS → ×1000 exact widening, NANOS →
  * truncating ÷1000. These tests enumerate boundary storage values around
  * each literal and assert the filtered read returns exactly the rows
  * whose *read image* satisfies the Spark filter.
  */
class KvFiltersTimestampSpec extends AnyFunSuite {

  private val sparkSchema = StructType(Seq(
    StructField("ts", TimestampType), StructField("id", LongType)))

  private def writeFile(unit: TimeUnit, values: Seq[Long]): (java.io.File, MessageType) = {
    val dir = Files.createTempDirectory("kvf-ts").toFile
    val f = new java.io.File(dir, "data.parquet")
    val mt = Types.buildMessage()
      .addField(Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true, unit)).named("ts"))
      .addField(Types.optional(PrimitiveTypeName.INT64).named("id"))
      .named("t")
    val w = ExampleParquetWriter.builder(new Path(f.toString))
      .withConf(ParquetIO.hadoopConf).withType(mt).build()
    values.zipWithIndex.foreach { case (v, i) =>
      val g = new SimpleGroup(mt)
      g.add("ts", v); g.add("id", i.toLong)
      w.write(g)
    }
    w.close()
    (f, mt)
  }

  /** ids returned by a read of `f` with `filter` compiled and pushed. */
  private def readIds(f: java.io.File, mt: MessageType, filter: Filter): Set[Long] = {
    val pred = KvFilters.compile(filter, mt)
    assert(pred.isDefined, s"expected $filter to compile for ${mt}")
    val it = ParquetIO.readFile(new Path(f.toString), sparkSchema, filter = pred)
    try it.map(_.getLong(1)).toSet finally it.close()
  }

  /** Spark-side semantics: evaluate `filter` against the micros read image. */
  private def sparkKeeps(filter: Filter, micros: Long): Boolean = filter match {
    case EqualTo(_, v) => micros == lit(v)
    case Not(EqualTo(_, v)) => micros != lit(v)
    case GreaterThan(_, v) => micros > lit(v)
    case GreaterThanOrEqual(_, v) => micros >= lit(v)
    case LessThan(_, v) => micros < lit(v)
    case LessThanOrEqual(_, v) => micros <= lit(v)
    case In(_, vs) => vs.exists(v => micros == lit(v))
    case other => fail(s"unhandled $other")
  }
  private def lit(v: Any): Long = v match {
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private def readImage(unit: TimeUnit, stored: Long): Long = unit match {
    case TimeUnit.MILLIS => stored * 1000L
    case TimeUnit.MICROS => stored
    case TimeUnit.NANOS => stored / 1000L
  }

  private def instantMicros(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  private def check(unit: TimeUnit, stored: Seq[Long], filters: Seq[Filter]): Unit = {
    val (f, mt) = writeFile(unit, stored)
    filters.foreach { flt =>
      val expected = stored.zipWithIndex
        .collect { case (v, i) if sparkKeeps(flt, readImage(unit, v)) => i.toLong }.toSet
      val got = readIds(f, mt, flt)
      assert(got == expected, s"unit=$unit filter=$flt stored=$stored")
    }
  }

  // base literal: 2024-01-15T00:00:00Z = 1705276800 s
  private val baseUs = 1705276800L * 1000000L

  test("NANOS storage: sub-microsecond stored digits never drop matching rows") {
    // storage values straddling the literal at every truncation boundary
    val stored = Seq(-999L, -1L, 0L, 1L, 999L).map(d => baseUs * 1000L + d) ++
      Seq(baseUs * 1000L - 1500L, baseUs * 1000L + 1500L, (baseUs + 2) * 1000L + 7L)
    val t = instantMicros(baseUs)
    check(TimeUnit.NANOS, stored, Seq(
      EqualTo("ts", t), Not(EqualTo("ts", t)),
      GreaterThan("ts", t), GreaterThanOrEqual("ts", t),
      LessThan("ts", t), LessThanOrEqual("ts", t),
      In("ts", Array[Any](t, instantMicros(baseUs + 2)))))
  }

  test("MILLIS storage: sub-millisecond literal components keep boundary rows") {
    val baseMs = baseUs / 1000L
    val stored = Seq(baseMs - 2, baseMs - 1, baseMs, baseMs + 1, baseMs + 2)
    // literals: exactly on a millisecond, and 300us past one
    val aligned = instantMicros(baseUs)
    val sub = instantMicros(baseUs + 300L)
    check(TimeUnit.MILLIS, stored,
      Seq(aligned, sub).flatMap(t => Seq(
        GreaterThan("ts", t), GreaterThanOrEqual("ts", t),
        LessThan("ts", t), LessThanOrEqual("ts", t))) :+
        EqualTo("ts", aligned) :+ Not(EqualTo("ts", aligned)))
  }

  test("MILLIS storage: EqualTo with sub-millisecond literal stays residual (no false push)") {
    val mt = Types.buildMessage()
      .addField(Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MILLIS)).named("ts"))
      .named("t")
    // no millisecond value reads equal to ...300us ⇒ not pushable as eq
    assert(KvFilters.compile(EqualTo("ts", instantMicros(baseUs + 300L)), mt).isEmpty)
  }

  test("MICROS storage remains exact for all operators") {
    val stored = Seq(baseUs - 1, baseUs, baseUs + 1)
    val t = instantMicros(baseUs)
    check(TimeUnit.MICROS, stored, Seq(
      EqualTo("ts", t), GreaterThan("ts", t), LessThan("ts", t),
      GreaterThanOrEqual("ts", t), LessThanOrEqual("ts", t)))
  }

  test("java.sql.Timestamp literals take the same exact path") {
    val stored = Seq(baseUs * 1000L + 500L, baseUs * 1000L, (baseUs - 1) * 1000L)
    val ts = java.sql.Timestamp.from(instantMicros(baseUs))
    val (f, mt) = writeFile(TimeUnit.NANOS, stored)
    // stored 500ns past the literal truncates to == literal on read
    assert(readIds(f, mt, EqualTo("ts", ts)) == Set(0L, 1L))
    assert(readIds(f, mt, LessThan("ts", ts)) == Set(2L))
  }
}
