package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkSpec
import graft.sources.cdc.CdcInputPartition

/** Byte-range split boundaries on COMPRESSED multi-row-group files.
  *
  * Row-group byte ranges must end at the next group's starting position
  * (compressed layout), not at startByte + totalByteSize —
  * totalByteSize is the UNCOMPRESSED size, and the readers select row
  * groups by compressed-size midpoint within [start, end), so an
  * uncompressed-size range on a snappy file overshoots into the next
  * partition's first group and decodes it in BOTH partitions.
  */
class CompressedSplitSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("body", StringType)))

  /** One snappy file, many small row groups, highly compressible bodies
    * (ratio well above the ~1.5× at which the overshoot crosses a group).
    */
  private lazy val file: Path = {
    val dir = Files.createTempDirectory("compsplit").toString
    val f = new Path(dir, "part-00000.parquet")
    val w = ParquetIO.openWriter(f, schema, rowGroupBytes = 64 * 1024L)
    (0 until 4000).foreach { i =>
      val row = new GenericInternalRow(2)
      row.setLong(0, i.toLong)
      row.update(1, UTF8String.fromString("z" * 512))
      w.write(row)
    }
    w.close()
    f
  }

  private lazy val groups = ParquetIO.footer(file).groups

  test("fixture: many groups, compression ratio makes uncompressed ranges overshoot") {
    assert(groups.length >= 8)
    val dataBytes = groups.last.endByte - groups.head.startByte
    val uncompressed = groups.map(_.totalByteSize).sum
    assert(uncompressed > 2 * dataBytes,
      s"fixture not compressible enough: $uncompressed vs $dataBytes on-disk")
  }

  test("endBytes tile the data region: each group ends where the next starts") {
    groups.sliding(2).foreach {
      case Seq(a, b) => assert(a.endByte == b.startByte)
      case _ =>
    }
    // and the last group's end is past its start but inside the file
    val len = file.getFileSystem(ParquetIO.hadoopConf).getFileStatus(file).getLen
    assert(groups.last.endByte > groups.last.startByte && groups.last.endByte <= len)
  }

  test("per-group byte ranges read each row exactly once (readFile/withRange)") {
    val ids = groups.flatMap { g =>
      val it = ParquetIO.readFile(file, schema, range = Some((g.startByte, g.endByte)))
      try it.map(_.getLong(0)).toVector finally it.close()
    }
    assert(ids.length == 4000, s"expected 4000 rows, got ${ids.length} (duplicated groups)")
    assert(ids == (0L until 4000L))
  }

  test("kv scan with small splits: no duplicate rows, row and columnar paths") {
    val dir = file.getParent.toString
    for (vectorized <- Seq(true, false)) {
      val df = spark.read.format("kv").option("path", dir)
        .option("split.size.mb", "1")
        .option("vectorized.read", vectorized.toString).load()
      val n = df.count()
      val distinct = df.select("id").distinct().count()
      assert(n == 4000L, s"vectorized=$vectorized read $n rows (split overlap)")
      assert(distinct == 4000L)
    }
  }

  test("log shard planner: aligned byte ranges tile the data region exactly") {
    // the columnar log plane consumes these ranges verbatim; ADVICE
    // round-5 flagged that multi-partition columnar coverage was missing
    val (len, mtime) = {
      val st = file.getFileSystem(ParquetIO.hadoopConf).getFileStatus(file)
      (st.getLen, st.getModificationTime)
    }
    val total = groups.map(_.rowCount).sum
    val parts = graft.sources.log.LogSource.planShardPartitions(
      file, len, mtime, file.getName, 0L, total, 1L)
    assert(parts.length == groups.length)
    assert(parts.forall(p => p.startByte >= 0 && p.endByte > p.startByte),
      "full-shard group-aligned partitions must carry byte ranges")
    parts.sliding(2).foreach {
      case Seq(a, b) => assert(a.endByte == b.startByte)
      case _ =>
    }
    assert(parts.head.startByte == groups.head.startByte)
    assert(parts.last.endByte == groups.last.endByte)
    // reading each partition's byte range decodes its rows exactly once
    val n = parts.map { p =>
      val it = ParquetIO.readFile(file, schema, range = Some((p.startByte, p.endByte)))
      try it.length.toLong finally it.close()
    }.sum
    assert(n == total)
  }

  test("cdc planFile partitions are disjoint and cover every row once") {
    // targetBytes below one group's uncompressed size → one partition per group
    val parts = CdcInputPartition.planFile(file, 0L, 1L)
    assert(parts.length == groups.length)
    parts.sliding(2).foreach {
      case Seq(a, b) => assert(a.endByte == b.startByte && a.endByte < b.endByte)
      case _ =>
    }
    val rows = parts.map { p =>
      val it = ParquetIO.readFile(new Path(p.file), schema,
        range = Some((p.startByte, p.endByte)))
      try it.length.toLong finally it.close()
    }
    assert(rows.sum == 4000L, s"partitions overlap: per-part rows = $rows")
  }
}
