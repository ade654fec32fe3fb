package graft.sources

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkSpec
import graft.sources.log.{LogInputPartition, LogReaderFactory, LogSource}

/** Offset seek in the log read path: a mid-shard offset must skip whole
  * row groups footer-side and step only within one group — never re-scan
  * the consumed prefix (the O(offset)-per-trigger re-scan under admission
  * control). Also covers the row-group-aligned intra-shard split planner.
  */
class LogSeekSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("body", StringType)))

  /** One shard file with many small row groups (4 KiB target). */
  private lazy val shardFile: Path = {
    val dir = Files.createTempDirectory("logseek").toString
    val file = new Path(dir, "shard-a.parquet")
    val w = ParquetIO.openWriter(file, schema, rowGroupBytes = 4096L)
    (0 until 1000).foreach { i =>
      val row = new GenericInternalRow(2)
      row.setLong(0, i.toLong)
      row.update(1, UTF8String.fromString(s"body-$i-" + ("x" * 64)))
      w.write(row)
    }
    w.close()
    file
  }

  private def fileStatus: (Long, Long) = {
    val st = shardFile.getFileSystem(ParquetIO.hadoopConf).getFileStatus(shardFile)
    (st.getLen, st.getModificationTime)
  }

  private def drain(p: LogInputPartition): Seq[Long] = {
    val reader = new LogReaderFactory(schema, raw = false).createReader(p)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      while (reader.next()) out += reader.get().getLong(0)
    } finally reader.close()
    out.toSeq
  }

  test("fixture file has several row groups") {
    assert(ParquetIO.footer(shardFile).groups.length >= 4)
  }

  test("readFile(skipRowGroups=k) starts at group k's first row") {
    val groups = ParquetIO.footer(shardFile).groups
    val cum = groups.scanLeft(0L)(_ + _.rowCount)
    val k = groups.length / 2
    val it = ParquetIO.readFile(shardFile, schema, skipRowGroups = k)
    try {
      val ids = it.map(_.getLong(0)).toVector
      assert(ids.head == cum(k))
      assert(ids.length == cum.last - cum(k))
    } finally it.close()
  }

  test("mid-file offset plans a seek, not a prefix re-scan") {
    val groups = ParquetIO.footer(shardFile).groups
    val cum = groups.scanLeft(0L)(_ + _.rowCount)
    val total = cum.last
    val from = total / 2
    val (len, mtime) = fileStatus
    val parts = LogSource.planShardPartitions(
      shardFile, len, mtime, "shard-a.parquet", from, total, Long.MaxValue)
    assert(parts.length == 1)
    val p = parts.head
    assert(p.skipGroups > 0, "mid-file read must skip leading row groups")
    assert(p.groupBaseRow == cum(p.skipGroups))
    // the in-group step is bounded by a single row group's rows
    assert(p.startRow - p.groupBaseRow < groups.map(_.rowCount).max)
    assert(drain(p) == (from until total).toSeq)
  }

  test("tiny targetBytes splits a shard into contiguous disjoint group partitions") {
    val groups = ParquetIO.footer(shardFile).groups
    val cum = groups.scanLeft(0L)(_ + _.rowCount)
    val total = cum.last
    val (len, mtime) = fileStatus
    val parts = LogSource.planShardPartitions(
      shardFile, len, mtime, "shard-a.parquet", 0L, total, 1L)
    assert(parts.length == groups.length)
    assert(parts.head.startRow == 0L && parts.last.endRow == total)
    parts.sliding(2).foreach { case Seq(a, b) => assert(a.endRow == b.startRow) }
    assert(parts.flatMap(drain) == (0L until total).toSeq)
  }

  test("sub-range clamps to [from, to) across group boundaries") {
    val groups = ParquetIO.footer(shardFile).groups
    val cum = groups.scanLeft(0L)(_ + _.rowCount)
    val total = cum.last
    val (from, to) = (total / 3, 2 * total / 3)
    val (len, mtime) = fileStatus
    val parts = LogSource.planShardPartitions(
      shardFile, len, mtime, "shard-a.parquet", from, to, 1L)
    assert(parts.flatMap(drain) == (from until to).toSeq)
    // no partition reads groups past `to`
    assert(parts.forall(p => cum(p.skipGroups) < to))
  }
}
