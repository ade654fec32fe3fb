package graft.sources.log

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.ParquetIO
import graft.sources.kv.KvSource

/** Continuous-mode reader for the `log` source (SURVEY.md §2 T4, the
  * reference's DSv2 `LoghubContinuousReader.scala:38-291`): one
  * long-running reader per shard, per-partition offsets merged by the
  * driver at every epoch.
  *
  * Shard files are immutable, so a reader that reaches EOF polls for a
  * replacement (it re-opens after `poll.ms`); as in the reference, the
  * shard set is fixed at query start — new shards require a restart
  * (micro-batch mode discovers them live).
  */
class LogContinuousStream(path: String, schema: StructType, raw: Boolean,
    options: CaseInsensitiveStringMap) extends ContinuousStream {

  override def initialOffset(): Offset =
    LogOffsetV(LogSource.resolveOffsets(
      options.getOrDefault("starting.offsets", "earliest"), LogSource.shardCounts(path)))

  override def deserializeOffset(json: String): Offset =
    LogOffsetV(LogSource.parseOffsetJson(json))

  override def mergeOffsets(offsets: Array[PartitionOffset]): Offset =
    LogOffsetV(offsets.map { case LogPartitionOffset(shard, row) => shard -> row }.toMap)

  override def planInputPartitions(start: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogOffsetV].shards
    val files = LogSource.shardFiles(path)
    files.keys.toSeq.sorted.map { shard =>
      LogInputPartition(files(shard), shard, s.getOrElse(shard, 0L), Long.MaxValue)
    }.toArray
  }

  override def createContinuousReaderFactory(): ContinuousPartitionReaderFactory =
    new LogContinuousReaderFactory(schema, raw, options.getLong("poll.ms", 50L))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class LogPartitionOffset(shard: String, row: Long) extends PartitionOffset

class LogContinuousReaderFactory(schema: StructType, raw: Boolean, pollMs: Long)
    extends ContinuousPartitionReaderFactory {

  override def createReader(partition: InputPartition): ContinuousPartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LogInputPartition]
    new ContinuousPartitionReader[InternalRow] {
      private var pos = p.startRow
      private var it: Iterator[InternalRow] with AutoCloseable = _
      private var current: InternalRow = _
      private var dataSchema: StructType = _

      private def open(): Unit = {
        val resolved = new Path(p.file)
        val ft = ParquetIO.footer(resolved)
        dataSchema = if (raw) KvSource.toStructType(ft.schema) else schema
        // seek on every (re)open: skip whole row groups below `pos` from
        // the footer, step the remainder within one group — the EOF-poll
        // loop must not re-scan the consumed prefix each wakeup
        val groups = ft.groups
        val cum = groups.scanLeft(0L)(_ + _.rowCount)
        val skipGroups =
          if (pos >= cum.last) groups.length
          else math.max(cum.lastIndexWhere(_ <= pos), 0)
        it = ParquetIO.readFile(resolved, dataSchema, skipRowGroups = skipGroups)
        var skip = if (skipGroups >= groups.length) cum.last else cum(skipGroups)
        while (skip < pos && it.hasNext) { it.next(); skip += 1 }
      }

      override def next(): Boolean = {
        // blocks until a row is available; interrupted on query stop
        try {
          while (true) {
            if (it == null) open()
            if (it.hasNext) {
              val r = it.next()
              current =
                if (raw) LogReaderFactory.toRawRow(r, dataSchema, p.shard, pos)
                else r
              pos += 1
              return true
            } else {
              it.close(); it = null
              Thread.sleep(pollMs) // immutable shard: wait for replacement
            }
          }
          false
        } catch {
          case _: InterruptedException =>
            Thread.currentThread().interrupt()
            throw new java.io.InterruptedIOException("log continuous reader stopped")
        }
      }

      override def get(): InternalRow = current
      override def getOffset: PartitionOffset = LogPartitionOffset(p.shard, pos)
      override def close(): Unit = if (it != null) it.close()
    }
  }
}
