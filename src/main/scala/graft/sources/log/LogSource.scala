package graft.sources.log

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.{ParquetIO, SchemaCatalog}
import graft.sources.kv.KvSource

/** `log` DataSource V2 — sharded append-only log store.
  *
  * Local re-expression of the reference's Loghub connector (SURVEY.md §2
  * S4 batch scan, T3 micro-batch source): each parquet file under `path`
  * is one shard; the offset of a shard is the number of rows consumed.
  *
  * Batch: `starting.offsets` / `ending.offsets` = earliest | latest |
  * {"shard": n, ...} JSON — the offset-resolution rules of
  * `LoghubRelation.scala:65-92` / validation of
  * `LoghubSourceProvider.scala:210-242`.
  *
  * Streaming: `MicroBatchStream` + `SupportsAdmissionControl`:
  *  - `maxOffsetsPerTrigger` rate limit, prorated across shards by
  *    available rows — exact, from footer row counts (the reference
  *    approximates with server histograms, `LoghubOffsetReader.scala:209-252`;
  *    per-shard proration as in `DatahubMicroBatchReader.scala:112-149`),
  *  - new shards discovered mid-stream start at offset 0
  *    (`LoghubSource.scala:130-161`),
  *  - offsets serialize as JSON shard→row maps
  *    (`LoghubSourceOffset.scala:30-143`).
  *
  * Schema modes (`LoghubSourceProvider.scala:258-274`): typed (parquet
  * schema or `catalog` option) or `schema.mode=raw` → `__shard__,
  * __offset__, __value__` with the record JSON-encoded in `__value__`
  * (`LoghubSourceRDD.scala:140-249`).
  */
class LogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "log"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    LogSource.avroSchemaJson(options) match {
      case Some(json) =>
        require(!LogSource.isRaw(options), "schema.mode=raw and value.format=avro conflict")
        graft.functions.AvroFunctions.structTypeOf(
          new org.apache.avro.Schema.Parser().parse(json))
      case None =>
        if (LogSource.isRaw(options)) LogSource.rawSchema
        else Option(options.get("catalog")).map(SchemaCatalog.parse).getOrElse {
          val files = ParquetIO.listFiles(options.get("path"))
          require(files.nonEmpty, s"no shards under ${options.get("path")} and no catalog option")
          KvSource.toStructType(ParquetIO.footer(files.head).schema)
        }
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogTable(schema, new CaseInsensitiveStringMap(properties))
}

object LogSource {
  val rawSchema: StructType = StructType(Seq(
    StructField("__shard__", StringType, nullable = false),
    StructField("__offset__", LongType, nullable = false),
    StructField("__value__", StringType, nullable = false)))

  def isRaw(options: CaseInsensitiveStringMap): Boolean =
    "raw".equalsIgnoreCase(options.getOrDefault("schema.mode", "typed"))

  /** Registry-style Avro value schema (`value.format=avro`) — the local
    * re-expression of the reference's schema-registry Kafka tables
    * (`kafka_store_sales.sql:6-13`: registry URL + record name/namespace
    * declare the value schema). Inline `avro.schema` JSON, or resolved
    * from the file registry `avro.schema.dir` by `avro.record.name` +
    * optional `avro.record.namespace` → `<dir>/[ns.]<name>.avsc`.
    */
  def avroSchemaJson(options: CaseInsensitiveStringMap): Option[String] = {
    if (!"avro".equalsIgnoreCase(options.getOrDefault("value.format", ""))) return None
    Option(options.get("avro.schema")).orElse {
      val dir = options.get("avro.schema.dir")
      require(dir != null,
        "value.format=avro needs avro.schema (inline JSON) or avro.schema.dir + avro.record.name")
      val name = options.get("avro.record.name")
      require(name != null, "avro.record.name is required with avro.schema.dir")
      val fname = Option(options.get("avro.record.namespace"))
        .map(ns => s"$ns.$name.avsc").getOrElse(s"$name.avsc")
      val p = new Path(dir, fname)
      val fs = p.getFileSystem(ParquetIO.hadoopConf)
      require(fs.exists(p), s"avro schema $fname not found in registry dir $dir")
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Shard column carrying the Avro payload bytes. */
  def avroValueColumn(options: CaseInsensitiveStringMap): String =
    options.getOrDefault("avro.value.column", "value")

  /** shard name → rows available, from footers (exact, no data IO). */
  def shardCounts(path: String): Map[String, Long] =
    // signature-cached: a shard's row count is re-read only when the file
    // grows/changes — per-trigger offset resolution costs one listing,
    // not O(shards) footer reads
    ParquetIO.listFilesStatus(path).map { case (f, len, mt) =>
      f.getName -> ParquetIO.footer(f, len, mt).rowCount
    }.toMap

  /** shard name → full file path. */
  def shardFiles(path: String): Map[String, String] =
    ParquetIO.listFiles(path).map(f => f.getName -> f.toString).toMap

  /** shard name → (path, len, mtime) — the cache signature triple for
    * footer access, from one listing call.
    */
  def shardFileStatus(path: String): Map[String, (Path, Long, Long)] =
    ParquetIO.listFilesStatus(path).map { case (f, len, mt) =>
      f.getName -> ((f, len, mt))
    }.toMap

  /** Split one shard's [from, to) row range into row-group-aligned
    * partitions of ~`targetBytes`, each carrying the index and base row
    * offset of its first row group so the reader SEEKS (skip whole
    * groups, then step within one group) instead of re-scanning the file
    * from row 0. Without this a rate-limited stream re-reads a long
    * shard's prefix at every trigger — O(offset) per batch, quadratic
    * over a drain (reference prorates offsets the same way but seeks
    * server-side, `LoghubSourceRDD.scala:140-249`; `KvScan` does the
    * equivalent byte-split for batch, `KvSource.scala:346-381`).
    */
  def planShardPartitions(file: Path, len: Long, mtime: Long, shard: String,
      from: Long, to: Long, targetBytes: Long): Seq[LogInputPartition] = {
    if (from >= to) return Nil
    val groups = ParquetIO.footer(file, len, mtime).groups
    if (groups.isEmpty)
      return Seq(LogInputPartition(file.toString, shard, from, to,
        fileLen = len, fileMtime = mtime))
    val cum = groups.scanLeft(0L)(_ + _.rowCount) // cum(i) = rows before group i
    val idx = groups.indices.filter(i => cum(i + 1) > from && cum(i) < to)
    if (idx.isEmpty) return Nil
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var first = idx.head
    var bytes = 0L
    idx.foreach { i =>
      if (bytes > 0 && bytes + groups(i).totalByteSize > targetBytes) {
        spans += ((first, i - 1)); first = i; bytes = 0L
      }
      bytes += groups(i).totalByteSize
    }
    spans += ((first, idx.last))
    spans.toSeq.map { case (a, b) =>
      val sRow = math.max(from, cum(a))
      val eRow = math.min(to, cum(b + 1))
      val aligned = sRow == cum(a) && eRow == cum(b + 1)
      LogInputPartition(file.toString, shard, sRow, eRow, a, cum(a),
        if (aligned) groups(a).startByte else -1L,
        if (aligned) groups(b).endByte else -1L,
        fileLen = len, fileMtime = mtime)
    }
  }

  def targetSplitBytes(options: CaseInsensitiveStringMap): Long =
    options.getLong("split.size.mb", 128L) * 1024L * 1024L

  def parseOffsetJson(s: String): Map[String, Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(s) match {
      case JObject(fields) => fields.map {
        case (k, JInt(v)) => k -> v.toLong
        case (k, JLong(v)) => k -> v
        case (k, other) => throw new IllegalArgumentException(s"bad offset for $k: $other")
      }.toMap
      case other => throw new IllegalArgumentException(s"offsets must be a JSON object: $other")
    }
  }

  def offsetJson(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  /** Resolve an offsets option against the current shard set —
    * `LoghubRelation.scala:65-92` semantics.
    */
  def resolveOffsets(spec: String, counts: Map[String, Long]): Map[String, Long] =
    spec.trim.toLowerCase match {
      case "earliest" => counts.map { case (s, _) => s -> 0L }
      case "latest" => counts
      case _ =>
        val m = parseOffsetJson(spec)
        m.keys.foreach(k => require(counts.contains(k), s"unknown shard $k in offsets"))
        counts.map { case (s, n) => s -> math.min(m.getOrElse(s, 0L), n) }
    }
}

case class LogOffsetV(shards: Map[String, Long]) extends Offset {
  override def json(): String = LogSource.offsetJson(shards)
}

class LogTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val path = options.get("path")

  override def name(): String = s"log:$path"
  override def schema(): StructType = tableSchema
  override def properties(): util.Map[String, String] = options.asCaseSensitiveMap()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.CONTINUOUS_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new LogScanBuilder(path, tableSchema, options)
}

/** Column pruning + filter compilation for the log scan (typed mode):
  * the projected subset reaches the parquet reader, so a 2-column
  * aggregate over a wide log table decodes 2 columns — and the pruned
  * schema is what qualifies the scan for the columnar data plane.
  * Filters compile through the same NNF compiler as the kv scan but are
  * ALL returned as residual and applied only as row-group STATS skip on
  * the columnar path: the row readers' offset accounting is positional
  * (every row of the range must materialize), so they never filter
  * in-reader. Raw mode's fixed 3-column layout is never pruned.
  */
class LogScanBuilder(path: String, tableSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  import org.apache.spark.sql.sources.Filter
  private var required = tableSchema
  private var predicate: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = None
  private var accepted: Array[Filter] = Array.empty
  private var sawFilters = false
  private var aggCompiled: Option[graft.sources.kv.KvAggregates.Compiled] = None

  private val avro = LogSource.avroSchemaJson(options).isDefined

  // Footer-only aggregates (S1c semantics on the log surface): ungrouped
  // unfiltered COUNT/MIN/MAX answered from cached footers — only for a
  // typed FULL-RANGE scan (offset slices would change the answer; the
  // default earliest→latest read is exactly the full files).
  private def fullRange: Boolean =
    "earliest".equalsIgnoreCase(options.getOrDefault("starting.offsets", "earliest")) &&
      "latest".equalsIgnoreCase(options.getOrDefault("ending.offsets", "latest"))

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    !sawFilters && !LogSource.isRaw(options) && !avro && fullRange &&
      graft.sources.kv.KvAggregates.compile(path, tableSchema, agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (sawFilters || LogSource.isRaw(options) || avro || !fullRange) return false
    graft.sources.kv.KvAggregates.compile(path, tableSchema, agg) match {
      case some @ Some(_) => aggCompiled = some; true
      case None => false // no partial pushdown: footer stats are all-or-nothing
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (!LogSource.isRaw(options) && !avro) {
      val names = requiredSchema.fieldNames.toSet
      required = StructType(tableSchema.fields.filter(f => names.contains(f.name)))
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (filters.nonEmpty) sawFilters = true
    if (!LogSource.isRaw(options) && !avro) {
      ParquetIO.commonSchema(ParquetIO.listFilesStatus(path)).foreach { common =>
        val (pred, acc) = graft.sources.KvFilters.compileAll(filters.toSeq, common)
        predicate = pred
        accepted = acc.toArray
      }
    }
    filters // all residual — Spark re-applies every filter
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = aggCompiled match {
    case Some(c) => new graft.sources.kv.KvAggScan(path, c)
    case None => new LogScan(path, required, tableSchema, options, predicate, accepted)
  }
}

class LogScan(path: String, schema: StructType, tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    predicate: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = None,
    accepted: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with SupportsReportStatistics {
  private val raw = LogSource.isRaw(options)
  private val avroJson = LogSource.avroSchemaJson(options)
  private def avroCol = LogSource.avroValueColumn(options)

  override def readSchema(): StructType = schema
  override def description(): String =
    s"log path=$path raw=$raw avro=${avroJson.isDefined}, " +
      s"PushedFilters: [${accepted.mkString(", ")}], " +
      s"ReadSchema: ${schema.simpleString}"

  /** Batch-read size estimate from the cached footers, prorated by the
    * selected offset range — without it the DSv2 relation reports
    * `defaultSizeInBytes` and can never sit on the broadcast side of a
    * join (nor let AQE pick a cheap plan for a small offset slice).
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val perShard = ParquetIO.listFilesStatus(path).map { case (f, len, mt) =>
      val groups = ParquetIO.footer(f, len, mt).groups
      f.getName -> ((groups.map(_.totalByteSize).sum, groups.map(_.rowCount).sum))
    }.toMap
    val counts = perShard.view.mapValues(_._2).toMap
    val start = LogSource.resolveOffsets(
      options.getOrDefault("starting.offsets", "earliest"), counts)
    val end = LogSource.resolveOffsets(
      options.getOrDefault("ending.offsets", "latest"), counts)
    var bytes = 0L
    var rows = 0L
    perShard.foreach { case (shard, (b, n)) =>
      val sel = math.max(end.getOrElse(shard, n) - start.getOrElse(shard, 0L), 0L)
      rows += sel
      if (n > 0) bytes += (b * (sel.toDouble / n)).toLong
    }
    // column pruning shrinks the estimate like the scan it describes
    if (!raw && tableSchema.nonEmpty)
      bytes = (bytes * (math.max(schema.size, 1).toDouble / tableSchema.size)).toLong
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  override def toBatch: Batch = new Batch {
    private lazy val planned: Array[InputPartition] = {
      val status = LogSource.shardFileStatus(path)
      val counts = status.map { case (n, (f, len, mt)) =>
        n -> ParquetIO.footer(f, len, mt).rowCount
      }
      val start = LogSource.resolveOffsets(
        options.getOrDefault("starting.offsets", "earliest"), counts)
      val end = LogSource.resolveOffsets(
        options.getOrDefault("ending.offsets", "latest"), counts)
      val targetBytes = LogSource.targetSplitBytes(options)
      counts.keys.toSeq.sorted.flatMap { shard =>
        val (s, e) = (start(shard), end(shard))
        require(s <= e, s"starting offset $s > ending offset $e for shard $shard")
        val (f, len, mt) = status(shard)
        LogSource.planShardPartitions(f, len, mt, shard, s, e, targetBytes)
      }.toArray
    }
    // Columnar data plane (KvVectorized) when typed, every partition is
    // row-group-aligned (full-range scans always are; an offset slice
    // cutting inside a group stays on the row reader) and every
    // requested column is stored natively.
    private lazy val columnar =
      !raw && avroJson.isEmpty && options.getBoolean("vectorized.read", true) &&
        planned.nonEmpty &&
        planned.forall(_.asInstanceOf[LogInputPartition].startByte >= 0) &&
        graft.sources.kv.KvVectorized.scanEligible(path, schema)
    override def planInputPartitions(): Array[InputPartition] = planned
    override def createReaderFactory(): PartitionReaderFactory =
      // the pushed predicate rides only the columnar (group-aligned)
      // plane as a stats-level skip; the positional row reader gets none
      new LogReaderFactory(schema, raw, columnar,
        if (columnar) predicate else None, avroJson, avroCol)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LogMicroBatchStream(path, schema, raw, options)

  override def toContinuousStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.ContinuousStream = {
    require(avroJson.isEmpty, "continuous mode does not support value.format=avro")
    new LogContinuousStream(path, schema, raw, options)
  }
}

/** `skipGroups`/`groupBaseRow`: index and starting row offset of the
  * first row group this partition reads — the reader skips whole groups
  * to there (no data IO), then steps at most one group's rows to
  * `startRow`. `startByte`/`endByte` are set (≥0) only when [startRow,
  * endRow) covers whole row groups — the byte range the columnar reader
  * can take verbatim; -1 marks a mid-group slice (row reader only).
  */
case class LogInputPartition(file: String, shard: String, startRow: Long, endRow: Long,
    skipGroups: Int = 0, groupBaseRow: Long = 0L,
    startByte: Long = -1L, endByte: Long = -1L,
    fileLen: Long = -1L, fileMtime: Long = -1L)
    extends InputPartition

class LogMicroBatchStream(path: String, schema: StructType, raw: Boolean,
    options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: fix the end boundary at query start so the
  // drain terminates even while producers keep appending — AND the
  // per-trigger rate limit keeps batching the drain (without this, Spark
  // falls back to one unbounded batch and ignores admission control).
  private var fixedBoundary: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    fixedBoundary = Some(LogSource.shardCounts(path))

  private def counts: Map[String, Long] =
    fixedBoundary.getOrElse(LogSource.shardCounts(path))

  override def reportLatestOffset(): Offset = LogOffsetV(counts)

  override def getDefaultReadLimit: ReadLimit =
    Option(options.get("maxOffsetsPerTrigger"))
      .map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset =
    LogOffsetV(LogSource.resolveOffsets(
      options.getOrDefault("starting.offsets", "earliest"), counts))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** Admission control: clamp newly admitted rows to the limit, prorated
    * per shard by availability; exact row accounting from footers.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = counts
    val startMap = start.asInstanceOf[LogOffsetV].shards
    val avail = cur.map { case (s, n) => s -> math.max(n - startMap.getOrElse(s, 0L), 0L) }
    val totalAvail = avail.values.sum
    // Hot-reloadable rate limit (the reference's ZK-watched
    // maxOffsetsPerTrigger, LoghubSource.scala:170-248 /
    // DynamicConfigManager.scala:30-100): an optional side file is
    // re-read at every trigger and overrides the static option.
    val dynamicLimit = Option(options.get("rate.limit.file")).flatMap { f =>
      val p = new Path(f)
      val fs = p.getFileSystem(ParquetIO.hadoopConf)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val content = new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          content.toLongOption
        } finally in.close()
      }
    }
    val budget = dynamicLimit.getOrElse(limit match {
      case mr: ReadMaxRows => mr.maxRows()
      case _ => Long.MaxValue
    })
    if (totalAvail <= budget) LogOffsetV(cur)
    else {
      // prorate; hand out remainder deterministically by shard name
      var remaining = budget
      val sorted = avail.toSeq.sortBy(_._1)
      val granted = sorted.map { case (s, a) =>
        val share = math.min(a, math.max(budget * a / math.max(totalAvail, 1L), 0L))
        s -> share
      }.toMap
      var leftover = budget - granted.values.sum
      val adjusted = sorted.map { case (s, a) =>
        val extra = if (leftover > 0 && granted(s) < a) {
          val add = math.min(a - granted(s), leftover); leftover -= add; add
        } else 0L
        s -> (startMap.getOrElse(s, 0L) + granted(s) + extra)
      }.toMap
      remaining = 0L
      LogOffsetV(adjusted)
    }
  }

  override def deserializeOffset(json: String): Offset =
    LogOffsetV(LogSource.parseOffsetJson(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogOffsetV].shards
    val e = end.asInstanceOf[LogOffsetV].shards
    // new shards discovered mid-stream (present in end, absent in start)
    // begin at offset 0 — LoghubSource.scala:130-161 semantics.
    val status = LogSource.shardFileStatus(path)
    val targetBytes = LogSource.targetSplitBytes(options)
    e.keys.toSeq.sorted.flatMap { shard =>
      val from = s.getOrElse(shard, 0L)
      val to = e(shard)
      status.get(shard) match {
        case Some((f, len, mt)) if from < to =>
          LogSource.planShardPartitions(f, len, mt, shard, from, to, targetBytes)
        case _ => Nil
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LogReaderFactory(schema, raw,
      avroJson = LogSource.avroSchemaJson(options),
      avroCol = LogSource.avroValueColumn(options))

  override def commit(end: Offset): Unit = () // Spark's offset log is the source of truth
  override def stop(): Unit = ()
}

/** Executor-local cache of POSITIONED shard readers — the local
  * re-expression of the reference's server-side seek
  * (`LoghubSourceRDD.scala:140-249`: Loghub cursors resume where the last
  * trigger stopped; a local parquet shard has no server, so the open,
  * already-positioned reader IS the cursor).
  *
  * Why it exists: a rate-limited micro-batch drain slices one shard into
  * consecutive `[start, end)` row ranges. Row-group skipping
  * ([[LogSource.planShardPartitions]]) makes the seek free only at group
  * granularity — inside a row group the reader must DECODE-STEP from the
  * group base to `startRow`, which is O(offset) per trigger and quadratic
  * over a drain (a 40-trigger drain of a single-row-group shard decodes
  * ~20× the shard's rows). Parking the reader at `endRow` when a batch
  * finishes and checking it out at `startRow == endRow` for the next
  * batch makes each row decode exactly ONCE per drain.
  *
  * Strictly an I/O-cursor reuse (the footer/listing-cache discipline of
  * [[graft.sources.ParquetIO]]), never a result cache: a checkout is keyed
  * on (path, len, mtime, projected schema, exact row position) — any
  * mismatch (changed bytes, different projection, non-consecutive range,
  * task retry/speculation racing a sibling) misses and falls back to a
  * fresh open + step, which is always correct. Entries are checked OUT
  * (removed) while in use, so two concurrent readers can never share a
  * handle; the bound closes the least-recently-parked handle.
  */
object LogTailCache {
  private case class Key(file: String, len: Long, mtime: Long,
      schema: String, pos: Long)
  private val MaxParked = 16
  private val parked = new java.util.LinkedHashMap[Key, AutoCloseable](
    MaxParked, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Key, AutoCloseable]): Boolean = {
      val evict = size() > MaxParked
      if (evict) scala.util.Try(e.getValue.close())
      evict
    }
  }

  def checkout(file: String, len: Long, mtime: Long, schema: String,
      pos: Long): Option[Iterator[InternalRow] with AutoCloseable] = {
    if (len < 0 || pos <= 0) return None // unsigned-off partitions never hit
    parked.synchronized {
      Option(parked.remove(Key(file, len, mtime, schema, pos)))
        .map(_.asInstanceOf[Iterator[InternalRow] with AutoCloseable])
    }
  }

  def park(file: String, len: Long, mtime: Long, schema: String, pos: Long,
      it: Iterator[InternalRow] with AutoCloseable): Unit = {
    if (len < 0) { it.close(); return }
    val prev = parked.synchronized {
      parked.put(Key(file, len, mtime, schema, pos), it)
    }
    if (prev != null) scala.util.Try(prev.close()) // replaced duplicate
    ()
  }

  /** Close every parked reader — called once a gate has executed, so no
    * handle outlives the drain that parked it.
    */
  def clearAll(): Unit = {
    val all = parked.synchronized {
      val vs = new java.util.ArrayList[AutoCloseable](parked.values())
      parked.clear()
      vs
    }
    all.forEach(r => scala.util.Try(r.close()))
  }

  /** Parked-reader count (test hook). */
  def parkedCount: Int = parked.synchronized(parked.size())
}

class LogReaderFactory(schema: StructType, raw: Boolean,
    columnar: Boolean = false,
    predicate: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = None,
    avroJson: Option[String] = None,
    avroCol: String = "value")
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[LogInputPartition]
    // columnar only when the partition is group-aligned (bytes set)
    graft.sources.kv.KvVectorized.reader(
      Seq(graft.sources.kv.KvChunk(p.file, p.startByte, p.endByte,
        p.endRow - p.startRow)),
      schema, predicate)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LogInputPartition]
    val resolved = new Path(p.file)
    val dataSchema =
      if (raw) KvSource.toStructType(ParquetIO.footer(resolved).schema)
      else if (avroJson.isDefined)
        StructType(Seq(StructField(avroCol, org.apache.spark.sql.types.BinaryType)))
      else schema
    // avro mode: shards carry payload bytes; decode per record with a
    // per-task reused datum reader (the registry-table value schema)
    val avroDecode: Option[Array[Byte] => InternalRow] = avroJson.map { json =>
      val avroSchema = new org.apache.avro.Schema.Parser().parse(json)
      val reader = new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord](avroSchema)
      val n = schema.length
      (bytes: Array[Byte]) =>
        if (bytes == null) new GenericInternalRow(n)
        else {
          val dec = org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytes, null)
          graft.functions.AvroFunctions.decodeRecord(reader.read(null, dec), avroSchema)
        }
    }
    // Consecutive-batch seek: a reader parked at exactly `startRow` by the
    // previous trigger resumes without the in-group decode-step (see
    // [[LogTailCache]]); any miss falls back to open + step.
    val schemaKey = dataSchema.catalogString
    val resumed = LogTailCache.checkout(p.file, p.fileLen, p.fileMtime,
      schemaKey, p.startRow)
    val it = resumed.getOrElse(
      ParquetIO.readFile(resolved, dataSchema, skipRowGroups = p.skipGroups))
    new PartitionReader[InternalRow] {
      private var pos = if (resumed.isDefined) p.startRow else p.groupBaseRow
      private var current: InternalRow = _
      private var parkedAway = false
      // seek: whole row groups below groupBaseRow were skipped footer-side;
      // step the remainder within the first group (bounded by one group)
      while (pos < p.startRow && it.hasNext) { it.next(); pos += 1 }
      override def next(): Boolean = {
        if (pos >= p.endRow || !it.hasNext) false
        else {
          val r = it.next()
          current =
            if (raw) LogReaderFactory.toRawRow(r, dataSchema, p.shard, pos)
            else avroDecode match {
              case Some(decode) => decode(if (r.isNullAt(0)) null else r.getBinary(0))
              case None => r
            }
          pos += 1
          true
        }
      }
      override def get(): InternalRow = current
      override def close(): Unit = {
        // fully drained to the range end with rows left behind it → park
        // for the NEXT trigger's [endRow, …) slice; otherwise close.
        if (!parkedAway && pos == p.endRow && it.hasNext) {
          parkedAway = true
          LogTailCache.park(p.file, p.fileLen, p.fileMtime, schemaKey, pos, it)
        } else if (!parkedAway) it.close()
      }
    }
  }
}

object LogReaderFactory {
  /** Encode a typed row as the raw-mode `__value__` JSON (reference
    * default-schema behavior, `LoghubSourceRDD.scala:155-166`).
    */
  def toRawRow(row: InternalRow, schema: StructType, shard: String, offset: Long): InternalRow = {
    val sb = new StringBuilder("{")
    var first = true
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) {
        if (!first) sb.append(",")
        first = false
        sb.append('"').append(f.name).append("\":")
        f.dataType match {
          case StringType =>
            val s = row.getUTF8String(i).toString
              .replace("\\", "\\\\").replace("\"", "\\\"")
              .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
            sb.append('"').append(s).append('"')
          case LongType => sb.append(row.getLong(i))
          case IntegerType => sb.append(row.getInt(i))
          case DoubleType => sb.append(row.getDouble(i))
          case FloatType => sb.append(row.getFloat(i))
          case BooleanType => sb.append(row.getBoolean(i))
          case TimestampType | TimestampNTZType => sb.append(row.getLong(i))
          case DateType => sb.append(row.getInt(i))
          case _ => sb.append("null")
        }
      }
    }
    sb.append("}")
    val out = new GenericInternalRow(3)
    out.update(0, UTF8String.fromString(shard))
    out.setLong(1, offset)
    out.update(2, UTF8String.fromString(sb.toString))
    out
  }
}
