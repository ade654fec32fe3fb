package graft.sources.kv

import java.util
import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{KvFilters, ParquetIO, SchemaCatalog}

/** `kv` DataSource V2 — the engine's wide-column KV table.
  *
  * Local-storage re-expression of the reference's Tablestore connector
  * scan/write surface (SURVEY.md §2 S1–S3, W1–W2):
  *  - schema from a JSON `catalog` option (`TableStoreCatalog.scala:34-48`)
  *    or inferred from footers (`supportsExternalMetadata`),
  *  - column pruning via `SupportsPushDownRequiredColumns`
  *    (`TableStoreRelation.scala:121-123`),
  *  - filter pushdown with the De-Morgan-normalized compiler and residual
  *    reporting (`TableStoreFilter.scala:33-147`,
  *    `TableStoreRelation.scala:364-405`) — pushed predicates skip row
  *    groups by stats AND filter records, but every filter is also
  *    returned as residual so Spark re-applies (the reference's
  *    `unhandledFilters` safety contract),
  *  - splits sized by `split.size.mb` / capped by `max.split.count`
  *    (`TableStoreRelation.scala:59-61`, `TableStoreInputFormat.java:155-220`),
  *  - batch append/overwrite writes (`TableStoreRelation.scala:146-179`),
  *  - streaming write with epoch-deterministic file names + commit markers
  *    — re-delivered micro-batches overwrite themselves, the reference's
  *    batchId-skip idempotence (`TableStoreSink.scala:30-42`).
  *
  * Options: `path` (file or directory), `catalog` (JSON), `primary.keys`
  * (comma list, validated on write), `split.size.mb` (default 128),
  * `max.split.count` (default 1000), `writer.mode` (bulk|batch),
  * `writer.batch.size` (rows per file-append flush),
  * `writer.row.change.type` (put; see [[KvWriterOptions]]).
  */
class KvSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kv"
  override def supportsExternalMetadata(): Boolean = true

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "kv source requires a 'path' option")
    p
  }

  /** Schema resolution: explicit `catalog` option > persisted
    * `_meta/schema.json` sidecar (recorded by every committed write) >
    * UNION of all file footers. The union matters for the wide-column
    * sparse-attribute model: a column present only in later part files
    * would be invisible to first-file inference; under the union it
    * reads as NULL where absent (the supported sparse read path).
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // A time-travel read ('snapshot.epoch') must compute its schema from
    // the snapshot's VISIBLE files only: the sidecar records the table's
    // CURRENT schema, so consulting it would expose (null-filled) columns
    // added by epochs after the snapshot — diverging from "the table as
    // of epoch N" that every other planning path honors.
    val snapshot = Option(options.get("snapshot.epoch")).map(_.toLong)
    Option(options.get("catalog")).map(SchemaCatalog.parse)
      .orElse(if (snapshot.isDefined) None else KvSchemaMeta.read(path(options)))
      .getOrElse {
        val files = ParquetIO.listFilesStatus(path(options), snapshot)
        require(files.nonEmpty, s"no parquet files under ${path(options)} and no catalog option")
        val union = files.map { case (f, len, mt) =>
          KvSource.toStructType(ParquetIO.footer(f, len, mt).schema)
        }.reduce(KvSchemaMeta.union)
        // The footer union sees every name ever written — including
        // bytes the evolution ledger dropped or renamed away. A CURRENT
        // read filters those out; a snapshot read keeps them (the table
        // as of epoch N carried its then-current names).
        if (snapshot.isDefined) union
        else {
          val reserved = KvEvolution.read(path(options)).reserved
          org.apache.spark.sql.types.StructType(
            union.fields.filterNot(f => reserved.contains(f.name.toLowerCase)))
        }
      }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KvTable(schema, new CaseInsensitiveStringMap(properties))
}

object KvSource {
  /** parquet MessageType → StructType (primitives, wide decimals, LISTs). */
  def toStructType(mt: MessageType): StructType = {
    import scala.jdk.CollectionConverters._
    def primitive(pt: org.apache.parquet.schema.PrimitiveType): org.apache.spark.sql.types.DataType =
      pt.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT64 =>
          pt.getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              if (ts.isAdjustedToUTC) TimestampType else TimestampNTZType
            case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              DecimalType(dec.getPrecision, dec.getScale)
            case _ => LongType
          }
        case PrimitiveTypeName.INT32 =>
          pt.getLogicalTypeAnnotation match {
            case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => DateType
            case _ => IntegerType
          }
        case PrimitiveTypeName.DOUBLE => DoubleType
        case PrimitiveTypeName.FLOAT => FloatType
        case PrimitiveTypeName.BOOLEAN => BooleanType
        case PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY =>
          pt.getLogicalTypeAnnotation match {
            case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              DecimalType(dec.getPrecision, dec.getScale)
            case _ => BinaryType
          }
        case PrimitiveTypeName.BINARY =>
          pt.getLogicalTypeAnnotation match {
            case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => StringType
            case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              DecimalType(dec.getPrecision, dec.getScale)
            case _ => BinaryType
          }
        case other => throw new IllegalArgumentException(s"unsupported parquet type $other")
      }
    // recursive: array-of-struct, struct-of-struct, map-of-struct … all
    // mirror the writer's (Spark's ParquetWriteSupport) recursion
    def dataType(f: org.apache.parquet.schema.Type): org.apache.spark.sql.types.DataType =
      if (f.isPrimitive) primitive(f.asPrimitiveType())
      else f.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
          // 3-level LIST: group (LIST) { repeated group list { element } }
          val el = f.asGroupType().getType(0).asGroupType().getType(0)
          ArrayType(dataType(el), containsNull = true)
        case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation =>
          // MAP: group (MAP) { repeated group key_value { key; value } }
          val kv = f.asGroupType().getType(0).asGroupType()
          MapType(dataType(kv.getType(0)), dataType(kv.getType(1)),
            valueContainsNull = true)
        case null =>
          StructType(f.asGroupType().getFields.asScala.map(sf =>
            StructField(sf.getName, dataType(sf), nullable = true)).toSeq)
        case other => throw new IllegalArgumentException(
          s"unsupported nested parquet type $other for ${f.getName}")
      }
    StructType(mt.getFields.asScala.map(f =>
      StructField(f.getName, dataType(f), nullable = true)).toSeq)
  }
}

object KvTable {
  /** Source `Filter` → `Column` for the DELETE path (None = refuse —
    * canDeleteWhere must be exact, a silently dropped conjunct would
    * delete MORE rows than asked).
    */
  def filterToColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }
}

class KvTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations with SupportsMetadataColumns {
  private val tablePath = options.get("path")

  /** `_file` metadata column (the lakehouse `input_file_name` for kv
    * tables): the data file path of each row, resolved per CHUNK in the
    * reader — the provenance/debugging/compaction-audit handle, and the
    * group identity a file-granular rewrite will key on. Only
    * materialized when referenced (the scan builder sees it in the
    * pruned schema); requesting it routes the scan to the row plane.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file path of the row"
    })

  // SQL UPDATE / MERGE INTO (and DELETEs whose predicate can't compile
  // to the metadata path): group-based copy-on-write rewrite at FILE
  // granularity — see KvRowLevelOperation for the runtime group
  // filtering handshake and the rlo transaction commit protocol.
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new KvRowLevelOperation(tablePath, tableSchema, info.command(),
      options.getInt("max.split.count", 1000),
      options.getLong("split.size.mb", 128L))

  // SQL `DELETE FROM kvcat.`<path>` WHERE ...` — Catalyst routes the
  // (fully translatable) predicate here; the rewrite is KvMerge's
  // crash-safe filtered swap, so SQL DML gets the same atomicity as the
  // programmatic surface. Untranslatable predicates are refused via
  // canDeleteWhere and Spark falls back to an analysis error rather
  // than a wrong partial delete.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => KvTable.filterToColumn(f).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val cond = filters.flatMap(KvTable.filterToColumn(_))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    graft.operators.KvMerge.deleteWhere(spark, tablePath, cond)
  }

  override def name(): String = s"kv:$tablePath"
  override def schema(): StructType = tableSchema
  override def properties(): util.Map[String, String] = options.asCaseSensitiveMap()
  override def capabilities(): util.Set[TableCapability] = {
    import TableCapability._
    util.EnumSet.of(BATCH_READ, BATCH_WRITE, TRUNCATE, STREAMING_WRITE)
  }

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new KvScanBuilder(tablePath, tableSchema,
      options.getInt("max.split.count", 1000),
      options.getLong("split.size.mb", 128L),
      options.getBoolean("vectorized.read", true),
      // time travel: `snapshot.epoch = N` reads the table as of streaming
      // epoch N (committed epoch files ≤ N plus all batch files)
      Option(options.get("snapshot.epoch")).map(_.toLong),
      // internal maintenance hook: restrict the scan to these file names
      Option(options.get("maintenance.files"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KvWriteBuilder(tablePath, info.schema(),
      Option(options.get("primary.keys"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      options.getBoolean("convert.types", false),
      KvWriterOptions(options))
}

/** Writer batching/ordering knobs — the local re-expression of the
  * reference's sink tuning surface (`TableStoreRelation.scala:67-105`):
  *  - `writer.mode`: `bulk` (default — the bulk-import path, one part
  *    file per task, unbounded buffering) or `batch` (the batch-write
  *    path: bounded buffering, a file-append flush every
  *    `writer.batch.size` rows, reference `writer.buffer.size` default
  *    1024). Both modes produce identical table contents — kv scans
  *    never promise row order, matching the reference's unordered
  *    bulk-import default (`writer.batch.order.guaranteed=false`).
  *  - `writer.batch.size`: rows per flush, overrides the mode default;
  *    bounds task memory regardless of partition size.
  *  - `writer.row.change.type`: only `put` is meaningful against an
  *    append-only file table; update/delete row ops are the merge
  *    surface (`graft.operators.KvMerge`, W7) and are rejected here.
  */
case class KvWriterOptions(mode: String, batchSize: Long)

object KvWriterOptions {
  def apply(options: CaseInsensitiveStringMap): KvWriterOptions = {
    val mode = options.getOrDefault("writer.mode", "bulk").toLowerCase
    require(mode == "bulk" || mode == "batch",
      s"writer.mode must be 'bulk' or 'batch', got '$mode'")
    val changeType = options.getOrDefault("writer.row.change.type", "put").toLowerCase
    require(changeType == "put",
      s"writer.row.change.type '$changeType' unsupported: the kv sink appends " +
        "PUT rows; use graft.operators.KvMerge for update/delete row-op merges")
    val explicit = Option(options.get("writer.batch.size")).map(_.toLong)
    explicit.foreach(n => require(n > 0, s"writer.batch.size must be positive, got $n"))
    KvWriterOptions(mode, explicit.getOrElse(if (mode == "batch") 1024L else 0L))
  }
}

/** Opt-in sink type conversion (`convert.types=true`) — the reference's
  * Loghub producer discipline (`emr-logservice/.../Utils.scala:53-99`):
  * decimal → double, timestamp/date → epoch milliseconds, primitives
  * unchanged. Without the option, non-natively-writable types are
  * rejected (the stricter default).
  */
object KvSinkConverter {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  def convertSchema(s: StructType): StructType = StructType(s.map { f =>
    f.dataType match {
      case _: DecimalType => f.copy(dataType = DoubleType)
      case TimestampType | TimestampNTZType => f.copy(dataType = LongType)
      case DateType => f.copy(dataType = LongType)
      case _ => f
    }
  })

  /** Row converter original-schema → converted-schema, or None if the
    * schema needs no conversion.
    */
  def rowConverter(s: StructType): Option[InternalRow => InternalRow] = {
    if (s == convertSchema(s)) None
    else Some { row =>
      val out = new GenericInternalRow(s.length)
      var i = 0
      while (i < s.length) {
        if (row.isNullAt(i)) out.setNullAt(i)
        else s(i).dataType match {
          case d: DecimalType =>
            out.setDouble(i, row.getDecimal(i, d.precision, d.scale).toDouble)
          case TimestampType | TimestampNTZType =>
            out.setLong(i, Math.floorDiv(row.getLong(i), 1000L)) // micros → epoch ms
          case DateType =>
            out.setLong(i, row.getInt(i).toLong * 86400000L) // days → UTC midnight ms
          case LongType => out.setLong(i, row.getLong(i))
          case IntegerType => out.setInt(i, row.getInt(i))
          case DoubleType => out.setDouble(i, row.getDouble(i))
          case FloatType => out.setFloat(i, row.getFloat(i))
          case BooleanType => out.setBoolean(i, row.getBoolean(i))
          case StringType => out.update(i, row.getUTF8String(i))
          case BinaryType => out.update(i, row.getBinary(i))
          case other => throw new IllegalArgumentException(s"unsupported sink type $other")
        }
        i += 1
      }
      out
    }
  }
}

class KvScanBuilder(path: String, schema: StructType, maxSplitCount: Int, splitSizeMb: Long,
    vectorized: Boolean = true, snapshotEpoch: Option[Long] = None,
    fileAllowlist: Option[Set[String]] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = schema
  private var accepted: Array[Filter] = Array.empty
  private var predicate: Option[FilterPredicate] = None
  private var satisfied: Array[Filter] = Array.empty
  private var sawFilters = false
  private var aggCompiled: Option[KvAggregates.Compiled] = None
  private var withFilePath = false

  // Complete-only aggregate pushdown from cached footers (KvAggregates):
  // refused under ANY filter or grouping — correctness over coverage.
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    !sawFilters && snapshotEpoch.isEmpty && fileAllowlist.isEmpty &&
      KvAggregates.compile(path, schema, agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // footer aggregates fold EVERY visible file — refused under a
    // snapshot (they would read epochs the snapshot hides) and under a
    // maintenance allowlist (they would read files the scan hides)
    if (sawFilters || snapshotEpoch.isDefined || fileAllowlist.isDefined) return false
    KvAggregates.compile(path, schema, agg) match {
      case some @ Some(_) => aggCompiled = some; true
      case None => false // no partial pushdown: footer stats are all-or-nothing
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (filters.nonEmpty) sawFilters = true
    ParquetIO.commonSchema(ParquetIO.listFilesStatus(path, snapshotEpoch)).foreach { common =>
      val (pred, acc) = KvFilters.compileAll(filters.toSeq, common)
      predicate = pred
      accepted = acc.toArray
      // Search-index mode (reference TableStoreRelation.scala:364-438):
      // with an index, eligible filters are SATISFIED by the source (the
      // compiled record-level predicate is exact) and only the true
      // residuals are negotiated back — Spark plans no re-filter for the
      // satisfied set.
      val indexed = KvIndex.indexedColumns(path)
      if (indexed.nonEmpty) {
        satisfied = filters.filter { f =>
          KvIndex.satisfies(f, indexed) && KvFilters.compile(f, common).isDefined
        }
      }
    }
    // everything the index does not satisfy stays residual (the
    // reference's unhandledFilters safety net)
    filters.filterNot(satisfied.contains)
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep table column order for the requested subset; the `_file`
    // metadata column is a reader-side constant, not a stored field
    val names = requiredSchema.fieldNames.toSet
    withFilePath = names.contains("_file") && !schema.fieldNames.contains("_file")
    required = StructType(schema.fields.filter(f => names.contains(f.name)))
  }

  override def build(): Scan = aggCompiled match {
    case Some(c) => new KvAggScan(path, c)
    case None =>
      // Index-satisfied filters are exact in-reader semantics (Spark
      // plans no re-filter) — only the row path record-filters, so the
      // columnar plane is off whenever any filter was satisfied.
      new KvScan(path, required, schema, predicate, accepted, maxSplitCount, splitSizeMb,
        vectorized && satisfied.isEmpty, snapshotEpoch, withFilePath,
        fileAllowlist)
  }
}

case class KvChunk(file: String, startByte: Long, endByte: Long, rows: Long)

/** One task's work: a list of row-group ranges, possibly spanning files —
  * so capping split count can merge neighbors across file boundaries
  * (a many-small-files table must stay readable under any cap).
  */
class KvInputPartition(val chunks: Seq[KvChunk]) extends InputPartition

object KvInputPartition {
  def apply(chunks: Seq[KvChunk]): KvInputPartition = new KvInputPartition(chunks)
}

/** A bucketized table's partition: all chunks of ONE bucket, keyed for
  * Spark's storage-partitioned join ([[KvBuckets]]). Emitted for every
  * bucket 0..n-1 — possibly with zero chunks after pruning — so the
  * reported `KeyGroupedPartitioning` is stable under runtime filters.
  */
class KvBucketedInputPartition(chunks: Seq[KvChunk], val bucket: Int)
    extends KvInputPartition(chunks)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

class KvScan(path: String, requiredSchema: StructType, tableSchema: StructType,
    predicate: Option[FilterPredicate],
    accepted: Array[Filter], maxSplitCount: Int, splitSizeMb: Long,
    vectorized: Boolean = true, snapshotEpoch: Option[Long] = None,
    withFilePath: Boolean = false,
    fileAllowlist: Option[Set[String]] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** The snapshot-visible file listing — every planning decision in this
    * scan goes through it so a `snapshot.epoch` read can never touch a
    * later epoch's bytes.
    */
  private def visibleFiles(): Seq[(Path, Long, Long)] =
    ParquetIO.listFilesStatus(path, snapshotEpoch)
      // `maintenance.files` allowlist: incremental sidecar builds scan
      // ONLY their delta through the normal read plane (same coercions,
      // same record filters) — planning never touches other files
      .filter { case (f, _, _) => fileAllowlist.forall(_.contains(f.getName)) }

  /** Bucket layout claim ([[KvBuckets]]): valid meta AND every bucket
    * column still in the projected schema (Catalyst resolves the
    * reported transform's refs against the relation output — a pruned
    * bucket column would fail resolution) AND every bucket column's
    * CURRENT type equal to the type recorded at bucketize time.
    * Murmur3 is type-sensitive (`hash(5: INT) != hash(5L)`), so after
    * `ALTER COLUMN ... TYPE BIGINT` widens a bucket column the files
    * sit at int-hash positions while the v2 bucket function would
    * re-bind at long — claiming the layout then would silently
    * mis-route the other join side. Withdrawing the claim only costs
    * the shuffle elision.
    */
  private lazy val bucketMeta: Option[KvBuckets.BucketMeta] =
    KvBuckets.bucketsFor(path).filter { m =>
      m.cols.forall(requiredSchema.fieldNames.contains) &&
        m.cols.zip(m.colTypes).forall { case (c, t) =>
          requiredSchema(requiredSchema.fieldIndex(c)).dataType == t
        }
    }

  /** `KeyGroupedPartitioning(bucket(n, cols), n)` for a bucketized table
    * — Spark's storage-partitioned join plans the table WITHOUT an
    * Exchange (co-bucketed side) or shuffles only the other side to this
    * layout (`v2.bucketing.shuffle.enabled` + [[KvBucketFunction]]).
    * Unbucketed tables report the trivial unknown partitioning.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketMeta match {
      case Some(m) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
            m.numBuckets, m.cols: _*)),
          m.numBuckets)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Per-partition sort order of a clustered table (KvClustering meta,
    * valid only while the live file set matches the clustered rewrite).
    * Claimed only when every planned partition reads ONE file's
    * contiguous row groups in byte order — exactly the shape
    * `KvMerge.rewrite(clusterBy)` produced, where each file is sorted.
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val cols = KvClustering.orderingFor(path)
    if (cols.isEmpty || !cols.forall(requiredSchema.fieldNames.contains)) return Array.empty
    val singleFileOrdered = planInputPartitions().forall { p =>
      val chunks = p.asInstanceOf[KvInputPartition].chunks
      chunks.map(_.file).distinct.length == 1 &&
        chunks.sliding(2).forall {
          case Seq(a, b) => a.endByte <= b.startByte
          case _ => true
        }
    }
    if (!singleFileOrdered) Array.empty
    else cols.map(c => org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
  }

  // the `_file` metadata column rides AFTER the data columns — a
  // reader-side per-chunk constant, never a stored field
  override def readSchema(): StructType =
    if (withFilePath)
      StructType(requiredSchema.fields :+
        StructField("_file", StringType, nullable = false))
    else requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"kv path=$path, PushedFilters: [${accepted.mkString(", ")}], " +
      s"ReadSchema: ${readSchema().simpleString}"

  /** Post-pruning size/row estimate from the cached footers. Without it a
    * DSv2 relation defaults to `defaultSizeInBytes` (effectively ∞), so a
    * 25-row dimension table never auto-broadcasts and every star join
    * becomes a shuffle — the single worst plan defect at cluster scale.
    * Bytes are parquet's uncompressed column sizes over the row groups
    * that survive zone-map pruning, scaled by the projected-column
    * fraction so column pruning shrinks the estimate too.
    */
  override def estimateStatistics(): Statistics = {
    var bytes = 0L
    var rows = 0L
    prunedGroups().foreach { case (_, g) => bytes += g.totalByteSize; rows += g.rowCount }
    val frac =
      if (tableSchema.isEmpty) 1.0
      else math.max(requiredSchema.size, 1).toDouble / tableSchema.size
    val estBytes = math.max((bytes * frac).toLong, 1L)
    new Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(estBytes)
      override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
    }
  }

  // ---- runtime (DPP-style) filtering -------------------------------
  // Spark pushes the build side's join keys into the scan at execution
  // time (`SupportsRuntimeFiltering`); whole FILES are pruned by footer
  // min/max before any task is scheduled, row groups by the zone map,
  // and the compiled predicate joins the parquet-level skip. Purely an
  // optimization — the join itself still filters — so stats-only
  // evaluation is always safe.
  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  @volatile private var runtimePredicate: Option[FilterPredicate] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    requiredSchema.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters
    runtimePredicate = ParquetIO.commonSchema(visibleFiles())
      .flatMap(c => graft.sources.KvFilters.compileAll(filters.toSeq, c)._1)
  }

  /** Row groups that survive zone-map + runtime-filter pruning, per file
    * (cached footers — shared by planning and statistics).
    *
    * MEMOIZED per filter state: Spark consults a scan 2–3 times per plan
    * (`estimateStatistics`, `planInputPartitions`, `outputOrdering`),
    * so the pruning pass — including the sidecar reads — runs once per
    * plan, not once per consultation. The memo keys on the filter
    * conjunction because a runtime (DPP) filter can arrive between
    * consultations.
    */
  private def prunedGroups(): Seq[(Path, ParquetIO.RowGroupInfo)] = {
    val key: Seq[Filter] = (accepted ++ runtimeFilters).toSeq
    prunedMemo match {
      case Some((k, v)) if k == key => v
      case _ =>
        val v = prunedGroupsUncached(key)
        prunedMemo = Some((key, v))
        v
    }
  }
  @volatile private var prunedMemo
      : Option[(Seq[Filter], Seq[(Path, ParquetIO.RowGroupInfo)])] = None

  private def prunedGroupsUncached(allFilters: Seq[Filter])
      : Seq[(Path, ParquetIO.RowGroupInfo)] = {
    // Planning-time zone-map pruning (search-index mode): drop row groups
    // that cannot match the pushed conjunction BEFORE tasks are scheduled
    // — parquet's own stats skipping only saves work after a task starts.
    // Files/groups the index doesn't cover are never pruned. Sidecars are
    // sharded + signature-cached (KvSidecar): each handle below costs one
    // listStatus; per-file probes are cache lookups, and stale entries
    // (reused file name, new bytes) read as uncovered.
    val zoneReader = if (allFilters.isEmpty) None else KvIndex.reader(path)
    // Bloom sidecar (KvBloom): whole-file pruning for point lookups on
    // UNCLUSTERED columns, where min/max zones span everything. Same
    // safety contract: files without an entry are never pruned.
    val bloomReader = if (allFilters.isEmpty) None else KvBloom.reader(path)
    def fileMayMatch(f: Path, len: Long, mtime: Long): Boolean =
      (runtimeFilters.isEmpty || {
        val zones = KvIndex.zonesFromStats(ParquetIO.footer(f, len, mtime).stats)
        runtimeFilters.forall(rf => KvIndex.mayMatch(rf, zones))
      }) && (bloomReader.flatMap(_.bloomsFor(f.getName, len, mtime)) match {
        case Some(blooms) => allFilters.forall(fl => KvBloom.mayMatch(fl, blooms))
        case None => true
      })
    visibleFiles()
      .filter { case (f, len, mtime) => fileMayMatch(f, len, mtime) }
      .flatMap { case (f, len, mtime) =>
        val fileZones = zoneReader.flatMap(_.zonesFor(f.getName, len, mtime))
        ParquetIO.footer(f, len, mtime).groups
          .filter(g => fileZones.flatMap(_.get(g.startByte)) match {
            case Some(zones) => allFilters.forall(fl => KvIndex.mayMatch(fl, zones))
            case None => true
          })
          .map(g => (f, g))
      }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // Bucketized layout: ONE keyed partition per bucket (all of the
    // bucket's chunks — possibly none after pruning — so the reported
    // KeyGroupedPartitioning stays stable under runtime filters).
    bucketMeta.foreach { m =>
      val byFile = prunedGroups().groupBy(_._1).view.mapValues(_.map(_._2))
      val chunksByBucket = visibleFiles().flatMap { case (f, _, _) =>
        val groups = byFile.getOrElse(f, Seq.empty)
        m.fileBuckets.get(f.getName).filter(_ => groups.nonEmpty).map { b =>
          // contiguity break on pruned gaps, as in the unbucketed path
          val splits = scala.collection.mutable.ArrayBuffer.empty[KvChunk]
          var start = groups.head.startByte
          var rows = 0L
          var lastEnd = start
          groups.foreach { g =>
            if (rows > 0 && g.startByte != lastEnd) {
              splits += KvChunk(f.toString, start, lastEnd, rows)
              start = g.startByte; rows = 0L
            }
            rows += g.rowCount
            lastEnd = g.endByte
          }
          splits += KvChunk(f.toString, start, lastEnd, rows)
          b -> splits.toSeq
        }
      }.groupBy(_._1).view.mapValues(_.flatMap(_._2).toSeq).toMap
      return (0 until m.numBuckets).map(b =>
        new KvBucketedInputPartition(chunksByBucket.getOrElse(b, Nil), b)
          : InputPartition).toArray
    }
    val targetBytes = splitSizeMb * 1024L * 1024L
    val byFile = prunedGroups().groupBy(_._1).view.mapValues(_.map(_._2))
    val all = visibleFiles().flatMap { case (f, _, _) =>
      val groups = byFile.getOrElse(f, Seq.empty)
      if (groups.isEmpty) Nil
      else {
        // pack contiguous row groups into ~targetBytes chunks
        val splits = scala.collection.mutable.ArrayBuffer.empty[KvChunk]
        var start = groups.head.startByte
        var bytes = 0L
        var rows = 0L
        var lastEnd = start
        groups.foreach { g =>
          // break on size AND on discontinuity — a byte range bridging a
          // zone-pruned group would read it back in
          if (bytes > 0 && (bytes + g.totalByteSize > targetBytes || g.startByte != lastEnd)) {
            splits += KvChunk(f.toString, start, lastEnd, rows)
            start = g.startByte; bytes = 0L; rows = 0L
          }
          bytes += g.totalByteSize; rows += g.rowCount
          lastEnd = g.endByte
        }
        splits += KvChunk(f.toString, start, lastEnd, rows)
        splits.toSeq
      }
    }
    // cap split count by packing neighbor chunks into one partition —
    // legal across file boundaries because a partition carries a chunk
    // list; a 10⁶-file table still plans under any cap
    val capped =
      if (all.length <= maxSplitCount) all.map(c => KvInputPartition(Seq(c)))
      else all.grouped(math.ceil(all.length.toDouble / maxSplitCount).toInt)
        .map(g => KvInputPartition(g)).toSeq
    capped.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // A pushed record filter evaluates against the PROJECTED record: a
    // filter column pruned from the projection would read as null and
    // silently drop every row. Read the union of required + filter
    // columns, emit only the required ones.
    val filterCols = accepted.flatMap(_.references).toSet
    val missing = tableSchema.fields
      .filter(f => filterCols.contains(f.name) && !requiredSchema.fieldNames.contains(f.name))
    val wide = StructType(requiredSchema.fields ++ missing)
    val keep = if (missing.isEmpty) None
      else Some(requiredSchema.fieldNames.map(wide.fieldNames.indexOf(_)))
    // runtime filters join the parquet-level skip (group stats on both
    // paths, record level on the row path — they are advisory, so the
    // columnar plane's stats-only application is safe)
    val fullPredicate = (predicate, runtimePredicate) match {
      case (Some(a), Some(b)) =>
        Some(org.apache.parquet.filter2.predicate.FilterApi.and(a, b))
      case (a, b) => a.orElse(b)
    }
    // Column-mapping (KvEvolution): renamed columns read through their
    // physical alias on pre-rename files — only the row reader resolves
    // aliases, so the columnar plane is off for scans touching them
    // (its absent-column constant-null vectors would null the history).
    val aliases = KvEvolution.read(path).renames
      .filter { case (l, _) => wide.fieldNames.contains(l) }
    // Columnar data plane when every requested column is stored natively
    // (KvVectorized Scaladoc); the widening/nanos coercion cases and
    // filter-column widening stay on the row reader.
    val columnar = vectorized && missing.isEmpty && !withFilePath &&
      aliases.isEmpty && KvVectorized.scanEligible(path, requiredSchema)
    new KvReaderFactory(wide, keep, fullPredicate, columnar, withFilePath,
      aliases)
  }
}

class KvReaderFactory(schema: StructType, keepIdx: Option[Array[Int]],
    predicate: Option[FilterPredicate],
    columnar: Boolean = false, appendFilePath: Boolean = false,
    aliases: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    // columnar only when keepIdx is None, so `schema` IS the read schema
    KvVectorized.reader(partition.asInstanceOf[KvInputPartition].chunks, schema, predicate)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val chunks = partition.asInstanceOf[KvInputPartition].chunks.iterator
    new PartitionReader[InternalRow] {
      // one chunk open at a time — constant memory regardless of how many
      // chunks the cap packed into this partition
      private var it: Iterator[InternalRow] with AutoCloseable = _
      private var current: InternalRow = _
      // `_file` rides as a per-chunk constant joined to each data row
      // (the reader knows which chunk it is draining — multi-file
      // partitions stay legal); one reused row pair per chunk
      private var fileJoin: org.apache.spark.sql.catalyst.expressions.JoinedRow = _
      private def advance(): Boolean = {
        while ((it == null || !it.hasNext) && chunks.hasNext) {
          if (it != null) it.close()
          val c = chunks.next()
          if (appendFilePath) {
            fileJoin = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
            fileJoin.withRight(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(c.file))))
          }
          it = ParquetIO.readFile(new Path(c.file), schema,
            range = Some((c.startByte, c.endByte)), filter = predicate,
            aliases = aliases)
        }
        it != null && it.hasNext
      }
      override def next(): Boolean = {
        if (advance()) {
          val row = it.next()
          current = keepIdx match {
            case None => row
            case Some(idx) => // project filter-only columns back out
              val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(idx.length)
              var i = 0
              while (i < idx.length) {
                out.update(i, row.get(idx(i), schema(idx(i)).dataType))
                i += 1
              }
              out
          }
          if (appendFilePath) current = fileJoin.withLeft(current)
          true
        } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = if (it != null) it.close()
    }
  }
}

// ---------------------------------------------------------------------
// Write path
// ---------------------------------------------------------------------

class KvWriteBuilder(path: String, inputSchema: StructType, primaryKeys: Seq[String],
    convertTypes: Boolean = false,
    wopts: KvWriterOptions = KvWriterOptions("bulk", 0L))
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    // W1 discipline: primary-key columns must be present in the written schema.
    primaryKeys.foreach { pk =>
      require(inputSchema.fieldNames.contains(pk),
        s"primary key column $pk missing from write schema ${inputSchema.simpleString}")
    }
    private val conv = if (convertTypes) KvSinkConverter.rowConverter(inputSchema) else None
    private val schema = if (convertTypes) KvSinkConverter.convertSchema(inputSchema) else inputSchema
    override def toBatch: BatchWrite = new KvBatchWrite(path, schema, truncateFirst, conv, wopts)
    override def toStreaming: StreamingWrite =
      new KvStreamingWrite(path, schema, truncatePerEpoch = truncateFirst, conv, wopts)
  }
}

/** One task's files; `bloom`: the entries its writer hashed for them
  * into a live bloom sidecar, with the conf it hashed with.
  */
case class KvCommitMessage(files: Seq[String],
    bloom: Option[(KvBloom.Conf, Seq[KvSidecar.Entry])] = None) extends WriterCommitMessage

object KvCommitMessage {
  /** The job or epoch commit's sidecar upkeep: the committed files join a
    * live zone map (footer-only) and a live bloom sidecar (the tasks'
    * entries), so `append` finds them covered and lookups prune them
    * right away. One listing of the table serves both sidecars, and no
    * Spark job runs here; a failed publish fails the commit, and Spark's
    * abort then deletes the files.
    */
  def publishSidecars(path: String, schema: StructType,
      messages: Array[WriterCommitMessage]): Unit = {
    val written = messages.collect { case m: KvCommitMessage => m }
    lazy val live = ParquetIO.listFilesStatus(path)
    KvIndex.coverWritten(path, written.flatMap(_.files).map(new Path(_).getName).toSet, live)
    val hashed = written.flatMap(_.bloom)
    hashed.map(_._1).distinct match {
      case Array(conf) => KvBloom.coverWritten(path, schema, conf, hashed.flatMap(_._2).toSeq, live)
      case _ => ()
    }
  }
}

class KvBatchWrite(path: String, schema: StructType, truncateFirst: Boolean,
    conv: Option[InternalRow => InternalRow] = None,
    wopts: KvWriterOptions = KvWriterOptions("bulk", 0L))
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (truncateFirst) ParquetIO.deletePath(path)
    new org.apache.hadoop.fs.Path(path).getFileSystem(ParquetIO.hadoopConf).mkdirs(new Path(path))
    // read after the truncate, whose delete takes `_index` with the data
    new KvWriterFactory(path, schema, conv, wopts.batchSize, KvBloom.writerConf(path, schema))
  }
  // record the persisted-schema sidecar (union with prior writes) so
  // catalog-less readers see every attribute ever written
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    KvSchemaMeta.record(path, schema)
    KvCommitMessage.publishSidecars(path, schema, messages)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: KvCommitMessage => m.files.foreach(ParquetIO.deletePath) }
}

class KvWriterFactory(path: String, schema: StructType,
    conv: Option[InternalRow => InternalRow] = None,
    batchSize: Long = 0L, bloom: Option[KvBloom.Conf] = None) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(
      seq => s"$path/part-%05d-%d%s.parquet".format(partitionId, taskId,
        if (seq == 0) "" else s"-s$seq"),
      schema, conv, batchSize, bloom)
}

/** Writes one task's rows. `batchSize` > 0 bounds buffering: every
  * `batchSize` rows the current part file is closed (a file-append
  * flush) and a `-sN`-suffixed successor opened — task memory stays
  * bounded however large the partition. 0 = unbounded (bulk-import
  * path, one file per task). With `bloom` (a live sidecar's conf) every
  * written row is hashed too, and each closed file's entry rides in the
  * commit message.
  */
class KvDataWriter(fileForSeq: Int => String, schema: StructType,
    conv: Option[InternalRow => InternalRow] = None,
    batchSize: Long = 0L, bloom: Option[KvBloom.Conf] = None) extends DataWriter[InternalRow] {
  private val files = scala.collection.mutable.ArrayBuffer(fileForSeq(0))
  private var writer = ParquetIO.openWriter(new Path(files.head), schema)
  private var rowsInFile = 0L
  private val hasher = bloom.map(new KvBloom.FileHasher(_, schema))
  private val entries = scala.collection.mutable.ArrayBuffer.empty[KvSidecar.Entry]
  private def closeFile(): Unit = {
    writer.close()
    hasher.foreach(h => entries += h.close(new Path(files.last)))
  }
  override def write(record: InternalRow): Unit = {
    if (batchSize > 0 && rowsInFile >= batchSize) {
      closeFile()
      val next = fileForSeq(files.length)
      files += next
      writer = ParquetIO.openWriter(new Path(next), schema)
      rowsInFile = 0L
    }
    val row = conv.map(_(record)).getOrElse(record)
    writer.write(row)
    hasher.foreach(_.add(row))
    rowsInFile += 1L
  }
  override def commit(): WriterCommitMessage = {
    closeFile()
    KvCommitMessage(files.toSeq, bloom.map(_ -> entries.toSeq))
  }
  override def abort(): Unit = { writer.close(); files.foreach(ParquetIO.deletePath) }
  override def close(): Unit = ()
}

/** Streaming write with the reference's batchId-skip idempotence
  * (`TableStoreSink.scala:30-42`): part files are named by (epoch,
  * partition) and written in OVERWRITE mode, so a replayed micro-batch
  * rewrites identical files instead of duplicating; the commit marker
  * makes replays observable.
  */
class KvStreamingWrite(path: String, schema: StructType,
    truncatePerEpoch: Boolean = false,
    conv: Option[InternalRow => InternalRow] = None,
    wopts: KvWriterOptions = KvWriterOptions("bulk", 0L)) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    KvStreamingWriterFactory(path, schema, conv, wopts.batchSize, KvBloom.writerConf(path, schema))
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    KvSchemaMeta.record(path, schema)
    val markers = new Path(path, "_commits")
    val fs = markers.getFileSystem(ParquetIO.hadoopConf)
    fs.mkdirs(markers)
    val marker = new Path(markers, epochId.toString)
    if (!fs.exists(marker)) fs.create(marker).close() // replay ⇒ marker exists ⇒ skip
    // Complete output mode: each epoch carries the full result — retire
    // every other epoch's files so the table reads as the latest image
    // (idempotent across replays: re-truncating is a no-op).
    if (truncatePerEpoch) {
      ParquetIO.listFiles(path)
        .filter { f =>
          f.getName.startsWith("epoch-") && !f.getName.startsWith(s"epoch-$epochId-")
        }
        .foreach(f => fs.delete(f, false))
    }
    // after the marker: only from here does the listing show the epoch's files
    KvCommitMessage.publishSidecars(path, schema, messages)
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: KvCommitMessage => m.files.foreach(ParquetIO.deletePath) }
}

case class KvStreamingWriterFactory(path: String, schema: StructType,
    conv: Option[InternalRow => InternalRow] = None,
    batchSize: Long = 0L, bloom: Option[KvBloom.Conf] = None)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] = {
    new Path(path).getFileSystem(ParquetIO.hadoopConf).mkdirs(new Path(path))
    // (epoch, partition, seq)-deterministic names keep the batchId-skip
    // replay idempotent: a replayed epoch rewrites the same file set
    new KvDataWriter(
      seq => s"$path/epoch-%d-part-%05d%s.parquet".format(epochId, partitionId,
        if (seq == 0) "" else s"-s$seq"),
      schema, conv, batchSize, bloom)
  }
}
