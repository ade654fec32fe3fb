package graft.sources.cdc

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.functions.CdcFunctions
import graft.sources.{ParquetIO, SchemaCatalog}
import graft.sources.kv.{KvSchemaMeta, KvSource}

/** `cdc` DataSource V2 — change-data-capture stream over a local
  * changelog directory (SURVEY.md §2 T1/T2).
  *
  * The reference's Tablestore tunnel source emits user columns plus meta
  * columns `__ots_record_type__`, `__ots_record_timestamp__` and
  * `__ots_column_type_<col>` (`TableStoreSource.scala:214-229`,
  * `TableStoreSourceRDD.scala:81-228`); its offsets are service-side
  * UUIDs resolved through a meta-checkpoint table. Here the changelog is
  * a directory of sequentially-numbered parquet files (one per committed
  * change batch); the stream offset is simply the count of files
  * consumed — Spark's own offset log is the source of truth, which
  * reproduces the *semantics* (resumable, idempotent commit, retired
  * channels) without the UUID indirection (SURVEY.md §7 watch-list).
  *
  * `maxFilesPerTrigger` bounds each micro-batch (admission control).
  */
class CdcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cdc"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = Option(options.get("catalog")).map(SchemaCatalog.parse).getOrElse {
      val files = ParquetIO.listFiles(options.get("path"))
      require(files.nonEmpty, s"no changelog files under ${options.get("path")}")
      KvSource.toStructType(ParquetIO.footer(files.head).schema)
    }
    // total-order change sequence, synthesized by the reader when the
    // changelog file doesn't carry it
    if (base.fieldNames.contains(CdcFunctions.RecordSeqCol)) base
    else base.add(StructField(CdcFunctions.RecordSeqCol, LongType, nullable = true))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcTable(schema, new CaseInsensitiveStringMap(properties))
}

case class CdcOffsetV(filesConsumed: Long) extends Offset {
  override def json(): String = filesConsumed.toString
}

class CdcTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val path = options.get("path")

  override def name(): String = s"cdc:$path"
  override def schema(): StructType = tableSchema
  override def properties(): util.Map[String, String] = options.asCaseSensitiveMap()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new CdcScan(path, tableSchema, options)
    }
}

/** One row-group range of one changelog file. `startRow` is the row
  * offset of the range within the file, so the synthesized change
  * sequence is split-invariant: (fileSeq << 32) | (startRow + i).
  */
case class CdcInputPartition(file: String, fileSeq: Long,
    startByte: Long, endByte: Long, startRow: Long) extends InputPartition

object CdcInputPartition {
  /** Split one changelog file into ~targetBytes row-group ranges — the
    * same packing as KvScan.planInputPartitions, so apply parallelism is
    * not capped at changelog file count (large backfill batches split).
    */
  def planFile(file: Path, fileSeq: Long, targetBytes: Long): Seq[CdcInputPartition] = {
    val groups = ParquetIO.footer(file).groups
    if (groups.isEmpty) Nil
    else {
      val splits = scala.collection.mutable.ArrayBuffer.empty[CdcInputPartition]
      var start = groups.head.startByte
      var bytes = 0L
      var startRow = 0L
      var rows = 0L
      var lastEnd = start
      groups.foreach { g =>
        if (bytes > 0 && bytes + g.totalByteSize > targetBytes) {
          splits += CdcInputPartition(file.toString, fileSeq, start, lastEnd, startRow)
          start = g.startByte; bytes = 0L; startRow += rows; rows = 0L
        }
        bytes += g.totalByteSize; rows += g.rowCount
        lastEnd = g.endByte
      }
      splits += CdcInputPartition(file.toString, fileSeq, start, lastEnd, startRow)
      splits.toSeq
    }
  }
}

object CdcScan {
  def targetBytes(options: CaseInsensitiveStringMap): Long =
    options.getLong("split.size.mb", 128L) * 1024L * 1024L
}

class CdcScan(path: String, schema: StructType, options: CaseInsensitiveStringMap)
    extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String = s"cdc path=$path"

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      ParquetIO.listFiles(path).zipWithIndex.flatMap { case (f, i) =>
        CdcInputPartition.planFile(f, i.toLong, CdcScan.targetBytes(options))
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new CdcReaderFactory(schema)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(path, schema, options)
}

class CdcMicroBatchStream(path: String, schema: StructType,
    options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // Trigger.AvailableNow boundary: changelog files present at query start
  private var fixedFiles: Option[Seq[Path]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    fixedFiles = Some(ParquetIO.listFiles(path))

  private def files: Seq[Path] = fixedFiles.getOrElse(ParquetIO.listFiles(path))

  override def reportLatestOffset(): Offset = CdcOffsetV(files.length.toLong)

  override def getDefaultReadLimit: ReadLimit =
    Option(options.get("maxFilesPerTrigger"))
      .map(n => ReadLimit.maxFiles(n.toInt)).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = CdcOffsetV(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val consumed = start.asInstanceOf[CdcOffsetV].filesConsumed
    val total = files.length.toLong
    val budget = limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        mf.maxFiles().toLong
      case _ => Long.MaxValue
    }
    CdcOffsetV(math.min(total, consumed + budget))
  }

  override def deserializeOffset(json: String): Offset = CdcOffsetV(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CdcOffsetV].filesConsumed.toInt
    val e = end.asInstanceOf[CdcOffsetV].filesConsumed.toInt
    // fileSeq is the position in the full sorted listing — stable across
    // micro-batches because the changelog is append-only with
    // monotonically numbered names (Cdc.appendBatch)
    files.zipWithIndex.slice(s, e).flatMap { case (f, i) =>
      CdcInputPartition.planFile(f, i.toLong, CdcScan.targetBytes(options))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new CdcReaderFactory(schema)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class CdcReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcInputPartition]
    val it = ParquetIO.readFile(new Path(p.file), schema,
      range = Some((p.startByte, p.endByte)))
    val seqIdx = schema.fieldNames.indexOf(CdcFunctions.RecordSeqCol)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      private var rowInFile = p.startRow
      override def next(): Boolean =
        if (it.hasNext) {
          current = it.next()
          // synthesize the change sequence unless the file carries one
          if (seqIdx >= 0 && current.isNullAt(seqIdx)) {
            current.setLong(seqIdx, (p.fileSeq << 32) | rowInFile)
          }
          rowInFile += 1
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = it.close()
    }
  }
}

/** Schema augmentation + changelog authoring + apply — the UDF/MERGE side
  * of the CDC story (reference U1 `ResolveTableStoreBinlogUDF.scala` and
  * the Delta MERGE example `DeltaTableStoreCDC.scala:108-165`).
  */
object Cdc {
  import CdcFunctions._

  /** Total-order tiebreak for equal-timestamp changes to one key: the
    * source-synthesized change sequence when present (frames read through
    * the cdc source always have it), else a deterministic content hash —
    * arbitrary but stable across runs and retries.
    */
  private[cdc] def changeOrderTiebreak(changes: DataFrame): org.apache.spark.sql.Column =
    if (changes.columns.contains(RecordSeqCol)) col(RecordSeqCol)
    else xxhash64(changes.columns.map(col): _*)

  /** User schema + meta columns, mirroring `TableStoreSource.scala:215-228`. */
  def augmentSchema(user: StructType, pks: Seq[String]): StructType = {
    val attrs = user.fields.filterNot(f => pks.contains(f.name))
    StructType(
      Seq(StructField(RecordTypeCol, StringType, nullable = false),
        StructField(RecordTimestampCol, LongType, nullable = false)) ++
        user.fields ++
        attrs.map(a => StructField(columnTypeCol(a.name), StringType, nullable = true)))
  }

  /** Append one change batch to the changelog as the next numbered file.
    * Single-writer discipline (the reference's tunnel commit is also a
    * single logical committer per channel).
    */
  def appendBatch(changes: DataFrame, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(ParquetIO.hadoopConf)
    fs.mkdirs(new Path(dir))
    val n = ParquetIO.listFiles(dir).length
    val tmp = new Path(dir, s".tmp-${java.util.UUID.randomUUID()}")
    changes.coalesce(1).write.format("kv").option("path", tmp.toString)
      .mode("append").save()
    val part = ParquetIO.listFiles(tmp.toString).head
    fs.rename(part, new Path(dir, f"chg-$n%06d.parquet"))
    fs.delete(tmp, true)
  }

  /** Continuously apply a CDC changelog stream onto a kv table — the
    * reference's flagship Delta-MERGE example as a streaming pipeline
    * (`examples/.../DeltaTableStoreCDC.scala:108-165`): each micro-batch
    * is folded to its latest-per-key image (column ops resolved), turned
    * into per-row merge operations (DELETE → DELETE, else UPSERT), and
    * merged atomically into the target. Caller starts/stops the returned
    * query. On a changelog with no batch yet, the stream starts from the
    * target's recorded schema, so it can run before the first change.
    */
  def applyStream(spark: SparkSession, changelogDir: String, targetDir: String,
      pks: Seq[String], checkpointDir: String,
      maxFilesPerTrigger: Int = 1): org.apache.spark.sql.streaming.StreamingQuery = {
    val cdc = spark.readStream.format("cdc")
    val reader = if (ParquetIO.listFiles(changelogDir).nonEmpty) cdc else {
      val target = KvSchemaMeta.read(targetDir).getOrElse(throw new IllegalArgumentException(
        s"no changelog files under $changelogDir and no recorded schema for $targetDir"))
      cdc.schema(augmentSchema(target, pks)
        .add(StructField(RecordSeqCol, LongType, nullable = true)))
    }
    reader
      .option("path", changelogDir)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val attrs = batch.schema.fieldNames
            .filterNot(n => n.startsWith("__") || pks.contains(n))
          val w = Window.partitionBy(pks.map(col): _*)
            .orderBy(col(RecordTimestampCol).desc, Cdc.changeOrderTiebreak(batch).desc)
          val latest = batch
            .withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1)
          val ops = latest.select(
            (pks.map(col) :+
              when(col(RecordTypeCol) === "DELETE", "DELETE")
                .otherwise("UPSERT").as("__op")) ++
              attrs.map(a => cdcColParser(col(a), col(columnTypeCol(a))).as(a)): _*)
          graft.operators.KvMerge.merge(batch.sparkSession, targetDir, ops, "__op", pks)
        }
        ()
      }
      .start()
  }

  // ---- merge-on-read ----------------------------------------------------
  //
  // `applyStream`/`KvMerge` are copy-on-write: every micro-batch rewrites
  // the full target table — correct and crash-safe, but a 100 TB target
  // cannot absorb a rewrite per batch. The merge-on-read variant keeps the
  // base table immutable and folds the changelog tail at SCAN time:
  //
  //   view = base ⟕anti⟖ keys-touched-since-compaction
  //          ∪ latest non-DELETE images of those keys
  //
  // Reads stay distributed (one anti-join against a batch-sized key set —
  // broadcastable under AQE), and writes are append-only. `compact` folds
  // the consumed changelog prefix into a new base (atomic backup-aside
  // swap, same crash protocol as KvMerge) and records the consumed file
  // count as a watermark; the view then folds only the files after it.
  // The changelog's total-order change sequence ((fileSeq << 32) | row,
  // `__cdc_seq__`) makes the watermark a pure column predicate — no
  // source-side file surgery.

  private def watermarkPath(baseDir: String) = new Path(baseDir, "_compact_watermark")

  /** Changelog files already folded into the base (0 = none). */
  def compactedFiles(baseDir: String): Long = {
    val p = watermarkPath(baseDir)
    val fs = p.getFileSystem(ParquetIO.hadoopConf)
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
    }
  }

  private def writeWatermark(baseDir: String, files: Long): Unit = {
    val p = watermarkPath(baseDir)
    val fs = p.getFileSystem(ParquetIO.hadoopConf)
    val out = fs.create(p, true)
    try out.write(files.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The merged table image WITHOUT rewriting the base: base rows whose
    * keys are untouched since the last compaction, plus the latest
    * resolved images of touched keys. `maxFileSeq`, when set, bounds the
    * fold to changelog files < maxFileSeq (compaction uses it to pin the
    * prefix it consumes against concurrent appends).
    */
  def mergeOnReadView(spark: SparkSession, baseDir: String, changelogDir: String,
      pks: Seq[String], maxFileSeq: Option[Long] = None): DataFrame = {
    val from = compactedFiles(baseDir)
    var changes = spark.read.format("cdc").option("path", changelogDir).load()
      .filter(col(RecordSeqCol) >= lit(from << 32))
    maxFileSeq.foreach(hi => changes = changes.filter(col(RecordSeqCol) < lit(hi << 32)))
    val attrs = changes.schema.fieldNames
      .filterNot(n => n.startsWith("__") || pks.contains(n))
    val w = Window.partitionBy(pks.map(col): _*)
      .orderBy(col(RecordTimestampCol).desc, changeOrderTiebreak(changes).desc)
    val latest = changes
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
    val images = latest.where(col(RecordTypeCol) =!= "DELETE")
      .select(pks.map(col) ++ attrs.map(a =>
        cdcColParser(col(a), col(columnTypeCol(a))).as(a)): _*)
    if (ParquetIO.listFiles(baseDir).isEmpty) images
    else {
      val base = spark.read.format("kv").option("path", baseDir).load()
      val touched = latest.select(pks.map(col): _*)
      base.join(touched, pks, "left_anti").unionByName(images)
    }
  }

  /** Fold the current changelog prefix into the base table and advance the
    * compaction watermark. Crash-safe via the KvMerge backup-aside swap
    * protocol; concurrent appends after the pinned prefix stay pending.
    */
  def compact(spark: SparkSession, baseDir: String, changelogDir: String,
      pks: Seq[String], uptoFiles: Option[Long] = None): Unit = {
    val nFiles = uptoFiles.getOrElse(ParquetIO.listFiles(changelogDir).length.toLong)
    val folded = mergeOnReadView(spark, baseDir, changelogDir, pks, Some(nFiles))
    val fs = new Path(baseDir).getFileSystem(ParquetIO.hadoopConf)
    val live = new Path(baseDir)
    val backup = new Path(s"$baseDir.compact-old")
    if (!fs.exists(live) && fs.exists(backup)) fs.rename(backup, live)
    val tmp = new Path(s"$baseDir.compact-tmp")
    ParquetIO.deletePath(tmp.toString)
    folded.write.format("kv").option("path", tmp.toString).mode("append").save()
    ParquetIO.deletePath(backup.toString)
    if (fs.exists(live)) fs.rename(live, backup)
    fs.rename(tmp, live)
    fs.delete(backup, true)
    writeWatermark(baseDir, nFiles)
  }

  /** Materialize the final table state from a changelog frame: latest
    * record per primary key wins (ordered by record timestamp, then a
    * total-order tiebreak), DELETE retires the row, column-level op types
    * resolve via `cdc_col_parser` (PUT → value, DELETE_* → NULL).
    */
  def applyChanges(changes: DataFrame, pks: Seq[String]): DataFrame = {
    val metaPrefix = "__"
    val attrs = changes.schema.fieldNames
      .filterNot(n => n.startsWith(metaPrefix) || pks.contains(n))
    val w = Window.partitionBy(pks.map(col): _*)
      .orderBy(col(RecordTimestampCol).desc, changeOrderTiebreak(changes).desc)
    changes
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && col(RecordTypeCol) =!= "DELETE")
      .select(pks.map(col) ++ attrs.map(a =>
        cdcColParser(col(a), col(columnTypeCol(a))).as(a)): _*)
  }
}
