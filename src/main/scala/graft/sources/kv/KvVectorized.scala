package graft.sources.kv

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import graft.sources.ParquetIO

/** Columnar data plane for the kv scan: the same byte-range chunks the
  * row path reads, decoded by Spark's own vectorized parquet reader
  * (public `VectorizedParquetRecordReader` API) into `ColumnarBatch`es
  * that whole-stage codegen consumes directly — the scan throughput
  * matches `spark.read.parquet` while the kv control plane (pushdown
  * compiler, zone-map pruning, split packing, sparse attributes) stays
  * in charge of WHAT is read.
  *
  * Scope discipline: the vectorized path takes over only when every
  * requested column is stored exactly as its declared Spark type (what
  * the kv writer, Spark's `ParquetWriteSupport`, writes). The row
  * reader's widening coercions — long over INT32, double over
  * FLOAT/INT32/INT64, nanosecond→micros timestamps
  * (`TableStoreRelation.scala:181-258` semantics) — keep the row path
  * (`ParquetIO.readFile`, Spark's row converter); `vectorized.read=false`
  * forces it. Filters stay row-group-level here (stats skip); record
  * level re-apply is Spark's, since the scan reports every filter as
  * residual.
  */
object KvVectorized {

  /** Every requested column present in `file` is stored natively for its
    * declared type; absent columns are fine (constant-null vectors — the
    * wide-column sparse-attribute model).
    */
  def eligible(file: MessageType, schema: StructType): Boolean =
    schema.fields.forall { f =>
      !file.containsField(f.name) ||
        nativeMatch(file.getType(file.getFieldIndex(f.name)), f.dataType)
    }

  private def nativeMatch(t: org.apache.parquet.schema.Type, dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => !t.isPrimitive && (t.getLogicalTypeAnnotation match {
      case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
        nativeMatch(t.asGroupType().getType(0).asGroupType().getType(0), et)
      case _ => false
    })
    case MapType(kt, vt, _) => !t.isPrimitive && (t.getLogicalTypeAnnotation match {
      case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation =>
        val kv = t.asGroupType().getType(0).asGroupType()
        nativeMatch(kv.getType(0), kt) && nativeMatch(kv.getType(1), vt)
      case _ => false
    })
    case st: StructType => !t.isPrimitive && t.getLogicalTypeAnnotation == null &&
      st.fields.forall { sf =>
        val g = t.asGroupType()
        g.containsField(sf.name) &&
          nativeMatch(g.getType(g.getFieldIndex(sf.name)), sf.dataType)
      }
    case _ if !t.isPrimitive => false
    case _ =>
      val p = t.asPrimitiveType()
      val ann = p.getLogicalTypeAnnotation
      (dt, p.getPrimitiveTypeName) match {
        case (LongType, PrimitiveTypeName.INT64) =>
          ann == null || ann == LogicalTypeAnnotation.intType(64, true)
        case (IntegerType, PrimitiveTypeName.INT32) =>
          ann == null || ann == LogicalTypeAnnotation.intType(32, true)
        case (DoubleType, PrimitiveTypeName.DOUBLE) => true
        case (FloatType, PrimitiveTypeName.FLOAT) => true
        case (BooleanType, PrimitiveTypeName.BOOLEAN) => true
        case (StringType, PrimitiveTypeName.BINARY) =>
          ann == LogicalTypeAnnotation.stringType()
        case (BinaryType, PrimitiveTypeName.BINARY) => ann == null
        case (TimestampType, PrimitiveTypeName.INT64) => ann match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.isAdjustedToUTC &&
              (ts.getUnit == TimeUnit.MICROS || ts.getUnit == TimeUnit.MILLIS)
          case _ => false
        }
        case (TimestampNTZType, PrimitiveTypeName.INT64) => ann match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            !ts.isAdjustedToUTC &&
              (ts.getUnit == TimeUnit.MICROS || ts.getUnit == TimeUnit.MILLIS)
          case _ => false
        }
        case (DateType, PrimitiveTypeName.INT32) =>
          ann == LogicalTypeAnnotation.dateType()
        case (d: DecimalType, _) => ann match {
          case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            dec.getPrecision == d.precision && dec.getScale == d.scale
          case _ => false
        }
        case _ => false
      }
  }

  /** Driver-side per-scan decision: all files under `path` natively match
    * the requested schema (footers are signature-cached — no repeat IO).
    */
  def scanEligible(path: String, schema: StructType): Boolean =
    ParquetIO.listFilesStatus(path).forall { case (f, len, mt) =>
      eligible(ParquetIO.footer(f, len, mt).schema, schema)
    }

  /** Columnar reader over one partition's chunk list — each chunk is the
    * same (file, byte-range) the row path would read, so split semantics
    * (zone-map pruning, discontinuity breaks, cross-file packing) are
    * identical by construction.
    */
  def reader(chunks: Seq[KvChunk], schema: StructType,
      predicate: Option[FilterPredicate]): PartitionReader[ColumnarBatch] =
    new PartitionReader[ColumnarBatch] {
      private val it = chunks.iterator
      private var current: VectorizedParquetRecordReader = _
      private var batch: ColumnarBatch = _

      private def openNext(): Boolean = {
        if (!it.hasNext) return false
        val c = it.next()
        ParquetIO.dataOpens.incrementAndGet()
        val conf = ParquetIO.sparkReadConf(schema)
        conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
          classOf[ParquetReadSupport].getName)
        // stats-level row-group skip only; column-index (page) filtering
        // off for deterministic batch shapes, record-level is Spark's
        predicate.foreach(p => ParquetInputFormat.setFilterPredicate(conf, p))
        conf.setBoolean("parquet.filter.columnindex.enabled", false)
        // the mapred variant: SpecificParquetRecordReaderBase casts to it
        // (it extends the mapreduce FileSplit the signature asks for)
        val split = new org.apache.hadoop.mapred.FileSplit(
          new Path(c.file), c.startByte, c.endByte - c.startByte, Array.empty[String])
        val r = new VectorizedParquetRecordReader(
          null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
        try {
          r.initialize(split, new TaskAttemptContextImpl(conf, new TaskAttemptID()))
          r.initBatch(new StructType(), InternalRow.empty)
          r.enableReturningBatches()
          current = r
          true
        } catch { case e: Throwable => r.close(); throw e }
      }

      override def next(): Boolean = {
        while (current != null || it.hasNext) {
          if (current == null && !openNext()) return false
          if (current.nextKeyValue()) {
            batch = current.getCurrentValue.asInstanceOf[ColumnarBatch]
            return true
          }
          current.close(); current = null
        }
        false
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = if (current != null) current.close()
    }
}
