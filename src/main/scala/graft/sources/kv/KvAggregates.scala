package graft.sources.kv

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.ParquetIO

/** Complete aggregate pushdown for the kv source: ungrouped, unfiltered
  * COUNT(*) / COUNT(col) / MIN(col) / MAX(col) are answered from the
  * CACHED parquet footers — zero data pages read, a metadata-only query
  * regardless of table size. The 100 TB version of `SELECT count(*)`:
  * O(files) driver-cached footer lookups instead of a cluster scan.
  *
  * Deliberately narrow (the correctness bar for stats-based answers is
  * absolute): refused whenever any filter is present, any grouping is
  * present, a column's type is outside {long, double, string}, any row
  * group lacks trustworthy statistics, or a COUNT(col) null count is
  * unknown — Spark then runs the normal scan + aggregation. MIN/MAX on
  * sparse columns are safe (a file missing the column contributes only
  * nulls, which MIN/MAX ignore); COUNT(col) counts such files as
  * all-null.
  */
object KvAggregates {

  /** Compiled pushdown: output schema + the already-computed row. */
  case class Compiled(schema: StructType, row: InternalRow)

  def compile(path: String, tableSchema: StructType, agg: Aggregation): Option[Compiled] = {
    if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty) return None
    // A RENAMED column breaks the sparse-column premise this folder
    // rests on: pre-rename files store its values under the PHYSICAL
    // name, so the logical name's "absent → all null" fold would
    // silently drop them from MIN/MAX/COUNT. Refuse whenever any
    // rename mapping exists — correctness over coverage (the same
    // posture as the snapshot refusal).
    if (KvEvolution.read(path).renames.nonEmpty) return None
    val files = ParquetIO.listFilesStatus(path)
    val perFile = files.map { case (f, len, mt) =>
      val ft = ParquetIO.footer(f, len, mt)
      (ft.rowCount, ft.stats)
    }
    val totalRows = perFile.map(_._1).sum

    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
        case _ => None
      }
    def sparkType(name: String): Option[DataType] =
      tableSchema.fields.find(_.name == name).map(_.dataType).filter {
        case LongType | DoubleType | StringType => true
        case _ => false
      }
    def toInternal(v: Any, dt: DataType): Any = (v, dt) match {
      case (l: java.lang.Long, LongType) => l.longValue()
      case (d: java.lang.Double, DoubleType) => d.doubleValue()
      // widened columns (ALTER COLUMN int → long / float → double):
      // pre-widening files carry narrow footer stats; the upcast is
      // exact, same as the read path's storage-widening decode
      case (i: java.lang.Integer, LongType) => i.longValue()
      case (f: java.lang.Float, DoubleType) => f.doubleValue()
      case (b: org.apache.parquet.io.api.Binary, StringType) =>
        UTF8String.fromBytes(b.getBytes)
      case _ => null // type mismatch between footer and catalog → refuse
    }
    // per-column folded stats across files; None = untrustworthy somewhere
    def folded(name: String): Option[(Long, Seq[Any], Seq[Any])] = {
      val parts = perFile.map { case (rows, stats) =>
        stats.get(name) match {
          case None => Some((rows, None, None)) // column absent → all null
          case Some(ParquetIO.ColStats(Some(nulls), mn, mx)) => Some((nulls, mn, mx))
          case Some(_) => None
        }
      }
      if (parts.exists(_.isEmpty)) None
      else Some((parts.flatten.map(_._1).sum,
        parts.flatten.flatMap(_._2), parts.flatten.flatMap(_._3)))
    }

    val compiled = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some((LongType: DataType, totalRows: Any, false))
      case c: Count if !c.isDistinct =>
        for {
          name <- colName(c.column)
          _ <- sparkType(name) // only push types whose stats we trust
          (nulls, _, _) <- folded(name)
        } yield (LongType: DataType, (totalRows - nulls): Any, false)
      case m: Min =>
        for {
          name <- colName(m.column)
          dt <- sparkType(name)
          (_, mins, _) <- folded(name)
          vs = mins.map(toInternal(_, dt))
          // ANY failed conversion refuses the pushdown — folding only
          // the convertible files' stats would silently answer from a
          // subset of the table
          if !vs.contains(null)
        } yield (dt, (if (vs.isEmpty) null else minOf(vs, dt)): Any, true)
      case m: Max =>
        for {
          name <- colName(m.column)
          dt <- sparkType(name)
          (_, _, maxs) <- folded(name)
          vs = maxs.map(toInternal(_, dt))
          if !vs.contains(null)
        } yield (dt, (if (vs.isEmpty) null else maxOf(vs, dt)): Any, true)
      case _ => None
    }
    if (compiled.exists(_.isEmpty)) None
    else {
      val fields = compiled.flatten.zipWithIndex.map { case ((dt, _, nullable), i) =>
        StructField(s"agg_$i", dt, nullable)
      }
      Some(Compiled(StructType(fields),
        new GenericInternalRow(compiled.flatten.map(_._2).toArray)))
    }
  }

  private def minOf(vs: Seq[Any], dt: DataType): Any = dt match {
    case LongType => vs.map(_.asInstanceOf[Long]).min
    case DoubleType => vs.map(_.asInstanceOf[Double]).min
    case StringType => vs.map(_.asInstanceOf[UTF8String]).min
  }
  private def maxOf(vs: Seq[Any], dt: DataType): Any = dt match {
    case LongType => vs.map(_.asInstanceOf[Long]).max
    case DoubleType => vs.map(_.asInstanceOf[Double]).max
    case StringType => vs.map(_.asInstanceOf[UTF8String]).max
  }
}

/** Scan for a completely pushed aggregation: one partition, one row —
  * the values were computed from footers at planning time.
  */
class KvAggScan(path: String, compiled: KvAggregates.Compiled)
    extends Scan with Batch {
  override def readSchema(): StructType = compiled.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"kv path=$path, PushedAggregation: [${compiled.schema.fieldNames.mkString(", ")}] (footer-only)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(KvAggPartition(compiled.row.copy()))
  override def createReaderFactory(): PartitionReaderFactory = new KvAggReaderFactory
}

case class KvAggPartition(row: InternalRow) extends InputPartition

class KvAggReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = p.asInstanceOf[KvAggPartition].row
      override def close(): Unit = ()
    }
}
