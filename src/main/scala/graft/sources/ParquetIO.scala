package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Low-level parquet plumbing shared by the kv / log / cdc sources:
  * file listing, footer metadata, Group↔InternalRow conversion, and a
  * projected + filtered record iterator.
  *
  * Scope covers the reference's wide-column data model (primitives,
  * string/binary, timestamp/date — `TableStoreFilter.scala:123-146`)
  * plus its ODPS nested-type fidelity (`OdpsUtils.scala:398-457`): wide
  * decimals, ARRAY/MAP of primitives, one struct level. Uses only public
  * parquet-hadoop APIs.
  */
object ParquetIO {

  /** The one Hadoop conf graft builds from: every parquet read and write
    * and every FileSystem handle. No defaults — a defaulted
    * `new Configuration()` parses Hadoop's `core-default.xml` on first
    * use, per instance, and `ParquetFileReader.open(InputFile)` and the
    * no-argument `ParquetReadOptions.builder()` each build one per open:
    * 12–14 ms per footer open against 0.5 ms from this conf (40 files of
    * 25 rows, JDK 17 C1 tier, 4-core Xeon). So every reader opens through
    * [[openReader]] with [[readOptions]]; `ParquetIOGuardSpec` fails if
    * another file under `src/main` opens one itself.
    */
  def hadoopConf: Configuration = new Configuration(false)

  /** Read options built from [[hadoopConf]]; callers add range/filter. */
  private def readOptions(): ParquetReadOptions.Builder = HadoopReadOptions.builder(hadoopConf)

  private def openReader(file: Path, opts: ParquetReadOptions.Builder): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, hadoopConf), opts.build())

  /** List data files under path (a single parquet file or a directory). */
  def listFiles(path: String): Seq[Path] = listFilesStatus(path).map(_._1)

  /** Listing restricted to a streaming-table snapshot: with `maxEpoch`
    * set, committed epoch files with id > maxEpoch are hidden — the
    * time-travel read ("the table as of epoch N"). Non-epoch files
    * (batch writes, compactions) are always visible: compaction and
    * vacuum fold history and therefore bound how far back a snapshot
    * can reach, the usual lakehouse retention contract.
    *
    * Row-level operations (UPDATE/MERGE/DELETE rewrites) fold history
    * the same way — the replaced bytes are gone, so pre-rewrite epochs
    * cannot be reconstructed. Each rlo marker records the epoch
    * watermark at its commit; a snapshot read BELOW any committed
    * marker's watermark (or below the floor left behind by marker
    * compaction) FAILS loudly instead of silently serving post-rewrite
    * values for a pre-rewrite epoch. Snapshots at ≥ the watermark
    * include the rewrite (it happened after those epochs committed).
    */
  def listFilesStatus(path: String, maxEpoch: Option[Long]): Seq[(Path, Long, Long)] =
    maxEpoch match {
      case None => listFilesStatus(path)
      case Some(max) =>
        val p = new Path(path)
        val fs = p.getFileSystem(hadoopConf)
        val commits = new Path(p, "_commits")
        if (fs.exists(commits)) {
          fs.listStatus(commits).map(_.getPath)
            .filter(_.getName.startsWith("rlo-"))
            .foreach { m =>
              val epoch = rloInfoCached(fs, m)._2
              if (epoch > max) throw new IllegalStateException(
                s"kv snapshot.epoch=$max precedes a row-level operation " +
                  s"committed at epoch watermark $epoch on $path — the " +
                  "replaced bytes are folded; history below the watermark " +
                  "is not reconstructible")
            }
        }
        rloFloor(path).foreach { floor =>
          if (max < floor) throw new IllegalStateException(
            s"kv snapshot.epoch=$max precedes compacted row-level history " +
              s"(floor epoch $floor) on $path")
        }
        listFilesStatus(path).filter { case (f, _, _) =>
          val n = f.getName
          !n.startsWith("epoch-") ||
            n.stripPrefix("epoch-").takeWhile(_ != '-').toLongOption.forall(_ <= max)
        }
    }

  /** Listing with (path, length, modification time) from ONE namenode
    * call — the triple is the cache signature for planning metadata (part
    * files are never modified in place; a rewrite changes len/mtime).
    */
  def listFilesStatus(path: String): Seq[(Path, Long, Long)] = {
    val conf = hadoopConf
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq((p, st.getLen, st.getModificationTime))
    else {
      val entries = fs.listStatus(p).filter(_.isFile)
      // Streaming-sink epoch files are readable only once their epoch's
      // commit marker exists — a concurrent reader must not see a file a
      // continuous/micro-batch writer still has open (zero-length or
      // footerless). Non-epoch files are always visible.
      lazy val markerNames: Set[String] = {
        val commits = new Path(p, "_commits")
        if (fs.exists(commits)) fs.listStatus(commits).map(_.getPath.getName).toSet
        else Set.empty
      }
      // rlo (partial-rewrite) transactions: `rlo-<txid>-N.parquet` files
      // become visible — and the file names the transaction REPLACED
      // become hidden — atomically when `_commits/rlo-<txid>` appears
      // (its body lists the replaced names). One marker rename flips
      // both sides, so readers never see a torn mix of old and new.
      lazy val rloHidden: Set[String] =
        markerNames.filter(_.startsWith("rlo-"))
          .flatMap(m => rloInfoCached(fs, new Path(new Path(p, "_commits"), m))._1)
      entries.filter { s =>
        val n = s.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".") &&
          s.getLen > 0 &&
          (!n.startsWith("epoch-") ||
            markerNames.contains(n.stripPrefix("epoch-").takeWhile(_ != '-'))) &&
          (!n.startsWith("rlo-") ||
            markerNames.contains("rlo-" + n.stripPrefix("rlo-").takeWhile(_ != '-'))) &&
          !rloHidden.contains(n)
      }
      .map(s => (s.getPath, s.getLen, s.getModificationTime))
      .sortBy(_._1.toString)
      .toSeq
    }
  }

  // ---- rlo (partial-rewrite) transaction markers -----------------------

  /** Atomically commit an rlo transaction: `_commits/rlo-<txid>` whose
    * body carries the replaced file NAMES plus the epoch watermark at
    * commit (`{"removed": [...], "epoch": E}` — E = the highest
    * committed streaming epoch visible when the rewrite ran, -1 when
    * none). The single rename makes the transaction's `rlo-<txid>-*`
    * files visible and the replaced names invisible in the same
    * instant; the watermark gates snapshot reads (see
    * [[listFilesStatus(path:String,maxEpoch:Option[Long])*]]).
    */
  def writeRloMarker(tablePath: String, txid: String, removed: Seq[String],
      epoch: Long): Unit = {
    val commits = new Path(new Path(tablePath), "_commits")
    val fs = commits.getFileSystem(hadoopConf)
    fs.mkdirs(commits)
    val marker = new Path(commits, s"rlo-$txid")
    val tmp = new Path(commits, s".rlo-$txid.tmp")
    val body: org.json4s.JValue = org.json4s.JObject(
      "removed" -> org.json4s.JArray(removed.map(org.json4s.JString(_)).toList),
      "epoch" -> org.json4s.JInt(epoch))
    val out = fs.create(tmp, true)
    try out.write(org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(body)
    ).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, marker), s"rlo marker commit failed for $marker")
  }

  /** Highest committed streaming-epoch id of the table, -1 when none —
    * the rlo commit watermark.
    */
  def maxCommittedEpoch(tablePath: String): Long = {
    val commits = new Path(new Path(tablePath), "_commits")
    val fs = commits.getFileSystem(hadoopConf)
    if (!fs.exists(commits)) return -1L
    fs.listStatus(commits).map(_.getPath.getName)
      .flatMap(_.toLongOption).foldLeft(-1L)(math.max)
  }

  /** Names hidden by committed rlo transactions (the vacuum surface). */
  def rloHiddenNames(tablePath: String): Set[String] = {
    val commits = new Path(new Path(tablePath), "_commits")
    val fs = commits.getFileSystem(hadoopConf)
    if (!fs.exists(commits)) return Set.empty
    fs.listStatus(commits).map(_.getPath)
      .filter(_.getName.startsWith("rlo-"))
      .flatMap(m => rloInfoCached(fs, m)._1).toSet
  }

  // markers are immutable once renamed into place — cache bodies by path
  private val rloMarkerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Set[String], Long)]()

  /** (replaced names, commit epoch watermark) of one marker. Legacy
    * array-bodied markers (pre-watermark builds) read as epoch -1 —
    * they never block a snapshot, the old behavior.
    */
  private[graft] def rloInfoCached(fs: org.apache.hadoop.fs.FileSystem,
      marker: Path): (Set[String], Long) =
    rloMarkerCache.computeIfAbsent(marker.toString, _ =>
      scala.util.Try {
        val in = fs.open(marker)
        val body = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        org.json4s.jackson.JsonMethods.parse(body) match {
          case org.json4s.JArray(vs) =>
            (vs.collect { case org.json4s.JString(s) => s }.toSet, -1L)
          case o: org.json4s.JObject =>
            val removed = (o \ "removed") match {
              case org.json4s.JArray(vs) =>
                vs.collect { case org.json4s.JString(s) => s }.toSet
              case _ => Set.empty[String]
            }
            val epoch = (o \ "epoch") match {
              case org.json4s.JInt(e) => e.toLong
              case _ => -1L
            }
            (removed, epoch)
          case _ => (Set.empty[String], -1L)
        }
      }.getOrElse((Set.empty[String], -1L)))

  // ---- rlo history floor (marker compaction) ---------------------------

  private def rloFloorFile(tablePath: String): Path =
    new Path(new Path(tablePath), "_meta/rlo_floor.json")

  /** Record the snapshot floor left behind when committed rlo markers
    * are folded into base state (`KvMerge.compactMarkers`): snapshots
    * below `epoch` fail instead of silently reading folded data. Keeps
    * the max of any existing floor.
    */
  def recordRloFloor(tablePath: String, epoch: Long): Unit = {
    if (epoch < 0) return
    val merged = math.max(epoch, rloFloor(tablePath).getOrElse(-1L))
    val p = rloFloorFile(tablePath)
    val fs = p.getFileSystem(hadoopConf)
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"floorEpoch":$merged}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) fs.delete(tmp, false)
    ()
  }

  /** The compacted-rlo snapshot floor, if any. */
  def rloFloor(tablePath: String): Option[Long] =
    scala.util.Try {
      val p = rloFloorFile(tablePath)
      val fs = p.getFileSystem(hadoopConf)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val body = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        org.json4s.jackson.JsonMethods.parse(body) \ "floorEpoch" match {
          case org.json4s.JInt(e) => Some(e.toLong)
          case _ => None
        }
      }
    }.toOption.flatten

  // ---- footers: one read per file, JVM-wide ----------------------------
  // A kv/log/cdc query plans by reading per-file footers (row groups,
  // schemas, stats). Re-reading every footer at every query is O(files)
  // driver IO — untenable on a many-file table. Footers are immutable
  // for a given (path, len, mtime), so cache the DERIVED planning view on
  // that signature (never the whole ParquetMetadata); bounded by
  // wholesale clearing (planning metadata is cheap to rebuild).
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Footer]()
  private val MaxCacheEntries = 262144

  /** Footer opens so far, JVM-wide — one per [[footer]] cache miss. */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** (rowCount, byte ranges of row groups) from the footer — used for
    * split planning and exact streaming-offset accounting without reading
    * data pages — plus the group's raw per-column statistics (the zone-map
    * index's input, [[graft.sources.kv.KvIndex]]).
    *
    * `endByte` is the exact on-disk end of the group: the NEXT group's
    * starting position (groups are laid out back-to-back), or
    * startingPos + compressedSize for the last. It is NOT
    * startByte + totalByteSize — totalByteSize is the UNCOMPRESSED size,
    * and the readers (`withRange`, the vectorized reader) select groups
    * by compressed-size midpoints, so an uncompressed-size range on a
    * snappy file overshoots into the next partition's first group and
    * decodes it twice. `totalByteSize` is kept for size *estimates*
    * (split packing targets, statistics), never for range boundaries.
    */
  case class RowGroupInfo(startByte: Long, totalByteSize: Long, rowCount: Long,
      endByte: Long, stats: Map[String, ColStats])

  /** Column statistics by dotted column path. `None` fields mean "not
    * trustworthy" (a chunk without stats, unknown null counts) — callers
    * must refuse pushdown then. Values are raw parquet-typed
    * (java.lang.Long / java.lang.Double / parquet Binary); min/max are
    * None for all-null columns.
    */
  case class ColStats(nullCount: Option[Long], min: Option[Any], max: Option[Any])

  /** Everything graft plans from one file's footer. `stats` folds the
    * groups' stats per file (any untrusted group makes the file's column
    * untrusted; min/max fold with the column's own comparator — parquet
    * orders BINARY stats unsigned-lexicographically, matching UTF8String
    * ordering for valid UTF-8).
    */
  case class Footer(schema: MessageType, groups: Seq[RowGroupInfo]) {
    def rowCount: Long = groups.map(_.rowCount).sum

    lazy val stats: Map[String, ColStats] = {
      import scala.jdk.CollectionConverters._
      val types = schema.getColumns.asScala
        .map(c => c.getPath.mkString(".") -> c.getPrimitiveType).toMap
      groups.headOption.map(_.stats.keys).getOrElse(Nil).map { name =>
        val chunks = groups.map(_.stats.get(name))
        name -> (if (chunks.exists(_.forall(_.nullCount.isEmpty))) ColStats(None, None, None)
          else {
            val cmp = types(name).comparator().asInstanceOf[java.util.Comparator[Any]]
            val cs = chunks.flatten
            ColStats(Some(cs.flatMap(_.nullCount).sum),
              cs.flatMap(_.min).reduceOption((a, b) => if (cmp.compare(a, b) <= 0) a else b),
              cs.flatMap(_.max).reduceOption((a, b) => if (cmp.compare(a, b) >= 0) a else b))
          })
      }.toMap
    }
  }

  /** The footer of `file` at signature (len, mtime): read at most once
    * per signature JVM-wide — one footer read per file EVER.
    */
  def footer(file: Path, len: Long, mtime: Long): Footer = {
    if (footerCache.size > MaxCacheEntries) footerCache.clear()
    footerCache.computeIfAbsent((file.toString, len, mtime), _ => readFooter(file))
  }

  /** [[footer]] for a bare path: one status call supplies the signature. */
  def footer(file: Path): Footer = {
    val st = file.getFileSystem(hadoopConf).getFileStatus(file)
    footer(file, st.getLen, st.getModificationTime)
  }

  private def readFooter(file: Path): Footer = {
    footerReads.incrementAndGet()
    val reader = openReader(file, readOptions())
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val groups = blocks.zipWithIndex.map { case (b, i) =>
        val end =
          if (i + 1 < blocks.length) blocks(i + 1).getStartingPos
          else b.getStartingPos + b.getCompressedSize
        val stats = b.getColumns.asScala.map { cc =>
          val st = cc.getStatistics
          val vals = st != null && st.hasNonNullValue
          cc.getPath.toDotString -> ColStats(
            Option.when(st != null && st.isNumNullsSet)(st.getNumNulls),
            Option.when(vals)(st.genericGetMin), Option.when(vals)(st.genericGetMax))
        }.toMap
        RowGroupInfo(b.getStartingPos, b.getTotalByteSize, b.getRowCount, end, stats)
      }
      Footer(reader.getFooter.getFileMetaData.getSchema, groups)
    } finally reader.close()
  }

  /** Intersection schema: columns present with IDENTICAL types in every
    * file of the listing. Filters may only be compiled against this —
    * a sparse attribute column (absent in some files) pushed into the
    * parquet reader would misjudge rows whose file lacks the column.
    * Footer schemas come from [[footer]]: one footer read per file EVER.
    */
  def commonSchema(files: Seq[(Path, Long, Long)]): Option[MessageType] = {
    if (files.isEmpty) return None
    val schemas = files.map { case (f, len, mt) => footer(f, len, mt).schema }
    Some(schemas.tail.foldLeft(schemas.head) { (acc, s) =>
      import scala.jdk.CollectionConverters._
      val fields = acc.getFields.asScala.filter { f =>
        s.containsField(f.getName) &&
          s.getType(s.getFieldIndex(f.getName)) == f
      }
      new MessageType(acc.getName, fields.toSeq: _*)
    })
  }

  /** Spark StructType → parquet MessageType. Nested types recurse
    * arbitrarily (array-of-struct, struct-of-struct, map-of-struct …) —
    * the reference's ODPS converter fidelity
    * (OdpsUtils.sparkData2OdpsData:398-457).
    */
  def toParquetSchema(schema: StructType, name: String = "graft_schema"): MessageType = {
    val builder = Types.buildMessage()
    schema.fields.foreach(f =>
      builder.addField(fieldType(f.dataType, f.name, Type.Repetition.OPTIONAL, f.name)))
    builder.named(name)
  }

  /** Parquet type for one field at any nesting depth — primitives,
    * timestamps/dates/decimals, and recursive LIST/MAP/struct groups.
    */
  private def fieldType(dt: DataType, name: String, rep: Type.Repetition,
      owner: String): Type = dt match {
    case LongType => Types.primitive(PrimitiveTypeName.INT64, rep).named(name)
    case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep).named(name)
    case DoubleType => Types.primitive(PrimitiveTypeName.DOUBLE, rep).named(name)
    case FloatType => Types.primitive(PrimitiveTypeName.FLOAT, rep).named(name)
    case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep).named(name)
    case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
      .as(LogicalTypeAnnotation.stringType()).named(name)
    case BinaryType => Types.primitive(PrimitiveTypeName.BINARY, rep).named(name)
    case TimestampType => Types.primitive(PrimitiveTypeName.INT64, rep)
      .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)).named(name)
    case TimestampNTZType => Types.primitive(PrimitiveTypeName.INT64, rep)
      .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS)).named(name)
    case DateType => Types.primitive(PrimitiveTypeName.INT32, rep)
      .as(LogicalTypeAnnotation.dateType()).named(name)
    case d: DecimalType if d.precision <= 18 =>
      // INT64-backed decimal (unscaled long) — the reference's decimal
      // discipline requires explicit precision/scale (DatahubData
      // .scala:97-100)
      Types.primitive(PrimitiveTypeName.INT64, rep)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
    case d: DecimalType =>
      // wide decimal (p > 18): FIXED_LEN_BYTE_ARRAY big-endian
      // two's-complement unscaled value — parquet's standard encoding,
      // the reference's full-precision ODPS decimal fidelity
      Types.primitive(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, rep)
        .length(minBytesForPrecision(d.precision))
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
    case ArrayType(et, _) =>
      // standard parquet 3-level LIST; element type recurses
      Types.buildGroup(rep)
        .as(LogicalTypeAnnotation.listType())
        .addField(Types.repeatedGroup()
          .addField(fieldType(et, "element", Type.Repetition.OPTIONAL, owner))
          .named("list"))
        .named(name)
    case MapType(kt, vt, _) =>
      // standard parquet MAP: repeated key_value(required key, optional
      // value); both sides recurse
      Types.buildGroup(rep)
        .as(LogicalTypeAnnotation.mapType())
        .addField(Types.repeatedGroup()
          .addField(fieldType(kt, "key", Type.Repetition.REQUIRED, owner))
          .addField(fieldType(vt, "value", Type.Repetition.OPTIONAL, owner))
          .named("key_value"))
        .named(name)
    case st: StructType =>
      val b = Types.buildGroup(rep)
      st.fields.foreach(sf =>
        b.addField(fieldType(sf.dataType, sf.name, Type.Repetition.OPTIONAL, owner)))
      b.named(name)
    case other => throw new IllegalArgumentException(
      s"unsupported kv/log type $other in column $owner")
  }

  /** Smallest byte length whose signed two's-complement range covers
    * 10^precision - 1 (parquet's FIXED_LEN_BYTE_ARRAY decimal sizing).
    */
  def minBytesForPrecision(precision: Int): Int = {
    var n = 1
    while (math.pow(2.0, 8 * n - 1) < math.pow(10.0, precision)) n += 1
    n
  }

  /** Projection of the file schema to `columns` (file field types win,
    * so storage units for timestamps are preserved). Columns absent from
    * the file are skipped — the wide-column sparse-attribute model: a row
    * without the attribute reads as NULL (reference Tablestore rows carry
    * only the columns they have, `TableStoreRelation.scala:290-361`).
    */
  def projectSchema(file: MessageType, columns: Seq[String]): MessageType = {
    val fields = columns.filter(file.containsField)
      .map(c => file.getType(file.getFieldIndex(c)))
    new MessageType(file.getName, fields: _*)
  }

  /** Read field `idx` of `g` (first repetition) as a Catalyst value of
    * `dt` — recursive over LIST/MAP/struct, with the same storage-type
    * widening and timestamp-unit handling as the top level (the group
    * carries its own parquet type, so nested metadata is available).
    */
  private def readValue(g: Group, idx: Int, dt: DataType): Any = dt match {
    case LongType =>
      g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveTypeName.INT32 => g.getInteger(idx, 0).toLong
        case _ => g.getLong(idx, 0)
      }
    case IntegerType => g.getInteger(idx, 0)
    case DoubleType =>
      g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveTypeName.FLOAT => g.getFloat(idx, 0).toDouble
        case PrimitiveTypeName.INT32 => g.getInteger(idx, 0).toDouble
        case PrimitiveTypeName.INT64 => g.getLong(idx, 0).toDouble
        case _ => g.getDouble(idx, 0)
      }
    case FloatType => g.getFloat(idx, 0)
    case BooleanType => g.getBoolean(idx, 0)
    case StringType => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
    case BinaryType => g.getBinary(idx, 0).getBytes
    case TimestampType | TimestampNTZType =>
      val unit = g.getType.getType(idx).asPrimitiveType().getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => ts.getUnit
        case _ => TimeUnit.MICROS
      }
      timestampToMicros(g.getLong(idx, 0), unit)
    case DateType => g.getInteger(idx, 0)
    case d: DecimalType =>
      g.getType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
        case PrimitiveTypeName.INT32 => org.apache.spark.sql.types.Decimal
          .createUnsafe(g.getInteger(idx, 0).toLong, d.precision, d.scale)
        case PrimitiveTypeName.INT64 => org.apache.spark.sql.types.Decimal
          .createUnsafe(g.getLong(idx, 0), d.precision, d.scale)
        case _ =>
          val unscaled = new java.math.BigInteger(g.getBinary(idx, 0).getBytes)
          org.apache.spark.sql.types.Decimal(
            scala.math.BigDecimal(scala.math.BigInt(unscaled), d.scale),
            d.precision, d.scale)
      }
    case ArrayType(et, _) => readList(g.getGroup(idx, 0), et)
    case MapType(kt, vt, _) => readMap(g.getGroup(idx, 0), kt, vt)
    case st: StructType => readStruct(g.getGroup(idx, 0), st)
    case other => throw new IllegalArgumentException(
      s"unsupported element/field type $other")
  }

  /** 3-level LIST group → GenericArrayData (elements recurse). */
  private def readList(outer: Group, et: DataType): Any = {
    val n = outer.getFieldRepetitionCount(0)
    val values = new Array[Any](n)
    var j = 0
    while (j < n) {
      val el = outer.getGroup(0, j)
      values(j) =
        if (el.getFieldRepetitionCount(0) == 0) null else readValue(el, 0, et)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(values)
  }

  /** MAP group → ArrayBasedMapData (keys/values recurse). */
  private def readMap(outer: Group, kt: DataType, vt: DataType): Any = {
    val n = outer.getFieldRepetitionCount(0)
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var j = 0
    while (j < n) {
      val kv = outer.getGroup(0, j)
      keys(j) = readValue(kv, 0, kt)
      vals(j) = if (kv.getFieldRepetitionCount(1) == 0) null else readValue(kv, 1, vt)
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayBasedMapData(keys, vals)
  }

  /** struct group → InternalRow (fields recurse). */
  private def readStruct(sg: Group, st: StructType): InternalRow = {
    val nested = new GenericInternalRow(st.length)
    var j = 0
    while (j < st.length) {
      if (sg.getFieldRepetitionCount(j) == 0) nested.setNullAt(j)
      else nested.update(j, readValue(sg, j, st(j).dataType))
      j += 1
    }
    nested
  }

  /** Timestamp storage unit multiplier → micros. */
  private def timestampToMicros(value: Long, unit: TimeUnit): Long = unit match {
    case TimeUnit.MILLIS => value * 1000L
    case TimeUnit.MICROS => value
    case TimeUnit.NANOS => value / 1000L
  }

  /** Convert one parquet Group to an InternalRow laid out as `schema`
    * (names matched positionally against the projection).
    */
  def groupToRow(g: Group, projection: MessageType, schema: StructType): InternalRow = {
    val row = new GenericInternalRow(schema.length)
    var i = 0
    while (i < schema.length) {
      val field = schema(i)
      if (!projection.containsField(field.name)) {
        row.setNullAt(i) // sparse attribute: column absent from this file
        i += 1
      } else {
      val pqIdx = projection.getFieldIndex(field.name)
      if (g.getFieldRepetitionCount(pqIdx) == 0) {
        row.setNullAt(i)
      } else {
        val rawType = projection.getType(pqIdx)
        // LIST columns are group-typed; everything else is primitive
        val pqName =
          if (rawType.isPrimitive) rawType.asPrimitiveType().getPrimitiveTypeName else null
        field.dataType match {
          // widening coercions (declared type wider than storage) mirror
          // the reference's row-conversion long/int/float handling
          // (TableStoreRelation.scala:181-258)
          case d: DecimalType if pqName == PrimitiveTypeName.INT32 =>
            row.update(i, org.apache.spark.sql.types.Decimal
              .createUnsafe(g.getInteger(pqIdx, 0).toLong, d.precision, d.scale))
          case d: DecimalType if pqName == PrimitiveTypeName.INT64 =>
            row.update(i, org.apache.spark.sql.types.Decimal
              .createUnsafe(g.getLong(pqIdx, 0), d.precision, d.scale))
          case d: DecimalType if pqName == PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY ||
              pqName == PrimitiveTypeName.BINARY =>
            // big-endian two's-complement unscaled value (wide decimal)
            val unscaled = new java.math.BigInteger(g.getBinary(pqIdx, 0).getBytes)
            row.update(i, org.apache.spark.sql.types.Decimal(
              scala.math.BigDecimal(scala.math.BigInt(unscaled), d.scale),
              d.precision, d.scale))
          case d: DecimalType => throw new IllegalArgumentException(
            s"decimal storage $pqName unsupported for precision ${d.precision}")
          case LongType if pqName == PrimitiveTypeName.INT32 =>
            row.setLong(i, g.getInteger(pqIdx, 0).toLong)
          case LongType => row.setLong(i, g.getLong(pqIdx, 0))
          case IntegerType => row.setInt(i, g.getInteger(pqIdx, 0))
          case DoubleType if pqName == PrimitiveTypeName.FLOAT =>
            row.setDouble(i, g.getFloat(pqIdx, 0).toDouble)
          case DoubleType if pqName == PrimitiveTypeName.INT32 =>
            row.setDouble(i, g.getInteger(pqIdx, 0).toDouble)
          case DoubleType if pqName == PrimitiveTypeName.INT64 =>
            row.setDouble(i, g.getLong(pqIdx, 0).toDouble)
          case DoubleType => row.setDouble(i, g.getDouble(pqIdx, 0))
          case FloatType => row.setFloat(i, g.getFloat(pqIdx, 0))
          case BooleanType => row.setBoolean(i, g.getBoolean(pqIdx, 0))
          case StringType =>
            row.update(i, UTF8String.fromBytes(g.getBinary(pqIdx, 0).getBytes))
          case BinaryType => row.update(i, g.getBinary(pqIdx, 0).getBytes)
          case TimestampType | TimestampNTZType =>
            val unit = rawType.asPrimitiveType().getLogicalTypeAnnotation match {
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => ts.getUnit
              case _ => TimeUnit.MICROS
            }
            row.setLong(i, timestampToMicros(g.getLong(pqIdx, 0), unit))
          case DateType => row.setInt(i, g.getInteger(pqIdx, 0))
          case ArrayType(et, _) =>
            // 3-level LIST: outer group → repeated "list" group → element
            row.update(i, readList(g.getGroup(pqIdx, 0), et))
          case MapType(kt, vt, _) =>
            // MAP: outer group → repeated "key_value" → (key, value)
            row.update(i, readMap(g.getGroup(pqIdx, 0), kt, vt))
          case st: StructType =>
            row.update(i, readStruct(g.getGroup(pqIdx, 0), st))
          case other => throw new IllegalArgumentException(s"unsupported type $other")
        }
      }
      i += 1
      }
    }
    row
  }

  /** Iterate records of one file: column-pruned to `schema`'s names,
    * optionally restricted to a byte range of row groups (split), with an
    * optional parquet filter applied at row-group (stats), page, and
    * record level.
    *
    * `skipRowGroups` seeks past the first N row groups without reading a
    * data page (`ParquetFileReader.skipNextRowGroup` only advances the
    * block cursor) — exact group-level seek for offset-addressed readers,
    * with none of the byte-range midpoint ambiguity of `withRange`.
    */
  def readFile(
      file: Path,
      schema: StructType,
      range: Option[(Long, Long)] = None,
      filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate] = None,
      skipRowGroups: Int = 0,
      aliases: Map[String, String] = Map.empty)
      : Iterator[InternalRow] with AutoCloseable = {
    val optsB = readOptions()
    range.foreach { case (s, e) => optsB.withRange(s, e) }
    filter.foreach(f => optsB.withRecordFilter(FilterCompat.get(f)))
    val reader = openReader(file, optsB)
    val fileType = reader.getFooter.getFileMetaData.getSchema
    // Column-mapping resolution (KvEvolution "name mode"): a requested
    // column absent from THIS file but recorded under a physical alias
    // that IS present reads through the alias — renamed columns keep
    // their bytes on pre-rename files. Positional: the effective schema
    // only swaps field names, so rows come out in the logical order.
    val effSchema = if (aliases.isEmpty) schema else StructType(
      schema.fields.map { f =>
        if (fileType.containsField(f.name)) f
        else aliases.get(f.name).filter(fileType.containsField)
          .map(p => f.copy(name = p)).getOrElse(f)
      })
    val projection = projectSchema(fileType, effSchema.fieldNames.toSeq)
    reader.setRequestedSchema(projection)
    var toSkip = skipRowGroups
    while (toSkip > 0) { reader.skipNextRowGroup(); toSkip -= 1 }
    val compatFilter = filter.map(FilterCompat.get).getOrElse(FilterCompat.NOOP)

    new Iterator[InternalRow] with AutoCloseable {
      private var pages = reader.readNextFilteredRowGroup()
      private var recordReader: org.apache.parquet.io.RecordReader[Group] = _
      private var remaining = 0L
      private var nextRow: InternalRow = _
      private def advanceRowGroup(): Unit = {
        if (pages != null) {
          val colIO = new ColumnIOFactory().getColumnIO(projection)
          recordReader = colIO.getRecordReader(pages, new GroupRecordConverter(projection), compatFilter)
          remaining = pages.getRowCount
        }
      }
      advanceRowGroup()
      private def fetch(): Unit = {
        nextRow = null
        while (nextRow == null && pages != null) {
          if (remaining == 0) {
            pages = reader.readNextFilteredRowGroup()
            advanceRowGroup()
          } else {
            val g = recordReader.read()
            remaining -= 1
            // filtered-out records materialize as null
            if (g != null && !recordReader.shouldSkipCurrentRecord)
              nextRow = groupToRow(g, projection, effSchema)
          }
        }
      }
      fetch()
      override def hasNext: Boolean = nextRow != null
      override def next(): InternalRow = {
        val r = nextRow; fetch(); r
      }
      override def close(): Unit = reader.close()
    }
  }

  /** Writer for one part file. `rowGroupBytes` bounds row-group size
    * (default parquet block size; specs shrink it to force multi-group
    * files for seek/split coverage).
    */
  def openWriter(file: Path, schema: StructType,
      rowGroupBytes: Long = ParquetWriter.DEFAULT_BLOCK_SIZE.toLong): ParquetWriter[Group] =
    ExampleParquetWriter.builder(file)
      .withConf(hadoopConf)
      .withType(toParquetSchema(schema))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(rowGroupBytes)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()

  /** InternalRow (laid out as schema) → Group for writing. */
  def rowToGroup(row: InternalRow, schema: StructType, messageType: MessageType): Group = {
    val g = new SimpleGroup(messageType)
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val name = schema(i).name
        schema(i).dataType match {
          case LongType => g.add(name, row.getLong(i))
          case IntegerType => g.add(name, row.getInt(i))
          case DoubleType => g.add(name, row.getDouble(i))
          case FloatType => g.add(name, row.getFloat(i))
          case BooleanType => g.add(name, row.getBoolean(i))
          case StringType => g.add(name, row.getUTF8String(i).toString)
          case BinaryType => g.add(name,
            org.apache.parquet.io.api.Binary.fromConstantByteArray(row.getBinary(i)))
          case TimestampType | TimestampNTZType => g.add(name, row.getLong(i)) // micros
          case d: DecimalType if d.precision <= 18 =>
            g.add(name, row.getDecimal(i, d.precision, d.scale).toUnscaledLong)
          case d: DecimalType =>
            g.add(name, org.apache.parquet.io.api.Binary.fromConstantByteArray(
              fixedDecimalBytes(row.getDecimal(i, d.precision, d.scale), d)))
          case DateType => g.add(name, row.getInt(i))
          case at: ArrayType => writeList(g.addGroup(name), at.elementType, row.getArray(i))
          case mt: MapType => writeMap(g.addGroup(name), mt.keyType, mt.valueType, row.getMap(i))
          case st: StructType => writeStruct(g.addGroup(name), st, row.getStruct(i, st.length))
          case other => throw new IllegalArgumentException(s"unsupported type $other")
        }
      }
      i += 1
    }
    g
  }

  /** Write one Catalyst value into a container group at field `idx` —
    * recursive over LIST/MAP/struct, same encodings as the top level.
    */
  private def writeValue(g: Group, idx: Int, dt: DataType, v: Any): Unit = dt match {
    case LongType => g.add(idx, v.asInstanceOf[Long])
    case IntegerType => g.add(idx, v.asInstanceOf[Int])
    case DoubleType => g.add(idx, v.asInstanceOf[Double])
    case FloatType => g.add(idx, v.asInstanceOf[Float])
    case BooleanType => g.add(idx, v.asInstanceOf[Boolean])
    case StringType => g.add(idx, v.toString) // UTF8String
    case BinaryType => g.add(idx,
      org.apache.parquet.io.api.Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
    case TimestampType | TimestampNTZType => g.add(idx, v.asInstanceOf[Long]) // micros
    case DateType => g.add(idx, v.asInstanceOf[Int])
    case d: DecimalType if d.precision <= 18 =>
      g.add(idx, v.asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong)
    case d: DecimalType =>
      g.add(idx, org.apache.parquet.io.api.Binary.fromConstantByteArray(
        fixedDecimalBytes(v.asInstanceOf[org.apache.spark.sql.types.Decimal], d)))
    case ArrayType(et, _) =>
      writeList(g.addGroup(idx), et,
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    case MapType(kt, vt, _) =>
      writeMap(g.addGroup(idx), kt, vt,
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData])
    case st: StructType =>
      writeStruct(g.addGroup(idx), st, v.asInstanceOf[InternalRow])
    case other => throw new IllegalArgumentException(
      s"unsupported element/field type $other")
  }

  private def writeList(outer: Group, et: DataType,
      arr: org.apache.spark.sql.catalyst.util.ArrayData): Unit = {
    var j = 0
    while (j < arr.numElements()) {
      val el = outer.addGroup(0)
      if (!arr.isNullAt(j)) writeValue(el, 0, et, arr.get(j, et))
      j += 1
    }
  }

  private def writeMap(outer: Group, kt: DataType, vt: DataType,
      m: org.apache.spark.sql.catalyst.util.MapData): Unit = {
    var j = 0
    while (j < m.numElements()) {
      val kv = outer.addGroup(0)
      writeValue(kv, 0, kt, m.keyArray().get(j, kt))
      if (!m.valueArray().isNullAt(j))
        writeValue(kv, 1, vt, m.valueArray().get(j, vt))
      j += 1
    }
  }

  private def writeStruct(sg: Group, st: StructType, nested: InternalRow): Unit = {
    var j = 0
    while (j < st.length) {
      if (!nested.isNullAt(j))
        writeValue(sg, j, st(j).dataType, nested.get(j, st(j).dataType))
      j += 1
    }
  }

  /** Sign-extended big-endian two's complement at the fixed length for a
    * wide (p > 18) decimal.
    */
  private def fixedDecimalBytes(dec: org.apache.spark.sql.types.Decimal,
      d: DecimalType): Array[Byte] = {
    val unscaled = dec.toJavaBigDecimal.unscaledValue()
    val raw = unscaled.toByteArray
    val n = minBytesForPrecision(d.precision)
    val out = new Array[Byte](n)
    if (unscaled.signum() < 0) java.util.Arrays.fill(out, 0, n - raw.length, -1: Byte)
    System.arraycopy(raw, 0, out, n - raw.length, raw.length)
    out
  }

  def deletePath(path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
