package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._
import org.json4s.{JArray, JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Low-level parquet plumbing shared by the kv / log / cdc sources:
  * file listing, footer metadata, and the one parquet codec — Spark's
  * own: `ParquetWriteSupport` writes every file, and Spark's row
  * converter decodes the projected + filtered record iterator.
  *
  * Scope covers the reference's wide-column data model (primitives,
  * string/binary, timestamp/date — `TableStoreFilter.scala:123-146`)
  * plus its ODPS nested-type fidelity (`OdpsUtils.scala:398-457`): wide
  * decimals, ARRAY/MAP/struct at any depth. Uses only public
  * parquet-hadoop and Spark parquet-support APIs.
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
    val body = compact(render(JObject(
      "removed" -> JArray(removed.map(JString(_)).toList), "epoch" -> JInt(epoch))))
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
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
  private[graft] def rloInfoCached(fs: FileSystem, marker: Path): (Set[String], Long) =
    rloMarkerCache.computeIfAbsent(marker.toString, _ =>
      scala.util.Try {
        def names(v: JValue) = v.children.collect { case JString(s) => s }.toSet
        parse(readString(fs, marker)) match {
          case a: JArray => (names(a), -1L)
          case o: JObject => (names(o \ "removed"), o \ "epoch" match {
            case JInt(e) => e.toLong
            case _ => -1L
          })
          case _ => (Set.empty[String], -1L)
        }
      }.getOrElse((Set.empty[String], -1L)))

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

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
    try out.write(s"""{"floorEpoch":$merged}""".getBytes(UTF_8)) finally out.close()
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
      else parse(readString(fs, p)) \ "floorEpoch" match {
        case JInt(e) => Some(e.toLong)
        case _ => None
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

  /** Data-reading opens so far, JVM-wide: one per [[readFile]] and one
    * per chunk the columnar plane (`KvVectorized.reader`) opens. Each
    * reads the file's footer again, apart from [[footerReads]].
    */
  val dataOpens = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Hadoop conf for Spark's parquet read support, shared by the row
    * converter ([[readFile]]) and the vectorized reader: the requested
    * Spark schema plus the keys Spark's parquet-to-Spark schema converter
    * reads without a default.
    */
  private[graft] def sparkReadConf(requested: StructType): Configuration = {
    val conf = hadoopConf
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, true)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, true)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, true)
    conf
  }

  /** Columns Spark's row converter cannot decode as declared, read as
    * stored (LongType) and converted after: INT64 as double, and INT64
    * timestamps in a unit other than MILLIS/MICROS (NANOS → micros,
    * unannotated → micros as is). INT32 as long or double, FLOAT as
    * double and MILLIS timestamps the converter widens itself — the
    * reference's row-conversion coercions
    * (`TableStoreRelation.scala:181-258`).
    */
  private def storedAsLong(t: Type, dt: DataType): Option[Long => Any] =
    if (!t.isPrimitive ||
        t.asPrimitiveType().getPrimitiveTypeName != PrimitiveTypeName.INT64) None
    else dt match {
      case DoubleType => Some(_.toDouble)
      case TimestampType | TimestampNTZType => t.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if ts.getUnit != TimeUnit.NANOS => None
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some(_ / 1000L)
        case _ => Some(v => v)
      }
      case _ => None
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
    dataOpens.incrementAndGet()
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
    // Projection of the file schema (file field types win, so storage
    // units are preserved). Columns absent from the file are skipped and
    // read as NULL — the wide-column sparse-attribute model (reference
    // Tablestore rows carry only the columns they have,
    // `TableStoreRelation.scala:290-361`).
    val projection = new MessageType(fileType.getName,
      effSchema.fieldNames.filter(fileType.containsField)
        .map(c => fileType.getType(fileType.getFieldIndex(c))): _*)
    reader.setRequestedSchema(projection)
    var toSkip = skipRowGroups
    while (toSkip > 0) { reader.skipNextRowGroup(); toSkip -= 1 }
    val compatFilter = filter.map(FilterCompat.get).getOrElse(FilterCompat.NOOP)
    // Spark's own row converter decodes; absent columns stay null
    val widen = effSchema.fields.map(f =>
      if (!projection.containsField(f.name)) None
      else storedAsLong(projection.getType(projection.getFieldIndex(f.name)), f.dataType))
    val requested = StructType(effSchema.fields.zip(widen).map { case (f, w) =>
      if (w.isDefined) f.copy(dataType = LongType) else f })
    val conf = sparkReadConf(requested)
    val support = new ParquetReadSupport(None, false,
      RebaseSpec(LegacyBehaviorPolicy.CORRECTED), RebaseSpec(LegacyBehaviorPolicy.CORRECTED))
    // init records the requested Spark schema; the parquet projection
    // handed to prepareForRead stays the exact-name one above
    support.init(new InitContext(conf,
      java.util.Collections.emptyMap[String, java.util.Set[String]](), fileType))
    val materializer = support.prepareForRead(conf,
      java.util.Collections.emptyMap[String, String](), fileType,
      new ReadSupport.ReadContext(projection))
    val columnIO = new ColumnIOFactory().getColumnIO(projection)
    val fixUp: InternalRow => InternalRow =
      if (widen.forall(_.isEmpty)) identity
      else {
        val out = new GenericInternalRow(requested.length)
        val types = requested.fields.map(_.dataType)
        r => {
          types.indices.foreach(i => out.update(i,
            if (r.isNullAt(i)) null else widen(i).fold(r.get(i, types(i)))(_(r.getLong(i)))))
          out
        }
      }

    // The converter reuses one row for every record: fetch in hasNext,
    // so next() never overwrites the row it returns.
    new Iterator[InternalRow] with AutoCloseable {
      private var records: org.apache.parquet.io.RecordReader[InternalRow] = _
      private var remaining = 0L
      private var nextRow: InternalRow = _
      private var exhausted = false
      override def hasNext: Boolean = {
        while (nextRow == null && !exhausted) {
          if (remaining == 0) {
            val pages = reader.readNextFilteredRowGroup()
            if (pages == null) exhausted = true
            else {
              records = columnIO.getRecordReader(pages, materializer, compatFilter)
              remaining = pages.getRowCount
            }
          } else {
            val r = records.read()
            remaining -= 1
            // filtered-out records materialize as null
            if (r != null && !records.shouldSkipCurrentRecord) nextRow = fixUp(r)
          }
        }
        nextRow != null
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("end of parquet file")
        val r = nextRow
        nextRow = null
        r
      }
      override def close(): Unit = reader.close()
    }
  }

  /** Writer for one part file: Spark's own `ParquetWriteSupport`, so the
    * file is what `spark.read.parquet` and the vectorized reader expect
    * (every column optional, non-legacy LIST/MAP, micros timestamps,
    * INT32/INT64/fixed-length decimals by precision). SNAPPY; OVERWRITE
    * mode, so a replayed streaming epoch rewrites its files in place.
    * `rowGroupBytes` bounds row-group size (specs shrink it to force
    * multi-group files for seek/split coverage).
    */
  def openWriter(file: Path, schema: StructType,
      rowGroupBytes: Long = ParquetWriter.DEFAULT_BLOCK_SIZE.toLong): ParquetWriter[InternalRow] = {
    schema.fields.foreach(f => checkWritable(f.dataType, f.name))
    val conf = hadoopConf
    ParquetWriteSupport.setSchema(nullable(schema).asInstanceOf[StructType], conf)
    conf.setBoolean(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, false)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    conf.setBoolean(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, false)
    conf.setBoolean(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, false)
    new RowWriterBuilder(file)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(rowGroupBytes)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
  }

  private class RowWriterBuilder(file: Path)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Refuse, naming the column, a type the kv/log readers would not read
    * back as itself (`KvSource.toStructType`): byte, short, intervals,
    * variant, ….
    */
  private def checkWritable(dt: DataType, column: String): Unit = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType | StringType |
        BinaryType | TimestampType | TimestampNTZType | DateType | _: DecimalType =>
    case ArrayType(et, _) => checkWritable(et, column)
    case MapType(kt, vt, _) => checkWritable(kt, column); checkWritable(vt, column)
    case st: StructType => st.fields.foreach(f => checkWritable(f.dataType, column))
    case other => throw new IllegalArgumentException(
      s"unsupported kv/log type $other in column $column")
  }

  /** Every field, element and value nullable: the files keep one
    * (optional) layout whatever the writing plan's nullability.
    */
  private def nullable(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => ArrayType(nullable(et), containsNull = true)
    case MapType(kt, vt, _) => MapType(nullable(kt), nullable(vt), valueContainsNull = true)
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case other => other
  }

  def deletePath(path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
