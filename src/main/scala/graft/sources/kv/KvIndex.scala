package graft.sources.kv

import org.apache.hadoop.fs.Path
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.sources._
import org.json4s.{JArray, JInt, JObject, JString}
import graft.sources.ParquetIO

/** Secondary "search index" for kv tables — the reference's search-index
  * compute mode re-expressed storage-side (`TableStoreRelation.scala:
  * 364-438`, `SearchIndexSuite.scala:69-108`): with an index present the
  * source *satisfies* eligible pushed filters (they are not reported as
  * residuals, so Spark plans no re-filter) and negotiates only the true
  * leftovers back.
  *
  * The index is a per-column zone map persisted beside the table
  * (sharded `_index/zonemap/` [[KvSidecar]] layout): per (file, row
  * group) the column chunk's
  * min/max/null-count lifted from parquet footers — built without reading
  * data pages, O(row groups) small, and used at PLANNING time to drop row
  * groups before tasks are scheduled (parquet's own stats skipping only
  * helps after a task has started). Satisfaction is legitimate because
  * every compiled predicate is exact (KvFilters converts literals
  * per-operator, including lossy timestamp units) and applied at record
  * level in the scan.
  *
  * Index staleness is safe by construction: files not covered by the map
  * are never pruned, and filter satisfaction rests on the record-level
  * predicate, not the map.
  */
object KvIndex {

  case class Zone(min: Option[Any], max: Option[Any], nullsOnly: Boolean)

  /** Per-file zones straight from footer column statistics (the cached
    * `ParquetIO.footer(...).stats` values) — lets `mayMatch` prune whole
    * FILES against runtime (DPP-style) join-key filters without an index
    * sidecar. Raw parquet stat types normalize to the comparator domain
    * `cmp` understands; anything else yields an unbounded zone (kept).
    */
  def zonesFromStats(stats: Map[String, ParquetIO.ColStats]): Map[String, Zone] = {
    def conv(v: Any): Option[Any] = v match {
      case l: java.lang.Long => Some(l.longValue)
      case i: java.lang.Integer => Some(i.longValue)
      case d: java.lang.Double => Some(d.doubleValue)
      case f: java.lang.Float => Some(f.doubleValue)
      case b: org.apache.parquet.io.api.Binary => Some(b.toStringUsingUTF8)
      case _ => None
    }
    stats.map { case (col, s) =>
      col -> Zone(s.min.flatMap(conv), s.max.flatMap(conv), nullsOnly = false)
    }
  }

  /** per-row-group zones of one file: startByte → column → zone. */
  type FileZones = Map[Long, Map[String, Zone]]

  val SidecarName = "zonemap"

  /** Build (or rebuild) the zone-map index for `cols` from parquet
    * footers only — persisted in the sharded [[KvSidecar]] layout
    * (`_index/zonemap/`), per-file entries validated by (len, mtime) at
    * probe time (the [[KvBloom]] staleness discipline). A live index on
    * the same column list is reused ([[KvSidecar.rebuildCurrent]]): only
    * uncovered files' footers are read, entries of gone files are
    * dropped, and a current index publishes nothing.
    */
  def build(tablePath: String, cols: Seq[String]): Unit = {
    if (KvSidecar.rebuildCurrent(tablePath, SidecarName, KvSidecar.columnsOf(_) == cols)(
        entriesFor(_, cols))) return
    val files = ParquetIO.listFilesStatus(tablePath)
    val entries = entriesFor(files, cols)
    val numShards = KvSidecar.numShardsFor(files.length)
    val meta = JObject("numShards" -> JInt(numShards), "columns" -> JArray(cols.map(JString(_)).toList))
    KvSidecar.publish(tablePath, SidecarName, meta) { tmp =>
      KvSidecar.stageEntries(tmp.getFileSystem(ParquetIO.hadoopConf), tmp,
        numShards, entries.iterator)
    }
  }

  /** Incremental maintenance for files the kv writer did not cover
    * (written by other writers): index only the files the existing
    * sidecar does not cover (new appends, or rewritten bytes under a
    * reused name) and merge them in through [[KvSidecar.coverUncovered]]
    * — footer I/O is O(new files), untouched shards are BYTE-COPIED, and
    * only shards receiving new entries are re-serialized. When the live
    * file count moves the shard-count budget
    * ([[KvSidecar.numShardsFor]]), every still-valid entry is re-sharded
    * (no footer re-reads — entries re-serialize from the old shards).
    * Entries for deleted files are dropped on the re-shard path and are
    * harmless meanwhile (signature-validated, never served). After a kv
    * write to a live index it finds nothing to do.
    *
    * Returns the number of newly indexed files. Requires an existing,
    * non-tombstoned index — the recorded columns are the contract; a
    * missing index means [[build]] (and after schema evolution the
    * tombstone keeps config but refuses service, so append refuses
    * too instead of mixing hash/type domains).
    */
  def append(tablePath: String): Int =
    KvSidecar.coverUncovered(tablePath, SidecarName, ParquetIO.listFilesStatus(tablePath)) {
        (meta, uncovered) =>
      val cols = KvSidecar.columnsOf(meta)
      require(cols.nonEmpty, s"zone-map meta on $tablePath records no columns")
      entriesFor(uncovered, cols)
    }.getOrElse(throw new IllegalStateException(
      s"no live zone-map index on $tablePath — run KvIndex.build first"))

  /** Commit side of a kv write: the committed files (`written`, by name)
    * that a live index does not cover yet join it, from the same cached
    * footers the planner reads next.
    */
  private[kv] def coverWritten(tablePath: String, written: Set[String],
      live: => Seq[(Path, Long, Long)]): Unit =
    KvSidecar.coverUncovered(tablePath, SidecarName, live) { (meta, uncovered) =>
      entriesFor(uncovered.filter(f => written(f._1.getName)), KvSidecar.columnsOf(meta))
    }

  /** Footer-only zone extraction for `files` — the shared walk behind
    * [[build]] (all files), [[append]] and the kv writer's commit (new
    * files only). Reads the signature-cached [[ParquetIO.footer]], so a
    * file the planner has already seen costs no second open.
    */
  private def entriesFor(files: Seq[(Path, Long, Long)], cols: Seq[String])
      : Seq[KvSidecar.Entry] = {
    import scala.jdk.CollectionConverters._
    def widen(v: Any): Option[Any] = v match {
      case i: java.lang.Integer => Some(i.longValue())
      case l: java.lang.Long => Some(l.longValue())
      case fl: java.lang.Float => Some(fl.doubleValue())
      case d: java.lang.Double => Some(d.doubleValue())
      case _ => None
    }
    files.map { case (f, len, mtime) =>
      val ft = ParquetIO.footer(f, len, mtime)
      // file column order, so entry JSON keeps the footer's column order
      val indexed = ft.schema.getColumns.asScala
        .map(c => (c.getPath.mkString("."), c.getPrimitiveType))
        .filter { case (name, _) => cols.contains(name) }
      val groups = ft.groups.map { g =>
        val byCol = indexed.flatMap { case (name, tpe) =>
          g.stats.get(name).map {
            case ParquetIO.ColStats(_, Some(mn), Some(mx)) =>
              val (zmn, zmx) = tpe.getPrimitiveTypeName match {
                case PrimitiveTypeName.INT64 | PrimitiveTypeName.INT32 |
                     PrimitiveTypeName.DOUBLE | PrimitiveTypeName.FLOAT =>
                  (widen(mn), widen(mx))
                case PrimitiveTypeName.BINARY =>
                  val str = tpe.stringifier()
                  (Option[Any](str.stringify(mn.asInstanceOf[Binary])),
                    Option[Any](str.stringify(mx.asInstanceOf[Binary])))
                case _ => (None, None)
              }
              name -> Zone(zmn, zmx, nullsOnly = false)
            case s => name -> Zone(None, None, nullsOnly = s.nullCount.contains(g.rowCount))
          }
        }.toMap
        g.startByte -> byCol
      }.toMap
      (f.getName, len, mtime, entryJson(groups))
    }
  }

  /** Indexed column names, or empty if no index exists — one cached
    * meta.json read, no shard touched.
    */
  def indexedColumns(tablePath: String): Set[String] =
    KvSidecar.readMeta(tablePath, SidecarName)
      .map(KvSidecar.columnsOf(_).toSet).getOrElse(Set.empty)

  /** Resolved read handle for one planning pass. */
  final class ZoneReader(shards: KvSidecar.SidecarShards) {
    /** Zones of a live file, or None when uncovered/stale (keep all). */
    def zonesFor(fileName: String, len: Long, mtime: Long): Option[FileZones] =
      shards.entryFor(fileName, len, mtime).flatMap(e =>
        scala.util.Try(parseEntry(e)).toOption)
  }

  /** Open the table's zone-map sidecar, or None when absent. */
  def reader(tablePath: String): Option[ZoneReader] =
    KvSidecar.open(tablePath, SidecarName).map(new ZoneReader(_))

  // ---- filter satisfaction ----

  /** Columns a filter references. */
  def referencedColumns(f: Filter): Set[String] = f.references.toSet

  /** True if the index satisfies `f`: every referenced column is indexed
    * and the filter compiles to an exact record-level parquet predicate
    * (checked by the caller via KvFilters). Mirrors the reference's
    * eligible-operator set (eq/neq/range/in on indexed columns).
    */
  def satisfies(f: Filter, indexed: Set[String]): Boolean =
    indexed.nonEmpty && referencedColumns(f).nonEmpty && referencedColumns(f).subsetOf(indexed)

  // ---- planning-time row-group pruning ----

  /** Can a row group possibly contain a matching record? Conservative
    * three-valued evaluation against the zone (unknown ⇒ keep).
    * Timestamp/date columns are left to the record-level filter (their
    * literals need unit conversion) — zones carry long/double/string.
    */
  def mayMatch(f: Filter, zones: Map[String, Zone]): Boolean = {
    // Filter values arrive in the column's Catalyst type (Int/Short/Byte
    // for narrow int columns, Float); zones normalize stats to Long /
    // Double / String. Widen the filter side the same way or every
    // comparison on an int-keyed column is None and pruning no-ops.
    def norm(v: Any): Any = v match {
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case f: Float => f.toDouble
      case other => other
    }
    def cmp(a0: Any, b0: Any): Option[Int] = (norm(a0), norm(b0)) match {
      case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
      case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
      case (x: Double, y: Long) => Some(java.lang.Double.compare(x, y.toDouble))
      case (x: Long, y: Double) => Some(java.lang.Double.compare(x.toDouble, y))
      // parquet string stats are unsigned-byte-lexicographic; that equals
      // String.compareTo only within ASCII — keep (don't prune) otherwise
      case (x: String, y: String) if x.forall(_ < 128) && y.forall(_ < 128) =>
        Some(x.compareTo(y))
      case _ => None
    }
    def zone(col: String): Option[Zone] = zones.get(col)
    def evalLeaf(col: String, v: Any, lo: Boolean, hi: Boolean, eq: Boolean): Boolean =
      zone(col) match {
        case Some(Zone(Some(mn), Some(mx), _)) =>
          (cmp(v, mn), cmp(v, mx)) match {
            case (Some(cl), Some(ch)) =>
              // value relative to [mn, mx]: keep if requested region overlaps
              val canEq = cl >= 0 && ch <= 0
              val canLt = cl > 0 // some value < v exists (mn < v)
              val canGt = ch < 0 // some value > v exists (mx > v)
              (eq && canEq) || (lo && canLt) || (hi && canGt)
            case _ => true
          }
        case Some(Zone(_, _, nullsOnly)) if nullsOnly => false // comparisons never match nulls
        case _ => true
      }
    f match {
      case And(l, r) => mayMatch(l, zones) && mayMatch(r, zones)
      case Or(l, r) => mayMatch(l, zones) || mayMatch(r, zones)
      case EqualTo(c, v) => evalLeaf(c, v, lo = false, hi = false, eq = true)
      case GreaterThan(c, v) => evalLeaf(c, v, lo = false, hi = true, eq = false)
      case GreaterThanOrEqual(c, v) => evalLeaf(c, v, lo = false, hi = true, eq = true)
      case LessThan(c, v) => evalLeaf(c, v, lo = true, hi = false, eq = false)
      case LessThanOrEqual(c, v) => evalLeaf(c, v, lo = true, hi = false, eq = true)
      case In(c, vs) => vs.exists(v => evalLeaf(c, v, lo = false, hi = false, eq = true))
      case _ => true // Not/IsNull/StartsWith/unknown: keep
    }
  }

  // ---- per-file entry encoding (json4s, Spark's bundled JSON) ----

  private def entryJson(groups: FileZones): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    def zoneJson(z: Zone): org.json4s.JValue =
      ("min" -> lit(z.min)) ~ ("max" -> lit(z.max)) ~ ("nullsOnly" -> z.nullsOnly)
    val gs: org.json4s.JValue = groups.map { case (pos, byCol) =>
      pos.toString -> byCol.map { case (c, z) => c -> zoneJson(z) }
    }
    JsonMethods.compact(JsonMethods.render(("groups" -> gs)))
  }

  private def lit(v: Option[Any]): org.json4s.JValue = {
    import org.json4s.JsonDSL._
    v match {
      case Some(l: Long) => ("t" -> "l") ~ ("v" -> l)
      case Some(d: Double) => ("t" -> "d") ~ ("v" -> d)
      case Some(s: String) => ("t" -> "s") ~ ("v" -> s)
      case _ => org.json4s.JNull
    }
  }

  private def parseEntry(entry: String): FileZones = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    def unlit(j: JValue): Option[Any] = j match {
      case JObject(fields) =>
        val m = fields.toMap
        (m.get("t"), m.get("v")) match {
          case (Some(JString("l")), Some(v)) => Some(v.extract[Long])
          case (Some(JString("d")), Some(v)) => Some(v.extract[Double])
          case (Some(JString("s")), Some(JString(s))) => Some(s)
          case _ => None
        }
      case _ => None
    }
    JsonMethods.parse(entry) \ "groups" match {
      case JObject(gs) => gs.map { case (pos, byCol) =>
        pos.toLong -> (byCol match {
          case JObject(cs) => cs.map { case (c, z) =>
            c -> Zone(unlit(z \ "min"), unlit(z \ "max"),
              (z \ "nullsOnly").extractOrElse[Boolean](false))
          }.toMap
          case _ => Map.empty[String, Zone]
        })
      }.toMap
      case _ => Map.empty[Long, Map[String, Zone]]
    }
  }
}
