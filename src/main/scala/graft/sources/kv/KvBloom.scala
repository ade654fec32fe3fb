package graft.sources.kv

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions.{broadcast, col, first, lit, xxhash64}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.functions.BloomFilterSketch
import graft.sources.ParquetIO

/** Per-FILE Bloom filters for kv point lookups — the complement of the
  * zone-map search index ([[KvIndex]]): zone maps prune by min/max, so
  * on an UNCLUSTERED column (every file's range spans the whole domain)
  * they prune nothing, while a Bloom filter answers "this file
  * definitely does not contain value v" regardless of layout. With the
  * sidecar present, `EqualTo`/`In` predicates on bloomed columns drop
  * whole files at PLANNING time — the point-lookup path over a 100 TB
  * unsorted table touches only the files that might hold the key,
  * without rewriting the table into a clustered layout.
  *
  * Safety is the [[KvIndex]] contract: pruning is three-valued and
  * conservative (files without an entry are never pruned, non-equality
  * predicates never consult the filter), false negatives are impossible
  * by construction, and false positives only cost a scan that the
  * record-level predicate then empties. Entries carry the covered
  * file's (len, mtime) and are validated against the live listing at
  * probe time — a part-file NAME reused by a later driver session
  * (overwrite-mode writers) invalidates its entry instead of silently
  * pruning keys the new bytes contain.
  *
  * Storage is the sharded [[KvSidecar]] layout (`_index/bloom/`):
  * per-file entries in ~64-entry shard files, parsed once per signature
  * JVM-wide — planning cost is cache lookups, not a monolithic
  * multi-MB JSON re-parse per plan.
  *
  * Hashing: `xxhash64(col)` (Spark's codegen'd built-in, seed 42) on
  * the build side, replayed value-side at probe time via
  * `XxHash64Function` — then [[BloomFilterSketch]]'s splitmix double
  * hashing for probe positions. One deterministic chain, no per-row UDF.
  *
  * Maintenance: the kv writer keeps a LIVE sidecar current itself — its
  * tasks hash every written row ([[FileHasher]]) and the job or epoch
  * commit publishes the new files' entries, the way the reference's
  * search index is kept current by the store as rows land; a `KvMerge`
  * rewrite carries the sidecar into the directory it writes, so its
  * tasks do the same. [[append]] serves the files written outside it
  * (other writers, or a write whose hash domain differs from the
  * table's); [[build]] reuses a current sidecar's entries and otherwise
  * runs ONE distributed pass — `groupBy(_file)` with the variable-width
  * aggregate sizes every file's filter from ITS OWN footer row count (a
  * skewed table no longer costs numFiles × the largest file's width),
  * and shard files are written by EXECUTORS (repartition on shard id),
  * so the driver never materializes the bitsets. All three write the
  * same entry for a file ([[Conf.entry]]).
  */
object KvBloom {

  val SidecarName = "bloom"

  case class ColBloom(bits: Array[Byte], numBits: Int, numHashes: Int) {
    def mightContain(hash: Long): Boolean =
      BloomFilterSketch.probeHit(bits, hash, numBits, numHashes)
  }

  /** What a bloom sidecar indexes, as its meta records it — the one
    * definition of the per-file width, the meta and the entry that
    * [[build]], [[append]] and the kv writer publish.
    */
  case class Conf(cols: Seq[String], bitsPerKey: Int, numHashes: Int) {
    /** Per-file width: rows × bitsPerKey rounded up to a multiple of 64,
      * floor 64 (empty/tiny files get the minimum filter).
      */
    def width(rows: Long): Int = {
      val nb = math.max(64L, (rows * bitsPerKey + 63) / 64 * 64)
      require(nb <= Int.MaxValue,
        s"bloom width $nb exceeds Int range — lower bitsPerKey or split files")
      nb.toInt
    }

    def meta(numShards: Int): JValue =
      JObject("numShards" -> JInt(numShards),
        "columns" -> JArray(cols.map(JString(_)).toList),
        "numHashes" -> JInt(numHashes),
        // recorded so a maintenance rebuild (KvMerge.rebuildIndexes)
        // can re-run this build with the same parameters
        "bitsPerKey" -> JInt(bitsPerKey))

    /** One file's entry: column i's packed filter is `bits(i)` at
      * `width(rows)`; an empty array is the all-zero filter (a file with
      * no rows contains nothing — every lookup prunes it).
      */
    def entry(rows: Long)(bits: Int => Array[Byte]): String = {
      val nb = width(rows)
      entryJson(cols.indices.map { i =>
        val b = bits(i)
        cols(i) -> ColBloom(if (b.isEmpty) new Array[Byte](nb / 8) else b, nb, numHashes)
      }.toMap)
    }
  }

  object Conf {
    def apply(cols: Seq[String], bitsPerKey: Int): Conf =
      Conf(cols, bitsPerKey, math.max(1, math.round(bitsPerKey * 0.693).toInt))

    /** The conf a meta records, None when it records no columns. Legacy
      * (pre-round-9) metas lack bitsPerKey/numHashes: build's defaults.
      */
    def of(meta: JValue): Option[Conf] = {
      def intOr(field: String, dflt: => Int): Int = (meta \ field) match {
        case JInt(v) => v.toInt
        case _ => dflt
      }
      val cols = KvSidecar.columnsOf(meta)
      val bpk = intOr("bitsPerKey", 10)
      if (cols.isEmpty) None
      else Some(Conf(cols, bpk, intOr("numHashes", Conf(cols, bpk).numHashes)))
    }
  }

  /** Build (or rebuild) per-file Bloom filters for `cols`. `bitsPerKey`
    * ≈ 10 gives ~1% false positives with 7 probes. A live sidecar that
    * records this same [[Conf]] is reused ([[KvSidecar.rebuildCurrent]]):
    * only files without a valid entry are hashed, entries of gone files
    * are dropped, and a current sidecar costs one listing and no Spark
    * job — the state a kv write or a `KvMerge` rewrite leaves. Otherwise
    * (absent, tombstoned, another conf) every file is hashed in ONE
    * distributed pass (see object scaladoc).
    */
  def build(spark: SparkSession, tablePath: String, cols: Seq[String],
      bitsPerKey: Int = 10): Unit = {
    require(cols.nonEmpty, "bloom build needs at least one column")
    require(bitsPerKey >= 1 && bitsPerKey <= 64, s"bitsPerKey out of range: $bitsPerKey")
    val conf = Conf(cols, bitsPerKey)
    if (KvSidecar.rebuildCurrent(tablePath, SidecarName, Conf.of(_).contains(conf))(
        hashFiles(spark, tablePath, conf, _, allowlist = true).collect().toSeq)) return
    val files = ParquetIO.listFilesStatus(tablePath)
    val numShards = KvSidecar.numShardsFor(files.length)
    import spark.implicits._
    KvSidecar.publish(tablePath, SidecarName, conf.meta(numShards)) { tmp =>
      val tmpStr = tmp.toString
      // all entries of one shard land in one partition (hash repartition
      // on the shard id); each task writes the shard files it owns
      if (files.nonEmpty) hashFiles(spark, tablePath, conf, files, allowlist = false)
        .map(e => (KvSidecar.shardOf(e._1, numShards), e))
        .repartition(math.min(numShards, 64), col("_1"))
        .foreachPartition { (it: Iterator[(Int, KvSidecar.Entry)]) =>
          val dir = new Path(tmpStr)
          KvSidecar.stageEntries(dir.getFileSystem(ParquetIO.hadoopConf), dir, numShards,
            it.map(_._2))
        }
    }
  }

  /** The distributed pass behind [[build]] and [[append]]: every file's
    * entry, hashed through the normal kv read plane (`allowlist`: only
    * `files` are planned, via `maintenance.files` — same coercions, same
    * hashing chain). Each file also joins one unhashed pad row, so a file
    * holding zero rows still reaches the grouped output (all-zero entry).
    */
  private def hashFiles(spark: SparkSession, tablePath: String, conf: Conf,
      files: Seq[(Path, Long, Long)], allowlist: Boolean): Dataset[KvSidecar.Entry] = {
    import spark.implicits._
    val sized = files.map { case (f, len, mtime) =>
      val rows = ParquetIO.footer(f, len, mtime).rowCount
      (f.toString, len, mtime, rows, conf.width(rows).toLong)
    }.toDF("__file", "__len", "__mtime", "__rows", "__nb")
    val read = spark.read.format("kv").option("path", tablePath)
    val df = (if (allowlist) read.option("maintenance.files", files.map(_._1.getName).mkString(","))
      else read).load()
    val hashes = conf.cols.indices.map(i => s"__h$i")
    df.select(col("_file") +: conf.cols.zip(hashes).map { case (c, h) => xxhash64(col(c)).as(h) }: _*)
      .union(sized.select(col("__file") +: hashes.map(h => lit(null).cast("long").as(h)): _*))
      .join(broadcast(sized), col("_file") === col("__file"))
      .groupBy(col("_file"))
      .agg(first(col("__len")), first(col("__mtime")) +: first(col("__rows")) +:
        hashes.map(h => BloomFilterSketch.bloomAggVar(col(h), col("__nb"), conf.numHashes)): _*)
      .map { r =>
        (new Path(r.getString(0)).getName, r.getLong(1), r.getLong(2),
          conf.entry(r.getLong(3))(i => r.getAs[Array[Byte]](4 + i)))
      }
  }

  /** Incremental maintenance for files the kv writer did not cover
    * (written by other writers, or outside the table's hash domain): hash
    * ONLY the uncovered files' rows in one distributed pass and merge
    * their entries in ([[KvSidecar.coverUncovered]] — untouched shards
    * are byte-copied, only shards receiving entries re-serialize). After
    * a kv write to a live sidecar it finds nothing and runs no Spark job.
    *
    * Delta blooms are collected to the driver before the merge —
    * bounded by |new files| · rows·bitsPerKey/8 bytes, fine for the
    * incremental case this exists for; a full-table change should run
    * [[build]]'s executor-written streaming path instead. Refuses a
    * missing or tombstoned sidecar (post-widening, the rebuild hook
    * owns recovery — appending into a stale hash domain would poison
    * it). Returns the number of newly covered files.
    */
  def append(spark: SparkSession, tablePath: String): Int =
    KvSidecar.coverUncovered(tablePath, SidecarName, ParquetIO.listFilesStatus(tablePath)) {
        (meta, uncovered) =>
      val conf = Conf.of(meta).getOrElse(throw new IllegalStateException(
        s"bloom meta on $tablePath records no columns"))
      hashFiles(spark, tablePath, conf, uncovered, allowlist = true).collect().toSeq
    }.getOrElse(throw new IllegalStateException(
      s"no live bloom sidecar on $tablePath — run KvBloom.build first"))

  /** The conf the kv writer hashes a write of `written` with: the live
    * sidecar's, when every bloomed column is written with the type the
    * table schema (`_meta/schema.json`, what the kv reader hands
    * [[append]]) holds for it. Otherwise None — a hash over another type
    * would never match the reader's values, so those files stay
    * uncovered (never pruned) until [[append]] hashes them.
    */
  def writerConf(tablePath: String, written: StructType): Option[Conf] =
    KvSidecar.open(tablePath, SidecarName).flatMap(sc => Conf.of(sc.meta))
      .filter(sameDomain(_, written, KvSchemaMeta.read(tablePath).getOrElse(written)))

  private def sameDomain(conf: Conf, written: StructType, table: StructType): Boolean =
    conf.cols.forall(c => written.find(_.name == c).exists(w =>
      table.find(_.name == c).exists(_.dataType == w.dataType)))

  /** Commit side of a kv write: publish the entries its tasks hashed with
    * `hashed` for the committed files the sidecar does not cover yet —
    * only while the sidecar is still live with that same conf and the
    * table schema just recorded still gives the written types.
    */
  private[kv] def coverWritten(tablePath: String, written: StructType, hashed: Conf,
      entries: Seq[KvSidecar.Entry], live: => Seq[(Path, Long, Long)]): Unit =
    if (KvSchemaMeta.read(tablePath).exists(sameDomain(hashed, written, _)))
      KvSidecar.coverUncovered(tablePath, SidecarName, live) { (meta, uncovered) =>
        val open = uncovered.map { case (f, len, mtime) => (f.getName, len, mtime) }.toSet
        if (!Conf.of(meta).contains(hashed)) Nil
        else entries.filter { case (f, len, mtime, _) => open((f, len, mtime)) }
      }

  /** Task-side hashing for the kv writer: `xxhash64` (seed 42 — a null
    * hashes to 42, as the built-in gives) of every bloomed column of
    * every written row, buffered at 8 B per row per column for the open
    * file, since its width needs the final row count.
    */
  final class FileHasher(conf: Conf, schema: StructType) {
    private val ords = conf.cols.map(schema.fieldIndex).toArray
    private val types = ords.map(schema(_).dataType)
    private var hashes = Array.fill(ords.length)(new Array[Long](64))
    private var rows = 0

    def add(row: InternalRow): Unit = {
      if (rows == hashes(0).length) hashes = hashes.map(java.util.Arrays.copyOf(_, rows * 2))
      var i = 0
      while (i < ords.length) {
        val v = if (row.isNullAt(ords(i))) null else row.get(ords(i), types(i))
        hashes(i)(rows) = XxHash64Function.hash(v, types(i), 42L)
        i += 1
      }
      rows += 1
    }

    /** The entry of `file`, just closed (len and mtime stated now); the
      * buffers then start over for the next file.
      */
    def close(file: Path): KvSidecar.Entry = {
      val nb = conf.width(rows)
      val e = conf.entry(rows) { i =>
        val words = new Array[Long](nb / 64)
        var r = 0
        while (r < rows) {
          BloomFilterSketch.setBits(words, hashes(i)(r), nb, conf.numHashes); r += 1 }
        val out = java.nio.ByteBuffer.allocate(nb / 8)
        words.foreach(out.putLong)
        out.array()
      }
      rows = 0
      val st = file.getFileSystem(ParquetIO.hadoopConf).getFileStatus(file)
      (file.getName, st.getLen, st.getModificationTime, e)
    }
  }

  private def entryJson(byCol: Map[String, ColBloom]): String = {
    val fields = byCol.toSeq.sortBy(_._1).map { case (c, b) =>
      c -> (JObject(
        "bits" -> JString(java.util.Base64.getEncoder.encodeToString(b.bits)),
        "numBits" -> JInt(b.numBits), "numHashes" -> JInt(b.numHashes)): JValue)
    }
    JsonMethods.compact(JsonMethods.render(JObject("cols" -> JObject(fields: _*))))
  }

  /** Resolved read handle for one planning pass (one `listStatus` on the
    * sidecar dir; shard parses are signature-cached JVM-wide).
    */
  final class BloomReader(shards: KvSidecar.SidecarShards) {
    /** Per-column blooms for a live file, or None when uncovered / the
      * entry's (len, mtime) no longer matches — never prune then.
      */
    def bloomsFor(fileName: String, len: Long, mtime: Long): Option[Map[String, ColBloom]] =
      shards.entryFor(fileName, len, mtime).flatMap { e =>
        scala.util.Try {
          JsonMethods.parse(e) \ "cols" match {
            case JObject(cs) => Some(cs.map { case (c, j) =>
              implicit val fmts: Formats = DefaultFormats
              c -> ColBloom(
                java.util.Base64.getDecoder.decode((j \ "bits").extract[String]),
                (j \ "numBits").extract[Int], (j \ "numHashes").extract[Int])
            }.toMap)
            case _ => None
          }
        }.toOption.flatten
      }
  }

  /** Open the table's bloom sidecar, or None when absent/unreadable. */
  def reader(tablePath: String): Option[BloomReader] =
    KvSidecar.open(tablePath, SidecarName).map(new BloomReader(_))

  /** Probe-side hash: replay `xxhash64(value)` for an external filter
    * value. None for types the build side doesn't hash (no pruning).
    */
  def valueHash(v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    v match {
      case null => None
      case _: Long | _: Int | _: Short | _: Byte | _: Double | _: Float |
           _: String | _: Boolean =>
        scala.util.Try {
          val lit = Literal(v)
          XxHash64Function.hash(lit.value, lit.dataType, 42L)
        }.toOption
      case _ => None
    }
  }

  /** Three-valued "may this file match the filter?" — false ONLY when
    * the Bloom filters PROVE no row matches (equality/IN on a bloomed
    * column whose every candidate value is definitely absent).
    */
  def mayMatch(f: Filter, blooms: Map[String, ColBloom]): Boolean = {
    def hit(c: String, v: Any): Boolean = blooms.get(c) match {
      case Some(b) => valueHash(v).forall(b.mightContain)
      case None => true
    }
    f match {
      case And(l, r) => mayMatch(l, blooms) && mayMatch(r, blooms)
      case Or(l, r) => mayMatch(l, blooms) || mayMatch(r, blooms)
      case EqualTo(c, v) => hit(c, v)
      case EqualNullSafe(c, v) if v != null => hit(c, v)
      case In(c, vs) => vs.isEmpty || vs.exists(v => v == null || hit(c, v))
      case _ => true // ranges/null-tests/unknown: the bloom says nothing
    }
  }
}
