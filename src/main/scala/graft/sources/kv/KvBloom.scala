package graft.sources.kv

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col, first, xxhash64}
import org.apache.spark.sql.sources._
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
  * Build: ONE distributed pass — `groupBy(_file)` with the
  * variable-width aggregate sizes every file's filter from ITS OWN
  * footer row count (a skewed table no longer costs numFiles × the
  * largest file's width), and shard files are written by EXECUTORS
  * (repartition on shard id), so the driver never materializes the
  * bitsets. At cluster scale this runs per table-partition in the same
  * maintenance window as compaction/bucketize.
  */
object KvBloom {

  val SidecarName = "bloom"

  case class ColBloom(bits: Array[Byte], numBits: Int, numHashes: Int) {
    def mightContain(hash: Long): Boolean =
      BloomFilterSketch.probeHit(bits, hash, numBits, numHashes)
  }

  /** Per-file width: rows × bitsPerKey rounded up to a multiple of 64,
    * floor 64 (empty/tiny files get the minimum filter).
    */
  private def widthFor(rows: Long, bitsPerKey: Int): Long =
    math.max(64L, (rows * bitsPerKey + 63) / 64 * 64)

  /** Build (or rebuild) per-file Bloom filters for `cols` in ONE
    * distributed pass (see object scaladoc). `bitsPerKey` ≈ 10 gives
    * ~1% false positives with 7 probes.
    */
  def build(spark: SparkSession, tablePath: String, cols: Seq[String],
      bitsPerKey: Int = 10): Unit = {
    require(cols.nonEmpty, "bloom build needs at least one column")
    require(bitsPerKey >= 1 && bitsPerKey <= 64, s"bitsPerKey out of range: $bitsPerKey")
    val numHashes = math.max(1, math.round(bitsPerKey * 0.693).toInt)
    val files = ParquetIO.listFilesStatus(tablePath)
    val numShards = KvSidecar.numShardsFor(files.length)
    val meta: JValue =
      JObject("numShards" -> JInt(numShards),
        "columns" -> JArray(cols.map(JString(_)).toList),
        "numHashes" -> JInt(numHashes),
        // recorded so a maintenance rebuild (KvMerge.rebuildIndexes)
        // can re-run this build with the same parameters
        "bitsPerKey" -> JInt(bitsPerKey))
    if (files.isEmpty) {
      KvSidecar.publish(tablePath, SidecarName, meta)(_ => ())
      return
    }
    // driver-side per-file widths from cached footers (no data pages)
    val widths = files.map { case (f, len, mtime) =>
      val rows = ParquetIO.footer(f, len, mtime).rowCount
      val nb = widthFor(rows, bitsPerKey)
      require(nb <= Int.MaxValue,
        s"bloom width $nb exceeds Int range — lower bitsPerKey or split files")
      (f.toString, len, mtime, nb)
    }
    import spark.implicits._
    val widthDf = widths.toDF("__file", "__len", "__mtime", "__nb")
    val df = spark.read.format("kv").option("path", tablePath).load()
    val aggs = cols.map { c =>
      BloomFilterSketch.bloomAggVar(xxhash64(col(c)), col("__nb"), numHashes).as(c)
    } ++ Seq(first(col("__len")).as("__len"), first(col("__mtime")).as("__mtime"),
      first(col("__nb")).as("__nb"))
    val colsArr = cols.toArray
    // persisted: the covered-set collect and the shard-writing
    // foreachPartition are TWO actions over this plan — caching keeps
    // the build one distributed scan and pins both actions to the same
    // snapshot of the listing (a file appended between two uncached
    // jobs could otherwise land both a real and an all-zero entry)
    val grouped = df.select(col("_file") +: cols.map(col): _*)
      .join(broadcast(widthDf), col("_file") === col("__file"))
      .groupBy(col("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // (shard, jsonl line) per covered file; files absent from the
    // grouped output hold zero rows — all-zero minimal filter (they
    // contain nothing: prune everything)
    val groupedLines = grouped.map { r =>
      val fileName = new Path(r.getString(0)).getName
      val entry = entryJson(colsArr.zipWithIndex.map { case (c, i) =>
        c -> ColBloom(r.getAs[Array[Byte]](i + 1),
          r.getAs[Long](colsArr.length + 3).toInt, numHashes)
      }.toMap)
      (KvSidecar.shardOf(fileName, numShards),
        KvSidecar.entryLine(fileName, r.getAs[Long](colsArr.length + 1),
          r.getAs[Long](colsArr.length + 2), entry))
    }
    try {
    val covered = grouped.select(col("_file")).as[String].collect().toSet
    val emptyLines = spark.createDataset(widths.filterNot(w => covered.contains(w._1))
      .map { case (f, len, mtime, nb) =>
        val fileName = new Path(f).getName
        val entry = entryJson(
          cols.map(_ -> ColBloom(new Array[Byte](nb.toInt / 8), nb.toInt, numHashes)).toMap)
        (KvSidecar.shardOf(fileName, numShards),
          KvSidecar.entryLine(fileName, len, mtime, entry))
      })
    val lines = groupedLines.union(emptyLines)
    KvSidecar.publish(tablePath, SidecarName, meta) { tmp =>
      val tmpStr = tmp.toString
      // all lines of one shard land in one partition (hash repartition
      // on the shard id); each task writes the shard files it owns
      lines.repartition(math.min(numShards, 64), col("_1"))
        .foreachPartition { (it: Iterator[(Int, String)]) =>
          val fs = new Path(tmpStr).getFileSystem(ParquetIO.hadoopConf)
          val writers = scala.collection.mutable.Map.empty[Int, java.io.BufferedWriter]
          try {
            it.foreach { case (k, line) =>
              val w = writers.getOrElseUpdate(k, new java.io.BufferedWriter(
                new java.io.OutputStreamWriter(
                  fs.create(new Path(tmpStr, KvSidecar.shardFileName(k)), true),
                  java.nio.charset.StandardCharsets.UTF_8)))
              w.write(line); w.write("\n")
            }
          } finally writers.values.foreach(w => scala.util.Try(w.close()))
        }
    }
    } finally { grouped.unpersist(); () }
  }

  /** Incremental maintenance — the `KvIndex.append` discipline for the
    * Bloom tier: hash ONLY the uncovered files' rows. The distributed
    * pass scans the delta through the normal kv read plane (the
    * `maintenance.files` allowlist restricts planning to those files —
    * same coercions, same hashing chain as [[build]]), untouched shards
    * are byte-copied, and only shards receiving entries re-serialize.
    *
    * Delta blooms are collected to the driver before the merge —
    * bounded by |new files| · rows·bitsPerKey/8 bytes, fine for the
    * incremental case this exists for; a full-table change should run
    * [[build]]'s executor-written streaming path instead. Refuses a
    * missing or tombstoned sidecar (post-widening, the rebuild hook
    * owns recovery — appending into a stale hash domain would poison
    * it). Returns the number of newly covered files.
    */
  def append(spark: SparkSession, tablePath: String): Int = {
    val sc = KvSidecar.open(tablePath, SidecarName).getOrElse(
      throw new IllegalStateException(
        s"no live bloom sidecar on $tablePath — run KvBloom.build first"))
    val cols = (sc.meta \ "columns") match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _ => throw new IllegalStateException(
        s"bloom meta on $tablePath records no columns")
    }
    // legacy metas (pre-round-9 builds) may lack bitsPerKey — default
    // like KvMerge.rebuildIndexes does, instead of a MappingException
    def intOr(field: String, dflt: Int): Int = (sc.meta \ field) match {
      case JInt(v) => v.toInt
      case _ => dflt
    }
    val bitsPerKey = intOr("bitsPerKey", 10)
    val numHashes = intOr("numHashes",
      math.max(1, math.round(bitsPerKey * 0.693).toInt))
    val live = ParquetIO.listFilesStatus(tablePath)
    val newFiles = live.filter { case (f, len, mt) =>
      sc.entryFor(f.getName, len, mt).isEmpty }
    if (newFiles.isEmpty) return 0
    val widths = newFiles.map { case (f, len, mtime) =>
      val rows = ParquetIO.footer(f, len, mtime).rowCount
      val nb = widthFor(rows, bitsPerKey)
      require(nb <= Int.MaxValue,
        s"bloom width $nb exceeds Int range — lower bitsPerKey or split files")
      (f.toString, len, mtime, nb)
    }
    import spark.implicits._
    val widthDf = widths.toDF("__file", "__len", "__mtime", "__nb")
    val df = spark.read.format("kv").option("path", tablePath)
      .option("maintenance.files", newFiles.map(_._1.getName).mkString(","))
      .load()
    val aggs = cols.map { c =>
      BloomFilterSketch.bloomAggVar(xxhash64(col(c)), col("__nb"), numHashes).as(c)
    } ++ Seq(first(col("__len")).as("__len"), first(col("__mtime")).as("__mtime"),
      first(col("__nb")).as("__nb"))
    val colsArr = cols.toArray
    val hashed = df.select(col("_file") +: cols.map(col): _*)
      .join(broadcast(widthDf), col("_file") === col("__file"))
      .groupBy(col("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val fileName = new Path(r.getString(0)).getName
        (fileName, r.getAs[Long](colsArr.length + 1),
          r.getAs[Long](colsArr.length + 2),
          entryJson(colsArr.zipWithIndex.map { case (c, i) =>
            c -> ColBloom(r.getAs[Array[Byte]](i + 1),
              r.getAs[Long](colsArr.length + 3).toInt, numHashes)
          }.toMap))
      }.toSeq
    // new files holding zero rows never reach the grouped output: they
    // get the minimal all-zero filter (contain nothing → prune all)
    val hashedNames = hashed.map(_._1).toSet
    val empties = widths.filterNot(w => hashedNames.contains(new Path(w._1).getName))
      .map { case (f, len, mtime, nb) =>
        (new Path(f).getName, len, mtime, entryJson(
          cols.map(_ -> ColBloom(new Array[Byte](nb.toInt / 8), nb.toInt,
            numHashes)).toMap))
      }
    val newEntries = hashed ++ empties
    val numShards = KvSidecar.numShardsFor(live.length)
    val meta: JValue = JObject("numShards" -> JInt(numShards),
      "columns" -> JArray(cols.map(JString(_)).toList),
      "numHashes" -> JInt(numHashes), "bitsPerKey" -> JInt(bitsPerKey))
    KvSidecar.publish(tablePath, SidecarName, meta) { tmp =>
      KvSidecar.mergeEntries(sc, tmp.getFileSystem(ParquetIO.hadoopConf),
        tmp, numShards, live, newEntries)
    }
    newFiles.length
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
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64Function}
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
