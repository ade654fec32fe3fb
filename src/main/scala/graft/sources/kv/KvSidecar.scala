package graft.sources.kv

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.sources.ParquetIO

/** Sharded planning-sidecar layout shared by the kv Bloom filter index
  * ([[KvBloom]]) and the zone-map search index ([[KvIndex]]) — the
  * scale-safe successor of the single `_index/<name>.json` blob.
  *
  * Why sharded: a monolithic sidecar is O(all files) ON THE DRIVER per
  * query plan — the manifest mistake every lakehouse format walked back
  * (Delta checkpoints Parquet-sharded its log, Iceberg split manifests
  * into a manifest list). At a million files one Base64-JSON blob is
  * multi-GB and was re-parsed 2–3× per plan (`estimateStatistics`,
  * `planInputPartitions`, `outputOrdering`). The sharded layout keeps
  * per-parse units bounded (~64 file entries each) and every parse
  * lands in a (path, len, mtime)-signature cache, so repeated plans —
  * and repeated passes within ONE plan — hit memory, not the namenode.
  *
  * Layout under `<table>/_index/<name>/`:
  *   - `meta.json` — `{"numShards": n, ...consumer fields}`
  *   - `shard-<k>.jsonl` — one JSON object per covered file:
  *     `{"file": name, "len": L, "mtime": M, "e": <consumer entry>}`
  *
  * Entries are keyed by file NAME and validated against the live
  * listing's (len, mtime) at probe time: part-file names CAN be reused
  * across driver sessions (`part-<partitionId>-<taskId>` +
  * overwrite-mode writers), and a stale entry consulted for a reused
  * name would prune files on keys they now contain. A signature
  * mismatch reads as "no entry" — never pruned, the only safe meaning.
  *
  * Publish is atomic (stage to a dot-tmp dir, one rename); shard files
  * are immutable once published, which is what makes the signature
  * caches sound. Readers resolve all shard signatures from ONE
  * `listStatus` per planning pass ([[SidecarShards]]).
  */
object KvSidecar {

  /** Shard-file parses since JVM start — the spec hook proving repeated
    * plans hit the cache instead of re-reading the sidecar.
    */
  val parseCount = new java.util.concurrent.atomic.AtomicLong(0L)

  def dirOf(tablePath: String, name: String): Path =
    new Path(tablePath, s"_index/$name")

  /** ~64 file entries per shard, capped so the shard COUNT stays a
    * single directory listing at any table size.
    */
  def numShardsFor(nFiles: Int): Int =
    math.max(1, math.min(256, (nFiles + 63) / 64))

  /** Stable shard assignment by file name (NOT replayed by any oracle —
    * purely a storage layout choice).
    */
  def shardOf(fileName: String, numShards: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(fileName), numShards)

  def shardFileName(k: Int): String = s"shard-$k.jsonl"

  /** One file's entry: (fileName, len, mtime, consumer entry JSON). */
  type Entry = (String, Long, Long, String)

  /** The columns a sidecar meta records (empty when it records none). */
  def columnsOf(meta: JValue): Seq[String] = (meta \ "columns") match {
    case JArray(vs) => vs.collect { case JString(s) => s }
    case _ => Nil
  }

  /** One shard line. `entryJson` is the consumer's compact JSON for the
    * file (written verbatim under `"e"`).
    */
  def entryLine(fileName: String, len: Long, mtime: Long, entryJson: String): String = {
    val key = JsonMethods.compact(JsonMethods.render(JString(fileName)))
    s"""{"file":$key,"len":$len,"mtime":$mtime,"e":$entryJson}"""
  }

  /** Atomically publish a sidecar: `stage` writes shard files into a
    * temp dir, then meta.json lands beside them and ONE rename flips
    * `_index/<name>` to the new state. Any legacy monolithic
    * `_index/<name>.json` from an earlier build is removed.
    */
  def publish(tablePath: String, name: String, metaJson: JValue)(
      stage: Path => Unit): Unit = {
    val dir = dirOf(tablePath, name)
    val fs = dir.getFileSystem(ParquetIO.hadoopConf)
    val tmp = new Path(dir.getParent,
      s".${name}-tmp-${java.util.UUID.randomUUID().toString.replace("-", "")}")
    fs.mkdirs(tmp)
    // a failed stage (e.g. a Spark job dying mid-build) must not leak
    // the staging dir — nothing else ever sweeps dot-tmp dirs
    try {
      stage(tmp)
      val metaOut = fs.create(new Path(tmp, "meta.json"), true)
      try metaOut.write(JsonMethods.compact(JsonMethods.render(metaJson))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally metaOut.close()
    } catch { case t: Throwable =>
      scala.util.Try(fs.delete(tmp, true))
      throw t
    }
    if (fs.exists(dir)) fs.delete(dir, true)
    require(fs.rename(tmp, dir), s"sidecar publish failed for $dir")
    val legacy = new Path(dir.getParent, s"$name.json")
    if (fs.exists(legacy)) fs.delete(legacy, false)
    ()
  }

  // ---- cached reads ----------------------------------------------------
  // meta.json and shard bodies are immutable once published (publish is
  // a whole-directory swap), so both caches key on (path, len, mtime) —
  // the ParquetIO.footer discipline. Bounded by wholesale
  // clearing; sidecars are cheap to re-read.

  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Option[JValue]]()
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      Map[String, (Long, Long, String)]]()
  private val MaxCacheEntries = 65536

  /** Resolved handle for one planning pass: meta + every shard's
    * signature from ONE `listStatus` RPC. `entryFor` then costs a cache
    * lookup per file (first touch of a shard parses it once per
    * signature, JVM-wide).
    */
  final class SidecarShards(
      val meta: JValue,
      val numShards: Int,
      shards: Map[String, (Path, Long, Long)]) {

    /** The raw consumer entry JSON for `fileName`, or None when the file
      * is uncovered OR its signature no longer matches the live listing
      * (stale entry — never prune).
      */
    def entryFor(fileName: String, len: Long, mtime: Long): Option[String] = {
      val sf = shardFileName(shardOf(fileName, numShards))
      shards.get(sf).flatMap { case (p, slen, smtime) =>
        loadShard(p, slen, smtime).get(fileName).collect {
          case (elen, emtime, e) if elen == len && emtime == mtime => e
        }
      }
    }

    /** All entries of shard `k` (fileName → (len, mtime, entryJson)) —
      * the incremental-maintenance read path ([[graft.sources.kv.KvIndex]]
      * `append`): merge new entries into one shard without touching the
      * others.
      */
    def shardEntries(k: Int): Map[String, (Long, Long, String)] =
      shards.get(shardFileName(k)).map { case (p, slen, smtime) =>
        loadShard(p, slen, smtime)
      }.getOrElse(Map.empty)

    /** Copy shard `k`'s file verbatim into `tmpDir` (absent shard = no
      * file, matching [[stageEntries]]' sparse layout). Byte copy, no
      * parse — untouched shards cost I/O proportional to their size,
      * never footer reads.
      */
    def copyShardTo(k: Int, fs: FileSystem, tmpDir: Path): Unit =
      shards.get(shardFileName(k)).foreach { case (p, _, _) =>
        val in = fs.open(p)
        try {
          val out = fs.create(new Path(tmpDir, shardFileName(k)), true)
          try {
            val buf = new Array[Byte](65536)
            var n = in.read(buf)
            while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
          } finally out.close()
        } finally in.close()
      }
  }

  /** Open a sidecar for reading: one `getFileStatus`-free `listStatus`
    * resolves meta + shard signatures. None when absent/unreadable —
    * consumers must treat that as "no index" (no pruning, no
    * satisfaction claims).
    */
  def open(tablePath: String, name: String): Option[SidecarShards] =
    scala.util.Try {
      val dir = dirOf(tablePath, name)
      val fs = dir.getFileSystem(ParquetIO.hadoopConf)
      if (!fs.exists(dir)) None
      else {
        val statuses = fs.listStatus(dir).filter(_.isFile)
          .map(s => s.getPath.getName -> ((s.getPath, s.getLen, s.getModificationTime)))
          .toMap
        statuses.get("meta.json").flatMap { case (p, len, mtime) =>
          readMetaCached(p, len, mtime).flatMap { meta =>
            ((meta \ "stale"), (meta \ "numShards")) match {
              case (JBool(true), _) => None // tombstoned: config only, never serve
              case (_, JInt(n)) =>
                Some(new SidecarShards(meta, n.toInt, statuses - "meta.json"))
              case _ => None
            }
          }
        }
      }
    }.toOption.flatten

  /** meta.json of a sidecar, or None — the cheap existence probe
    * (`KvIndex.indexedColumns` path: one status + cached parse).
    */
  def readMeta(tablePath: String, name: String): Option[JValue] =
    scala.util.Try {
      val p = new Path(dirOf(tablePath, name), "meta.json")
      val fs = p.getFileSystem(ParquetIO.hadoopConf)
      if (!fs.exists(p)) None
      else {
        val st = fs.getFileStatus(p)
        readMetaCached(p, st.getLen, st.getModificationTime)
      }
    }.toOption.flatten

  private def readMetaCached(p: Path, len: Long, mtime: Long): Option[JValue] = {
    if (metaCache.size > MaxCacheEntries) metaCache.clear()
    metaCache.computeIfAbsent((p.toString, len, mtime), _ =>
      scala.util.Try {
        val fs = p.getFileSystem(ParquetIO.hadoopConf)
        val in = fs.open(p)
        val body = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        JsonMethods.parse(body)
      }.toOption)
  }

  /** fileName → (len, mtime, raw entry JSON) for one shard file, parsed
    * once per (path, len, mtime) JVM-wide. A corrupt line drops only
    * itself (its file reads as uncovered — never pruned).
    */
  private def loadShard(p: Path, len: Long, mtime: Long)
      : Map[String, (Long, Long, String)] = {
    if (shardCache.size > MaxCacheEntries) shardCache.clear()
    shardCache.computeIfAbsent((p.toString, len, mtime), _ =>
      scala.util.Try {
        parseCount.incrementAndGet()
        val fs = p.getFileSystem(ParquetIO.hadoopConf)
        val in = fs.open(p)
        val body = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        body.linesIterator.flatMap { line =>
          scala.util.Try {
            val j = JsonMethods.parse(line)
            (j \ "file", j \ "len", j \ "mtime", j \ "e") match {
              case (JString(f), JInt(l), JInt(m), e) =>
                Some(f -> ((l.toLong, m.toLong, JsonMethods.compact(JsonMethods.render(e)))))
              case _ => None
            }
          }.toOption.flatten
        }.toMap
      }.getOrElse(Map.empty))
  }

  /** Spec/bench hook: drop every cached sidecar parse. */
  def clearCaches(): Unit = { metaCache.clear(); shardCache.clear() }

  /** Invalidate a sidecar but KEEP its configuration: the shards are
    * deleted and the meta is republished with `"stale": true`, so
    * [[open]] refuses to serve it while a maintenance rebuild
    * ([[graft.operators.KvMerge.rebuildIndexes]]) can still read WHAT
    * was indexed (columns, parameters) and re-run the build after the
    * event that invalidated it (schema evolution); `KvMerge` rewrites
    * carry it as it is. A stale meta is exactly as safe as an absent one
    * — no pruning happens off it, and a sidecar without a meta is absent
    * to every reader already.
    */
  def tombstone(tablePath: String, name: String): Unit =
    readMeta(tablePath, name).foreach(meta =>
      publish(tablePath, name, meta.merge(JObject("stale" -> JBool(true))))(_ => ()))

  /** Cover the live files an open sidecar has no entry for — the one
    * incremental sequence behind `KvIndex.append`, `KvBloom.append`, the
    * kv writer's job/epoch commit and [[rebuildCurrent]]: open the
    * sidecar, take the live listing (`live`, evaluated only when the
    * sidecar is open, so one commit lists once for both sidecars), hand
    * the uncovered files and the sidecar's meta to `entriesFor`, and
    * publish what it returns (entries for all, some or none of them)
    * through [[mergeEntries]] under the same meta at the shard count the
    * listing needs. With `dropGone`, entries no live file validates are
    * dropped too. Returns the number of entries published, or None when
    * the sidecar is absent or tombstoned.
    */
  def coverUncovered(tablePath: String, name: String, live: => Seq[(Path, Long, Long)],
      dropGone: Boolean = false)(
      entriesFor: (JValue, Seq[(Path, Long, Long)]) => Seq[Entry]): Option[Int] =
    open(tablePath, name).map { sc =>
      val listed = live
      val uncovered = listed.filter { case (f, len, mt) => sc.entryFor(f.getName, len, mt).isEmpty }
      val entries = if (uncovered.isEmpty) Nil else entriesFor(sc.meta, uncovered)
      val gone = dropGone &&
        (0 until sc.numShards).map(sc.shardEntries(_).size).sum > listed.length - uncovered.length
      if (entries.nonEmpty || gone) {
        val numShards = numShardsFor(listed.length)
        publish(tablePath, name, sc.meta.merge(JObject("numShards" -> JInt(numShards)))) { tmp =>
          mergeEntries(sc, tmp.getFileSystem(ParquetIO.hadoopConf), tmp, numShards, listed,
            entries, reshard = gone)
        }
      }
      entries.length
    }

  /** The reuse half of `KvBloom.build` and `KvIndex.build`: when the
    * sidecar is live, its meta records the requested configuration
    * (`current`) and at least one of its entries still matches a live
    * file's (len, mtime) — the check under which the planner prunes with
    * that entry — hash only the uncovered files and drop the entries of
    * files that are gone. A current sidecar publishes nothing, and
    * `entriesFor` is not called. Returns false, touching nothing, in
    * every other case: the caller's full build then does the same work
    * at scale.
    */
  def rebuildCurrent(tablePath: String, name: String, current: JValue => Boolean)(
      entriesFor: Seq[(Path, Long, Long)] => Seq[Entry]): Boolean =
    open(tablePath, name).filter(sc => current(sc.meta)).exists { sc =>
      val live = ParquetIO.listFilesStatus(tablePath)
      val reusable = live.exists { case (f, len, mt) => sc.entryFor(f.getName, len, mt).isDefined }
      if (reusable) coverUncovered(tablePath, name, live, dropGone = true)((_, u) => entriesFor(u))
      reusable
    }

  /** Merge `newEntries` into an open sidecar during a publish stage —
    * the write step of [[coverUncovered]], so of both tiers' `append`
    * and `build` and of the kv writer's commit:
    * with an unchanged shard count, untouched shards are byte-copied and
    * only shards receiving entries re-serialize (same-name entries
    * replaced); a changed shard budget, or `reshard`, re-shards every
    * entry still valid for the `live` listing plus the new ones (no
    * consumer-side rebuild — entries re-serialize from the old shards).
    */
  def mergeEntries(sc: SidecarShards, fs: FileSystem, tmpDir: Path,
      numShards: Int, live: Seq[(Path, Long, Long)],
      newEntries: Seq[Entry], reshard: Boolean): Unit = {
    if (numShards == sc.numShards && !reshard) {
      val bySh = newEntries.groupBy(e => shardOf(e._1, numShards))
      (0 until numShards).foreach { k =>
        bySh.get(k) match {
          case None => sc.copyShardTo(k, fs, tmpDir)
          case Some(add) =>
            val replaced = add.map(_._1).toSet
            val kept = sc.shardEntries(k).collect {
              case (f, (len, mt, e)) if !replaced.contains(f) => (f, len, mt, e)
            }
            stageEntries(fs, tmpDir, numShards, (kept ++ add).iterator)
        }
      }
    } else {
      val keptOld = live.flatMap { case (f, len, mt) =>
        sc.entryFor(f.getName, len, mt).map(e => (f.getName, len, mt, e)) }
      stageEntries(fs, tmpDir, numShards, (keptOld ++ newEntries).iterator)
    }
  }

  /** Write `entries` into their shard files under `tmpDir` — on the
    * driver for footer-derived zone maps and merges, in each executor
    * task for [[KvBloom.build]] (whose tasks own whole shards).
    */
  def stageEntries(fs: FileSystem, tmpDir: Path, numShards: Int,
      entries: Iterator[Entry]): Unit = {
    val writers = scala.collection.mutable.Map.empty[Int, java.io.BufferedWriter]
    try {
      entries.foreach { case (f, len, mtime, e) =>
        val k = shardOf(f, numShards)
        val w = writers.getOrElseUpdate(k, new java.io.BufferedWriter(
          new java.io.OutputStreamWriter(
            fs.create(new Path(tmpDir, shardFileName(k)), true),
            java.nio.charset.StandardCharsets.UTF_8)))
        w.write(entryLine(f, len, mtime, e))
        w.write("\n")
      }
    } finally writers.values.foreach(w => scala.util.Try(w.close()))
  }
}
