package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JInt, JObject}
import graft.sources.ParquetIO
import graft.sources.kv.{KvBloom, KvIndex, KvSidecar}

/** Per-row op-type merge into a kv table — the reference's Kudu
  * `merge(data, opTypeColumn)` writer (SURVEY.md §2 W7,
  * `emr-kudu/.../KuduUpdatableRelation.scala:38-74`,
  * `KuduOperator.scala:1-72`): each row carries its own operation.
  *
  * | op      | semantics (KuduSourceProvider.scala:86-95)            |
  * |---------|-------------------------------------------------------|
  * | INSERT  | add row; ignored if the key already exists            |
  * | UPSERT  | add or replace by key                                 |
  * | UPDATE  | replace only if the key exists                        |
  * | DELETE  | remove the row for the key                            |
  *
  * Implementation is a shuffle-on-key anti/semi-join rewrite (no
  * driver-side loop); the result replaces the table via write-to-temp,
  * backup-aside, rename — the batch analogue of a storage-engine merge.
  * Like the store's own search index, the Bloom and zone-map sidecars
  * come through every rewrite current: the rewrite's write tasks
  * produce the new files' entries ([[writeAndSwap]]), so no rebuild
  * follows a merge.
  * On a real cluster this is the copy-on-write table pattern; a
  * merge-on-read variant would keep the delta as a changelog and fold at
  * scan time (see graft.sources.cdc.Cdc.applyChanges).
  *
  * Batch discipline: each of INSERT/UPSERT/UPDATE is deduplicated to one
  * row per primary key (deterministic min over the non-key columns)
  * before applying — two INSERTs of the same new key in one batch must
  * not both survive, and duplicate UPSERT/UPDATE rows would break the
  * table's key uniqueness. Cross-op conflicts on one key in one batch
  * resolve by precedence UPSERT > UPDATE > INSERT > DELETE (the batch is
  * a set of operations, not an ordered log — an ordered changelog goes
  * through Cdc.applyStream): a key with both an UPSERT and an UPDATE gets
  * the UPSERT image only; an INSERT loses to either. Exactly one row per
  * pk survives, always.
  */
object KvMerge {

  val Ops: Set[String] = Set("INSERT", "UPSERT", "UPDATE", "DELETE")

  /** Retention maintenance for streaming-sink tables: delete UNCOMMITTED
    * epoch files older than `olderThanMs` — the disk-growth leak of a
    * crashed streaming writer (readers already ignore epoch files whose
    * `_commits/<id>` marker is missing, but the bytes stay behind
    * forever; a replayed epoch rewrites its own names, so files this old
    * belong to epochs that will never commit). Committed epochs and
    * non-epoch files are never touched. Returns the number of files
    * removed.
    */
  def vacuum(path: String, olderThanMs: Long): Int = {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    val fs = new Path(path).getFileSystem(ParquetIO.hadoopConf)
    val p = new Path(path)
    if (!fs.exists(p)) return 0
    val commits = new Path(p, "_commits")
    val committed: Set[String] =
      if (fs.exists(commits)) fs.listStatus(commits).map(_.getPath.getName).toSet
      else Set.empty
    // rlo partial-rewrite leftovers: files REPLACED by a committed rlo
    // transaction are already invisible — a crash between the marker
    // flip and the physical delete leaves their bytes behind
    val rloHidden = ParquetIO.rloHiddenNames(path)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val stale = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && st.getModificationTime < cutoff && (
        (n.startsWith("epoch-") &&
          !committed.contains(n.stripPrefix("epoch-").takeWhile(_ != '-'))) ||
        // uncommitted rlo parts: a rewrite that crashed before its marker
        (n.startsWith("rlo-") &&
          !committed.contains("rlo-" + n.stripPrefix("rlo-").takeWhile(_ != '-'))) ||
        rloHidden.contains(n))
    }
    stale.foreach(st => fs.delete(st.getPath, false))
    // INERT rlo markers — a marker compaction that crashed after folding
    // a transaction's files but before dropping its marker leaves a
    // marker that hides nothing and guards no rlo parts. Inert is
    // checkable: no `rlo-<txid>-*` file remains AND none of its hidden
    // names still exist. The epoch watermark folds into the snapshot
    // floor before the marker goes (compactMarkers already recorded it;
    // re-recording here is idempotent belt-and-braces).
    val liveNames = fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSet
    val inert = (if (fs.exists(commits)) fs.listStatus(commits)
      else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && n.startsWith("rlo-") && st.getModificationTime < cutoff && {
          val tx = n.stripPrefix("rlo-")
          val (removed, _) = ParquetIO.rloInfoCached(fs, st.getPath)
          !liveNames.exists(_.startsWith(s"rlo-$tx-")) &&
            !removed.exists(liveNames.contains)
        }
      }
    if (inert.nonEmpty) {
      ParquetIO.recordRloFloor(path,
        inert.map(st => ParquetIO.rloInfoCached(fs, st.getPath)._2).max)
      inert.foreach(st => fs.delete(st.getPath, false))
    }
    // planning caches key on (path, len, mtime) — a deleted file simply
    // stops appearing in listings, no invalidation needed
    stale.length + inert.length
  }

  /** RESTORE the table to its state as of streaming epoch `epoch` —
    * the time-travel snapshot made CURRENT (Delta's RESTORE, on the
    * epoch-marker log this sink already keeps). Nothing is rewritten:
    * visibility of an epoch is its `_commits/<E>` marker, so restore is
    * marker deletion plus garbage collection, crash-safe in order:
    *
    *  1. refusals — delegated to the SAME gate time travel uses (a
    *     committed row-level rewrite watermarked above `epoch`, or a
    *     compacted floor above it, means the replaced bytes are gone);
    *     additionally the target epoch must itself be committed, and
    *     any non-epoch data file written at-or-after the target marker
    *     (a bulk append/rewrite outside epoch history) refuses — its
    *     rows carry no epoch to roll back by. `rlo-`/`part-rlo-` parts
    *     are exempt: their own watermark refusal already proves they
    *     fold only state from epochs ≤ `epoch`.
    *  2. delete `_commits/<E>` markers with E > `epoch`, NEWEST first —
    *     a crash mid-sweep leaves a consistent "as of K" table for some
    *     K ≥ `epoch` (never a gap in visible history).
    *  3. delete the now-invisible `epoch-E-*` data files — the same
    *     garbage a torn write leaves; a crash here is healed by
    *     [[vacuum]].
    *
    * Columns added to the schema sidecar by rolled-back epochs are NOT
    * reverted — they read as all-null, the sparse-attribute contract.
    * Returns the number of epochs rolled back.
    */
  def restoreToEpoch(path: String, epoch: Long): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(ParquetIO.hadoopConf)
    val commits = new Path(p, "_commits")
    require(fs.exists(commits), s"kv restore: no commit history under $path")
    // throws when an rlo watermark or the compaction floor is above the
    // target — identical reconstructibility rules as snapshot reads
    ParquetIO.listFilesStatus(path, Some(epoch))
    val epochMarkers = fs.listStatus(commits)
      .filter(st => st.getPath.getName.forall(_.isDigit) &&
        st.getPath.getName.nonEmpty)
    val target = epochMarkers.find(_.getPath.getName.toLong == epoch)
      .getOrElse(throw new IllegalStateException(
        s"kv restore: epoch $epoch never committed on $path"))
    val bulkAfter = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.endsWith(".parquet") && !n.startsWith("epoch-") &&
        !n.startsWith("rlo-") && !n.startsWith("part-rlo-") &&
        !n.startsWith("_") && !n.startsWith(".") &&
        st.getModificationTime >= target.getModificationTime
    }
    require(bulkAfter.isEmpty,
      s"kv restore: ${bulkAfter.length} non-epoch data file(s) written " +
        s"after epoch $epoch committed on $path (e.g. " +
        s"${bulkAfter.head.getPath.getName}) — bulk writes carry no " +
        "epoch to roll back by; restore applies to epoch-addressed " +
        "history only")
    val toDrop = epochMarkers.map(_.getPath)
      .filter(_.getName.toLong > epoch).sortBy(-_.getName.toLong)
    toDrop.foreach(m => fs.delete(m, false))
    fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.startsWith("epoch-") && n.endsWith(".parquet") &&
        n.stripPrefix("epoch-").takeWhile(_ != '-').toLongOption
          .exists(_ > epoch)
    }.foreach(st => fs.delete(st.getPath, false))
    // Fold the schema sidecar to the restored file set BY NAME: a
    // column no surviving footer carries (under its own name or, for a
    // renamed column, its physical alias) was introduced by a
    // rolled-back epoch and vanishes with its bytes. Name-based — not
    // a footer-type fold — so ALTER COLUMN widenings and the rename
    // ledger survive the restore.
    graft.sources.kv.KvSchemaMeta.read(path).foreach { recorded =>
      val live = ParquetIO.listFilesStatus(path).flatMap {
        case (f, len, mt) => graft.sources.kv.KvSource.toStructType(
          ParquetIO.footer(f, len, mt).schema).fieldNames
      }.map(_.toLowerCase).toSet
      val renames = graft.sources.kv.KvEvolution.read(path).renames
      val kept = recorded.fields.filter(f =>
        live.contains(f.name.toLowerCase) ||
          renames.get(f.name).exists(ph => live.contains(ph.toLowerCase)))
      if (kept.length != recorded.length && kept.nonEmpty)
        graft.sources.kv.KvSchemaMeta.replace(path,
          org.apache.spark.sql.types.StructType(kept))
    }
    toDrop.length
  }

  /** Fold committed rlo transactions into base state WITHOUT a data
    * rewrite — the listing-cost maintenance op for rewrite-heavy tables
    * (every UPDATE/MERGE leaves a `_commits/rlo-<txid>` marker that
    * file listing consults forever; this op retires them for the cost
    * of a few renames). Sequence, crash-safe at every point:
    *
    *  1. record the snapshot floor (max marker epoch watermark) — the
    *     markers' time-travel gate survives their deletion;
    *  2. delete still-present bytes hidden by any committed marker
    *     (already invisible — this is the vacuum sweep, pulled forward
    *     because step 3's renames must not resurrect a hidden name);
    *  3. rename each committed `rlo-<txid>-N.parquet` to the plain
    *     `part-rlo-<txid>-N.parquet` (visible before AND after — each
    *     file exists under exactly one name at any instant);
    *  4. drop the markers (now inert; a crash here is healed by
    *     [[vacuum]]'s inert-marker sweep).
    *
    * Single-writer like every maintenance op here. Returns the number
    * of markers folded. [[rewrite]]/[[bucketize]] fold markers
    * wholesale as a side effect of the swap; this op is for tables too
    * large to rewrite just to retire listing metadata.
    */
  def compactMarkers(path: String): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(ParquetIO.hadoopConf)
    val commits = new Path(p, "_commits")
    if (!fs.exists(commits)) return 0
    val markers = fs.listStatus(commits).map(_.getPath)
      .filter(_.getName.startsWith("rlo-"))
    if (markers.isEmpty) return 0
    val infos = markers.map(m => m -> ParquetIO.rloInfoCached(fs, m))
    ParquetIO.recordRloFloor(path, infos.map(_._2._2).max)
    val hidden = infos.flatMap(_._2._1).toSet
    hidden.foreach { n =>
      val f = new Path(p, n)
      if (fs.exists(f)) fs.delete(f, false)
    }
    val committedTx = markers.map(_.getName.stripPrefix("rlo-")).toSet
    fs.listStatus(p).filter(_.isFile).map(_.getPath).foreach { f =>
      val n = f.getName
      if (n.startsWith("rlo-") && n.endsWith(".parquet")) {
        val tx = n.stripPrefix("rlo-").takeWhile(_ != '-')
        if (committedTx.contains(tx))
          require(fs.rename(f, new Path(p, s"part-$n")),
            s"compactMarkers: rename failed for $n")
      }
    }
    markers.foreach(m => fs.delete(m, false))
    markers.length
  }

  /** Rebuild the table's pruning sidecars from their RECORDED
    * configurations — the maintenance hook for an event that invalidated
    * or outdated them (ALTER COLUMN widening tombstones the Bloom sidecar
    * — stale hash domain; files put in by other writers stay uncovered).
    * Each sidecar's meta carries what was indexed: the Bloom sidecar
    * re-runs [[graft.sources.kv.KvBloom.build]] with its recorded columns
    * and bitsPerKey (live OR tombstoned meta — the tombstone exists
    * exactly so this op knows what to rebuild, and [[writeAndSwap]]
    * carries it through every rewrite), the zone map re-runs
    * [[graft.sources.kv.KvIndex.build]]. A live, current sidecar costs
    * one listing (the builds reuse its entries). Returns the names of
    * the sidecars built. Single-writer like every maintenance op.
    */
  def rebuildIndexes(spark: SparkSession, path: String): Seq[String] = {
    // pre-tombstone metas recorded no bitsPerKey: Conf.of defaults it
    val bloom = KvSidecar.readMeta(path, KvBloom.SidecarName).flatMap(KvBloom.Conf.of).map { c =>
      KvBloom.build(spark, path, c.cols, c.bitsPerKey); KvBloom.SidecarName }
    val zone = KvSidecar.readMeta(path, KvIndex.SidecarName).map(KvSidecar.columnsOf)
      .filter(_.nonEmpty).map { cs => KvIndex.build(path, cs); KvIndex.SidecarName }
    bloom.toSeq ++ zone
  }

  /** Heal a crash between backup-aside and rename-into-place: the backup
    * is the last committed table state. Call before reading the table in
    * any maintenance op.
    */
  private[graft] def recoverSwap(path: String): Unit = {
    val fs = new Path(path).getFileSystem(ParquetIO.hadoopConf)
    val livePath = new Path(path)
    val backup = new Path(s"$path.merge-old")
    if (!fs.exists(livePath) && fs.exists(backup)) { fs.rename(backup, livePath); () }
  }

  /** Test seam for the concurrent-writer guard: runs after the tmp
    * materialization, immediately before the fingerprint check — where a
    * concurrent append is most dangerous (it would be silently dropped
    * by the swap).
    */
  @volatile private[graft] var testBeforeSwap: () => Unit = () => ()

  /** The live listing fingerprint a maintenance op captures at start:
    * any concurrent write changes it (part files are never modified in
    * place, so (name, len, mtime) triples identify a state).
    */
  private def fingerprint(path: String): Set[(String, Long, Long)] =
    ParquetIO.listFilesStatus(path)
      .map { case (f, len, mt) => (f.getName, len, mt) }.toSet

  /** THE crash-safe publish sequence, shared by merge / rewrite /
    * bucketize (one copy — this is the code that runs during crashes):
    * materialize `result` to a tmp dir (the read side is lazy, so an
    * in-place write would consume its own input), then swap with a
    * committed state on disk at every instant: live → backup,
    * tmp → live, drop backup. A crash mid-swap is healed by
    * [[recoverSwap]] on the next maintenance run (or by any reader
    * preferring backup when live is missing).
    *
    * SIDECAR CARRY: before the write, each Bloom/zone-map meta is
    * published into the tmp dir as an empty sidecar, live stays live and
    * a tombstone stays tombstoned. The kv writer then keeps the live ones
    * current as for any write — its tasks hash the rows under the tmp
    * table's own schema and the commit publishes every new file's entries
    * — and the rename moves `_index` with the files it covers (name, len
    * and mtime unchanged), so lookups prune right after the swap and a
    * following `build` finds nothing to do. A bloomed column the result
    * lacks or retypes leaves the files uncovered (never pruned) until a
    * build covers them.
    *
    * CONCURRENT-WRITER DETECTION: these ops are single-writer by
    * contract, but a violated contract must not silently lose data — a
    * file appended between the op's initial read and the swap would
    * vanish with the old directory. `expect` carries the visible-file
    * fingerprint from the op's start; a mismatch right before the swap
    * aborts with `ConcurrentModificationException`, leaving the live
    * table (including the concurrent append) untouched.
    */
  private[graft] def writeAndSwap(result: DataFrame, path: String,
      expect: Option[Set[(String, Long, Long)]] = None): Unit = {
    val fs = new Path(path).getFileSystem(ParquetIO.hadoopConf)
    val livePath = new Path(path)
    val backup = new Path(s"$path.merge-old")
    val tmp = new Path(s"$path.merge-tmp")
    ParquetIO.deletePath(tmp.toString)
    Seq(KvBloom.SidecarName, KvIndex.SidecarName).foreach { n =>
      KvSidecar.readMeta(path, n).foreach(meta =>
        KvSidecar.publish(tmp.toString, n, meta.merge(JObject("numShards" -> JInt(1))))(_ => ()))
    }
    result.write.format("kv").option("path", tmp.toString).mode("append").save()
    testBeforeSwap()
    expect.foreach { fp =>
      val now = fingerprint(path)
      if (now != fp) {
        ParquetIO.deletePath(tmp.toString)
        throw new java.util.ConcurrentModificationException(
          s"kv maintenance on $path aborted: the table changed during the " +
            s"rewrite (files added/removed: ${(now diff fp) ++ (fp diff now)}" +
            ") — these ops are single-writer; re-run after the concurrent " +
            "writer finishes")
      }
    }
    ParquetIO.deletePath(backup.toString) // stale backup from a completed swap
    if (fs.exists(livePath)) fs.rename(livePath, backup)
    fs.rename(tmp, livePath)
    fs.delete(backup, true)
    ()
  }

  def merge(spark: SparkSession, path: String, data: DataFrame,
      opCol: String, pks: Seq[String]): Unit = {
    require(data.columns.contains(opCol), s"missing op column $opCol")
    pks.foreach(pk => require(data.columns.contains(pk), s"missing pk column $pk"))

    recoverSwap(path)
    val fp = fingerprint(path)
    val hasTable = ParquetIO.listFiles(path).nonEmpty
    val target =
      if (hasTable) spark.read.format("kv").option("path", path).load()
      else data.drop(opCol).limit(0)

    val ops = upper(col(opCol))
    // One row per key per op kind, chosen deterministically: min of the
    // non-key column tuple (partial-aggregable — no window, safe on a
    // hot-key batch).
    def dedupPerKey(df: DataFrame): DataFrame = {
      val others = df.columns.filterNot(pks.contains).toSeq
      if (others.isEmpty) df.distinct()
      else df.groupBy(pks.map(col): _*)
        .agg(min(struct(others.map(col): _*)).as("__row"))
        .select(pks.map(col) ++ others.map(o => col(s"__row.$o").as(o)): _*)
    }
    val touchedKeys = data.filter(ops.isin("UPSERT", "UPDATE", "DELETE"))
      .select(pks.map(col): _*).distinct()
    val kept = target.join(touchedKeys, pks, "left_anti")
    val targetKeys = target.select(pks.map(col): _*)
    // Cross-op precedence per pk: UPSERT > UPDATE > INSERT. Each lower
    // tier anti-joins the keys of the tiers above it, so a key claimed by
    // two op kinds in one batch yields exactly one output row.
    val upserts = dedupPerKey(data.filter(ops === "UPSERT").drop(opCol))
    val upsertKeys = upserts.select(pks.map(col): _*)
    val updates = dedupPerKey(data.filter(ops === "UPDATE").drop(opCol))
      .join(targetKeys, pks, "left_semi")
      .join(upsertKeys, pks, "left_anti")
    // (no INSERT-vs-UPDATE anti-join needed: surviving updates are keys
    // that exist in the target, and inserts already anti-join the target)
    val inserts = dedupPerKey(data.filter(ops === "INSERT").drop(opCol))
      .join(targetKeys, pks, "left_anti")
      .join(upsertKeys, pks, "left_anti")
    val result = kept.unionByName(upserts).unionByName(updates).unionByName(inserts)
    writeAndSwap(result, path, Some(fp))
  }

  /** Table maintenance: rewrite a kv table as `numFiles` files, optionally
    * range-clustered on `clusterBy` — compaction for the many-small-files
    * table, clustering for zone-map/row-group pruning locality (sorted
    * layout → tight per-row-group min/max → the search-index mode and
    * parquet stats skipping prune aggressively). Same crash-safe
    * backup-aside swap as [[merge]]: a committed state exists on disk at
    * every instant, and a crash mid-swap heals on the next maintenance or
    * merge run.
    *
    * At 100 TB this runs table-partition-by-partition; `repartitionByRange`
    * samples the sort key for balanced output files (Spark's range
    * partitioner), so no single reducer owns the table. The pruning
    * sidecars stay warm for the new layout ([[writeAndSwap]]'s carry).
    */
  def rewrite(spark: SparkSession, path: String, numFiles: Int,
      clusterBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil,
      zorderBits: Int = 6): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "rewrite: clusterBy and zorderBy are mutually exclusive layouts")
    recoverSwap(path)
    val fp = fingerprint(path)
    val table = spark.read.format("kv").option("path", path).load()
    val shaped =
      if (zorderBy.nonEmpty) {
        // multi-dimensional clustering: range-partition + sort by the
        // interleaved curve key (ZOrder scaladoc), then project the key
        // away — the layout serves zone-map pruning on EVERY zorder
        // column, at the cost of the single-column ordering claim (the
        // files are not sorted by any one column, so no clustering meta
        // is recorded below).
        val bnds = ZOrder.boundaries(table, zorderBy, zorderBits)
        table.withColumn("__graft_z",
            ZOrder.zColumn(table, zorderBy, bnds, zorderBits))
          .repartitionByRange(numFiles, col("__graft_z"))
          .sortWithinPartitions("__graft_z")
          .drop("__graft_z")
      }
      else if (clusterBy.isEmpty) table.repartition(numFiles)
      else table
        .repartitionByRange(numFiles, clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    writeAndSwap(shaped, path, Some(fp))
    // record (or clear) the clustered ordering so the scan can report it
    graft.sources.kv.KvClustering.record(path, clusterBy)
    // any prior bucket layout is gone after a range rewrite
    graft.sources.kv.KvBuckets.record(path, Nil, Nil, 0, Map.empty)
  }

  /** Predicate DELETE — the retention / GDPR surface of the table
    * maintenance family: rows matching `condition` are removed by a
    * filtered rewrite under the same crash-safe backup-aside swap as
    * [[rewrite]] (a crash mid-delete leaves either the old table or the
    * new one, never a torn mix). Returns the number of rows deleted.
    *
    * Scale shape: one scan + one write; the filter pushes into the scan
    * (files whose zone maps prove no match are copied via rows that
    * never materialize a match — at 100 TB pair this with clustering on
    * the retention key so most files prune to pure pass-through).
    *
    * Count discipline: the returned count is `rows before − rows after`,
    * derived from the table's actual row counts around the rewrite (both
    * footer-count reads) — NOT from a separate condition-evaluation pass,
    * so it agrees with the rows physically removed even when `condition`
    * is non-deterministic (`rand()`, `current_timestamp`). The cheap
    * pre-count only decides whether a rewrite is needed at all; like
    * every maintenance op here it assumes single-writer discipline (a
    * concurrent append mid-rewrite is lost to the swap, not miscounted).
    */
  def deleteWhere(spark: SparkSession, path: String, condition: Column): Long = {
    recoverSwap(path)
    val fp = fingerprint(path)
    def t = spark.read.format("kv").option("path", path).load()
    val table = t
    val anyMatch = table.where(condition).limit(1).count() > 0
    if (!anyMatch) return 0L
    val before = table.count()
    writeAndSwap(table.where(!condition || condition.isNull), path, Some(fp))
    before - t.count()
  }

  /** Predicate UPDATE — `SET col = expr` for every row matching
    * `condition`; non-matching rows pass through byte-identically. Same
    * crash-safe swap; `assignments` may reference any column. Returns
    * the number of rows updated.
    *
    * Schema discipline: every assignment must keep its column's type.
    * `when(cond, e).otherwise(col(c))` silently coerces the WHOLE column
    * to the wider of the two types, so an int literal assigned to a
    * double column (or a string expr to a numeric one) would rewrite the
    * table with a drifted schema. Assignments whose type up-casts
    * losslessly (int → long/double, etc.) are cast to the existing
    * column type; anything else fails fast with a cast hint.
    *
    * Count discipline: the condition is evaluated ONCE — the matched
    * flag is computed into a persisted frame that both the count and the
    * rewrite read — so the returned count agrees with the rows actually
    * rewritten even when `condition` is non-deterministic.
    */
  def updateWhere(
      spark: SparkSession, path: String, condition: Column,
      assignments: Map[String, Column]): Long = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    recoverSwap(path)
    val fp = fingerprint(path)
    val table = spark.read.format("kv").option("path", path).load()
    assignments.keys.foreach { c =>
      require(table.columns.contains(c), s"unknown column '$c' in SET")
    }
    val castAssignments = assignments.map { case (c, e) =>
      val assigned = table.select(e.as(c)).schema.head.dataType
      val existing = table.schema(c).dataType
      require(assigned == existing ||
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(assigned, existing),
        s"SET $c: assignment type $assigned does not match column type " +
          s"$existing and cannot up-cast losslessly — cast the expression " +
          s"explicitly if the narrowing is intended")
      c -> (if (assigned == existing) e else e.cast(existing))
    }
    val marked = table
      .withColumn("__upd", coalesce(condition, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val matched = marked.where(col("__upd")).count()
      if (matched > 0) {
        val updated = marked.select(table.columns.map { c =>
          castAssignments.get(c) match {
            case Some(e) => when(col("__upd"), e).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
        writeAndSwap(updated, path, Some(fp))
      }
      matched
    } finally { marked.unpersist(); () }
  }

  /** Bucketized rewrite — the storage-partitioned-join layout
    * ([[graft.sources.kv.KvBuckets]]): hash-bucket the table into
    * `numBuckets` files on `bucketBy` using Spark's OWN
    * `HashPartitioning` assignment (a plain `repartition(n, cols)` —
    * partition p receives exactly the rows whose
    * `pmod(murmur3(cols, 42), n)` is p, so no custom partitioner and no
    * RDD drop-down), sorted within each bucket, with the file→bucket map
    * recorded so the scan reports `KeyGroupedPartitioning(bucket(n,
    * cols))`. Joins keyed on `bucketBy` then plan WITHOUT shuffling this
    * table: zero exchanges against a co-bucketized twin, one
    * other-side-only exchange against anything else
    * (`spark.sql.sources.v2.bucketing.*`). Same crash-safe swap as
    * [[rewrite]].
    *
    * At 100 TB this is the fingerprint-store shape for incremental
    * ingest dedup ([[Dedup.dropSeenDuplicates]]): the store is written
    * once per maintenance cycle, and every batch's anti-join
    * co-partitions on the store's layout instead of reshuffling the
    * store per batch.
    */
  def bucketize(spark: SparkSession, path: String, numBuckets: Int,
      bucketBy: Seq[String]): Unit = {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    require(bucketBy.nonEmpty, "bucketBy must name at least one column")
    recoverSwap(path)
    val fp = fingerprint(path)
    val table = spark.read.format("kv").option("path", path).load()
    // fail HERE, not at every later catalog read: a bucket column type
    // the v2 bucket function can't bind would otherwise poison the
    // table's KeyGroupedPartitioning resolution
    bucketBy.foreach { c =>
      val dt = table.schema(c).dataType
      require(graft.sources.kv.KvBuckets.supportedTypes.contains(dt),
        s"bucketize: column '$c' has type $dt, not bucketable " +
          s"(supported: ${graft.sources.kv.KvBuckets.supportedTypes.mkString(", ")})")
    }
    val shaped = table
      .repartition(numBuckets, bucketBy.map(col): _*)
      .sortWithinPartitions(bucketBy.map(col): _*)
    writeAndSwap(shaped, path, Some(fp))
    // file → bucket from the writer's part-<partitionId>- names: the
    // repartition above IS the bucket assignment, partition index = bucket
    val partRe = "part-(\\d+)-.*".r
    val fileBuckets = ParquetIO.listFiles(path).flatMap { f =>
      f.getName match {
        case partRe(p) => Some(f.getName -> p.toInt)
        case _ => None
      }
    }.toMap
    graft.sources.kv.KvBuckets.record(path, bucketBy,
      bucketBy.map(c => table.schema(c).dataType), numBuckets, fileBuckets)
    // each bucket file is sorted by the bucket columns — the per-partition
    // ordering claim holds too
    graft.sources.kv.KvClustering.record(path, bucketBy)
  }
}
