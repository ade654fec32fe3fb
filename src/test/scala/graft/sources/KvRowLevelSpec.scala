package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SQL UPDATE / MERGE INTO / rewrite-DELETE through the kv catalog —
  * the group-based copy-on-write surface (SupportsRowLevelOperations).
  */
class KvRowLevelSpec extends SparkSpec {
  import spark.implicits._

  private def stage(): String = {
    val dir = java.nio.file.Files.createTempDirectory("kvrlo").toString + "/t"
    Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "a"), (4L, 40.0, "c"))
      .toDF("k", "v", "tag")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    dir
  }

  private def readAll(dir: String) =
    spark.read.format("kv").option("path", dir).load().orderBy("k")

  test("SQL UPDATE rewrites matching rows, copies the rest byte-identically") {
    val dir = stage()
    spark.sql(s"UPDATE kvcat.`$dir` SET v = v * 2 WHERE tag = 'a'")
    val got = readAll(dir).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 20.0), (2L, 20.0), (3L, 60.0), (4L, 40.0)))
    // multi-assignment referencing other columns
    spark.sql(s"UPDATE kvcat.`$dir` SET v = k + v, tag = 'x' WHERE k = 4")
    val r4 = readAll(dir).where(col("k") === 4L).head()
    assert(r4.getDouble(1) == 44.0 && r4.getString(2) == "x")
  }

  test("SQL MERGE INTO: matched update, matched delete, not-matched insert") {
    val dir = stage()
    Seq((2L, 200.0, "upd"), (4L, -1.0, "del"), (9L, 90.0, "new"))
      .toDF("k", "v", "op").createOrReplaceTempView("changes")
    spark.sql(
      s"""MERGE INTO kvcat.`$dir` t USING changes c ON t.k = c.k
         |WHEN MATCHED AND c.op = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = c.v
         |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (c.k, c.v, c.op)
         |""".stripMargin)
    val got = readAll(dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 10.0, "a"), (2L, 200.0, "b"), (3L, 30.0, "a"),
      (9L, 90.0, "new")), got.toString)
  }

  test("DELETE with a non-metadata-translatable predicate falls to the rewrite path") {
    val dir = stage()
    // v + k is an expression the Filter API can't carry — before
    // SupportsRowLevelOperations this errored; now it rewrites
    spark.sql(s"DELETE FROM kvcat.`$dir` WHERE v + k > 32")
    assert(readAll(dir).select("k").as[Long].collect().toSeq == Seq(1L, 2L))
  }

  /** 4 single-file appends with disjoint key ranges (file i owns
    * [i·100, i·100+49]) — the layout where group filtering is provable.
    */
  private def stageFiles(): (String, Map[String, Set[Long]]) = {
    val dir = java.nio.file.Files.createTempDirectory("kvrlog").toString + "/t"
    (0 until 4).foreach { i =>
      (0L until 50L).map(k => (i * 100L + k, 1.0, s"f$i")).toDF("k", "v", "tag")
        .coalesce(1)
        .write.format("kv").option("path", dir).mode("append").save()
    }
    val byFile = ParquetIO.listFiles(dir).map { f =>
      f.toString -> spark.read.format("kv").option("path", f.toString).load()
        .select("k").as[Long].collect().toSet
    }.toMap
    (dir, byFile)
  }

  test("selective UPDATE rewrites ONLY the files containing matches (runtime group filter)") {
    val (dir, byFile) = stageFiles()
    val before = ParquetIO.listFilesStatus(dir)
      .map { case (f, len, mt) => (f.toString, len, mt) }
    // k = 105 lives in exactly one file
    val target = byFile.collect { case (f, ks) if ks.contains(105L) => f }.head
    spark.sql(s"UPDATE kvcat.`$dir` SET v = 42.0 WHERE k = 105")

    // correctness first: one row updated, everything else intact
    val rows = readAll(dir).collect()
    assert(rows.length == 200)
    assert(rows.count(_.getDouble(1) == 42.0) == 1)
    assert(rows.find(_.getLong(0) == 105L).get.getDouble(1) == 42.0)

    // group filtering: the three untouched files survive BYTE-IDENTICAL
    // (same path, length, mtime); the matched file is gone, replaced by
    // committed rlo parts
    val after = ParquetIO.listFilesStatus(dir)
      .map { case (f, len, mt) => (f.toString, len, mt) }
    val untouchedBefore = before.filterNot(_._1 == target)
    assert(untouchedBefore.forall(after.contains),
      s"untouched files were rewritten:\nbefore=$untouchedBefore\nafter=$after")
    assert(!after.exists(_._1 == target), "the matched file must be replaced")
    val rloFiles = after.map(_._1).filterNot(f => before.exists(_._1 == f))
    assert(rloFiles.nonEmpty &&
      rloFiles.forall(new org.apache.hadoop.fs.Path(_).getName.startsWith("rlo-")))
  }

  test("MERGE INTO with group filtering: untouched files intact, inserts land") {
    val (dir, byFile) = stageFiles()
    val before = ParquetIO.listFilesStatus(dir).map(_._1.toString).toSet
    val touched = byFile.collect {
      case (f, ks) if ks.contains(5L) || ks.contains(205L) => f }.toSet
    Seq((5L, 50.0, "upd"), (205L, -1.0, "del"), (999L, 9.0, "ins"))
      .toDF("k", "nv", "op").createOrReplaceTempView("gchanges")
    spark.sql(
      s"""MERGE INTO kvcat.`$dir` t USING gchanges c ON t.k = c.k
         |WHEN MATCHED AND c.op = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = c.nv
         |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (c.k, c.nv, c.op)
         |""".stripMargin)
    val rows = readAll(dir).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.size == 200) // 200 - 1 deleted + 1 inserted
    assert(rows(5L) == 50.0 && rows(999L) == 9.0 && !rows.contains(205L))
    // the two files without matches survived untouched
    val after = ParquetIO.listFilesStatus(dir).map(_._1.toString).toSet
    (before -- touched).foreach(f => assert(after.contains(f), s"$f rewritten"))
    touched.foreach(f => assert(!after.contains(f), s"$f should be replaced"))
  }

  test("rlo transaction protocol: torn parts invisible, marker flips atomically, vacuum sweeps") {
    val (dir, byFile) = stageFiles()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(ParquetIO.hadoopConf)
    // a torn rewrite: staged rlo part with NO marker — invisible
    val strayTx = "deadbeef"
    val donor = ParquetIO.listFiles(dir).head
    org.apache.hadoop.fs.FileUtil.copy(fs, donor, fs,
      new org.apache.hadoop.fs.Path(dir, s"rlo-$strayTx-0.parquet"),
      false, ParquetIO.hadoopConf)
    assert(spark.read.format("kv").option("path", dir).load().count() == 200,
      "uncommitted rlo parts must be invisible")
    // commit a marker replacing one file: the flip is visible immediately
    val victim = new org.apache.hadoop.fs.Path(
      byFile.collect { case (f, ks) if ks.contains(300L) => f }.head)
    ParquetIO.writeRloMarker(dir, strayTx, Seq(victim.getName),
      ParquetIO.maxCommittedEpoch(dir))
    val visible = spark.read.format("kv").option("path", dir).load()
      .select("k").as[Long].collect()
    assert(!visible.contains(300L), "replaced file must be hidden")
    // file 0's keys now appear TWICE: original + the committed rlo copy
    assert(visible.count(_ < 100L) == 100,
      "the committed rlo part (a copy of file 0) must be visible")
    // vacuum sweeps the now-hidden victim bytes
    assert(fs.exists(victim))
    val swept = graft.operators.KvMerge.vacuum(dir, olderThanMs = 0L)
    assert(swept >= 1 && !fs.exists(victim), s"vacuum swept $swept")
  }

  test("one scan instance per operation: every ScanBuilder.build() returns the same scan") {
    // the commit reads replacedFiles() from the operation's scan; if a
    // second scan were ever built (e.g. a matching-rows subquery) and
    // the runtime group filter landed on the other copy, the commit
    // would replace files the rewrite never read — a silent data loss.
    // One shared instance makes the question moot.
    val dir = stage()
    val schema = spark.read.format("kv").option("path", dir).load().schema
    val op = new graft.sources.kv.KvRowLevelOperation(dir, schema,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE,
      32, 64L)
    val opts = org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
    val s1 = op.newScanBuilder(opts).build()
    val s2 = op.newScanBuilder(opts).build()
    assert(s1 eq s2, "row-level operation must hand out ONE scan instance")
  }

  test("MERGE replay is idempotent — the streaming foreachBatch exactly-once argument") {
    val dir = stage()
    Seq((1L, 111.0, "upd"), (4L, -1.0, "del"), (7L, 70.0, "ins"))
      .toDF("k", "nv", "op").createOrReplaceTempView("idem_changes")
    def mergeOnce(): Unit = spark.sql(
      s"""MERGE INTO kvcat.`$dir` t USING idem_changes c ON t.k = c.k
         |WHEN MATCHED AND c.op = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = c.nv
         |WHEN NOT MATCHED AND c.op <> 'del' THEN
         |  INSERT (k, v, tag) VALUES (c.k, c.nv, c.op)
         |""".stripMargin)
    mergeOnce()
    val first = readAll(dir).collect().map(_.toString).toSeq
    // a replayed micro-batch re-merges the SAME keyed change set: upsert
    // to the same values, delete of an absent key, insert that now
    // MATCHES and updates to the same value — the image must not move
    mergeOnce()
    val second = readAll(dir).collect().map(_.toString).toSeq
    assert(second == first, "replaying an identical MERGE changed the table")
  }

  test("replace-data commit is the crash-safe swap: no tmp/backup residue, sidecar refreshed") {
    val dir = stage()
    spark.sql(s"UPDATE kvcat.`$dir` SET v = 0.0 WHERE k = 1")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(ParquetIO.hadoopConf)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.rlo-tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.merge-old")))
    // catalog-less read still sees the full schema (sidecar re-recorded)
    assert(spark.read.format("kv").option("path", dir).load()
      .columns.toSeq == Seq("k", "v", "tag"))
    assert(readAll(dir).count() == 4)
  }
}
