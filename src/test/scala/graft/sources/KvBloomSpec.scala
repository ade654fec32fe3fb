package graft.sources

import graft.SparkSpec
import graft.sources.kv.{KvBloom, KvInputPartition, KvScan}
import org.apache.spark.sql.functions._

/** Per-file Bloom pruning: point lookups on an UNCLUSTERED column plan
  * only the files that might hold the key (zone maps can't help — every
  * file's min/max spans the domain), absent keys plan ZERO files, and
  * non-equality predicates never consult the filter. No false
  * negatives, ever.
  */
class KvBloomSpec extends SparkSpec {
  import spark.implicits._

  /** 8 files, file i holding the 100 keys ≡ i (mod 8) out of 0..799 —
    * every file's [min, max] spans ~the whole key domain, so zone maps
    * cannot prune anything here. Exactly the unclustered layout where
    * only a Bloom filter can prove a key's absence per file.
    */
  private def stage(): String = {
    val dir = java.nio.file.Files.createTempDirectory("kvbloom").toString + "/t"
    (0 until 8).foreach { i =>
      (0L until 800L).filter(_ % 8 == i).map(k => (k, s"v$k")).toDF("k", "v")
        .coalesce(1)
        .write.format("kv").option("path", dir).mode("append").save()
    }
    KvBloom.build(spark, dir, Seq("k", "v"))
    dir
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // sparkPlan: the physical tree BEFORE adaptive wrapping hides the scan
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KvScan] => b.scan.asInstanceOf[KvScan]
    }.get
    scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[KvInputPartition].chunks.map(_.file)).toSet
  }

  test("point lookups prune to the owning file; absent keys plan zero files") {
    val dir = stage()
    def read() = spark.read.format("kv").option("path", dir).load()
    assert(ParquetIO.listFiles(dir).length == 8)

    // k = 50 lives in file (50 % 8): exactly one file planned, row found
    val hit = read().filter(col("k") === 50L)
    assert(plannedFiles(hit).size == 1, "equality lookup should plan 1 file")
    assert(hit.collect().map(_.getString(1)).toSeq == Seq("v50"))

    // an absent key proves absence through every file's bloom: 0 files
    val miss = read().filter(col("k") === 5000L)
    assert(plannedFiles(miss).isEmpty, "absent key should plan no files")
    assert(miss.count() == 0)

    // IN over three files (+ one absent) plans exactly those three
    val in = read().filter(col("k").isin(1L, 2L, 3L, 5000L))
    assert(plannedFiles(in).size == 3)
    assert(in.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))

    // string-column equality prunes too (xxhash64 over UTF8)
    val sv = read().filter(col("v") === "v123")
    assert(plannedFiles(sv).size == 1)
    assert(sv.select("k").as[Long].collect().toSeq == Seq(123L))

    // range predicates never consult the bloom: all 8 files planned,
    // every row accounted for (no false negatives anywhere)
    val range = read().filter(col("k") >= 700L)
    assert(plannedFiles(range).size == 8)
    assert(range.count() == 100)
    assert(read().count() == 800)
  }

  test("files not covered by the sidecar are never pruned; corrupt sidecar degrades safely") {
    val dir = stage()
    // a later file from another writer is NOT in the sidecar — lookups
    // must still see it
    RawParquet.write(dir, "ext-late.parquet", Seq((9999L, "late")).toDF("k", "v"))
    val late = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") === 9999L)
    assert(late.count() == 1, "uncovered file must never be pruned")

    // corrupt EVERY shard: pruning silently disabled, results intact
    val d = new org.apache.hadoop.fs.Path(dir, "_index/bloom")
    val fs = d.getFileSystem(ParquetIO.hadoopConf)
    fs.listStatus(d).filter(_.getPath.getName.startsWith("shard-")).foreach { st =>
      val out = fs.create(st.getPath, true); out.write("not json".getBytes); out.close()
    }
    graft.sources.kv.KvSidecar.clearCaches()
    val all = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") === 50L)
    assert(all.count() == 1)
  }

  test("sharded layout on disk; one parse per shard per state — re-plans hit the cache") {
    val dir = stage()
    val d = new org.apache.hadoop.fs.Path(dir, "_index/bloom")
    val fs = d.getFileSystem(ParquetIO.hadoopConf)
    assert(fs.exists(new org.apache.hadoop.fs.Path(d, "meta.json")),
      "sharded sidecar must carry meta.json")
    assert(fs.listStatus(d).exists(_.getPath.getName.startsWith("shard-")),
      "sharded sidecar must carry shard files")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_index/bloom.json")),
      "no monolithic sidecar")

    def read() = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") === 50L)
    graft.sources.kv.KvSidecar.clearCaches()
    plannedFiles(read()) // first plan parses shards
    val afterFirst = graft.sources.kv.KvSidecar.parseCount.get()
    assert(afterFirst >= 1)
    (1 to 3).foreach(_ => plannedFiles(read()))
    assert(graft.sources.kv.KvSidecar.parseCount.get() == afterFirst,
      "re-planning must not re-parse the sidecar (signature cache)")
  }

  test("a reused file name with new bytes invalidates its entry — no stale-bloom pruning") {
    val dir = stage()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(ParquetIO.hadoopConf)
    // simulate a later driver session overwriting a sidecar-covered part
    // file NAME with different contents (part names are deterministic +
    // writers open with Mode.OVERWRITE): replace the file owning key 50
    // with bytes that contain ONLY key 424242
    val victim = ParquetIO.listFiles(dir).find { f =>
      spark.read.format("kv").option("path", f.toString).load()
        .filter(col("k") === 50L).count() == 1
    }.get
    val tmp = new org.apache.hadoop.fs.Path(dir + ".swap")
    Seq((424242L, "new")).toDF("k", "v").coalesce(1)
      .write.format("kv").option("path", tmp.toString).mode("overwrite").save()
    val donor = ParquetIO.listFiles(tmp.toString).head
    fs.delete(victim, false)
    assert(fs.rename(donor, victim))
    ParquetIO.deletePath(tmp.toString)
    graft.sources.kv.KvSidecar.clearCaches()
    // the stale entry's (len, mtime) no longer matches: the file must
    // NOT be pruned for a key only its NEW bytes contain
    val got = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") === 424242L)
    assert(got.count() == 1,
      "stale bloom entry (reused name, new bytes) must read as uncovered")
  }

  test("per-file filter widths: a skewed table gets per-file sizing, not max-file sizing") {
    val dir = java.nio.file.Files.createTempDirectory("kvbloomw").toString + "/t"
    (0L until 4000L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
      .write.format("kv").option("path", dir).mode("append").save()
    Seq((99999L, "small")).toDF("k", "v").coalesce(1)
      .write.format("kv").option("path", dir).mode("append").save()
    graft.sources.kv.KvBloom.build(spark, dir, Seq("k"))
    val reader = graft.sources.kv.KvBloom.reader(dir).get
    val widths = ParquetIO.listFilesStatus(dir).flatMap { case (f, len, mt) =>
      reader.bloomsFor(f.getName, len, mt).map(_("k").numBits)
    }
    assert(widths.length == 2, s"both files covered: $widths")
    assert(widths.max >= 4000 * 10 && widths.min == 64,
      s"per-file widths expected (got $widths): the small file must not " +
        "pay the big file's width")
    // and the filters still answer correctly
    def lookup(k: Long) = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") === k)
    assert(lookup(99999L).count() == 1)
    assert(lookup(123L).count() == 1)
    assert(lookup(555555L).count() == 0)
  }

  test("append hashes only the new files and extends point-lookup pruning to them") {
    val dir = stage() // 8 covered files, keys 0..799
    def wave(i: Int) = (800L + i * 100 until 900L + i * 100).map(k => (k, s"v$k")).toDF("k", "v")
    def read() = spark.read.format("kv").option("path", dir).load()
    def uncovered(): Seq[String] = {
      graft.sources.kv.KvSidecar.clearCaches()
      val reader = graft.sources.kv.KvBloom.reader(dir).get
      ParquetIO.listFilesStatus(dir).collect {
        case (f, len, mt) if reader.bloomsFor(f.getName, len, mt).isEmpty => f.toString
      }
    }
    // a kv write into the live sidecar covers its own file at commit:
    // append finds nothing, and a lookup prunes at once
    wave(0).coalesce(1).write.format("kv").option("path", dir).mode("append").save()
    assert(uncovered().isEmpty, "the kv writer covered its file")
    assert(graft.sources.kv.KvBloom.append(spark, dir) == 0)
    val kvHit = read().filter(col("k") === 850L)
    assert(plannedFiles(kvHit).size <= 2, s"owning file + FP only: ${plannedFiles(kvHit)}")
    assert(kvHit.select("v").as[String].collect().toSeq == Seq("v850"))

    // files another writer puts into the table dir stay uncovered
    (1 to 2).foreach(i => RawParquet.write(dir, s"ext-$i.parquet", wave(i)))
    val newNames = uncovered()
    // uncovered: BOTH new files survive every lookup's pruning (a bloom
    // false positive may add an old file — never subtract a new one)
    val pre = plannedFiles(read().filter(col("k") === 950L))
    assert(newNames.length == 2 && newNames.forall(pre.contains),
      s"uncovered files must plan: new=$newNames planned=$pre")

    assert(graft.sources.kv.KvBloom.append(spark, dir) == 2)
    assert(graft.sources.kv.KvBloom.append(spark, dir) == 0)
    graft.sources.kv.KvSidecar.clearCaches()

    // new coverage: the other writer's non-owning file now PRUNES for a
    // key of its sibling (only FP-rate old files may ride along); exact
    val hit = read().filter(col("k") === 950L)
    val post = plannedFiles(hit)
    assert(post.count(newNames.contains) == 1,
      s"exactly the owning new file plans: $post")
    // old-file FP sets are identical pre/post (same blooms), so the
    // delta is exactly the pruned non-owning new file
    assert(post.size == pre.size - 1,
      s"pruning must drop the non-owning new file: pre=$pre post=$post")
    assert(hit.select("v").as[String].collect().toSeq == Seq("v950"))
    // absent key: every covered file may prove absence (tolerate the
    // ~1%/file false-positive rate, never a false negative)
    val absent = read().filter(col("k") === 123456L)
    assert(plannedFiles(absent).size <= 2)
    assert(absent.count() == 0)
    assert(read().filter(col("k") === 50L).count() == 1)
    assert(read().count() == 1100)
  }

  test("append refuses missing/tombstoned sidecars; allowlist scan reads only its files") {
    val dir = stage()
    // the maintenance allowlist restricts the scan to the named files
    val one = ParquetIO.listFiles(dir).head
    val restricted = spark.read.format("kv").option("path", dir)
      .option("maintenance.files", one.getName).load()
    assert(restricted.count() == 100, "one file holds 100 of the 800 keys")
    // footer-agg pushdown must refuse under the allowlist (it would
    // otherwise fold every visible file's footer)
    val agg = restricted.agg(count(lit(1)))
    assert(agg.collect()(0).getLong(0) == 100)

    val fresh = java.nio.file.Files.createTempDirectory("kvbloomapp").toString + "/t"
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.format("kv").option("path", fresh).mode("append").save()
    intercept[IllegalStateException] {
      graft.sources.kv.KvBloom.append(spark, fresh)
    }
    graft.sources.kv.KvBloom.build(spark, fresh, Seq("k"))
    graft.sources.kv.KvSidecar.tombstone(fresh, graft.sources.kv.KvBloom.SidecarName)
    intercept[IllegalStateException] {
      graft.sources.kv.KvBloom.append(spark, fresh)
    }
  }
}
