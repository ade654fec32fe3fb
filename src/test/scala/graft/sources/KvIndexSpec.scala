package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.kv.KvIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FilterExec

/** Search-index scan mode (reference `TableStoreRelation.scala:364-438`,
  * `SearchIndexSuite.scala:69-108`): with an index built, eligible
  * filters are satisfied by the source — Spark plans NO re-filter — and
  * only true residuals are negotiated back; zone maps prune row groups at
  * planning time.
  */
class KvIndexSpec extends SparkSpec {
  import spark.implicits._

  /** 4 files × sorted key ranges, small row groups for pruning tests. */
  private def makeTable(): String = {
    val dir = Files.createTempDirectory("kvidx").toString + "/t"
    (0 until 4).foreach { part =>
      val rows = (part * 1000 until (part + 1) * 1000)
        .map(i => (i.toLong, s"cat${i % 5}", i * 1.5))
      rows.toDF("k", "cat", "v").coalesce(1)
        .write.format("kv").option("path", dir).mode("append").save()
    }
    dir
  }

  private def filtersOf(df: org.apache.spark.sql.DataFrame): Seq[FilterExec] =
    df.queryExecution.executedPlan.collect { case f: FilterExec => f }

  test("index satisfies eligible filters: no post-scan Filter; residuals only for the rest") {
    val dir = makeTable()
    def q(d: String) = spark.read.format("kv").option("path", d).load()
      .filter(col("k") === 1500L)

    // without an index every filter is residual → a Filter node exists
    assert(filtersOf(q(dir)).nonEmpty, "unindexed scan must re-apply filters")
    val expected = q(dir).collect().toSeq

    KvIndex.build(dir, Seq("k", "cat"))
    val indexed = q(dir)
    assert(filtersOf(indexed).isEmpty,
      s"indexed equality must be satisfied by the source: ${indexed.queryExecution.executedPlan}")
    assert(indexed.collect().toSeq == expected, "same rows with and without the index")

    // a filter on a non-indexed column stays residual
    val mixed = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") === 1500L && col("v") > 0.0)
    val residuals = filtersOf(mixed)
    assert(residuals.nonEmpty)
    val cond = residuals.map(_.condition.sql).mkString(" ")
    assert(cond.contains("v"), s"non-indexed v predicate must be re-applied: $cond")
    assert(!cond.contains("(k = 1500"), s"indexed k predicate must not be re-applied: $cond")
    assert(mixed.collect().map(_.getLong(0)).toSeq == Seq(1500L))
  }

  test("zone map prunes row groups at planning time") {
    val dir = makeTable()
    KvIndex.build(dir, Seq("k", "cat"))
    val all = spark.read.format("kv").option("path", dir).load()
    val allParts = all.rdd.getNumPartitions
    // keys 0..999 live in one file — the other files' groups are pruned
    val pruned = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") < 1000L)
    assert(pruned.rdd.getNumPartitions < allParts,
      s"selective range must plan fewer splits (${pruned.rdd.getNumPartitions} vs $allParts)")
    assert(pruned.count() == 1000L)
  }

  test("range, IN, and IS NOT NULL on indexed columns are satisfied") {
    val dir = makeTable()
    KvIndex.build(dir, Seq("k", "cat"))
    val range = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") >= 100L && col("k") < 200L)
    assert(filtersOf(range).isEmpty, "indexed range must be satisfied")
    assert(range.count() == 100L)
    val in = spark.read.format("kv").option("path", dir).load()
      .filter(col("cat").isin("cat1", "cat3"))
    assert(filtersOf(in).isEmpty, "indexed IN must be satisfied")
    assert(in.count() == 1600L)
  }

  test("index stays safe when new files arrive after the build (stale map)") {
    val dir = makeTable()
    KvIndex.build(dir, Seq("k", "cat"))
    // another writer adds a file the index has never seen
    RawParquet.write(dir, "ext-late.parquet", Seq((9999L, "cat0", 1.0)).toDF("k", "cat", "v"))
    val got = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") === 9999L).collect()
    assert(got.length == 1, "uncovered files are never pruned and still filtered correctly")
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.kv.{KvInputPartition, KvScan}
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KvScan] => b.scan.asInstanceOf[KvScan]
    }.get
    scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[KvInputPartition].chunks.map(_.file)).toSet
  }

  test("append indexes only the new files and extends pruning to them") {
    val dir = makeTable() // 4 files, disjoint 1000-row key ranges
    KvIndex.build(dir, Seq("k", "cat"))
    def part(p: Int) = (p * 1000 until (p + 1) * 1000)
      .map(i => (i.toLong, s"cat${i % 5}", i * 1.5)).toDF("k", "cat", "v")
    def read() = spark.read.format("kv").option("path", dir).load()
    // a kv write into the live index covers its own file at commit:
    // append finds nothing, and a range inside it prunes at once
    part(4).coalesce(1).write.format("kv").option("path", dir).mode("append").save()
    assert(KvIndex.append(dir) == 0, "the kv writer indexed its file")
    assert(plannedFiles(read().filter(col("k").between(4200L, 4300L))).size == 1)

    // files another writer puts into the table dir stay uncovered: a
    // point probe inside an OLD file's range still plans them (never
    // pruned)
    (5 until 7).foreach(p => RawParquet.write(dir, s"ext-$p.parquet", part(p)))
    assert(plannedFiles(read().filter(col("k").between(1200L, 1300L))).size == 3)

    assert(KvIndex.append(dir) == 2, "exactly the two new files get indexed")
    assert(KvIndex.append(dir) == 0, "append is a no-op when coverage is complete")
    graft.sources.kv.KvSidecar.clearCaches()

    // new coverage prunes: a range inside file 6 plans one file…
    assert(plannedFiles(read().filter(col("k").between(6200L, 6300L))).size == 1)
    // …and old coverage is untouched
    assert(plannedFiles(read().filter(col("k").between(1200L, 1300L))).size == 1)
    assert(read().filter(col("k") >= 4000L).count() == 3000)
  }

  test("append re-shards when the file count outgrows the shard budget") {
    import graft.sources.kv.KvSidecar
    val dir = Files.createTempDirectory("kvidxgrow").toString + "/t"
    (0 until 6000).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .repartition(60)
      .write.format("kv").option("path", dir).mode("append").save()
    KvIndex.build(dir, Seq("k"))
    assert(KvSidecar.open(dir, KvIndex.SidecarName).get.numShards == 1)

    // ten files from another writer take the table past 64 files
    (0 until 10).foreach { p =>
      RawParquet.write(dir, s"ext-$p.parquet",
        (0 until 100).map(i => (10000L + p * 100 + i, i * 1.0)).toDF("k", "v"))
    }
    assert(KvIndex.append(dir) == 10)
    KvSidecar.clearCaches()
    val sc = KvSidecar.open(dir, KvIndex.SidecarName).get
    assert(sc.numShards == 2, "shard budget grows with the table")
    // EVERY live file is covered after the re-shard — old entries
    // re-serialized, new ones indexed
    val live = ParquetIO.listFilesStatus(dir)
    assert(live.length == 70)
    assert(live.forall { case (f, l, m) => sc.entryFor(f.getName, l, m).isDefined })
    // and a kv write on top is covered by its own commit
    (0 until 100).map(i => (20000L + i, i * 1.0)).toDF("k", "v").coalesce(1)
      .write.format("kv").option("path", dir).mode("append").save()
    assert(KvIndex.append(dir) == 0)
  }

  test("append refuses a missing or tombstoned index instead of guessing config") {
    val dir = makeTable()
    intercept[IllegalStateException] { KvIndex.append(dir) }
    KvIndex.build(dir, Seq("k"))
    graft.sources.kv.KvSidecar.tombstone(dir, KvIndex.SidecarName)
    intercept[IllegalStateException] { KvIndex.append(dir) }
  }
}
