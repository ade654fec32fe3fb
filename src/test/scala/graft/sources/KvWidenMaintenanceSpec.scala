package graft.sources

import graft.SparkSpec
import graft.operators.KvMerge
import graft.sources.kv.{KvBloom, KvBuckets, KvInputPartition, KvScan}
import org.apache.spark.sql.functions._

/** The widen-then-maintain interaction matrix: every maintenance op is
  * individually widening-safe by design (signature invalidation,
  * footer-schema reads, type-checked layout claims) — these cases
  * COMPOSE them on a mixed-physical table (narrow-typed files + widened
  * schema + wide-typed appends) so a hole in any pairing trips a spec
  * instead of shipping. Plus the sidecar rebuild hook: widening
  * tombstones the Bloom sidecar (stale hash domain) and
  * [[KvMerge.rebuildIndexes]] restores file pruning from the recorded
  * configuration.
  */
class KvWidenMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KvScan] => b.scan.asInstanceOf[KvScan]
    }.get
    scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[KvInputPartition].chunks.map(_.file)).toSet
  }

  /** 4 narrow files (INT k / FLOAT p), widened schema, then one
    * wide-typed append — the mixed-physical shape every case reads.
    */
  private def stageMixed(): String = {
    val dir = java.nio.file.Files.createTempDirectory("kvwmix").toString + "/t"
    (0 until 4).foreach { i =>
      (0 until 50).filter(_ % 4 == i)
        .map(k => (k, k.toFloat / 2, s"r$k")).toDF("k", "p", "v").coalesce(1)
        .write.format("kv").option("path", dir).mode("append").save()
    }
    spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN p TYPE DOUBLE")
    Seq((5000000000L, 0.25, "wide")).toDF("k", "p", "v").coalesce(1)
      .write.format("kv").option("path", dir).mode("append").save()
    dir
  }

  private def expected: Set[(Long, Double, String)] =
    (0 until 50).map(k => (k.toLong, k.toFloat / 2.0, s"r$k")).toSet +
      ((5000000000L, 0.25, "wide"))

  private def readBack(dir: String): Set[(Long, Double, String)] =
    spark.read.format("kv").option("path", dir).load()
      .select(col("k"), col("p"), col("v")).as[(Long, Double, String)]
      .collect().toSet

  test("rewrite (range-clustered compaction) after widening keeps every row exact") {
    val dir = stageMixed()
    KvMerge.rewrite(spark, dir, numFiles = 2, clusterBy = Seq("k"))
    assert(ParquetIO.listFiles(dir).length == 2)
    assert(readBack(dir) == expected)
    // post-rewrite files are physically wide; pruning on the wide key works
    val hit = spark.read.format("kv").option("path", dir).load()
      .where(col("k") === 5000000000L)
    assert(hit.select("v").as[String].collect().toSeq == Seq("wide"))
  }

  test("zorder rewrite after widening: rows exact, curve ranks computed at the wide type") {
    val dir = stageMixed()
    // the boundary pass and rank exprs read the LIVE (widened) schema —
    // narrow-typed files upcast at read, the curve key never sees a
    // mixed hash/order domain (unlike murmur3 bucket routing)
    KvMerge.rewrite(spark, dir, numFiles = 4, zorderBy = Seq("k", "p"))
    assert(ParquetIO.listFiles(dir).length == 4)
    assert(readBack(dir) == expected)
    // layout claims are correctly gone after the range rewrite
    assert(KvBuckets.bucketsFor(dir).isEmpty)
    assert(graft.sources.kv.KvClustering.orderingFor(dir).isEmpty)
    // zone-map pruning works on both curve dimensions post-rewrite
    graft.sources.kv.KvIndex.build(dir, Seq("k", "p"))
    def read() = spark.read.format("kv").option("path", dir).load()
    assert(read().where(col("k") === 5000000000L)
      .select("v").as[String].collect().toSeq == Seq("wide"))
    val planned = plannedFiles(read().where(col("k") === 5000000000L))
    assert(planned.size < 4, s"outlier key should prune, planned $planned")
  }

  test("bucketize after widening claims the layout at the WIDE type; SPJ join correct") {
    val dir = stageMixed()
    KvMerge.bucketize(spark, dir, 4, Seq("k"))
    assert(KvBuckets.bucketsFor(dir).exists(_.colTypes ==
      Seq(org.apache.spark.sql.types.LongType)))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = spark.read.table(s"kvcat.`$dir`")
      val keys = ((0 until 50).map(_.toLong) :+ 5000000000L).toDF("k")
      val joined = t.join(keys, "k")
      assert(joined.count() == 51, "widened bucket join must keep every row")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("row-level UPDATE + compactMarkers + vacuum on mixed-physical files") {
    val dir = stageMixed()
    spark.sql(s"UPDATE kvcat.`$dir` SET v = 'updated' WHERE k = 5000000000")
    assert(readBack(dir) ==
      expected - ((5000000000L, 0.25, "wide")) + ((5000000000L, 0.25, "updated")))
    // narrow-file rows survive an rlo touching only the wide file
    spark.sql(s"UPDATE kvcat.`$dir` SET v = 'n3' WHERE k = 3")
    val folded = KvMerge.compactMarkers(dir)
    assert(folded >= 1, "compactMarkers should fold the update markers")
    assert(KvMerge.vacuum(dir, olderThanMs = 0L) >= 0)
    assert(readBack(dir) ==
      expected - ((5000000000L, 0.25, "wide")) + ((5000000000L, 0.25, "updated")) -
        ((3L, 1.5, "r3")) + ((3L, 1.5, "n3")))
  }

  test("rebuildIndexes restores Bloom file pruning after widening tombstones it") {
    val dir = java.nio.file.Files.createTempDirectory("kvwrebuild").toString + "/t"
    (0 until 8).foreach { i =>
      (0 until 800).filter(_ % 8 == i).map(k => (k, s"v$k")).toDF("k", "v")
        .coalesce(1)
        .write.format("kv").option("path", dir).mode("append").save()
    }
    KvBloom.build(spark, dir, Seq("k"), bitsPerKey = 12)
    assert(KvBloom.reader(dir).isDefined)
    spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN k TYPE BIGINT")
    // tombstoned: never served, but the configuration survives
    assert(KvBloom.reader(dir).isEmpty, "stale sidecar must not serve")
    val rebuilt = KvMerge.rebuildIndexes(spark, dir)
    assert(rebuilt.contains(KvBloom.SidecarName), s"rebuilt: $rebuilt")
    assert(KvBloom.reader(dir).isDefined)
    // pruning works in the WIDENED hash domain (q_kv_bloom_prune shape)
    def read() = spark.read.format("kv").option("path", dir).load()
    val hit = read().filter(col("k") === 205L)
    assert(plannedFiles(hit).size == 1, "rebuilt bloom should plan 1 file")
    assert(hit.select("v").as[String].collect().toSeq == Seq("v205"))
    val miss = read().filter(col("k") === 5000L)
    assert(plannedFiles(miss).isEmpty, "absent key should plan no files")
    assert(miss.count() == 0)
  }
}
