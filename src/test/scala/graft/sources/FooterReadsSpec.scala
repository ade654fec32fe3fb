package graft.sources

import graft.SparkSpec
import graft.sources.kv.{KvBloom, KvIndex, KvInputPartition, KvScan}
import org.apache.spark.sql.functions._

/** One footer read per file, JVM-wide: sidecar maintenance and planning
  * share the signature-cached [[ParquetIO.footer]], so a new file is
  * opened for its footer exactly once however many consumers need it.
  */
class FooterReadsSpec extends SparkSpec {
  import spark.implicits._

  private def appendFile(dir: String, keys: Seq[Long]): Unit =
    keys.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
      .write.format("kv").option("path", dir).mode("append").save()

  private def plannedChunks(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KvScan] => b.scan.asInstanceOf[KvScan]
    }.get
    scan.toBatch.planInputPartitions().toSeq
      .flatMap(_.asInstanceOf[KvInputPartition].chunks)
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    plannedChunks(df).map(_.file).toSet

  test("N appended files cost N footer reads across sidecar append and planning; re-plans cost 0") {
    val dir = java.nio.file.Files.createTempDirectory("kvfooters").toString + "/t"
    (0 until 2).foreach(i => appendFile(dir, (i * 100L until (i + 1) * 100L)))
    KvBloom.build(spark, dir, Seq("k"))
    KvIndex.build(dir, Seq("k"))
    def lookup() = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") === 350L)

    val n = 3
    // kv-written files: the commit reads each new footer once for the zone
    // map (the Bloom entries come from the writer), shared with the planner
    val before = ParquetIO.footerReads.get()
    (2 until 2 + n).foreach(i => appendFile(dir, (i * 100L until (i + 1) * 100L)))
    assert(KvBloom.append(spark, dir) == 0)
    assert(KvIndex.append(dir) == 0)
    assert(plannedFiles(lookup()).size == 1, "the lookup prunes to its owning file")
    assert(ParquetIO.footerReads.get() - before == n,
      "each kv-written file's footer is read once, shared by the commit and the planner")

    // files from another writer: read once each, shared by bloom, zone map and planner
    val beforeRaw = ParquetIO.footerReads.get()
    (5 until 5 + n).foreach { i =>
      RawParquet.write(dir, s"ext-$i.parquet",
        (i * 100L until (i + 1) * 100L).map(k => (k, s"v$k")).toDF("k", "v"))
    }
    assert(KvBloom.append(spark, dir) == n)
    assert(KvIndex.append(dir) == n)
    def rawLookup() = spark.read.format("kv").option("path", dir).load()
      .filter(col("k") === 650L)
    assert(plannedFiles(rawLookup()).size == 1, "the lookup prunes to its owning file")
    assert(ParquetIO.footerReads.get() - beforeRaw == n,
      "each new file's footer is read once, shared by bloom, zone map and planner")

    val planned = ParquetIO.footerReads.get()
    val chunks = plannedChunks(lookup().select("v"))
    val opens = ParquetIO.dataOpens.get()
    assert(lookup().select("v").as[String].collect().toSeq == Seq("v350"))
    assert(ParquetIO.footerReads.get() == planned, "re-planning must not re-read a footer")
    assert(chunks.nonEmpty && ParquetIO.dataOpens.get() - opens == chunks.size,
      s"a planned lookup opens each chunk it reads once (${chunks.size} chunks)")
  }
}
