package graft.sources

import graft.SparkSpec
import graft.operators.{KvMerge, ZOrder}
import graft.sources.kv.{KvIndex, KvInputPartition, KvScan}
import org.apache.spark.sql.functions._

/** Z-order rewrite: after `KvMerge.rewrite(zorderBy = x, y)` the zone
  * maps prune file reads for range predicates on EITHER dimension —
  * the multi-column layout linear clustering cannot provide (clusterBy
  * serves only its leading column). Values are never touched by the
  * layout; pruning never drops a matching row.
  */
class KvZorderSpec extends SparkSpec {
  import spark.implicits._

  /** 64x64 grid (x, y independent), written as 16 files with ROW-HASH
    * placement so pre-rewrite every file spans both full domains —
    * nothing can prune until the layout does.
    */
  private def stage(): String = {
    val dir = java.nio.file.Files.createTempDirectory("kvzorder").toString + "/t"
    (0 until 4096).map(i => (i / 64, i % 64, i.toLong))
      .toDF("x", "y", "payload")
      .repartition(16, col("payload"))
      .write.format("kv").option("path", dir).mode("overwrite").save()
    dir
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KvScan] => b.scan.asInstanceOf[KvScan]
    }.get
    scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[KvInputPartition].chunks.map(_.file)).toSet
  }

  test("zorder rewrite preserves contents exactly and prunes both dimensions") {
    val dir = stage()
    def read() = spark.read.format("kv").option("path", dir).load()
    val before = read().collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy(identity).toSeq

    KvMerge.rewrite(spark, dir, numFiles = 16, zorderBy = Seq("x", "y"))
    KvIndex.build(dir, Seq("x", "y"))
    assert(ParquetIO.listFiles(dir).length == 16)

    val after = read().collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy(identity).toSeq
    assert(after == before, "rewrite must not change table contents")

    // an x-strip of 1/8 of the domain: the curve visits it in a few
    // contiguous segments — most files prove non-overlap via min/max
    val xs = read().filter(col("x").between(8, 15))
    assert(xs.count() == 8 * 64)
    val xPlanned = plannedFiles(xs).size
    assert(xPlanned <= 8, s"x-strip planned $xPlanned of 16 files")

    // the SAME holds for y — the property linear clustering lacks
    val ys = read().filter(col("y").between(8, 15))
    assert(ys.count() == 8 * 64)
    val yPlanned = plannedFiles(ys).size
    assert(yPlanned <= 8, s"y-strip planned $yPlanned of 16 files")

    // a 2-D box prunes harder than either strip alone
    val box = read().filter(col("x").between(8, 15) && col("y").between(8, 15))
    assert(box.count() == 8 * 8)
    assert(plannedFiles(box).size <= math.min(xPlanned, yPlanned))

    // out-of-domain predicate plans nothing; no false pruning anywhere
    assert(plannedFiles(read().filter(col("x") > 1000)).isEmpty)
    assert(read().filter(col("x").between(8, 15)).count() == 512)
  }

  test("linear clusterBy(x) leaves y unprunable; zorder serves both") {
    val dir = stage()
    def read() = spark.read.format("kv").option("path", dir).load()

    KvMerge.rewrite(spark, dir, numFiles = 16, clusterBy = Seq("x"))
    KvIndex.build(dir, Seq("x", "y"))
    // leading column prunes tightly...
    assert(plannedFiles(read().filter(col("x").between(8, 15))).size <= 4)
    // ...but every file spans the full y domain
    assert(plannedFiles(read().filter(col("y").between(8, 15))).size == 16)

    KvMerge.rewrite(spark, dir, numFiles = 16, zorderBy = Seq("x", "y"))
    KvIndex.build(dir, Seq("x", "y"))
    assert(plannedFiles(read().filter(col("x").between(8, 15))).size <= 8)
    assert(plannedFiles(read().filter(col("y").between(8, 15))).size <= 8)
  }

  test("boundaries are equi-depth: skewed column still spreads over the curve") {
    // 90% of x mass at one hot value: min/max scaling would put the
    // whole table into one x bucket; equi-depth ranks split the rest
    val df = (0 until 2000).map { i =>
      val x = if (i < 1800) 7 else i % 64
      (x, i % 64)
    }.toDF("x", "y")
    val b = ZOrder.boundaries(df, Seq("x", "y"), bits = 4)
    // y near-uniform: most of the 15 interior boundaries survive
    assert(b("y").length >= 10)
    // x: dedup collapses the hot quantiles but cold values still get
    // boundaries — at least one (hot vs cold separation)
    assert(b("x").nonEmpty && b("x").length < 15)
    // rank column computes without error and stays within 2^bits
    val z = df.withColumn("z", ZOrder.zColumn(df, Seq("x", "y"), b, 4))
    val zs = z.agg(min("z"), max("z")).collect()(0)
    assert(zs.getLong(0) >= 0L && zs.getLong(1) < (1L << 8))
  }

  test("string dimension: sampled equi-depth cuts, both dims prune post-rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("kvzstr").toString + "/t"
    // 26 string categories × 64 numeric positions, row-hash placement
    (0 until 4096).map { i =>
      (('a' + i % 26).toChar.toString * 3, i / 64, i.toLong)
    }.toDF("cat", "x", "payload")
      .repartition(16, col("payload"))
      .write.format("kv").option("path", dir).mode("overwrite").save()
    def read() = spark.read.format("kv").option("path", dir).load()
    val before = read().collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2))).sortBy(identity).toSeq

    KvMerge.rewrite(spark, dir, numFiles = 16, zorderBy = Seq("cat", "x"))
    KvIndex.build(dir, Seq("cat", "x"))
    val after = read().collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2))).sortBy(identity).toSeq
    assert(after == before)

    // a 4-letter category band (≈4/26 of the string domain) prunes…
    val cats = read().filter(col("cat") >= "ccc" && col("cat") <= "fff")
    // residues 2..5 of 4096 mod 26: residues < 14 occur 158 times each
    assert(cats.count() == 4 * 158)
    assert(cats.collect().forall(r => r.getString(0) >= "ccc" && r.getString(0) <= "fff"))
    val catPlanned = plannedFiles(cats).size
    assert(catPlanned <= 8, s"string band planned $catPlanned of 16")
    // …and so does the numeric dimension
    val xs = read().filter(col("x").between(8, 15))
    assert(plannedFiles(xs).size <= 8)
    assert(xs.count() == 8 * 64)
  }

  test("rewrite keeps the pruning tier warm across the swap") {
    val dir = stage()
    KvIndex.build(dir, Seq("x", "y"))
    // the rewrite replaces every file; its write publishes the new
    // files' zone maps into the index it carries through the swap
    KvMerge.rewrite(spark, dir, numFiles = 16, zorderBy = Seq("x", "y"))
    graft.sources.kv.KvSidecar.clearCaches()
    def read() = spark.read.format("kv").option("path", dir).load()
    assert(plannedFiles(read().filter(col("x").between(8, 15))).size <= 8)
    assert(plannedFiles(read().filter(col("y").between(8, 15))).size <= 8)
    assert(read().count() == 4096)
  }

  test("rejects layouts that cannot fit and non-orderable types") {
    val df = Seq((1, Array[Byte](1, 2))).toDF("x", "s")
    intercept[IllegalArgumentException] {
      ZOrder.boundaries(df, Seq("x"), bits = 63)
    }
    intercept[IllegalArgumentException] {
      ZOrder.boundaries(df, Seq("s"), bits = 4)
    }
    intercept[IllegalArgumentException] {
      KvMerge.rewrite(spark, "/tmp/unused", 2,
        clusterBy = Seq("x"), zorderBy = Seq("y"))
    }
  }
}
