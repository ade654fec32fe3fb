package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.kv._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The kv writer keeps LIVE Bloom and zone-map sidecars current at
  * commit: right after a kv write, every file it added carries exactly
  * the entries a fresh `KvBloom.build` + `KvIndex.build` would give it,
  * so `append` finds nothing and lookups prune at once. A write the
  * sidecar cannot vouch for — tombstoned sidecar, another hash domain,
  * overwrite, aborted task or job — publishes nothing.
  */
class KvWriterSidecarSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("id", "i", "d", "b", "ts", "s")
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("b", BooleanType),
    StructField("ts", TimestampType), StructField("s", StringType)))

  private def key(n: Int): String = s"ключ-$n-日本-é"

  /** Rows n in [from, to); each column is null on its own residue. */
  private def rows(from: Int, to: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList((from until to).map { n =>
      Row(if (n % 11 == 3) null else n.toLong,
        if (n % 7 == 1) null else n * 31 % 97,
        if (n % 5 == 2) null else n * 0.25 - 3,
        if (n % 6 == 4) null else n % 3 == 0,
        if (n % 9 == 5) null else new java.sql.Timestamp(1700000000000L + n * 61000L),
        if (n % 4 == 0) null else key(n))
    }: _*), schema)

  private def internal(from: Int, to: Int): Array[InternalRow] =
    rows(from, to).queryExecution.toRdd.map(_.copy()).collect()

  private def newTable(prefix: String, base: DataFrame): String = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    kvWrite(base, dir)
    KvBloom.build(spark, dir, cols)
    KvIndex.build(dir, cols)
    dir
  }

  private def kvWrite(df: DataFrame, dir: String, opts: (String, String)*): Unit =
    df.write.format("kv").option("path", dir).options(opts.toMap).mode("append").save()

  private def read(dir: String) = spark.read.format("kv").option("path", dir).load()

  private def plannedFiles(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KvScan] => b.scan.asInstanceOf[KvScan]
    }.get
    scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[KvInputPartition].chunks.map(_.file)).toSet
  }

  private def entries(dir: String, name: String) = FreshSidecars.entries(dir, name)

  /** Every live file is covered, and its entries equal a fresh build's. */
  private def assertMatchesFreshBuild(dir: String): Unit = {
    val published = Seq(KvBloom.SidecarName, KvIndex.SidecarName).map(n => n -> entries(dir, n))
    published.foreach { case (n, es) =>
      assert(es.values.forall(_.isDefined),
        s"$n leaves files uncovered: ${es.collect { case (f, None) => f }}")
    }
    val built = FreshSidecars.of(spark, dir, cols, cols)
    published.foreach { case (n, es) =>
      val fresh = built(n)
      val differ = fresh.keys.filter(f => fresh(f) != es(f)).toSeq.sorted
      assert(differ.isEmpty, s"$n entries differ from a fresh build for $differ")
    }
  }

  private def rowCount(dir: String, name: String): Long =
    ParquetIO.footer(new Path(dir, name)).rowCount

  test("a kv write publishes, per new file, the entries a fresh build gives: nulls, 0-row and -sN files") {
    val dir = newTable("kvws", rows(0, 40).repartition(2))
    val before = ParquetIO.listFiles(dir).map(_.getName).toSet
    // 3 rows over 4 slices: slice 0 holds none and writes a 0-row file
    kvWrite(spark.createDataFrame(
      spark.sparkContext.parallelize(rows(40, 43).collect().toSeq, 4), schema), dir)
    // 77 rows at 20 per file: 20, 20, 20 and 17 rows (widths 256 and 192)
    kvWrite(rows(43, 120).coalesce(1), dir, "writer.batch.size" -> "20")
    val added = ParquetIO.listFiles(dir).map(_.getName).filterNot(before)
    assert(added.exists(f => rowCount(dir, f) == 0), s"no 0-row file among $added")
    assert(added.count(_.contains("-s")) == 3, s"rollover files expected: $added")

    assert(KvBloom.append(spark, dir) == 0, "the writes covered their own files")
    assert(KvIndex.append(dir) == 0, "the writes covered their own files")
    // zone maps cannot prune a non-ASCII string: the Bloom filter does,
    // right after the write
    val hit = read(dir).filter(col("s") === key(77))
    assert(hit.select("id").as[Long].collect().toSeq == Seq(77L))
    assert(plannedFiles(hit).size <= 2, s"the lookup must prune: ${plannedFiles(hit)}")
    assert(read(dir).filter(col("s") === "absent-ключ").count() == 0)
    assertMatchesFreshBuild(dir)
  }

  test("an epoch commit of a streaming kv write publishes its files' entries") {
    val dir = newTable("kvwsstream", rows(0, 30).coalesce(1))
    val write = new KvStreamingWrite(dir, schema)
    val data = internal(30, 90)
    (0L to 1L).foreach { epoch =>
      val factory = write.createStreamingWriterFactory(null)
      val messages = (0 until 2).map { p =>
        val w = factory.createWriter(p, p.toLong, epoch)
        data.slice((epoch.toInt * 2 + p) * 15, (epoch.toInt * 2 + p + 1) * 15).foreach(w.write)
        w.commit()
      }
      write.commit(epoch, messages.toArray)
    }
    assert(ParquetIO.listFiles(dir).count(_.getName.startsWith("epoch-")) == 4)
    assert(KvBloom.append(spark, dir) == 0)
    assert(KvIndex.append(dir) == 0)
    assert(read(dir).filter(col("s") === key(62)).select("id").as[Long].collect().toSeq == Seq(62L))
    assertMatchesFreshBuild(dir)
  }

  test("a kv write past 64 files re-shards both sidecars at commit") {
    val dir = newTable("kvwsgrow", rows(0, 600).repartition(60))
    assert(KvSidecar.open(dir, KvBloom.SidecarName).get.numShards == 1)
    kvWrite(rows(600, 700).repartition(10), dir)
    KvSidecar.clearCaches()
    assert(ParquetIO.listFiles(dir).length == 70)
    Seq(KvBloom.SidecarName, KvIndex.SidecarName).foreach { n =>
      assert(KvSidecar.open(dir, n).get.numShards == 2, s"$n shard budget grows")
    }
    assert(KvBloom.append(spark, dir) == 0)
    assertMatchesFreshBuild(dir)
  }

  test("a tombstoned bloom sidecar gets nothing from a kv write; append still refuses") {
    val dir = newTable("kvwstomb", rows(0, 30).coalesce(1))
    KvSidecar.tombstone(dir, KvBloom.SidecarName)
    kvWrite(rows(30, 60).coalesce(1), dir)
    assert(KvSidecar.open(dir, KvBloom.SidecarName).isEmpty)
    assert(KvSidecar.readMeta(dir, KvBloom.SidecarName)
      .exists(m => (m \ "stale") == org.json4s.JBool(true)), "the tombstone stays")
    intercept[IllegalStateException](KvBloom.append(spark, dir))
    // the live zone map still takes the new file
    assert(entries(dir, KvIndex.SidecarName).values.forall(_.isDefined))
    assert(read(dir).filter(col("id") === 45L).count() == 1)
  }

  test("a write whose column type differs from the table's stays uncovered; lookups stay exact") {
    val dir = newTable("kvwstype", rows(0, 30).coalesce(1))
    val before = ParquetIO.listFiles(dir).map(_.getName).toSet
    // id written as INT: the reader widens it to the table's BIGINT, whose
    // xxhash64 differs — a writer-side hash would miss every lookup
    kvWrite(rows(30, 40).withColumn("id", col("id").cast("int")).coalesce(1), dir)
    val added = ParquetIO.listFiles(dir).map(_.getName).filterNot(before)
    assert(added.length == 1)
    assert(entries(dir, KvBloom.SidecarName)(added.head).isEmpty, "no bloom entry")
    assert(entries(dir, KvIndex.SidecarName)(added.head).isDefined, "zone maps still cover it")
    val hit = read(dir).filter(col("id") === 35L)
    assert(plannedFiles(hit).exists(_.endsWith(added.head)), "an uncovered file is never pruned")
    assert(hit.select("s").as[String].collect().toSeq == Seq(key(35)))
    assert(KvBloom.append(spark, dir) == 1, "append hashes it through the read plane")
    assert(KvBloom.append(spark, dir) == 0)
    assert(read(dir).filter(col("id") === 35L).count() == 1)
    assert(read(dir).filter(col("id") === 38L).count() == 1)
  }

  test("overwrite deletes the sidecars with the data and publishes none") {
    val dir = newTable("kvwsover", rows(0, 30).coalesce(1))
    rows(30, 60).coalesce(1).write.format("kv").option("path", dir).mode("overwrite").save()
    assert(KvSidecar.open(dir, KvBloom.SidecarName).isEmpty)
    assert(KvSidecar.open(dir, KvIndex.SidecarName).isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_index")))
    assert(read(dir).count() == 30)
    assert(read(dir).filter(col("id") === 45L).count() == 1)
  }

  test("an aborted task or job publishes nothing") {
    val dir = newTable("kvwsabort", rows(0, 30).coalesce(1))
    val data = internal(30, 60)
    val write = new KvBatchWrite(dir, schema, truncateFirst = false)
    val factory = write.createBatchWriterFactory(null)
    val aborted = factory.createWriter(0, 100L)
    data.take(10).foreach(aborted.write)
    aborted.abort()
    val ok = factory.createWriter(1, 101L)
    data.drop(10).foreach(ok.write)
    write.commit(Array(ok.commit()))
    val names = ParquetIO.listFiles(dir).map(_.getName)
    assert(!names.exists(_.contains("-100")), s"the aborted task's file is gone: $names")
    assert(names.exists(_.contains("-101")))

    def sidecarFiles(): Seq[(String, Long, Long)] =
      Seq(KvBloom.SidecarName, KvIndex.SidecarName).flatMap { n =>
        new java.io.File(dir, s"_index/$n").listFiles().toSeq
          .map(f => (s"$n/${f.getName}", f.length, f.lastModified))
      }.sorted
    val sidecarsBefore = sidecarFiles()
    val job = new KvBatchWrite(dir, schema, truncateFirst = false)
    val w = job.createBatchWriterFactory(null).createWriter(0, 200L)
    data.take(5).foreach(w.write)
    job.abort(Array(w.commit()))
    assert(!ParquetIO.listFiles(dir).exists(_.getName.contains("-200")))
    assert(sidecarFiles() == sidecarsBefore, "an aborted job leaves both sidecars untouched")
    assert(read(dir).count() == 50)
    assertMatchesFreshBuild(dir)
  }
}
