package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.SparkSpec
import graft.functions.CdcFunctions._
import graft.operators.KvMerge
import graft.sources.cdc.Cdc
import graft.sources.kv._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSession
import org.apache.spark.sql.types._

/** Every `KvMerge` rewrite carries the table's Bloom and zone-map sidecars
  * through its swap: straight after merge, deleteWhere, updateWhere,
  * rewrite and bucketize, each live file holds the entries a fresh build
  * gives it, a point lookup prunes with no build in between, and the next
  * `build` finds nothing to do. A tombstone stays a tombstone.
  */
class KvMergeSidecarSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("k", "n", "s")
  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("n", LongType),
    StructField("s", StringType)))

  private def key(k: Long): String = s"ключ-$k-日本-é"

  private def row(k: Long, tag: String = ""): Row =
    Row(k, if (k % 7 == 3) null else k * 13, if (k % 5 == 1) null else key(k) + tag)

  private def rows(ks: Seq[Long], parts: Int, tag: String = ""): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ks.map(row(_, tag)), parts), schema)

  // without partition coalescing every rewrite keeps several files, so a
  // one-file lookup plan is pruning and not a one-file table
  private lazy val session: SparkSession =
    GraftSession.clone(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  private def newTable(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    rows(0L until 400L, 4).write.format("kv").option("path", dir).mode("append").save()
    KvBloom.build(spark, dir, cols)
    KvIndex.build(dir, cols)
    dir
  }

  private def read(dir: String) = session.read.format("kv").option("path", dir).load()

  private def plannedFiles(df: DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[KvScan] => b.scan.asInstanceOf[KvScan]
    }.get
    scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[KvInputPartition].chunks.map(_.file)).toSet
  }

  /** Spark jobs started and rows read by tasks while `body` runs. */
  private def jobsAndRows(body: => Unit): (Int, Long) = {
    val jobs = new AtomicInteger(0)
    val rowsRead = new AtomicLong(0L)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m => rowsRead.addAndGet(m.inputMetrics.recordsRead))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      Thread.sleep(1000) // listener bus is async; let the events land
      (jobs.get, rowsRead.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Every file under `_index`, with its length and mtime. */
  private def sidecarFiles(dir: String): Seq[(String, Long, Long)] = {
    val root = new java.io.File(dir, "_index")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).map(f => (root.toPath.relativize(f.toPath).toString, f.length, f.lastModified))
      .sorted
  }

  private def build(dir: String, bitsPerKey: Int = 10): Unit = {
    KvBloom.build(spark, dir, cols, bitsPerKey)
    KvIndex.build(dir, cols)
  }

  /** The state every rewrite must leave: both sidecars cover every live
    * file with a fresh build's entries, lookups of `present` (by key and
    * by non-ASCII string) plan ≤ 1 file and return `want`, an absent key
    * plans none, and a following build runs no job and publishes nothing.
    */
  private def assertCarried(dir: String, present: Long, want: Row): Unit = {
    assert(ParquetIO.listFiles(dir).length >= 2, "a one-file table proves no pruning")
    val byKey = read(dir).filter(col("k") === present)
    assert(plannedFiles(byKey).size <= 1, s"lookup planned ${plannedFiles(byKey)}")
    assert(byKey.collect().toSeq == Seq(want))
    if (!want.isNullAt(2)) {
      val byStr = read(dir).filter(col("s") === want.getString(2))
      assert(plannedFiles(byStr).size <= 1, s"string lookup planned ${plannedFiles(byStr)}")
      assert(byStr.select("k").as[Long].collect().toSeq == Seq(present))
    }
    assert(plannedFiles(read(dir).filter(col("k") === 99999L)).isEmpty)

    val published = Seq(KvBloom.SidecarName, KvIndex.SidecarName)
      .map(n => n -> FreshSidecars.entries(dir, n)).toMap
    val fresh = FreshSidecars.of(spark, dir, cols, cols)
    published.foreach { case (n, es) =>
      assert(es.values.forall(_.isDefined), s"$n uncovered: ${es.filter(_._2.isEmpty).keys}")
      val differ = es.keys.filter(f => es(f) != fresh(n)(f))
      assert(differ.isEmpty, s"$n entries differ from a fresh build for $differ")
    }

    val before = sidecarFiles(dir)
    val (jobs, _) = jobsAndRows(build(dir))
    assert(jobs == 0, "a build over current sidecars runs no Spark job")
    assert(sidecarFiles(dir) == before, "a build over current sidecars publishes nothing")
  }

  test("merge, deleteWhere, updateWhere, rewrite and bucketize carry both sidecars") {
    val dir = newTable("kvmsc")
    val ops = rows((380L until 420L), 2, "-u").withColumn("__op", lit("UPSERT"))
      .unionByName(Seq(5L, 6L).toDF("k").withColumn("n", lit(null).cast("long"))
        .withColumn("s", lit(null).cast("string")).withColumn("__op", lit("DELETE")))
    KvMerge.merge(session, dir, ops, "__op", Seq("k"))
    assertCarried(dir, 404L, row(404L, "-u"))
    assert(read(dir).filter(col("k") === 5L).isEmpty)

    assert(KvMerge.deleteWhere(session, dir, col("k") % 10 === 0) == 42)
    assertCarried(dir, 212L, row(212L))
    assert(read(dir).filter(col("k") === 210L).isEmpty)

    assert(KvMerge.updateWhere(session, dir, col("k") < 50,
      Map("s" -> concat(col("s"), lit("-w")))) == 43)
    assertCarried(dir, 12L, row(12L, "-w"))

    KvMerge.rewrite(session, dir, numFiles = 3, clusterBy = Seq("k"))
    assertCarried(dir, 333L, row(333L))

    KvMerge.bucketize(session, dir, 4, Seq("k"))
    assertCarried(dir, 77L, row(77L))
    assert(read(dir).count() == 420 - 2 - 42)
  }

  test("after a carry, a build hashes only a file put in by another writer; a new conf rebuilds all") {
    val dir = newTable("kvmscraw")
    KvMerge.merge(session, dir, rows(Seq(1L, 2L), 1, "-m").withColumn("__op", lit("UPSERT")),
      "__op", Seq("k"))
    RawParquet.write(dir, "raw-0.parquet", rows(500L until 507L, 1))
    val covered = FreshSidecars.entries(dir, KvBloom.SidecarName)
    assert(covered.collect { case (f, None) => f }.toSeq == Seq("raw-0.parquet"))

    val (_, hashed) = jobsAndRows(KvBloom.build(spark, dir, cols))
    assert(hashed == 7, s"the build read $hashed rows, not just the raw file's 7")
    val after = FreshSidecars.entries(dir, KvBloom.SidecarName)
    assert(after.forall { case (f, e) => e.isDefined && (f == "raw-0.parquet" || e == covered(f)) })
    KvIndex.build(dir, cols)
    assert(FreshSidecars.entries(dir, KvIndex.SidecarName).values.forall(_.isDefined))
    val hit = read(dir).filter(col("k") === 503L)
    assert(plannedFiles(hit).map(new org.apache.hadoop.fs.Path(_).getName) == Set("raw-0.parquet"))
    assert(hit.collect().toSeq == Seq(row(503L)))

    val total = read(dir).count()
    val (_, rebuilt) = jobsAndRows(KvBloom.build(spark, dir, cols, bitsPerKey = 12))
    assert(rebuilt == total, s"another bitsPerKey hashes every row: $rebuilt of $total")
    assert(KvSidecar.readMeta(dir, KvBloom.SidecarName).flatMap(KvBloom.Conf.of)
      .contains(KvBloom.Conf(cols, 12)))
    val wider = FreshSidecars.entries(dir, KvBloom.SidecarName)
    assert(wider.forall { case (f, e) => e.isDefined && e != after(f) }, "every entry rebuilt")
    assert(wider == FreshSidecars.of(spark, dir, cols, cols, bitsPerKey = 12)(KvBloom.SidecarName))
  }

  test("a tombstone survives a merge, and rebuildIndexes then restores pruning") {
    val dir = newTable("kvmsctomb")
    KvSidecar.tombstone(dir, KvBloom.SidecarName)
    KvMerge.merge(session, dir, rows(Seq(3L, 4L), 1, "-t").withColumn("__op", lit("UPSERT")),
      "__op", Seq("k"))
    assert(KvSidecar.open(dir, KvBloom.SidecarName).isEmpty, "never served")
    assert(KvSidecar.readMeta(dir, KvBloom.SidecarName)
      .exists(m => (m \ "stale") == org.json4s.JBool(true)), "the tombstone stays")
    assert(FreshSidecars.entries(dir, KvIndex.SidecarName).values.forall(_.isDefined),
      "the live zone map is carried beside it")
    val lookup = read(dir).filter(col("s") === key(203L))
    assert(plannedFiles(lookup).size > 1, "nothing prunes yet")
    assert(KvMerge.rebuildIndexes(spark, dir).toSet ==
      Set(KvBloom.SidecarName, KvIndex.SidecarName))
    assertCarried(dir, 203L, row(203L))
  }

  test("a CDC apply stream into a bloomed kv target keeps lookups pruned after every batch") {
    val base = Files.createTempDirectory("kvmsccdc").toString
    val (logDir, target) = (s"$base/log", s"$base/target")
    (0L until 60L).map(k => (k, key(k), k * 0.5)).toDF("pk", "name", "score")
      .repartition(3).write.format("kv").option("path", target).mode("append").save()
    KvBloom.build(spark, target, Seq("pk", "name"))
    KvIndex.build(target, Seq("pk"))
    def change(t: String, ts: Long, pk: Long, name: String) =
      (t, ts, pk, name, if (name == null) null else java.lang.Double.valueOf(pk * 2.0),
        if (name == null) null else "PUT", if (name == null) null else "PUT")
    def changes(cs: (String, Long, Long, String, java.lang.Double, String, String)*) =
      cs.toDF(RecordTypeCol, RecordTimestampCol, "pk", "name", "score",
        columnTypeCol("name"), columnTypeCol("score"))
    val model = scala.collection.mutable.Map((0L until 60L).map(k => k -> key(k)): _*)
    val batches = Seq(
      Seq(change("PUT", 1L, 7L, "seven"), change("PUT", 1L, 70L, "seventy"),
        change("DELETE", 1L, 8L, null)),
      Seq(change("UPDATE", 2L, 70L, "седьмой"), change("PUT", 2L, 71L, "x"),
        change("DELETE", 2L, 9L, null)))
    // the stream infers its schema from the changelog's first batch
    Cdc.appendBatch(changes(batches.head: _*), logDir)
    val q = Cdc.applyStream(session, logDir, target, Seq("pk"), s"$base/ckpt")
    try {
      batches.zipWithIndex.foreach { case (batch, i) =>
        if (i > 0) Cdc.appendBatch(changes(batch: _*), logDir)
        q.processAllAvailable()
        batch.foreach { c => if (c._1 == "DELETE") model -= c._3 else model(c._3) = c._4 }
        Seq(7L, 8L, 9L, 10L, 70L, 71L).foreach { pk =>
          val byKey = read(target).filter(col("pk") === pk)
          assert(plannedFiles(byKey).size <= 1, s"pk $pk planned ${plannedFiles(byKey)}")
          assert(byKey.select("name").as[String].collect().toSeq == model.get(pk).toSeq, s"pk $pk")
        }
        val byName = read(target).filter(col("name") === key(33L))
        assert(plannedFiles(byName).size <= 1)
        assert(byName.select("pk").as[Long].collect().toSeq == Seq(33L))
      }
    } finally q.stop()
  }
}
