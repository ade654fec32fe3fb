package graft.sinks

import java.nio.file.Files
import java.sql.DriverManager
import graft.SparkSpec

class ExactlyOnceJdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  private def newDb(): String =
    s"jdbc:derby:${Files.createTempDirectory("derby").toString}/db;create=true"

  private def queryLongs(url: String, sql: String): Seq[Long] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (rs.next()) out += rs.getLong(1)
      out.toSeq
    } finally c.close()
  }

  test("two-phase write lands rows once; replayed batch is skipped") {
    val url = newDb()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name").repartition(2)
    assert(ExactlyOnceJdbcSink.addBatch(url, "T1", 0L, df))
    assert(queryLongs(url, "SELECT id FROM T1 ORDER BY id") == Seq(1L, 2L, 3L))
    // replay of the same batchId (restart after commit) must be a no-op
    assert(!ExactlyOnceJdbcSink.addBatch(url, "T1", 0L, df))
    assert(queryLongs(url, "SELECT count(*) FROM T1") == Seq(3L))
    // next batch appends
    assert(ExactlyOnceJdbcSink.addBatch(url, "T1", 1L,
      Seq((4L, "d")).toDF("id", "name")))
    assert(queryLongs(url, "SELECT count(*) FROM T1") == Seq(4L))
  }

  test("crash recovery: pending batch with leftover temp tables is cleaned and rewritten") {
    val url = newDb()
    val df = Seq((10L, "x"), (11L, "y")).toDF("id", "name")
    // simulate a crash: temp table + PENDING log entry exist, no commit
    val c = DriverManager.getConnection(url)
    c.createStatement().executeUpdate(
      "CREATE TABLE GRAFT_SINK_LOG (sink_table VARCHAR(128) NOT NULL, " +
        "batch_id BIGINT NOT NULL, status VARCHAR(16) NOT NULL, " +
        "PRIMARY KEY (sink_table, batch_id))")
    c.createStatement().executeUpdate(
      "INSERT INTO GRAFT_SINK_LOG VALUES ('T2', 0, 'PENDING')")
    c.createStatement().executeUpdate(
      "CREATE TABLE TMP_T2_0_0 (id BIGINT, name VARCHAR(32672))")
    c.createStatement().executeUpdate("INSERT INTO TMP_T2_0_0 VALUES (999, 'stale')")
    c.close()
    assert(ExactlyOnceJdbcSink.addBatch(url, "T2", 0L, df))
    val ids = queryLongs(url, "SELECT id FROM T2 ORDER BY id")
    assert(ids == Seq(10L, 11L), s"stale staged row must not leak: $ids")
  }

  test("empty partitions stage nothing; a replay after a crash between staging and commit lands one copy") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val url = newDb()
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    // 3 rows over 4 slices: slice 0 holds none
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")), 4), schema)
    assert(df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq == Seq(0, 1, 1, 1))
    // the crash: the batch is PENDING and every non-empty partition has
    // staged its rows, but nothing was moved; partition 0's stale temp
    // table is one an empty partition never rewrites
    val c = DriverManager.getConnection(url)
    c.createStatement().executeUpdate(
      "CREATE TABLE GRAFT_SINK_LOG (sink_table VARCHAR(128) NOT NULL, " +
        "batch_id BIGINT NOT NULL, status VARCHAR(16) NOT NULL, " +
        "PRIMARY KEY (sink_table, batch_id))")
    c.createStatement().executeUpdate("INSERT INTO GRAFT_SINK_LOG VALUES ('T6', 0, 'PENDING')")
    c.createStatement().executeUpdate("CREATE TABLE T6 (id BIGINT, name VARCHAR(32672))")
    c.createStatement().executeUpdate("CREATE TABLE TMP_T6_0_0 (id BIGINT, name VARCHAR(32672))")
    c.createStatement().executeUpdate("INSERT INTO TMP_T6_0_0 VALUES (999, 'stale')")
    Seq((1, 1L, "a"), (2, 2L, "b"), (3, 3L, "c")).foreach { case (p, id, name) =>
      c.createStatement().executeUpdate(s"CREATE TABLE TMP_T6_0_$p (id BIGINT, name VARCHAR(32672))")
      c.createStatement().executeUpdate(s"INSERT INTO TMP_T6_0_$p VALUES ($id, '$name')")
    }
    c.close()
    assert(ExactlyOnceJdbcSink.addBatch(url, "T6", 0L, df))
    assert(queryLongs(url, "SELECT id FROM T6 ORDER BY id") == Seq(1L, 2L, 3L))
    val temps = "SELECT count(*) FROM SYS.SYSTABLES WHERE TABLENAME LIKE 'TMP_T6_%'"
    assert(queryLongs(url, temps) == Seq(0L), "every temp table is dropped")
    assert(!ExactlyOnceJdbcSink.addBatch(url, "T6", 0L, df), "a committed batch is skipped")
    assert(queryLongs(url, "SELECT count(*) FROM T6") == Seq(3L))
    // a batch of empty partitions only flips the log
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row].repartition(2), schema)
    assert(ExactlyOnceJdbcSink.addBatch(url, "T6", 1L, empty))
    assert(!ExactlyOnceJdbcSink.addBatch(url, "T6", 1L, empty))
    assert(queryLongs(url, "SELECT count(*) FROM T6") == Seq(3L))
    assert(queryLongs(url, temps) == Seq(0L))
  }

  test("direct mode recovery deletes partially-written rows by batch id") {
    val url = newDb()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    assert(ExactlyOnceJdbcSink.addBatch(url, "T3", 0L, df, twoPhase = false))
    // simulate crash mid-batch-1: rows written, log still PENDING
    val c = DriverManager.getConnection(url)
    c.createStatement().executeUpdate("INSERT INTO GRAFT_SINK_LOG VALUES ('T3', 1, 'PENDING')")
    c.createStatement().executeUpdate(
      s"INSERT INTO T3 (id, name, ${ExactlyOnceJdbcSink.BatchIdCol}) VALUES (50, 'partial', 1)")
    c.close()
    assert(ExactlyOnceJdbcSink.addBatch(url, "T3", 1L,
      Seq((3L, "c")).toDF("id", "name"), twoPhase = false))
    val ids = queryLongs(url, "SELECT id FROM T3 ORDER BY id")
    assert(ids == Seq(1L, 2L, 3L), s"partial rows must be deleted on recovery: $ids")
  }

  test("written table reads back through the built-in jdbc source (S7)") {
    val url = newDb()
    assert(ExactlyOnceJdbcSink.addBatch(url, "T5", 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name")))
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "T5").load()
    assert(back.orderBy("ID").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("streaming foreachBatch integration") {
    val url = newDb()
    val dir = Files.createTempDirectory("sinksrc").toString
    val ckpt = Files.createTempDirectory("sinkckpt").toString
    val tmp = Files.createTempDirectory("t").toString
    (0 until 8).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .coalesce(1).write.format("kv").option("path", tmp).mode("overwrite").save()
    val p = graft.sources.ParquetIO.listFiles(tmp).head
    val fs = p.getFileSystem(graft.sources.ParquetIO.hadoopConf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.rename(p, new org.apache.hadoop.fs.Path(dir, "s.parquet"))
    val q = spark.readStream.format("log").option("path", dir).load()
      .writeStream.foreachBatch(ExactlyOnceJdbcSink.writer(url, "T4"))
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(queryLongs(url, "SELECT count(*) FROM T4") == Seq(8L))
    } finally q.stop()
  }
}
