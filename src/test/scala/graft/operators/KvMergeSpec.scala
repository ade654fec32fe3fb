package graft.operators

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

class KvMergeSpec extends SparkSpec {
  import spark.implicits._

  test("merge applies INSERT/UPSERT/UPDATE/DELETE per row (W7)") {
    val dir = Files.createTempDirectory("kvmerge").toString + "/t"
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("k", "name", "v")
      .write.format("kv").option("path", dir).mode("append").save()

    val batch = Seq(
      ("INSERT", 4L, "d", 4.0),   // new key → inserted
      ("INSERT", 1L, "dup", 0.0), // existing key → ignored
      ("UPSERT", 2L, "b2", 22.0), // replaced
      ("UPSERT", 5L, "e", 5.0),   // inserted
      ("UPDATE", 3L, "c2", 33.0), // replaced
      ("UPDATE", 9L, "x", 0.0),   // no such key → no-op
      ("DELETE", 1L, null, 0.0))  // removed
      .toDF("op", "k", "name", "v")

    KvMerge.merge(spark, dir, batch, "op", Seq("k"))
    val got = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((2L, "b2", 22.0), (3L, "c2", 33.0), (4L, "d", 4.0), (5L, "e", 5.0)))
  }

  test("duplicate same-key ops within one batch collapse to one row") {
    val dir = Files.createTempDirectory("kvmerge3").toString + "/t"
    Seq((1L, "a", 1.0)).toDF("k", "name", "v")
      .write.format("kv").option("path", dir).mode("append").save()
    val batch = Seq(
      ("INSERT", 7L, "x1", 1.0), // same new key twice: exactly one survives
      ("INSERT", 7L, "x2", 2.0),
      ("UPSERT", 1L, "u1", 10.0), // same existing key twice: one row, no pk dup
      ("UPSERT", 1L, "u2", 20.0))
      .toDF("op", "k", "name", "v")
    KvMerge.merge(spark, dir, batch, "op", Seq("k"))
    val got = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    // deterministic winner: min over the non-key column tuple
    assert(got == Seq((1L, "u1", 10.0), (7L, "x1", 1.0)))
    // re-running the same batch is a no-op on row count (idempotent set semantics)
    KvMerge.merge(spark, dir, batch, "op", Seq("k"))
    assert(spark.read.format("kv").option("path", dir).load().count() == 2)
  }

  test("cross-op same-key conflicts resolve by precedence, one row per pk") {
    val dir = Files.createTempDirectory("kvmerge5").toString + "/t"
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "name", "v")
      .write.format("kv").option("path", dir).mode("append").save()
    val batch = Seq(
      ("UPSERT", 1L, "up", 10.0),  // existing key: UPSERT beats UPDATE
      ("UPDATE", 1L, "ud", 11.0),
      ("INSERT", 5L, "in", 50.0),  // new key: UPSERT beats INSERT
      ("UPSERT", 5L, "up", 55.0),
      ("UPDATE", 2L, "ud", 22.0),  // existing key: UPDATE beats INSERT
      ("INSERT", 2L, "in", 20.0),
      ("INSERT", 6L, "in", 60.0),  // new key: UPDATE is a no-op, INSERT lands
      ("UPDATE", 6L, "ud", 66.0))
      .toDF("op", "k", "name", "v")
    KvMerge.merge(spark, dir, batch, "op", Seq("k"))
    val table = spark.read.format("kv").option("path", dir).load()
    // pk uniqueness: no key appears twice
    assert(table.groupBy("k").count().filter(col("count") > 1).count() == 0)
    val got = table.orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "up", 10.0), (2L, "ud", 22.0),
      (5L, "up", 55.0), (6L, "in", 60.0)))
  }

  test("merge recovers the table from a backup left by a crashed swap") {
    val base = Files.createTempDirectory("kvmerge4").toString
    val dir = base + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "name")
      .write.format("kv").option("path", dir).mode("append").save()
    // simulate a crash between (live → backup) and (tmp → live)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(graft.sources.ParquetIO.hadoopConf)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".merge-old"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    val batch = Seq(("UPSERT", 3L, "c")).toDF("op", "k", "name")
    KvMerge.merge(spark, dir, batch, "op", Seq("k"))
    val got = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".merge-old")))
  }

  test("merge into a non-existent table creates it from inserts/upserts") {
    val dir = Files.createTempDirectory("kvmerge2").toString + "/t"
    val batch = Seq(("INSERT", 1L, "a"), ("UPSERT", 2L, "b"), ("DELETE", 3L, "x"))
      .toDF("op", "k", "name")
    KvMerge.merge(spark, dir, batch, "op", Seq("k"))
    val got = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b")))
  }

  test("rewrite recovers from a crash between backup-aside and rename") {
    val dir = Files.createTempDirectory("kvrewritecrash").toString
    (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    // simulate the crash window: live was renamed aside, tmp never landed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(graft.sources.ParquetIO.hadoopConf)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".merge-old"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))

    KvMerge.rewrite(spark, dir, numFiles = 1)
    val got = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == (0L until 50L).map(i => (i, s"v$i")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".merge-old")))
  }

  test("rewrite compacts a many-file table without changing its contents") {
    val dir = Files.createTempDirectory("kvcompact").toString
    (0L until 200L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(16)
      .write.format("kv").option("path", dir).mode("overwrite").save()
    assert(graft.sources.ParquetIO.listFiles(dir).length == 16)

    KvMerge.rewrite(spark, dir, numFiles = 2)
    assert(graft.sources.ParquetIO.listFiles(dir).length == 2)
    val got = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == (0L until 200L).map(i => (i, s"v$i")))
  }

  test("clustered rewrite produces range-disjoint files (zone-map locality)") {
    val dir = Files.createTempDirectory("kvcluster").toString
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0L until 400L).toList).map(i => (i, i * 2.0)).toDF("k", "x")
      .repartition(8) // keys scattered across every file
      .write.format("kv").option("path", dir).mode("overwrite").save()

    KvMerge.rewrite(spark, dir, numFiles = 4, clusterBy = Seq("k"))
    val files = graft.sources.ParquetIO.listFiles(dir)
    assert(files.length == 4)
    // per-file key ranges must not overlap after range clustering
    val ranges = files.map { f =>
      val d = spark.read.format("kv").option("path", f.toString).load()
        .agg(min(col("k")), max(col("k"))).collect()(0)
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping ranges: $ranges")
      case _ =>
    }
    // and the table is intact
    assert(spark.read.format("kv").option("path", dir).load().count() == 400)
  }

  test("vacuum removes only stale uncommitted epoch files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vacuum").toString + "/t"
    (0 until 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    // simulate a crashed streaming writer: one committed epoch, one
    // uncommitted (data file but no _commits marker)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(graft.sources.ParquetIO.hadoopConf)
    val part = graft.sources.ParquetIO.listFiles(dir).head
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "_commits"))
    def copyAs(name: String): Unit = {
      val dst = new org.apache.hadoop.fs.Path(dir, name)
      org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dst, false,
        graft.sources.ParquetIO.hadoopConf)
      ()
    }
    copyAs("epoch-7-part-0.parquet")
    fs.create(new org.apache.hadoop.fs.Path(dir, "_commits/7")).close()
    copyAs("epoch-9-part-0.parquet") // uncommitted
    val before = spark.read.format("kv").option("path", dir).load().count()
    // too-young uncommitted files survive a tight retention window...
    assert(KvMerge.vacuum(dir, olderThanMs = 60000) == 0)
    // ...and die once older than the cutoff
    assert(KvMerge.vacuum(dir, olderThanMs = 0) == 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "epoch-9-part-0.parquet")))
    // committed epoch + plain files untouched; visible rows unchanged
    // (readers never saw the uncommitted epoch anyway)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "epoch-7-part-0.parquet")))
    assert(spark.read.format("kv").option("path", dir).load().count() == before)
  }

  test("deleteWhere / updateWhere apply predicate DML with SQL null semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("kvdml").toString + "/t"
    Seq((1L, Some(10.0), "a"), (2L, Some(250.0), "b"),
        (3L, Option.empty[Double], "c"), (4L, Some(300.0), "a"))
      .toDF("k", "v", "tag")
      .write.format("kv").option("path", dir).mode("overwrite").save()

    // DELETE WHERE v > 200: null v rows are KEPT (SQL three-valued logic)
    assert(KvMerge.deleteWhere(spark, dir, col("v") > 200.0) == 2L)
    val afterDel = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").collect()
    assert(afterDel.map(_.getLong(0)).toSeq == Seq(1L, 3L))

    // UPDATE WHERE tag = 'a' SET v = v + 1: null-condition rows untouched
    assert(KvMerge.updateWhere(spark, dir, col("tag") === "a",
      Map("v" -> (coalesce(col("v"), lit(0.0)) + 1.0))) == 1L)
    val afterUpd = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").collect()
    assert(afterUpd(0).getDouble(1) == 11.0)
    assert(afterUpd(1).isNullAt(1)) // row 3 untouched

    // no-match predicates touch nothing (and rewrite nothing)
    val filesBefore = graft.sources.ParquetIO.listFiles(dir).map(_.toString)
    assert(KvMerge.deleteWhere(spark, dir, col("k") === 999L) == 0L)
    assert(KvMerge.updateWhere(spark, dir, col("k") === 999L,
      Map("v" -> lit(0.0))) == 0L)
    assert(graft.sources.ParquetIO.listFiles(dir).map(_.toString) == filesBefore)

    // unknown SET column fails fast
    val e = intercept[IllegalArgumentException] {
      KvMerge.updateWhere(spark, dir, col("k") === 1L, Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("unknown column"))
  }

  test("SQL DELETE FROM flows through the catalog to the crash-safe rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("kvsqldel").toString + "/t"
    (0L until 50L).map(i => (i, s"r$i", i % 5)).toDF("k", "v", "m")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    spark.sql(s"DELETE FROM kvcat.`$dir` WHERE m = 3 OR k >= 45")
    val left = spark.read.format("kv").option("path", dir).load()
    assert(left.count() == 36)
    assert(left.where(col("m") === 3 || col("k") >= 45).count() == 0)
    // complex-but-translatable predicates work; IN lists too
    spark.sql(s"DELETE FROM kvcat.`$dir` WHERE v IN ('r0', 'r1') AND NOT (k > 0)")
    assert(spark.read.format("kv").option("path", dir).load().count() == 35)
  }

  test("updateWhere keeps the column's type: lossless up-casts apply, drifts fail fast") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("kvupdty").toString + "/t"
    Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "v", "tag")
      .write.format("kv").option("path", dir).mode("overwrite").save()

    // int literal into a double column: up-cast silently applied, the
    // table's schema does NOT drift to int (the when/otherwise coercion)
    assert(KvMerge.updateWhere(spark, dir, col("k") === 1L, Map("v" -> lit(5))) == 1L)
    val after = spark.read.format("kv").option("path", dir).load()
    assert(after.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(after.where(col("k") === 1L).head().getDouble(1) == 5.0)

    // a string into a double column is a schema drift — rejected, table
    // untouched
    val e1 = intercept[IllegalArgumentException] {
      KvMerge.updateWhere(spark, dir, col("k") === 2L, Map("v" -> lit("oops")))
    }
    assert(e1.getMessage.contains("cast the expression explicitly"))
    // double into a long column is lossy — also rejected
    val e2 = intercept[IllegalArgumentException] {
      KvMerge.updateWhere(spark, dir, col("k") === 2L, Map("k" -> lit(1.5)))
    }
    assert(e2.getMessage.contains("does not match column type"))
    val untouched = spark.read.format("kv").option("path", dir).load()
    assert(untouched.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(untouched.where(col("k") === 2L).head().getDouble(1) == 20.0)
  }

  test("DML counts agree with rows actually touched under a non-deterministic condition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("kvnd").toString + "/t"
    (0L until 400L).map(i => (i, 0.0)).toDF("k", "v")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    // DELETE WHERE rand() < 0.5: the count must equal before − after even
    // though every evaluation pass sees different matches
    val removed = KvMerge.deleteWhere(spark, dir, rand(7) < 0.5)
    val left = spark.read.format("kv").option("path", dir).load().count()
    assert(removed == 400L - left, s"removed=$removed left=$left")
    // UPDATE WHERE rand() < 0.5 SET v = 1: matched count must equal the
    // rows that actually carry the new value (single evaluation)
    val matched = KvMerge.updateWhere(spark, dir, rand(13) < 0.5, Map("v" -> lit(1.0)))
    val ones = spark.read.format("kv").option("path", dir).load()
      .where(col("v") === 1.0).count()
    assert(matched == ones, s"matched=$matched ones=$ones")
  }

  test("compactMarkers folds committed rlo transactions: zero markers, identical contents") {
    import graft.sources.ParquetIO
    val dir = java.nio.file.Files.createTempDirectory("kvcm").toString + "/t"
    (0 until 4).foreach { i =>
      (0L until 50L).map(k => (i * 100L + k, 1.0)).toDF("k", "v").coalesce(1)
        .write.format("kv").option("path", dir).mode("append").save()
    }
    // two row-level ops → two committed rlo markers
    spark.sql(s"UPDATE kvcat.`$dir` SET v = 2.0 WHERE k = 5")
    spark.sql(s"UPDATE kvcat.`$dir` SET v = 3.0 WHERE k = 205")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(ParquetIO.hadoopConf)
    val commits = new org.apache.hadoop.fs.Path(dir, "_commits")
    def markers() = fs.listStatus(commits).map(_.getPath.getName)
      .count(_.startsWith("rlo-"))
    assert(markers() == 2)
    val before = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").collect().map(_.toString).toSeq

    val folded = KvMerge.compactMarkers(dir)
    assert(folded == 2)
    assert(markers() == 0, "all rlo markers retired")
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .exists(_.getPath.getName.matches("rlo-.*\\.parquet")),
      "committed rlo parts renamed to plain names")
    val after = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").collect().map(_.toString).toSeq
    assert(after == before, "compaction must not change contents")
    // idempotent; vacuum finds nothing rlo-related left to sweep
    assert(KvMerge.compactMarkers(dir) == 0)
    assert(KvMerge.vacuum(dir, 0L) == 0)
    // a later row-level op on the compacted table still works
    spark.sql(s"UPDATE kvcat.`$dir` SET v = 9.0 WHERE k = 305")
    assert(spark.read.format("kv").option("path", dir).load()
      .where(col("k") === 305L).head().getDouble(1) == 9.0)
  }

  test("a concurrent append during maintenance aborts the swap, table intact") {
    val dir = java.nio.file.Files.createTempDirectory("kvcc").toString + "/t"
    (0L until 100L).map(i => (i, 1.0)).toDF("k", "v")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    // inject: another writer appends between the op's read and its swap
    KvMerge.testBeforeSwap = () =>
      Seq((999L, 7.0)).toDF("k", "v").coalesce(1)
        .write.format("kv").option("path", dir).mode("append").save()
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        KvMerge.deleteWhere(spark, dir, col("k") < 10L)
      }
      assert(e.getMessage.contains("single-writer"))
    } finally KvMerge.testBeforeSwap = () => ()
    val rows = spark.read.format("kv").option("path", dir).load()
    // nothing deleted, the concurrent append survived, no tmp residue
    assert(rows.count() == 101L)
    assert(rows.where(col("k") === 999L).count() == 1L)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      graft.sources.ParquetIO.hadoopConf)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.merge-tmp")))
    // with no concurrent writer the same op proceeds
    assert(KvMerge.deleteWhere(spark, dir, col("k") < 10L) == 10L)
  }
}
