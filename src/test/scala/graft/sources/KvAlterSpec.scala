package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `ALTER TABLE … ADD COLUMN` through the kv catalog: metadata-only
  * schema evolution — the sidecar gains the column, NO file is
  * rewritten, pre-evolution files read NULL for it. Everything except
  * ADD COLUMN stays rejected.
  */
class KvAlterSpec extends SparkSpec {
  import spark.implicits._

  private def stage(): String = {
    val dir = java.nio.file.Files.createTempDirectory("kvalter").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    dir
  }

  test("ADD COLUMN is metadata-only; old files read null-filled; appends carry it") {
    val dir = stage()
    val filesBefore = ParquetIO.listFiles(dir).map(_.toString).sorted
    spark.sql(s"ALTER TABLE kvcat.`$dir` ADD COLUMN w BIGINT")
    // no rewrite happened
    assert(ParquetIO.listFiles(dir).map(_.toString).sorted == filesBefore)
    // the column is immediately visible, null for pre-evolution rows
    val evolved = spark.read.format("kv").option("path", dir).load()
    assert(evolved.columns.toSeq == Seq("k", "v", "w"))
    assert(evolved.where(col("w").isNull).count() == 2)
    // appended rows carry values; old rows stay null
    Seq((3L, "c", 30L)).toDF("k", "v", "w")
      .write.format("kv").option("path", dir).mode("append").save()
    val all = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").collect()
    assert(all.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq ==
      Seq(-1L, -1L, 30L))
    // multi-column add in one statement works too
    spark.sql(s"ALTER TABLE kvcat.`$dir` ADD COLUMNS (x DOUBLE, y STRING)")
    assert(spark.read.format("kv").option("path", dir).load()
      .columns.toSeq == Seq("k", "v", "w", "x", "y"))
  }

  test("duplicate adds and unknown-column changes fail fast") {
    val dir = stage()
    val dup = intercept[Exception] {
      spark.sql(s"ALTER TABLE kvcat.`$dir` ADD COLUMN v BIGINT")
    }
    assert(dup.getMessage.toLowerCase.contains("already exists"), dup.getMessage)
    // DROP COLUMN of a column that does not exist fails fast (DROP of
    // real columns is supported since KvEvolution — see KvEvolutionSpec)
    val drop = intercept[Exception] {
      spark.sql(s"ALTER TABLE kvcat.`$dir` DROP COLUMN nope")
    }
    assert(drop.getMessage.toLowerCase.contains("does not exist") ||
      drop.getMessage.toLowerCase.contains("cannot be resolved"),
      drop.getMessage)
  }

  test("ALTER COLUMN widening is metadata-only; narrow storage upcasts on read") {
    val dir = java.nio.file.Files.createTempDirectory("kvwiden").toString + "/t"
    Seq((1, 1.5f), (2, 2.5f)).toDF("k", "p")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    val filesBefore = ParquetIO.listFilesStatus(dir)
      .map { case (f, len, mt) => (f.toString, len, mt) }.sorted
    spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN p TYPE DOUBLE")
    // metadata-only: same files, same bytes, same mtimes
    assert(ParquetIO.listFilesStatus(dir)
      .map { case (f, len, mt) => (f.toString, len, mt) }.sorted == filesBefore)
    // the widened types are immediately visible; old values upcast exactly
    val evolved = spark.read.format("kv").option("path", dir).load()
    assert(evolved.schema("k").dataType.simpleString == "bigint")
    assert(evolved.schema("p").dataType.simpleString == "double")
    // an append can now carry values only the wide type holds
    Seq((5000000000L, 3.5)).toDF("k", "p")
      .write.format("kv").option("path", dir).mode("append").save()
    val all = spark.read.format("kv").option("path", dir).load()
      .orderBy("k").collect()
    assert(all.map(_.getLong(0)).toSeq == Seq(1L, 2L, 5000000000L))
    assert(all.map(_.getDouble(1)).toSeq == Seq(1.5, 2.5, 3.5))
    // a pushed filter on the mixed-physical column stays correct (the
    // column drops out of the common schema → residual re-apply)
    assert(spark.read.format("kv").option("path", dir).load()
      .where(col("k") > 1L).count() == 2)
    // footer-aggregate pushdown folds narrow files' stats through the
    // exact upcast — the answer must cover ALL files, not just the
    // post-widening ones
    val agg = spark.read.format("kv").option("path", dir).load()
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx")).head()
    assert(agg.getLong(0) == 1L && agg.getLong(1) == 5000000000L)
  }

  test("ALTER COLUMN rejects narrowing and cross-family changes") {
    val dir = stage() // k: bigint, v: string
    // Spark's analyzer pre-rejects non-upcasts (NOT_SUPPORTED_CHANGE_COLUMN);
    // the catalog's own lattice check backstops direct TableChange callers
    // and analyzer-permitted upcasts outside the kv lattice (e.g. int→string)
    val narrow = intercept[Exception] {
      spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN k TYPE INT")
    }
    assert(narrow.getMessage.contains("only widens") ||
      narrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), narrow.getMessage)
    val cross = intercept[Exception] {
      spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN v TYPE BIGINT")
    }
    assert(cross.getMessage.contains("only widens") ||
      cross.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), cross.getMessage)
    // an upcast Spark allows but the kv lattice doesn't (long → string)
    // is stopped by the catalog check
    val toStr = intercept[Exception] {
      spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN k TYPE STRING")
    }
    assert(toStr.getMessage.contains("only widens") ||
      toStr.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), toStr.getMessage)
    val missing = intercept[Exception] {
      spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN zz TYPE BIGINT")
    }
    assert(missing.getMessage.toLowerCase.contains("does not exist") ||
      missing.getMessage.toLowerCase.contains("cannot be resolved") ||
      missing.getMessage.toLowerCase.contains("unresolved"), missing.getMessage)
    // table unchanged after the failures
    assert(spark.read.format("kv").option("path", dir).load().count() == 2)
  }

  test("widening drops a Bloom sidecar built in the old hash domain") {
    val dir = java.nio.file.Files.createTempDirectory("kvwbloom").toString + "/t"
    (0 until 4).foreach { i =>
      Seq.tabulate(25)(j => (i * 100 + j, s"r$i-$j")).toDF("k", "v").coalesce(1)
        .write.format("kv").option("path", dir).mode("append").save()
    }
    graft.sources.kv.KvBloom.build(spark, dir, Seq("k"))
    assert(graft.sources.kv.KvBloom.reader(dir).isDefined)
    spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN k TYPE BIGINT")
    // the sidecar hashed int values; long probes would hash differently
    // and silently prune matching files — it must be GONE, not stale
    assert(graft.sources.kv.KvBloom.reader(dir).isEmpty,
      "bloom sidecar must be invalidated by widening")
    // point lookup still correct without the index
    assert(spark.read.format("kv").option("path", dir).load()
      .where(col("k") === 205L).count() == 1)
    // a rebuild hashes the widened domain and prunes correctly again
    graft.sources.kv.KvBloom.build(spark, dir, Seq("k"))
    assert(spark.read.format("kv").option("path", dir).load()
      .where(col("k") === 205L).count() == 1)
  }

  test("clustering ordering and zone maps are widening-safe (pinned)") {
    // unlike the murmur3 bucket layout, these two claims SURVIVE
    // ALTER COLUMN widening by design: int and long sort orders agree
    // (clustered ordering), and both zone-map sides normalize to
    // long/double before comparing (KvIndex.zonesFromStats reads INT32
    // stats as long, FLOAT as double). Pin both so a future change to
    // either normalization trips this instead of shipping.
    val dir = java.nio.file.Files.createTempDirectory("kvwsafe").toString + "/t"
    Seq.tabulate(200)(i => (i * 7 % 1000, s"v$i")).toDF("k", "v")
      .write.format("kv").option("path", dir).mode("overwrite").save()
    graft.operators.KvMerge.rewrite(spark, dir, 4, clusterBy = Seq("k"))
    assert(graft.sources.kv.KvClustering.orderingFor(dir) == Seq("k"))
    spark.sql(s"ALTER TABLE kvcat.`$dir` ALTER COLUMN k TYPE BIGINT")
    // ordering claim survives: int-sorted bytes ARE long-sorted
    assert(graft.sources.kv.KvClustering.orderingFor(dir) == Seq("k"),
      "clustering ordering must survive widening — int and long orders agree")
    val t = spark.read.format("kv").option("path", dir).load()
    assert(t.schema("k").dataType == org.apache.spark.sql.types.LongType)
    // zone-map pruned point lookup with a LONG probe over INT32 stats:
    // normalization to long must keep the matching row group
    val hit = t.where(col("k") === 7L)
    assert(hit.count() == 1 && hit.select("v").as[String].head() == "v1")
    // range predicate across the widened domain
    assert(t.where(col("k") >= 990L).count() ==
      (0 until 200).count(i => i * 7 % 1000 >= 990))
  }
}
