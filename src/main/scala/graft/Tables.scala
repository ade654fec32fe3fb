package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated fixture tables (see TESTDATA.md).
  *
  * All queries receive an `sfDir` (e.g. /root/testdata/sf0.01) and read
  * one parquet file per table. Reads go through the vanilla parquet DSv2
  * source so Catalyst gets pushdown/pruning for free; the engine's own
  * DSv2 sources (kv / log / cdc) are layered on top of the same files.
  * The session comes from `org.apache.spark.sql.graftshim.GraftSession`,
  * whose `build` sets every conf these loaders and the gates rely on.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // The events fixture has stored ts as parquet TIMESTAMP(NANOS) in
      // some generations (Spark 4 refuses it natively) and as MICROS in
      // others. GraftSession.build turns nanosAsLong on: a NANOS column
      // arrives as long nanos → truncate to microsecond TimestampType
      // (integer div — ns epochs exceed 2^53, so double division would
      // lose precision); a MICROS column arrives as TimestampType already
      // → pass through.
      // Normalize to TimestampType (LTZ) either way — sessions run UTC, so
      // an NTZ→LTZ cast is value-identical and downstream unix_micros /
      // window functions see the type every generation produced before.
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Stage a gate's input at `path` once per build of graft: `build` runs
    * (on a cleared `path`) when the marker beside `path` is missing or
    * records another build's [[buildFingerprint]]. A run of changed code
    * never reads what older code staged; repeat runs of one build (Bench)
    * reuse the staging. The marker is written after `build` returns, so a
    * run dying mid-stage restages in full, and it sits beside the
    * table, out of reach of whole-directory rewrites.
    */
  def stageOnce(path: String)(build: => Unit): Unit = {
    val marker = Paths.get(path + ".staged")
    if (!scala.util.Try(Files.readString(marker)).toOption.contains(buildFingerprint)) {
      Files.deleteIfExists(marker)
      graft.sources.ParquetIO.deletePath(path)
      build
      Files.writeString(marker, buildFingerprint)
    }
  }

  /** Digest of graft's compiled classes — relative path, size and
    * modification time of every file under the classes directory (or of
    * the jar) — computed once per JVM.
    */
  lazy val buildFingerprint: String = {
    val root = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val walk = Files.walk(root)
    val stamps = try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        s"${root.relativize(p)} ${Files.size(p)} ${Files.getLastModifiedTime(p).toMillis}")
      .toSeq.sorted finally walk.close()
    java.util.UUID.nameUUIDFromBytes(stamps.mkString("\n").getBytes("UTF-8")).toString
  }

  /** Register every fixture table as a temp view (for spark.sql surfaces). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
