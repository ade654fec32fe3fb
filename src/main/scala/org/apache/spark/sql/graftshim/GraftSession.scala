package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}

/** The one place graft makes sessions and sets runtime conf.
  *
  * [[build]] makes the process session once, with [[graft.streaming.GraftSqlExtensions]]
  * (analyzer rules are builder-time) and the confs every gate relies on.
  * Everything that needs different conf — a gate, a SQL script, a
  * micro-batch drain — runs on a [[clone]]: `cloneSession()` copies the
  * parent's conf, temp views and functions once, and shares its
  * SparkContext, external catalog and CacheManager. A conf set on a clone
  * (including a script's `SET`) never reaches the parent or a sibling.
  *
  * Lives in this shim package because `cloneSession()` is `private[sql]`.
  */
object GraftSession {

  private val LocalCores = """local\[(\d+)\]""".r

  /** Build (or get) the session with the graft extensions and:
    *  - UTC session time zone, UI off, AQE on, shuffle partitions = cores;
    *  - the `kvcat` catalog plus v2 bucketing, so bucketized kv tables
    *    read through the catalog join without a shuffle (SPJ);
    *  - `nanosAsLong`, so a TIMESTAMP(NANOS) column reads as long nanos
    *    (see [[graft.Tables.load]]).
    */
  def build(master: String): SparkSession = {
    val cores = master match {
      case LocalCores(n) => n
      case _ => Runtime.getRuntime.availableProcessors().toString
    }
    val s = ClassicSparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.catalog.kvcat", classOf[graft.sources.kv.KvCatalog].getName)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.streaming.GraftSqlExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A clone of `s` with `conf` set on the clone only. */
  def clone(s: SparkSession, conf: (String, String)*): SparkSession = {
    val c = s.asInstanceOf[ClassicSparkSession].cloneSession()
    conf.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** Conf for a micro-batch drain whose per-trigger input is bounded by
    * the source's admission control (`maxOffsetsPerTrigger` /
    * `maxFilesPerTrigger`), so a trigger's plan is KB-sized at any corpus
    * scale:
    *  - AQE off: adaptive re-optimization costs ~80 ms of driver work per
    *    job (a bare per-batch `count()` drain, 40 triggers, 9.5 s → 6.2 s)
    *    and can improve nothing on a KB-sized plan;
    *  - one shuffle partition: per-trigger aggregation state is KBs, and
    *    near-empty reducers are pure scheduling overhead.
    * Neither changes any operator's result. Start the stream from
    * `clone(s, MicroBatch: _*)`: a streaming query copies its session's
    * conf at `start()`.
    */
  val MicroBatch: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "1")

  /** Run one gate on its own clone of `s`, active on this thread while
    * `body` builds and executes it. Afterwards — also when `body` throws —
    * release the frames the gate registered with
    * [[graft.operators.SessionCaches]] and close the shard readers its
    * drains parked in [[graft.sources.log.LogTailCache]].
    */
  def runGate[T](s: SparkSession)(body: SparkSession => T): T = {
    val c = clone(s)
    try c.withActive(body(c))
    finally {
      graft.operators.SessionCaches.releaseAll()
      graft.sources.log.LogTailCache.clearAll()
    }
  }

  /** Whether `s` was built with [[graft.streaming.GraftSqlExtensions]]. */
  private[graftshim] def hasExtensions(s: SparkSession): Boolean =
    s.asInstanceOf[ClassicSparkSession].sessionState.analyzer.extendedResolutionRules
      .contains(graft.streaming.GraftSqlExtensions.RewriteDelayPredicate)
}
