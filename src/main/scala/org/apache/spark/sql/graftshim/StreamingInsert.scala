package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, LogicalPlan, Project}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.streaming.Trigger

/** The SQL streaming-table surface: `INSERT INTO <table with output.mode>
  * SELECT ... FROM <graft stream table>` executes as a Structured
  * Streaming query — the reference corpus's pure-SQL-text contract
  * (`emr-baseline-testing/queries/q3.sql:12-21`: CREATE TABLE ... USING
  * kafka OPTIONS(output.mode ...) then INSERT INTO; the conversion lived
  * in the closed EMR runtime). Re-expressed as an analyzed-plan rewrite:
  * AppendData over a graft sink whose table options carry `output.mode`,
  * with at least one graft stream source in the query, becomes
  * [[GraftStreamingInsertCommand]].
  *
  * Per-query knobs follow the reference harness's SET conventions:
  * `streaming.query.name`, `spark.sql.streaming.checkpointLocation.<name>`,
  * `spark.sql.streaming.query.timeout.ms` (bounded run; without it the
  * query drains available data with Trigger.AvailableNow and finishes —
  * the batch-gate-friendly default).
  *
  * Lives in this shim package for `Dataset.ofRows` (private[sql]).
  */
object StreamingInsert {

  private def graftProps(plan: LogicalPlan): Option[(String, Map[String, String])] =
    plan match {
      case r: DataSourceV2Relation =>
        val cls = r.table.getClass.getName
        if (cls.startsWith("graft.sources.")) {
          val provider = r.table.name().takeWhile(_ != ':')
          Some((provider, r.table.properties().asScala.toMap))
        } else None
      case _ => None
    }

  private def isStreamSource(plan: LogicalPlan): Boolean = plan match {
    case r: DataSourceV2Relation =>
      r.table.capabilities().contains(
        org.apache.spark.sql.connector.catalog.TableCapability.MICRO_BATCH_READ) &&
        graftProps(plan).isDefined
    case _ => false
  }

  /** Run a reference-shaped SQL script: statements split on ';', executed
    * in order via `spark.sql` on a [[GraftSession.clone]] of `spark`, so a
    * script's `SET`s and `USE` end with the script. INSERT statements that
    * match the streaming contract run as streaming queries: the delay()
    * → watermark rewrite must run inside the analyzer fixed point (a
    * watermark inserted after analysis is too late for the event-time
    * metadata to reach already-resolved windows/joins), so `spark` must
    * come from [[GraftSession.build]]. Errors propagate — nothing is
    * swallowed into a silent batch fallback.
    */
  def runScript(spark: SparkSession, script: String): Unit = {
    require(GraftSession.hasExtensions(spark),
      "runScript needs a session built by GraftSession.build " +
        "(graft.streaming.GraftSqlExtensions must be installed at build time)")
    val s = GraftSession.clone(spark)
    s.withActive {
      script.split(";").map(_.trim).filter(_.nonEmpty).foreach { stmt =>
        val df = s.sql(stmt)
        // commands execute eagerly inside spark.sql; force genuine queries
        // through the cluster without materializing rows on the driver (a
        // script-terminal SELECT can be arbitrarily big)
        if (!df.queryExecution.analyzed.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.Command])
          df.write.format("noop").mode("overwrite").save()
      }
    }
  }

  /** Rewrite an analyzed plan if it is a streaming INSERT; None otherwise. */
  def rewrite(spark: SparkSession, plan: LogicalPlan): Option[GraftStreamingInsertCommand] =
    plan match {
      case a: AppendData =>
        for {
          (provider, props) <- graftProps(a.table)
          mode <- props.get("output.mode")
          if a.query.collect { case p if isStreamSource(p) => p }.nonEmpty
        } yield {
          // SQL-authored `ts + INTERVAL` arrives wrapped in an identity
          // Cast (timestamp → timestamp), which StreamingJoinHelper cannot
          // see through when deriving stream-stream join state watermarks
          // — it aborts with an internal error. Strip no-op casts from
          // join conditions; they are semantically void.
          val decast = a.query.transformUp {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
              j.copy(condition = j.condition.map(_.transform {
                case c: org.apache.spark.sql.catalyst.expressions.Cast
                  if c.child.dataType == c.dataType => c.child
              }))
          }
          // replace each stream-source relation with its streaming
          // resolution (readStream.table of the same files via the same
          // provider), aliasing the new attributes back to the original
          // expression ids so the rest of the query is untouched
          val streamed = decast.transformUp {
            case r: DataSourceV2Relation if isStreamSource(r) =>
              val (srcProvider, srcProps) = graftProps(r).get
              val reader = spark.readStream.format(srcProvider)
              srcProps.foreach { case (k, v) => reader.option(k, v) }
              val newPlan = reader.load().queryExecution.analyzed
              val byName = newPlan.output.map(att => att.name -> att).toMap
              val aliases = r.output.map { old =>
                Alias(byName(old.name), old.name)(exprId = old.exprId)
              }
              Project(aliases, newPlan)
          }
          GraftStreamingInsertCommand(provider, props, streamed)
        }
      case _ => None
    }
}

/** Runs the rewritten INSERT as a streaming query (see [[StreamingInsert]]). */
case class GraftStreamingInsertCommand(
    sinkProvider: String,
    sinkOptions: Map[String, String],
    query: LogicalPlan) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val df = ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], query)
    require(df.isStreaming, "streaming insert rewrite produced a batch plan")
    val name = spark.conf.getOption("streaming.query.name").getOrElse("graft_sql_insert")
    val ckpt = spark.conf
      .getOption(s"spark.sql.streaming.checkpointLocation.$name")
      .getOrElse(java.nio.file.Files.createTempDirectory(s"graft-ckpt-$name").toString)
    val mode = sinkOptions.getOrElse("output.mode", "append")
    val timeoutMs = spark.conf.getOption("spark.sql.streaming.query.timeout.ms").map(_.toLong)
    var writer = df.writeStream.format(sinkProvider).outputMode(mode)
      .queryName(name).option("checkpointLocation", ckpt)
    sinkOptions.filterNot(_._1 == "output.mode")
      .foreach { case (k, v) => writer = writer.option(k, v) }
    timeoutMs match {
      case Some(ms) => // the reference harness's bounded-run contract
        val q = writer.start()
        q.awaitTermination(ms)
        q.stop()
        q.awaitTermination()
      case None => // drain everything available, then finish
        val q = writer.trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
    }
    Seq.empty
  }
}
