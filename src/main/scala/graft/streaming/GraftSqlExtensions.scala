package graft.streaming

import java.util.UUID
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.types.{CalendarIntervalType, DataType, StringType}
import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}

/** Streaming-SQL surface extensions (SURVEY.md §2 U4): the reference
  * corpus's `GROUP BY TUMBLING(ts, interval)`, `HOPPING(ts, slide, size)`
  * and `WHERE delay(ts) < 'd'` spellings, which in the reference were
  * provided by a closed-source runtime (only the query text exists —
  * `emr-baseline-testing/queries/q101.sql:33`, `q100.sql:33`,
  * `q102.sql:32-33`; SURVEY.md §0). Re-expressed as:
  *
  *  - `tumbling(ts, size)`  → Catalyst `TimeWindow(ts, size, size, 0)`
  *  - `hopping(ts, slide, size)` → `TimeWindow(ts, size, slide, 0)`
  *  - `delay(ts) < 'd'`     → predicate removed, `EventTimeWatermark(ts, d)`
  *    inserted above the lowest operator producing `ts` (pushed through
  *    joins so stream-stream joins get per-side watermarks, the q40
  *    shape).
  *
  * Registered via `SparkSessionExtensions`, which are builder-time:
  * `org.apache.spark.sql.graftshim.GraftSession.build` installs them on
  * the one session graft runs, and its clones inherit them.
  */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  import GraftSqlExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("tumbling"),
      new ExpressionInfo(classOf[TimeWindow].getName, "tumbling"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "tumbling(timeColumn, size)")
        val size = intervalMicros(exprs(1))
        TimeWindow(exprs.head, size, size, 0L)
      }))
    ext.injectFunction((FunctionIdentifier("hopping"),
      new ExpressionInfo(classOf[TimeWindow].getName, "hopping"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "hopping(timeColumn, slide, size)")
        TimeWindow(exprs.head, intervalMicros(exprs(2)), intervalMicros(exprs(1)), 0L)
      }))
    ext.injectFunction((FunctionIdentifier("delay"),
      new ExpressionInfo(classOf[DelayMarker].getName, "delay"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "delay(timeColumn)")
        DelayMarker(exprs.head)
      }))
    // the native text/vector/hash kernels, SQL-addressable
    graft.functions.GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftSqlExtensions].getName, name), b))
    }
    ext.injectResolutionRule(_ => RewriteDelayPredicate)
    // INSERT INTO <table with output.mode> SELECT ... FROM <stream table>
    // → streaming query (the reference's pure-SQL streaming-table DDL)
    ext.injectPostHocResolutionRule(session => new Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan =
        org.apache.spark.sql.graftshim.StreamingInsert.rewrite(session, plan).getOrElse(plan)
    })
  }
}

object GraftSqlExtensions {

  /** Register the tumbling/hopping/delay SQL functions into an existing
    * session that was not built with the extensions. The `delay()`
    * predicate-to-watermark rewrite runs only with the builder-time rule,
    * so on such a session a `delay()` predicate fails at execution, and
    * `GraftSql.runScript` refuses the session.
    */
  def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("tumbling", exprs => {
      require(exprs.length == 2, "tumbling(timeColumn, size)")
      val size = intervalMicros(exprs(1))
      TimeWindow(exprs.head, size, size, 0L)
    }, "scala_udf")
    reg.createOrReplaceTempFunction("hopping", exprs => {
      require(exprs.length == 3, "hopping(timeColumn, slide, size)")
      TimeWindow(exprs.head, intervalMicros(exprs(2)), intervalMicros(exprs(1)), 0L)
    }, "scala_udf")
    // delay() analyzes to a marker, which only the builder-time
    // RewriteDelayPredicate removes.
    reg.createOrReplaceTempFunction("delay", exprs => {
      require(exprs.length == 1, "delay(timeColumn)")
      DelayMarker(exprs.head)
    }, "scala_udf")
  }

  private[streaming] def intervalMicros(e: Expression): Long = e match {
    case Literal(ci: CalendarInterval, CalendarIntervalType) =>
      require(ci.months == 0, "window intervals must not contain months")
      ci.days * 86400000000L + ci.microseconds
    case Literal(micros: Long, _: org.apache.spark.sql.types.DayTimeIntervalType) =>
      micros // ANSI day-time interval literal (Spark 4 default)
    case Literal(s: UTF8String, StringType) =>
      intervalMicros(Literal(IntervalUtils.stringToInterval(s), CalendarIntervalType))
    case other => throw new IllegalArgumentException(
      s"expected a literal interval, got $other")
  }

  /** Marker for `delay(ts)`; never evaluated — always rewritten away by
    * [[RewriteDelayPredicate]]. Passing through the child's type lets the
    * comparison analyze while unrewritten.
    */
  case class DelayMarker(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = child.dataType
    override def nullSafeEval(input: Any): Any =
      throw new UnsupportedOperationException(
        "delay() is only valid in a WHERE predicate (rewritten to a watermark)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "delay"
  }

  /** `Filter(delay(ts) < 'd' [AND rest], child)` →
    * `Filter(rest, withWatermark(ts, d, child))`.
    */
  object RewriteDelayPredicate extends Rule[LogicalPlan] {

    private def stripCast(e: Expression): Expression = e match {
      case c: Cast => stripCast(c.child)
      case other => other
    }

    private def delayOf(e: Expression): Option[(Attribute, CalendarInterval)] = e match {
      case LessThan(l, r) => (stripCast(l), stripCast(r)) match {
        case (DelayMarker(attr: Attribute), Literal(s: UTF8String, StringType)) =>
          Some((attr, IntervalUtils.stringToInterval(s)))
        case (DelayMarker(attr: Attribute), Literal(ci: CalendarInterval, CalendarIntervalType)) =>
          Some((attr, ci))
        case _ => None
      }
      case LessThanOrEqual(l, r) => delayOf(LessThan(l, r))
      case _ => None
    }

    /** Insert the watermark above the lowest subtree producing `attr`
      * (pushes through joins/projects so each stream side gets its own
      * watermark — required for stream-stream join state cleanup).
      */
    private def insertWatermark(plan: LogicalPlan, attr: Attribute,
        delay: CalendarInterval): LogicalPlan = plan match {
      case j: Join =>
        if (j.left.outputSet.contains(attr))
          j.copy(left = insertWatermark(j.left, attr, delay))
        else if (j.right.outputSet.contains(attr))
          j.copy(right = insertWatermark(j.right, attr, delay))
        else j
      case p: Project if p.child.outputSet.contains(attr) =>
        p.copy(child = insertWatermark(p.child, attr, delay))
      case f: Filter if f.child.outputSet.contains(attr) =>
        f.copy(child = insertWatermark(f.child, attr, delay))
      case other => EventTimeWatermark(UUID.randomUUID(), attr, delay, other)
    }

    override def apply(plan: LogicalPlan): LogicalPlan = {
      val rewritten = plan.transformUp {
        case f @ Filter(condition, child) if f.resolved =>
          val conjuncts = splitConjuncts(condition)
          val (delays, keep) = conjuncts.partition(c => delayOf(c).isDefined)
          if (delays.isEmpty) f
          else {
            val watermarked = delays.flatMap(delayOf).foldLeft(child) {
              case (p, (attr, d)) => insertWatermark(p, attr, d)
            }
            keep.reduceOption(And.apply).map(Filter(_, watermarked)).getOrElse(watermarked)
          }
      }
      propagateWatermarkMetadata(rewritten)
    }

    /** A watermark inserted AFTER an expression was resolved leaves the
      * already-captured attribute references without the event-time
      * metadata `EventTimeWatermark.output` advertises — and both the
      * streaming-aggregation checker and `StreamingJoinHelper` (stream-
      * stream join state watermarks) identify event-time columns by that
      * metadata, not by plan position. Re-stamp every reference of a
      * watermarked attribute across the plan (the DataFrame API gets this
      * for free because `withWatermark` runs before operators capture the
      * column).
      */
    private def propagateWatermarkMetadata(plan: LogicalPlan): LogicalPlan = {
      val delays = plan.collect {
        case e: EventTimeWatermark =>
          e.eventTime.exprId -> EventTimeWatermark.getDelayMs(e.delay)
      }.toMap
      if (delays.isEmpty) plan
      else plan.transformAllExpressions {
        case a: AttributeReference if delays.contains(a.exprId) &&
            !a.metadata.contains(EventTimeWatermark.delayKey) =>
          a.withMetadata(new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(a.metadata)
            .putLong(EventTimeWatermark.delayKey, delays(a.exprId))
            .build())
      }
    }

    private def splitConjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
      case other => Seq(other)
    }
  }
}
