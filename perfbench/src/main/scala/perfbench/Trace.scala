package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** In-memory spans and counters around the benchmark's calls into graft.
  *
  * A span has a name, start and end, its parent and the id of the client
  * operation it belongs to. Spans nest: the client issues one operation at
  * a time, and a streaming query's batches run while the client thread
  * waits, so one stack of open spans is enough. Spark jobs started inside
  * a span carry the span's name as a local property, which is how
  * [[SparkRuntime]] attributes jobs, stages and tasks to layers.
  *
  * With tracing off, `span` only runs its body.
  */
final class Tracer(sc: SparkContext) {
  import Tracer.Span

  @volatile var enabled = false
  @volatile var op = 0L
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 1
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val (id, parent) = synchronized {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, name, System.nanoTime()) :: open
      (id, parent)
    }
    val prev = sc.getLocalProperty(Tracer.SpanProperty)
    sc.setLocalProperty(Tracer.SpanProperty, name)
    try body
    finally {
      sc.setLocalProperty(Tracer.SpanProperty, prev)
      val end = System.nanoTime()
      synchronized {
        val (_, _, start) = open.head
        open = open.tail
        done += Span(id, parent, op, name, start, end)
      }
    }
  }

  /** Adds to a named count; counts are kept only while tracing. */
  def count(name: String, v: Double): Unit =
    if (enabled) synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }

  def counter(name: String): Double = synchronized { counters.getOrElse(name, 0.0) }
  def spans: Seq[Span] = synchronized { done.toSeq }

  /** Durations in ms of every finished span with this name. */
  def durationsMs(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6)

  /** Self time per span name, in ms: each span's duration minus the time
    * its direct children cover. Children of one span never overlap.
    */
  def selfMs: Map[String, Double] = {
    val all = spans
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6).sum
    }
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, name: String,
      startNs: Long, endNs: Long)

  val SpanProperty = "perfbench.span"
  val PhaseProperty = "perfbench.phase"
}

/** Spark's own view of the work, from the public listener hooks: jobs,
  * stages and tasks per benchmark phase and per span, and every streaming
  * progress report.
  */
final class SparkRuntime extends SparkListener {
  import SparkRuntime.TaskRec

  private val stageTag = mutable.HashMap.empty[Int, (String, String)]
  private val jobs = mutable.ArrayBuffer.empty[(String, String)]
  private val stages = mutable.ArrayBuffer.empty[(String, String)]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  private def tag(props: java.util.Properties): (String, String) =
    if (props == null) ("", "")
    else (Option(props.getProperty(Tracer.PhaseProperty)).getOrElse(""),
      Option(props.getProperty(Tracer.SpanProperty)).getOrElse(""))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = tag(e.properties)
    jobs += t
    e.stageIds.foreach(stageTag.getOrElseUpdate(_, t))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val t = tag(e.properties)
    stageTag(e.stageInfo.stageId) = t
    stages += t
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    synchronized {
      val (phase, span) = stageTag.getOrElse(e.stageId, ("", ""))
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      tasks += TaskRec(e.stageId, phase, span, m.executorRunTime, delay, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead)
    }
  }

  def jobCount(phase: String, span: Option[String] = None): Int = synchronized {
    jobs.count { case (p, s) => p == phase && span.forall(_ == s) }
  }
  def stageCount(phase: String, span: Option[String] = None): Int = synchronized {
    stages.count { case (p, s) => p == phase && span.forall(_ == s) }
  }
  def taskRecs(phase: String): Seq[TaskRec] = synchronized { tasks.filter(_.phase == phase).toSeq }

  // ---- streaming progress ----
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkRuntime.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def progressOf(queryId: java.util.UUID): Seq[StreamingQueryProgress] = synchronized {
    progress.filter(_.id == queryId).toSeq
  }
}

object SparkRuntime {
  final case class TaskRec(stage: Int, phase: String, span: String, runMs: Long,
      delayMs: Long, gcMs: Long, shuffleWrite: Long, spill: Long,
      recordsRead: Long, bytesRead: Long)
}
