package perfbench

import java.nio.file.{Files, Path}

/** The metrics `BENCHMARK.json` declares, read from it at start-up, and the
  * result line.
  *
  * With `--trace 0` the result carries every declared end-to-end metric,
  * and a run fails when its workload did not produce one. With `--trace 1`
  * it carries every declared per-layer metric; a layer the workload does
  * not call reads 0.
  */
final class Contract(val endToEnd: Seq[(String, String)], val perLayer: Seq[(String, String)]) {
  def endToEndMetrics(e2e: Map[String, (Double, String)]): Seq[(String, (Double, String))] =
    endToEnd.map { case (n, u) =>
      n -> (e2e.getOrElse(n, throw new IllegalStateException(s"workload did not measure $n"))._1, u)
    }

  def perLayerMetrics(layers: Map[String, (Double, String)]): Seq[(String, (Double, String))] =
    perLayer.map { case (n, u) => n -> (layers.get(n).map(_._1).getOrElse(0.0), u) }
}

object Contract {
  /** Reads the `end_to_end` and `per_layer` names and units. */
  def load(file: Path): Contract = {
    require(Files.isRegularFile(file), s"no $file: run from the root of a checkout")
    import org.json4s._
    val doc = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(file), "UTF-8"))
    def pairs(key: String) = (doc \ key).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString) }
    new Contract(pairs("end_to_end"), pairs("per_layer"))
  }

  private def num(v: Double): String =
    if (v.isNaN) "null"
    else if (v.isInfinite) (if (v > 0) "1e300" else "-1e300") // a failed operation's latency
    else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Layers {
  /** Spark runtime totals for one phase. */
  def runtime(rt: SparkRuntime, phase: String): Map[String, (Double, String)] = {
    val ts = rt.taskRecs(phase)
    val skew = ts.groupBy(_.stage).values.filter(_.length >= 2).map { xs =>
      val run = xs.map(_.runMs.toDouble)
      val med = Stats.median(run)
      if (med > 0) run.max / med else 1.0
    }
    Map(
      "spark.jobs" -> (rt.jobCount(phase).toDouble, "count"),
      "spark.stages" -> (rt.stageCount(phase).toDouble, "count"),
      "spark.tasks" -> (ts.length.toDouble, "count"),
      "spark.scheduler_delay_ms" -> (ts.map(_.delayMs).sum.toDouble, "ms"),
      "spark.executor_run_ms" -> (ts.map(_.runMs).sum.toDouble, "ms"),
      "spark.shuffle_write_bytes" -> (ts.map(_.shuffleWrite).sum.toDouble, "bytes"),
      "spark.spill_bytes" -> (ts.map(_.spill).sum.toDouble, "bytes"),
      "spark.gc_ms" -> (ts.map(_.gcMs).sum.toDouble, "ms"),
      "spark.task_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max, "ratio"))
  }

  /** Self time per span, summed over the traced window. */
  def selfTimes(t: Tracer): Map[String, (Double, String)] =
    t.selfMs.map { case (n, ms) => s"self_ms.$n" -> (ms, "ms") }

  /** Tracing overhead: the traced half's median operation latency
    * (`op_ms_p50`) minus the untraced half's.
    */
  def overhead(untraced: Window, traced: Window, t: Tracer): Map[String, (Double, String)] = {
    val u = untraced.endToEnd("op_ms_p50")._1
    val v = traced.endToEnd("op_ms_p50")._1
    Map(
      "trace.overhead_ms" -> (v - u, "ms"),
      "trace.overhead_ratio" -> (if (u > 0) (v - u) / u else 0.0, "ratio"),
      "trace.spans" -> (t.spans.length.toDouble, "count"))
  }
}
