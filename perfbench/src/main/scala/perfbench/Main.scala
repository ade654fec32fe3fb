package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM, one closed-loop
  * client thread against a `local[n]` session, `n` being the processors
  * the JVM may use.
  *
  * {{{
  *   Main --workload <log_ingest|kv_serve|ann_index> --seed <n> --seconds <s>
  *        --trace <0|1> --root <scratch dir>
  * }}}
  *
  * Run from the root of a checkout: the metric names and units come from
  * its `BENCHMARK.json`.
  *
  * Set-up is timed as `setup_s`: session start, plus the median of three
  * preparations of the workload's input (each into a fresh directory, the
  * last one kept), plus one warm-up pass on the prepared input, net of
  * hypervisor steal (see [[Steal]]). The timed window then runs the
  * workload's fixed work for `--seconds` (see [[Workload.measure]]). With
  * `--trace 1` the window is halved: the first half runs untraced and the
  * second traced; per-layer metrics come from the traced half and the
  * tracing overhead is the difference between the two. The last stdout
  * line is the result as one JSON object; the exit code is non-zero when
  * any operation or check failed.
  */
object Main {
  val Prepares = 3

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val setupSteal = Steal.start()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val contract = Contract.load(Paths.get("BENCHMARK.json"))
    require(Workloads.names.contains(workloadName),
      s"unknown workload $workloadName (${Workloads.names.mkString(", ")})")

    val runDir = Paths.get(opt("root")).toAbsolutePath
      .resolve(s"$workloadName-$seed-${ProcessHandle.current().pid()}")
    LocalFiles.deleteTree(runDir)
    Files.createDirectories(runDir)
    System.setProperty("derby.stream.error.file", runDir.resolve("derby.log").toString)
    var exit = 1
    try exit = run(workloadName, seed, seconds, trace, contract, runDir, t0, setupSteal)
    finally LocalFiles.deleteTree(runDir)
    System.out.flush()
    sys.exit(exit)
  }

  private def run(workloadName: String, seed: Long, seconds: Double, trace: Boolean,
      contract: Contract, runDir: Path, t0: Long, setupSteal: Steal): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.log.level", "ERROR")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      // bounded status retention, so the heap does not grow with the
      // number of operations a run completes
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "4")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "20")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      graft.functions.GraftFunctions.registerAll(spark)
      graft.streaming.GraftSqlExtensions.registerFunctions(spark)
      val runtime = new SparkRuntime
      spark.sparkContext.addSparkListener(runtime)
      spark.streams.addListener(runtime.streaming)
      val tracer = new Tracer(spark.sparkContext)
      val rec = new Recorder
      val ctx = new Ctx(spark, tracer, runtime, rec, seed)
      val w = Workloads.make(workloadName, ctx)
      val sc = spark.sparkContext

      sc.setLocalProperty(Tracer.PhaseProperty, "setup")
      val sessionS = (System.nanoTime() - t0) / 1e9
      val prepS = (1 to Prepares).map { i =>
        if (i > 1) LocalFiles.deleteTree(runDir.resolve(s"input-${i - 1}"))
        val s = System.nanoTime()
        w.prepare(runDir.resolve(s"input-$i"))
        (System.nanoTime() - s) / 1e9
      }
      val w0 = System.nanoTime()
      w.warmUp(runDir.resolve("warmup"))
      LocalFiles.deleteTree(runDir.resolve("warmup"))
      val warmS = (System.nanoTime() - w0) / 1e9
      val rawSetupS = sessionS + Stats.median(prepS) + warmS
      val setupStealShare = setupSteal.share

      def window(phase: String, secs: Double): Window = {
        sc.setLocalProperty(Tracer.PhaseProperty, phase)
        tracer.enabled = phase == "traced"
        try w.measure(secs) finally tracer.enabled = false
      }
      HeapPeak.reset()
      val untraced = window("untraced", if (trace) seconds / 2 else seconds)
      val heapPeakMb = HeapPeak.peakMb()
      val traced = if (trace) Some(window("traced", seconds / 2)) else None
      sc.setLocalProperty(Tracer.PhaseProperty, "finish")
      val finished = w.finish()
      org.apache.spark.perfbenchshim.ListenerBus.drain(sc)

      val e2e = untraced.endToEnd ++ finished.endToEnd ++ Map(
        "setup_s" -> (rawSetupS * (1 - setupStealShare), "s"),
        "heap_peak_mb" -> (heapPeakMb, "MB"),
        "op_failure_ratio" -> (rec.failed.toDouble / math.max(1L, rec.attempted), "failed/attempted"))

      println(s"[perfbench] workload=$workloadName seed=$seed cores=$cores threads=1 " +
        s"seconds=$seconds trace=${if (trace) 1 else 0}")
      println(s"[perfbench] input ${w.shape.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
      println(f"[perfbench] setup session_s=$sessionS%.3f prepare_s=${prepS.map(x => f"$x%.3f").mkString(",")} " +
        f"warmup_s=$warmS%.3f raw_s=$rawSetupS%.3f steal_share=$setupStealShare%.4f")
      e2e.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => println(f"[perfbench] e2e $k = $v%.4f $u") }
      rec.failures.foreach(f => println(s"[perfbench] failure: $f"))

      val metrics: Seq[(String, (Double, String))] = traced match {
        case None => contract.endToEndMetrics(e2e)
        case Some(traced) =>
          val layers = traced.layers ++ finished.layers ++
            Layers.runtime(runtime, "traced") ++
            Layers.selfTimes(tracer) ++
            Layers.overhead(untraced, traced, tracer)
          layers.toSeq.sortBy(_._1).foreach { case (k, (v, u)) =>
            println(f"[perfbench] layer $k = $v%.4f $u") }
          tracer.write(runDir.getParent.resolveSibling("traces").resolve(s"$workloadName-$seed.jsonl"))
          contract.perLayerMetrics(layers)
      }
      val correct = rec.failed == 0
      println(Contract.json(correct, rec.attempted, rec.failed, metrics))
      if (correct) 0 else 1
    } finally {
      spark.stop()
    }
  }
}
