package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload's code shares with the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val runtime: SparkRuntime,
    val rec: Recorder, val seed: Long) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Runs one client operation through `r`; its spans carry its number. */
  def op[T](name: String, r: Recorder = rec)(body: => T): Option[T] = {
    tracer.op = r.attempted + 1
    r.op(name)(body)
  }
}

/** Measurements one timed window produced: the end-to-end metrics this
  * workload reports (name -> (value, unit)) and its per-layer metrics.
  */
final case class Window(endToEnd: Map[String, (Double, String)],
    layers: Map[String, (Double, String)])

trait Workload {
  /** The input's sizes and properties, printed with the report. */
  def shape: Seq[(String, Any)]
  /** Writes the inputs into `dir` and builds what the timed window starts
    * from. Timed as set-up.
    */
  def prepare(dir: Path): Unit
  /** One short untimed pass over every call the window makes, on the
    * prepared input, so JIT compilation, code generation and the first
    * streaming query are paid before timing. `scratch` is removed after.
    */
  def warmUp(scratch: Path): Unit
  /** The closed-loop client: issues a fixed amount of work, sized so it
    * takes about `seconds` on a 4-core machine, and checks each result.
    * The work does not depend on how fast it runs, so two commits are
    * measured on the same operations and the same table states. Called on
    * the input the last `prepare` wrote; twice (untraced, then traced) in
    * a traced run.
    */
  def measure(seconds: Double): Window
  /** Whole-run checks after the last window; returns the metrics only
    * they can compute.
    */
  def finish(): Window
}

object LocalFiles {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Writes one parquet file per partition of `df` in one job, and moves
    * them to `targets` in partition order.
    */
  def writeParquetFiles(df: DataFrame, targets: Seq[Path]): Unit = {
    val tmp = targets.head.resolveSibling(".parquet-tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    val parts = dataFiles(tmp).sortBy(_.getFileName.toString)
    require(parts.length == targets.length,
      s"expected ${targets.length} parquet files, got ${parts.length}")
    parts.zip(targets).foreach { case (f, t) => Files.move(f, t) }
    deleteTree(tmp)
  }

  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  /** Parquet data files directly under a kv table directory. */
  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
        }.toList
      } finally s.close()
    }
}
