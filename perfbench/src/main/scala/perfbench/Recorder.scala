package perfbench

import scala.collection.mutable

/** Operation accounting for one run. Every client operation and every
  * correctness check is attempted through here. A failed one is counted,
  * its latency sample reads as infinite (it misses every limit), and it
  * stays in every total: nothing is dropped.
  */
final class Recorder {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def values(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Runs one operation, recording its latency in ms under `name` and,
    * net of the steal over the operation (see [[Steal]]), under
    * `name.net`.
    */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val steal = Steal.start()
    try {
      val v = body
      val ms = (System.nanoTime() - t0) / 1e6
      sample(name, ms)
      sample(s"$name.net", ms * (1 - steal.share))
      Some(v)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[AssertionError] =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        sample(name, Double.PositiveInfinity)
        sample(s"$name.net", Double.PositiveInfinity)
        None
    }
  }

  /** A correctness check: an attempted operation that fails when `ok` is
    * false or the body throws.
    */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        fail(s"check $what: ${e.getClass.getSimpleName}: ${e.getMessage}"); return
    }
    if (!passed) fail(s"check $what failed")
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }
}

/** Hypervisor steal over an interval. On a shared virtual machine the
  * host also runs other guests on this machine's processors, and the
  * guest kernel counts the time they take as steal in `/proc/stat`. When
  * a share `s` of the processor time the machine asked for went to other
  * guests, an interval of `w` wall seconds held about `w * (1 - s)` of
  * running time. The timed metrics of the result line are net of steal
  * in this sense, so that they measure the program and not its
  * neighbours; the report lines print the raw times beside them. Where
  * there is no `/proc/stat`, `s` is 0.
  */
final class Steal private (stat0: Array[Long]) {
  /** Steal as a share of busy time (user, nice, system, irq, softirq,
    * steal) since `Steal.start`.
    */
  def share: Double = {
    val d = Steal.procStat().zip(stat0).map { case (a, b) => a - b }
    if (d.length < 8) 0.0 else {
      val busy = d(0) + d(1) + d(2) + d(5) + d(6) + d(7)
      if (busy > 0) d(7).toDouble / busy else 0.0
    }
  }
}

object Steal {
  /** The aggregate `cpu` line of `/proc/stat`: user, nice, system, idle,
    * iowait, irq, softirq, steal; empty where there is none.
    */
  private def procStat(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
    } catch { case _: java.io.IOException => Array.empty }

  def start(): Steal = new Steal(procStat())
}

/** The largest heap in use right after a garbage collection since
  * `reset`, in MB. It leaves out the short-lived garbage each collection
  * frees; old-generation garbage no collection has reached yet still
  * counts. `peakMb` collects once more itself, so a window without a
  * collection still reads its live heap.
  */
object HeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.synchronized { peak = math.max(peak, used) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = 0L }

  def peakMb(): Double = {
    System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val bytes = synchronized { math.max(peak, live) }
    bytes / 1048576.0
  }
}

object Stats {
  /** Nearest-rank percentile; `p` in (0, 100]. Infinite samples sort last. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  /** Median, or `empty` when there are no samples. */
  def medianOr(xs: Seq[Double], empty: Double): Double = if (xs.isEmpty) empty else median(xs)
  /** A layer's median time; 0 when the layer was not called. */
  def layerMedian(xs: Seq[Double]): Double = medianOr(xs, 0.0)
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
