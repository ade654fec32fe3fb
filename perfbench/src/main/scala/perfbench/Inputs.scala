package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Every workload's input is a pure function of
  * `(seed, shape)`: the generators return plain in-memory rows plus a
  * digest, and the workloads write those rows into a fresh run directory.
  * Nothing is read from shared fixture or staging paths, so no input
  * survives from one JVM or one run to the next.
  */
object Inputs {

  /** Zipf(s) sampler over ranks 1..n by inverse CDF (binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    /** Rank in [0, n): 0 is the most frequent. */
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(xs: Any*): Unit = xs.foreach(x => md.update((x.toString + "\u0001").getBytes("UTF-8")))
    def hex: String = md.digest().map("%02x".format(_)).mkString.take(16)
  }

  // ---- log_ingest ---------------------------------------------------------

  final case class LogShape(shards: Int, rowsPerShard: Int, users: Int,
      zipfS: Double, outOfOrderShare: Double, eventTypes: Int)

  /** One event. `tsMicros` is event time; a share of events carry a time
    * up to five minutes before their position in the log.
    */
  final case class Event(eventId: Long, userId: Long, eventType: String,
      amount: Long, tsMicros: Long)

  final case class LogInput(shape: LogShape, shards: IndexedSeq[IndexedSeq[Event]],
      digest: String, outOfOrder: Int) {
    def rows: Int = shards.map(_.length).sum
  }

  val BaseMicros: Long = 1700000000L * 1000000L

  def log(seed: Long, shape: LogShape): LogInput = {
    val r = new SplittableRandom(seed ^ 0x1091L)
    val zipf = new Zipf(shape.users, shape.zipfS)
    // users are ranked by frequency in a seeded order, so the hot key
    // differs between seeds
    val userIds = shuffled(r, (0 until shape.users).map(i => 1000L + i).toArray)
    val d = new Digest
    var ooo = 0
    val shards = (0 until shape.shards).map { s =>
      (0 until shape.rowsPerShard).map { i =>
        val pos = i.toLong * shape.shards + s
        val late = r.nextDouble() < shape.outOfOrderShare
        if (late) ooo += 1
        val ts = BaseMicros + pos * 20000L -
          (if (late) r.nextLong(300L * 1000000L) else 0L)
        val e = Event(
          eventId = s.toLong * 100000000L + i,
          userId = userIds(zipf.sample(r)),
          eventType = s"t${r.nextInt(shape.eventTypes)}",
          amount = 1L + r.nextInt(1000),
          tsMicros = ts)
        d.add(s, e.eventId, e.userId, e.eventType, e.amount, e.tsMicros)
        e
      }
    }
    LogInput(shape, shards, d.hex, ooo)
  }

  // ---- kv_serve -----------------------------------------------------------

  /** Operations come in cycles of `cycleOps`: `scansPerCycle` range
    * aggregates, `absentPerCycle` lookups of absent keys and Zipf lookups
    * of present keys in seeded order, then one upsert of
    * `changesPerUpsert` changes. A scan covers about 1 to `maxScanRows`
    * rows.
    */
  final case class KvShape(files: Int, rowsPerFile: Int, zipfS: Double, cycleOps: Int,
      scansPerCycle: Int, absentPerCycle: Int, changesPerUpsert: Int, maxScanRows: Int)

  final case class KvRow(k: Long, v: String, n: Long)

  sealed trait KvOp
  final case class Lookup(k: Long) extends KvOp
  final case class Scan(lo: Long, hi: Long) extends KvOp
  /** One CDC change batch: `kind` is PUT (insert or replace), UPDATE
    * (replace an existing key) or DELETE.
    */
  final case class Change(kind: String, k: Long, v: String, n: Long)
  final case class Upsert(seq: Int, changes: IndexedSeq[Change]) extends KvOp

  /** Keys are spread over `[0, keySpace)`; the table holds about half of
    * them, so lookups of the other half are genuinely absent. Files are
    * unclustered: every file spans the whole key range.
    */
  final case class KvInput(shape: KvShape, files: IndexedSeq[IndexedSeq[KvRow]],
      keySpace: Long, digest: String) {
    def rows: Int = files.map(_.length).sum
  }

  def kv(seed: Long, shape: KvShape): KvInput = {
    val r = new SplittableRandom(seed ^ 0x2b7L)
    val total = shape.files * shape.rowsPerFile
    val keySpace = total.toLong * 2
    val keys = shuffled(r, (0L until keySpace).toArray).take(total)
    val d = new Digest
    val files = keys.grouped(shape.rowsPerFile).zipWithIndex.map { case (ks, f) =>
      ks.toIndexedSeq.map { k =>
        val row = KvRow(k, s"v$k-${r.nextInt(1000)}", r.nextLong(1000000L))
        d.add(f, row.k, row.v, row.n)
        row
      }
    }.toIndexedSeq
    KvInput(shape, files, keySpace, d.hex)
  }

  /** The seeded client operation stream for `kv_serve`, together with the
    * model of the table it implies. The stream depends only on the seed
    * and the initial table, never on timing, so a run that completes N
    * operations always issued the same first N.
    */
  final class KvOps(seed: Long, in: KvInput) {
    private val r = new SplittableRandom(seed ^ 0x3c5L)
    private val shape = in.shape
    /** key -> (v, n): the table as the client expects it right now. */
    val model: mutable.HashMap[Long, (String, Long)] = {
      val m = mutable.HashMap.empty[Long, (String, Long)]
      in.files.foreach(_.foreach(row => m(row.k) = (row.v, row.n)))
      m
    }
    // lookups of present keys are Zipf over a seeded ranking of the
    // initial table's keys; a fixed share of lookups asks for keys the
    // table never held, so the mix of hits and misses does not depend on
    // where the seed puts the hottest key
    private val ranked: Array[Long] = shuffled(r, in.files.flatten.map(_.k).toArray)
    private val zipf = new Zipf(ranked.length, shape.zipfS)
    private val absentKeys: Array[Long] =
      (in.keySpace until in.keySpace + 4096L).toArray
    private var upserts = 0
    private val pending = mutable.Queue.empty[Char]

    /** Every cycle has the same mix, so two seeds differ in keys and
      * order, never in how much of each operation they ask for. Keys are
      * drawn when an operation is issued, after the model has taken every
      * earlier upsert.
      */
    def next(): KvOp = {
      if (pending.isEmpty) {
        val reads = Seq.fill(shape.scansPerCycle)('s') ++ Seq.fill(shape.absentPerCycle)('a') ++
          Seq.fill(shape.cycleOps - 1 - shape.scansPerCycle - shape.absentPerCycle)('l')
        pending ++= shuffled(r, reads.toArray) :+ 'u'
      }
      pending.dequeue() match {
        case 's' => scan()
        case 'a' => Lookup(absentKeys(r.nextInt(absentKeys.length)))
        case 'l' => Lookup(ranked(zipf.sample(r)))
        case _ => upserts += 1; upsert()
      }
    }

    /** The key space is twice the table, so `2 * rows` keys hold about
      * `rows` rows.
      */
    private def scan(): Scan = {
      val width = 2L * (1 + r.nextInt(shape.maxScanRows))
      val lo = r.nextLong(in.keySpace - width)
      Scan(lo, lo + width)
    }

    /** One change per key per batch; applies it to the model. */
    private def upsert(): Upsert = {
      val seen = mutable.HashSet.empty[Long]
      val present = model.keysIterator.toArray
      java.util.Arrays.sort(present)
      val changes = (0 until shape.changesPerUpsert).flatMap { _ =>
        val u = r.nextDouble()
        val ch =
          if (u < 0.4) {
            val k = r.nextLong(in.keySpace)
            Change("PUT", k, s"p$k-${upserts}", r.nextLong(1000000L))
          } else {
            val k = present(r.nextInt(present.length))
            if (u < 0.8) Change("UPDATE", k, s"u$k-${upserts}", r.nextLong(1000000L))
            else Change("DELETE", k, null, 0L)
          }
        if (seen.add(ch.k)) Some(ch) else None
      }
      changes.foreach {
        case Change("DELETE", k, _, _) => model.remove(k)
        case Change(_, k, v, n) => model(k) = (v, n)
      }
      Upsert(upserts, changes)
    }

    def expectLookup(k: Long): Option[(String, Long)] = model.get(k)
    def expectScan(lo: Long, hi: Long): (Long, Long) = {
      var c = 0L
      var s = 0L
      model.foreach { case (k, (_, n)) => if (k >= lo && k < hi) { c += 1; s += n } }
      (c, s)
    }
  }

  // ---- ann_index ----------------------------------------------------------

  final case class AnnShape(baseVectors: Int, appendVectors: Int, dim: Int,
      clusters: Int, latentDim: Int, queries: Int, queryBatch: Int, spread: Double)

  final case class Vec(id: Long, v: Array[Float])

  final case class AnnInput(shape: AnnShape, base: IndexedSeq[Vec],
      appended: IndexedSeq[Vec], queries: IndexedSeq[Vec], digest: String)

  /** Clustered embeddings of low intrinsic dimension, as real embeddings
    * are: cluster centres uniform in the unit cube; each point is its
    * centre plus a Gaussian mix of `latentDim` cluster-specific directions
    * and a little isotropic noise. Queries come from the same clusters and
    * use ids no corpus vector has.
    */
  def ann(seed: Long, shape: AnnShape): AnnInput = {
    val r = new SplittableRandom(seed ^ 0x4d3L)
    val centres = Array.fill(shape.clusters, shape.dim)(r.nextDouble() * 2 - 1)
    val axes = Array.fill(shape.clusters, shape.latentDim, shape.dim)(gaussian(r) / math.sqrt(shape.dim))
    val d = new Digest
    def point(id: Long): Vec = {
      val c = r.nextInt(shape.clusters)
      val z = Array.fill(shape.latentDim)(gaussian(r) * shape.spread)
      val v = Array.tabulate(shape.dim) { j =>
        var x = centres(c)(j) + gaussian(r) * shape.spread * 0.05
        var a = 0
        while (a < shape.latentDim) { x += z(a) * axes(c)(a)(j) * math.sqrt(shape.dim); a += 1 }
        x.toFloat
      }
      d.add(id, v.mkString(","))
      Vec(id, v)
    }
    val base = (0 until shape.baseVectors).map(i => point(i.toLong))
    val appended = (0 until shape.appendVectors).map(i => point(shape.baseVectors.toLong + i))
    val queries = (0 until shape.queries).map(i => point(1000000000L + i))
    AnnInput(shape, base, appended, queries, d.hex)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u1 = math.max(r.nextDouble(), 1e-12)
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def shuffled[T](r: SplittableRandom, a: Array[T]): Array[T] = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
