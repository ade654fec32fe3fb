package perfbench

import org.scalatest.funsuite.AnyFunSuite
import Inputs._

/** The inputs are a function of the seed alone. */
class InputsSpec extends AnyFunSuite {
  private val logShape = LogShape(shards = 4, rowsPerShard = 500, users = 300, zipfS = 1.1,
    outOfOrderShare = 0.1, eventTypes = 6)
  private val kvShape = KvShape(files = 4, rowsPerFile = 200, zipfS = 0.99, cycleOps = 20,
    scansPerCycle = 3, absentPerCycle = 3, changesPerUpsert = 30, maxScanRows = 100)
  private val annShape = AnnShape(baseVectors = 300, appendVectors = 50, dim = 64, clusters = 8,
    latentDim = 4, queries = 20, queryBatch = 10, spread = 0.1)

  private def ops(seed: Long, n: Int): Seq[KvOp] = {
    val o = new KvOps(seed, kv(seed, kvShape))
    Seq.fill(n)(o.next())
  }

  private def vecs(in: AnnInput): Seq[(Long, Seq[Float])] =
    (in.base ++ in.appended ++ in.queries).map(v => (v.id, v.v.toSeq))

  test("the same seed yields identical inputs") {
    assert(log(7, logShape) == log(7, logShape))
    assert(kv(7, kvShape) == kv(7, kvShape))
    assert(ops(7, 200) == ops(7, 200))
    val (a, b) = (ann(7, annShape), ann(7, annShape))
    assert(vecs(a) == vecs(b) && a.digest == b.digest)
  }

  test("a different seed yields different inputs") {
    assert(log(7, logShape).digest != log(8, logShape).digest)
    assert(log(7, logShape).shards != log(8, logShape).shards)
    assert(kv(7, kvShape).digest != kv(8, kvShape).digest)
    assert(ops(7, 200) != ops(8, 200))
    assert(ann(7, annShape).digest != ann(8, annShape).digest)
    assert(vecs(ann(7, annShape)) != vecs(ann(8, annShape)))
  }

  test("inputs have the declared shape") {
    val l = log(3, logShape)
    assert(l.rows == 2000 && l.shards.forall(_.length == 500))
    assert(l.shards.flatten.map(_.eventId).distinct.length == l.rows)
    val late = l.outOfOrder.toDouble / l.rows
    assert(late > 0.05 && late < 0.15, s"out-of-order share $late")
    // Zipf: the hottest user is far above the uniform share
    val hottest = l.shards.flatten.groupBy(_.userId).values.map(_.length).max
    assert(hottest > 10 * l.rows / logShape.users)

    val k = kv(3, kvShape)
    assert(k.rows == 800 && k.files.flatten.map(_.k).distinct.length == 800)
    // every cycle of 20: 3 scans, 3 absent lookups, 13 present lookups, then an upsert
    ops(3, 300).grouped(20).foreach { c =>
      assert(c.last.isInstanceOf[Upsert])
      assert(c.count(_.isInstanceOf[Scan]) == 3)
      assert(c.count { case Lookup(key) => key >= k.keySpace; case _ => false } == 3)
      assert(c.count { case Lookup(key) => key < k.keySpace; case _ => false } == 13)
      assert(c.collect { case Scan(lo, hi) => hi - lo }.forall(w => w >= 2 && w <= 200))
    }

    val a = ann(3, annShape)
    assert(a.base.length == 300 && a.appended.length == 50 && a.queries.length == 20)
    assert((a.base ++ a.appended ++ a.queries).forall(_.v.length == 64))
    assert((a.base ++ a.appended ++ a.queries).map(_.id).distinct.length == 370)
  }
}
