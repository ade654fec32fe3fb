package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.graftshim.GraftSession

/** Round-15 cache-lifecycle contract (r14 verdict #1/#4): persisted
  * model/corpus frames registered by operators must not outlive their
  * gate — `GraftSession.runGate` releases them once the gate has
  * executed, so cached blocks cannot accumulate across a 341-gate bench
  * run and a rerun of the same gate cannot silently read the previous
  * run's still-cached blocks.
  */
class SessionCachesSpec extends SparkSpec {

  /** Runs the gate; returns the registrations it held while running. */
  private def runGate(name: String): Int =
    GraftSession.runGate(spark) { s =>
      graft.SparkEntry.queries(name)(s, sf(""))
        .write.format("noop").mode("overwrite").save()
      SessionCaches.outstanding
    }

  test("gate dispatch releases the previous gate's registered caches") {
    def cached: Int = spark.sparkContext.getPersistentRDDs.size
    // isolate from whatever earlier suites left behind
    SessionCaches.releaseAll()
    spark.sqlContext.clearCache()

    // an ANN gate that registers model caches (coarse + PQ codebooks),
    // released once the gate has executed
    assert(runGate("q_ann_ivfpq") > 0, "ANN gate should register model caches")
    assert(SessionCaches.outstanding == 0 && cached == 0,
      s"caches outlived their gate: ${SessionCaches.outstanding} registered, $cached cached")

    // rerunning the SAME gate registers afresh and releases again
    assert(runGate("q_ann_ivfpq") > 0)
    assert(cached == 0, s"cached RDDs accumulated across reruns: $cached")

    // a gate that registers nothing leaves ZERO cached blocks behind
    assert(runGate("q1_pricing_summary") == 0,
      "non-caching gate must not hold registrations")
    assert(cached == 0, s"blocks remained cached after a gate boundary: $cached")
  }

  test("concurrent plan-equal chains share one entry and survive a sibling finishing") {
    SessionCaches.releaseAll()
    spark.sqlContext.clearCache()
    // an audit gate runs sibling chains via inParallel over shared
    // registered frames — values must come out exact (no
    // "Block does not exist" mid-read, registrations released after it)
    runGate("q_ann_pca2_audit")
    // registrations fully drained (localCheckpoint RDDs of the audit's
    // returned frames are GC-owned, not registry-owned, so only the
    // registry is asserted here)
    assert(SessionCaches.outstanding == 0)
  }
}
