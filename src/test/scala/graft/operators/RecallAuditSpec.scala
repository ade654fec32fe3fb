package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The shared recall-audit primitive, seen through the public audits:
  * the zero-query rule, the exact output columns, and the release of
  * the persisted truth when a chain fails.
  */
class RecallAuditSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = (0 until 20).map { s =>
    (s.toLong, Seq.tabulate(8)(i => math.sin(s * 13 + i).toFloat))
  }.toDF("vec_id", "embedding")
  private val noQueries = corpus.filter(col("vec_id") < 0L)

  test("an empty query set reads 0 queries and recall 1000 for every chain") {
    val single = SimilaritySearch.annRecallAudit(corpus, noQueries,
      "embedding", "vec_id", k = 3)
    assert(single.columns.toSeq == Seq("n_queries", "k", "n_hits", "recall_milli"))
    val s = single.collect().toSeq
    assert(s.size == 1)
    assert(s.head.getAs[Long]("n_queries") == 0L && s.head.getAs[Long]("n_hits") == 0L)
    assert(s.head.getAs[Long]("recall_milli") == 1000L)

    val multi = SimilaritySearch.binaryRecallAudit(corpus, noQueries,
      "embedding", "vec_id", dim = 8, k = 3, refine = 4)
    assert(multi.columns.toSeq == Seq("n_queries", "k", "hits_binary",
      "recall_binary_milli", "hits_refined", "recall_refined_milli"))
    val m = multi.collect()(0)
    assert(m.getAs[Long]("n_queries") == 0L)
    assert(m.getAs[Long]("recall_binary_milli") == 1000L)
    assert(m.getAs[Long]("recall_refined_milli") == 1000L)
  }

  test("a chain that throws fails the audit and releases the persisted truth") {
    val q = corpus.filter(col("vec_id") < 4L)
    val unpersisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onUnpersistRDD(
          e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
        unpersisted.add(e.rddId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      // refine < k: the refined chain's require fails after the truth is cached
      val err = intercept[IllegalArgumentException](
        SimilaritySearch.binaryRecallAudit(corpus, q, "embedding", "vec_id",
          dim = 8, k = 3, refine = 2))
      assert(err.getMessage.contains("refine shortlist"), err.getMessage)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before)
      // the truth really was cached, and released: its unpersist was posted
      val deadline = System.nanoTime() + 10000000000L
      while (unpersisted.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!unpersisted.isEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
