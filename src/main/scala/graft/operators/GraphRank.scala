package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Link-graph importance for corpus curation — the crawl-prioritization
  * prior (PageRank; Page et al. 1999): pages linked from many important
  * pages are likely higher-value training data, and a harvest pipeline
  * ranks its frontier (or weighs its documents) by exactly this.
  *
  * INTEGER-EXACT formulation: ranks live in micro-units (start at
  * 1_000_000 per node) and every update is integer arithmetic —
  * per-edge contribution `r(u) div outdeg(u)` (integer division), the
  * damped update `(sum · dampingPct) div 100 + (100 − dampingPct) · 10_000`.
  * Summation of integers is order-free, so a fixed iteration count
  * yields bit-identical ranks on any engine and partitioning — no float
  * folds, no convergence tolerance, replayable in plain SQL. (Dangling
  * nodes keep the teleport term only; their outflow is dropped, the
  * standard simplification — document mass is a prior here, not a
  * probability measure.)
  *
  * Scale shape: the edge list, out-degrees and node set are computed
  * ONCE and persisted — each iteration then costs exactly one
  * rank⋈edges join plus one partial-aggregable sum keyed by
  * destination, and each iteration's ranks are materialized eagerly so
  * iteration k never re-executes iterations 1..k-1 (without the
  * materialization the single lazy plan re-scans the edge input ~2k
  * times). For the cluster-scale layout where the edge side of the
  * per-iteration join never shuffles AT ALL, store the edges
  * src-bucketized and use [[pageRankBucketed]].
  */
object GraphRank {

  private def edgeFrame(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))

  /** One iteration: contributions keyed by destination, then the damped
    * integer update over the full node set.
    */
  private def step(nodes: DataFrame, e: DataFrame, outdeg: DataFrame,
      ranks: DataFrame, dampingPct: Int, teleport: Long): DataFrame = {
    val contrib = ranks.join(outdeg, ranks("id") === outdeg("src"))
      .join(e, "src")
      .select(col("dst").as("id"),
        expr("rank_micro DIV outdeg").as("c"))
      .groupBy(col("id")).agg(sum(col("c")).as("inflow"))
    nodes.join(contrib, Seq("id"), "left")
      .select(col("id"),
        (expr(s"coalesce(inflow, CAST(0 AS BIGINT)) * $dampingPct DIV 100") +
          lit(teleport)).as("rank_micro"))
  }

  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations must be in [1, 16], got $iterations")
    require(dampingPct >= 1 && dampingPct <= 99,
      s"dampingPct must be in [1, 99], got $dampingPct")
    // persist the loop-invariant frames: every iteration joins e and
    // outdeg, and without the cache i iterations cost ~2i edge scans
    val e = edgeFrame(edges, srcCol, dstCol).persist(MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().persist(MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .persist(MEMORY_AND_DISK)
    val teleport = (100L - dampingPct) * 10000L

    var ranks = nodes.withColumn("rank_micro", lit(1000000L))
    (1 to iterations).foreach { i =>
      val next = step(nodes, e, outdeg, ranks, dampingPct, teleport)
        .persist(MEMORY_AND_DISK)
      next.count() // materialize: iteration i costs its own joins only
      if (i > 1) ranks.unpersist()
      ranks = next
    }
    // the final ranks are materialized in cache; the inputs can go (a
    // cache-evicted final frame recomputes through the unpersisted
    // lineage — correctness never depends on the cache). The final
    // iterate is released at the next gate boundary (SessionCaches).
    e.unpersist(); nodes.unpersist(); outdeg.unpersist()
    SessionCaches.track(ranks)
  }

  /** Materialize the iteration-invariant edge layout ONCE: (src, dst,
    * outdeg) hash-bucketized on `src` as a kv table
    * ([[KvMerge.bucketize]]) — the storage-partitioned-join shape for
    * [[pageRankBucketed]]. Out-degrees are pre-joined so the iteration
    * body reads everything it needs from the bucketized scan.
    */
  def prepareEdgesBucketed(spark: SparkSession, edges: DataFrame,
      srcCol: String, dstCol: String, path: String, numBuckets: Int): Unit = {
    graft.sources.ParquetIO.deletePath(path)
    val e = edgeFrame(edges, srcCol, dstCol)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    e.join(outdeg, "src")
      .write.format("kv").option("path", path).mode("overwrite").save()
    KvMerge.bucketize(spark, path, numBuckets, Seq("src"))
  }

  /** PageRank over a [[prepareEdgesBucketed]] table — the 100 TB
    * iteration shape: the scan reports `KeyGroupedPartitioning(bucket(n,
    * src))`, so the per-iteration rank⋈edges join NEVER shuffles the
    * edge side (`v2.bucketing.shuffle.enabled` routes only the
    * node-sized rank frame to the stored layout; at broadcastable rank
    * sizes even that exchange disappears). Identical ranks to
    * [[pageRank]] over the same edges — integer math is layout-free —
    * so the two share one oracle.
    */
  def pageRankBucketed(spark: SparkSession, path: String,
      iterations: Int, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations must be in [1, 16], got $iterations")
    require(dampingPct >= 1 && dampingPct <= 99,
      s"dampingPct must be in [1, 99], got $dampingPct")
    val ewd = spark.read.table(s"kvcat.`$path`") // (src, dst, outdeg), bucket(src)
    val nodes = ewd.select(col("src").as("id"))
      .union(ewd.select(col("dst").as("id"))).distinct().persist(MEMORY_AND_DISK)
    val teleport = (100L - dampingPct) * 10000L

    var ranks = nodes.withColumn("rank_micro", lit(1000000L))
    (1 to iterations).foreach { i =>
      val contrib = ranks.select(col("id").as("src"), col("rank_micro"))
        .join(ewd, "src") // edge side in place (storage-partitioned)
        .select(col("dst").as("id"),
          expr("rank_micro DIV outdeg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("inflow"))
      val next = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (expr(s"coalesce(inflow, CAST(0 AS BIGINT)) * $dampingPct DIV 100") +
            lit(teleport)).as("rank_micro"))
        .persist(MEMORY_AND_DISK)
      next.count()
      if (i > 1) ranks.unpersist()
      ranks = next
    }
    nodes.unpersist()
    SessionCaches.track(ranks)
  }
}
