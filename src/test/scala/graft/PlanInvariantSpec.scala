package graft

import org.apache.spark.sql.graftshim.GraftSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

/** Scale-shape invariants asserted (not just printed — the ExplainCheck
  * probes' hard versions): a corpus-sized sort-merge join appearing in
  * the DSIR / decontamination / incremental-dedup plans is a 100 TB
  * regression even when sf0.001 results stay correct.
  */
class PlanInvariantSpec extends SparkSpec {

  private val dir = sf("any")

  /** Physical plan with AQE off so the static tree is inspectable. */
  private def planOf(q: String): SparkPlan =
    GraftSession.runGate(GraftSession.clone(spark, "spark.sql.adaptive.enabled" -> "false"))(
      s => SparkEntry.queries(q)(s, dir).queryExecution.executedPlan)

  private def subtreeHasAggregate(p: SparkPlan): Boolean =
    p.collectFirst { case a: BaseAggregateExec => a }.isDefined

  test("DSIR resampling: every sort-merge join is between aggregated (histogram-sized) frames") {
    val plan = planOf("q_dsir_resample")
    val smjs = plan.collect { case j: SortMergeJoinExec => j }
    smjs.foreach { j =>
      assert(subtreeHasAggregate(j.left) && subtreeHasAggregate(j.right),
        s"corpus-sized SMJ side in DSIR plan:\n$j")
    }
  }

  test("decontamination (exact, Bloom, fuzzy): zero shuffled joins — every corpus join broadcasts") {
    for (q <- Seq("q_doc_decontaminate", "q_doc_decontaminate_bloom",
        "q_doc_decontaminate_fuzzy")) {
      val plan = planOf(q)
      val shuffled = plan.collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      assert(shuffled.isEmpty,
        s"$q has ${shuffled.length} shuffled join(s) — the corpus must only " +
          s"ever join via broadcast:\n${shuffled.headOption.getOrElse("")}")
    }
  }

  test("bm25 / sq8 / margin mining: corpus joins are all broadcasts, no windows") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_doc_bm25", "q_ann_sq8", "q_embed_margin_mine", "q_embed_mmr")) {
      val plan = planOf(q)
      val shuffledJoins = plan.collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      assert(shuffledJoins.isEmpty,
        s"$q: corpus-side shuffled join (broadcast semi-join must cut the " +
          s"stream first):\n${shuffledJoins.headOption.getOrElse("")}")
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.isEmpty, s"$q: window over candidate sets (bounded-heap " +
        s"top-k must aggregate instead)")
    }
  }

  test("fuzzy join: candidates come from an equi-join — no cartesian, no BNLJ") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val plan = planOf("q_fuzzy_join")
    val loops = plan.collect {
      case j: CartesianProductExec => j: SparkPlan
      case j: BroadcastNestedLoopJoinExec => j: SparkPlan
    }
    assert(loops.isEmpty,
      s"fuzzy join degenerated to a product join:\n${loops.headOption.getOrElse("")}")
  }

  test("assignSplits is row-local: zero exchanges, zero aggregates") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.operators.Curation.assignSplits(
        Tables.load(spark, dir, "documents"), "doc_id",
        Seq("train" -> 0.9, "test" -> 0.1), seed = 1L)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
      plan.collect { case a: BaseAggregateExec => a }.isEmpty,
      s"split assignment must be a pure map:\n$plan")
  }

  test("incremental dedup gate: the bucketized seen-store is never reshuffled") {
    // the gate itself builds the fp-bucketized store and reads it through
    // the kv catalog — in its plan, the join side containing the kv store
    // scan must have NO shuffle (the SPJ routes the batch side to the
    // store's layout instead)
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plan = planOf("q_dedup_incremental")
    // every root→scan path, for each kv store scan in the plan
    def pathsToScans(p: SparkPlan, acc: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.kv.KvScan] =>
        Seq((b :: acc).reverse)
      case other => other.children.flatMap(c => pathsToScans(c, other :: acc))
    }
    val paths = pathsToScans(plan, Nil)
    assert(paths.nonEmpty, s"no kv store scan in plan:\n$plan")
    paths.foreach { path =>
      // segment between the scan and its nearest join ancestor: no
      // shuffle allowed there — the store feeds its join in place
      // (broadcast at toy scale, storage-partitioned at cluster scale;
      // KvBucketedJoinSpec pins the SPJ one-exchange plan itself)
      val belowJoin = path.reverse.takeWhile(!_.isInstanceOf[BaseJoinExec])
      val shuffles = belowJoin.filter(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles.isEmpty,
        s"the seen-store reshuffles before reaching its join:\n$plan")
    }
  }

  test("refine / rerank cascades: raw-vector fetches broadcast; any SMJ is between keyed aggregates") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q_ann_ivfpq_refine", "q_pipeline_rerank")) {
      val plan = planOf(q)
      // the code-assembly joins (code_s ⋈ code_s+1 ⋈ lists) are same-key
      // corpus joins between per-id AGGREGATES — legal; what must never
      // appear is a shuffled join with a raw (un-aggregated) scan side,
      // which would mean the shortlist shuffled the corpus instead of
      // broadcasting into it
      val shuffledJoins = plan.collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      shuffledJoins.foreach { j =>
        assert(subtreeHasAggregate(j.children(0)) && subtreeHasAggregate(j.children(1)),
          s"$q: shuffled join with a raw corpus side (the rescore fetch " +
            s"must broadcast):\n$j")
      }
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        s"$q: window over candidates (bounded-heap top-k must aggregate)")
    }
  }

  test("drift audit: no windows; the only SMJ is the same-key count-frame full outer") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = planOf("q_corpus_drift")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "drift must rank via the bounded heap, not a window")
    val smjs = plan.collect { case j: SortMergeJoinExec => j }
    smjs.foreach { j =>
      assert(subtreeHasAggregate(j.left) && subtreeHasAggregate(j.right),
        s"drift SMJ side is not an aggregated term-count frame:\n$j")
    }
  }

  test("bucketed graph iteration: the edge-table scan feeds its join with ZERO exchanges") {
    // the iteration body both pageRankBucketed and
    // connectedComponentsBucketed build: ranks/labels ⋈ bucketized edge
    // table on the bucket key. With broadcast off (cluster-scale shape),
    // the edge side must plan as scan→join IN PLACE — only the
    // node-sized frame may shuffle (v2.bucketing.shuffle).
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = (0L until 500L).map(i => (i % 97, (i * 7 + 1) % 97))
      .toDF("src", "dst")
    val path = java.nio.file.Files.createTempDirectory("spjpr").toString + "/edges"
    graft.operators.GraphRank.prepareEdgesBucketed(
      spark, edges, "src", "dst", path, numBuckets = 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ewd = spark.read.table(s"kvcat.`$path`")
      val ranks = ewd.select(col("src").as("id")).distinct()
        .withColumn("rank_micro", lit(1000000L))
      val contrib = ranks.select(col("id").as("src"), col("rank_micro"))
        .join(ewd, "src")
        .select(col("dst").as("id"), expr("rank_micro DIV outdeg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("inflow"))
      val plan = contrib.queryExecution.executedPlan
      def pathsToScans(p: org.apache.spark.sql.execution.SparkPlan,
          acc: List[org.apache.spark.sql.execution.SparkPlan])
          : Seq[List[org.apache.spark.sql.execution.SparkPlan]] = p match {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.kv.KvScan] =>
          Seq((b :: acc).reverse)
        case other => other.children.flatMap(c => pathsToScans(c, other :: acc))
      }
      val paths = pathsToScans(plan, Nil)
      assert(paths.nonEmpty, s"no kv edge scan in plan:\n$plan")
      // the RIGHT (edge) side of the join: no exchange between scan and join.
      // (One scan — the ranks seed — legitimately shuffles for distinct;
      // the join-feeding scan must not.)
      def hasCleanScanPath(ps: Seq[List[org.apache.spark.sql.execution.SparkPlan]]) =
        ps.exists { path =>
          val belowJoin = path.reverse.takeWhile(!_.isInstanceOf[BaseJoinExec])
          !belowJoin.exists(_.isInstanceOf[ShuffleExchangeExec])
        }
      assert(hasCleanScanPath(paths),
        s"every edge scan reshuffles before its join — SPJ layout lost:\n$plan")

      // the connectedComponentsBucketed iteration body — edges⋈labels on
      // the dst bucket key — must keep the same shape
      val cPath = java.nio.file.Files.createTempDirectory("spjcc").toString + "/edges"
      (0L until 500L).map(i => (i % 89, (i * 13 + 1) % 89)).toDF("src", "dst")
        .write.format("kv").option("path", cPath).mode("overwrite").save()
      graft.operators.KvMerge.bucketize(spark, cPath, 4, Seq("dst"))
      val cEdges = spark.read.table(s"kvcat.`$cPath`")
      val labels = cEdges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id"))
      val step = cEdges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("n_comp"))
      val cPlan = step.queryExecution.executedPlan
      val cPaths = pathsToScans(cPlan, Nil)
      assert(cPaths.nonEmpty, s"no kv edge scan in components plan:\n$cPlan")
      assert(hasCleanScanPath(cPaths),
        s"components edge scan reshuffles before its join:\n$cPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("AQE final plan runs whole-stage codegen and broadcast joins (executed, not initial)") {
    // the ExplainCheck probes' hard version: inspect what ACTUALLY ran.
    // An un-executed AdaptiveSparkPlan stringifies its initial tree with
    // zero codegen spans — executedPlan after execution is the contract.
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("q5_region_revenue")(spark, dir)
    // execute THIS queryExecution (a noop write would execute a clone)
    df.queryExecution.executedPlan.execute().foreach(_ => ())
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => assert(a.isFinalPlan); a.executedPlan
      case p => p
    }
    def collectAll[T](p: org.apache.spark.sql.execution.SparkPlan)(
        pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
      p.collect(pf) ++ p.collect {
        // query stages are leaves — recurse into their materialized plans
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => s.plan
      }.flatMap(collectAll(_)(pf))
    val codegen = collectAll(finalPlan) { case w: WholeStageCodegenExec => w }
    assert(codegen.nonEmpty, s"no WholeStageCodegen in the executed final plan:\n$finalPlan")
    val bhj = collectAll(finalPlan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 4, s"q5 should broadcast its dimension joins, got ${bhj.size}:\n$finalPlan")
  }

  test("time-travel snapshot scan keeps filter pushdown (plan-visible)") {
    val df = SparkEntry.queries("q_kv_time_travel")(spark, dir)
      .where(org.apache.spark.sql.functions.col("n_nationkey") > 5L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      s"snapshot read lost pushdown:\n$plan")
  }
}
