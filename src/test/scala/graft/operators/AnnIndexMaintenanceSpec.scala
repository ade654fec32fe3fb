package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The ANN-index × table-maintenance interaction matrix — the
  * widen-then-maintain discipline (`KvWidenMaintenanceSpec`) applied to
  * the persisted ANN index tables. The index tables are ordinary kv
  * tables, so every maintenance op (compaction/clustering `rewrite`,
  * zone-map sidecars + `rebuildIndexes`, `vacuum`) composes with index
  * appends (`ivfIndexAppend`, `graphIndexAppend`) and the degree prune
  * (`graphPruneEdges`); any pairing that corrupts search results trips a
  * spec here instead of shipping.
  *
  * Equality discipline: maintenance must be SEARCH-INVARIANT — the kv
  * scan contract guarantees content-preserving rewrites, and the walk /
  * probe results are deterministic functions of table content, so
  * before/after results must be bit-identical.
  */
class AnnIndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def vec16(seed: Int): Seq[Float] =
    Seq.tabulate(16)(i => math.sin(seed * 37 + i).toFloat)
  private lazy val corpus = ((0 until 40).map(s => (s.toLong, vec16(s))) :+
    (99L, vec16(0).zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }))
    .toDF("vec_id", "embedding")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("qid", "rnk").collect().toSeq.map(_.toString)

  test("IVF index survives rewrite (compaction + clustering) across appends") {
    val idx = java.nio.file.Files.createTempDirectory("annmx1").toString + "/i"
    val base = corpus.filter(col("vec_id") < 30L)
    SimilaritySearch.buildIvfIndex(base, "embedding", "vec_id", idx,
      nCells = 2, maxTrainPerCell = 64)
    val q = corpus.filter(col("vec_id") < 3L)
    def search() = SimilaritySearch.ivfKnnIndexed(
      q, "embedding", "vec_id", idx, k = 3, nProbe = 2)
    val baseline = rows(search())

    // compaction rewrite of the cells table: search-invariant
    KvMerge.rewrite(spark, s"$idx/cells", numFiles = 2)
    assert(rows(search()) == baseline, "compaction changed IVF results")

    // cell-clustered rewrite (the layout a probe-heavy deployment wants:
    // each probed cell reads few files): still search-invariant
    KvMerge.rewrite(spark, s"$idx/cells", numFiles = 2,
      clusterBy = Seq("cell"))
    assert(rows(search()) == baseline, "clustering changed IVF results")

    // append after the rewrites: new vectors are found, old results keep
    // their relative order (99 is 0's planted twin — rank 1 for query 0)
    SimilaritySearch.ivfIndexAppend(
      corpus.filter(col("vec_id") >= 30L), "embedding", "vec_id", idx)
    val after = SimilaritySearch.ivfKnnIndexed(
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id", idx,
      k = 3, nProbe = 2).orderBy("rnk").collect()
    assert(after.head.getAs[Long]("nid") == 99L, after.mkString(","))

    // rewrite AGAIN over the mixed (post-append) table, then vacuum:
    // still consistent with a fresh in-memory run over the same corpus
    KvMerge.rewrite(spark, s"$idx/cells", numFiles = 1)
    KvMerge.vacuum(s"$idx/cells", olderThanMs = 0L)
    val again = SimilaritySearch.ivfKnnIndexed(
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id", idx,
      k = 3, nProbe = 2).orderBy("rnk").collect()
    assert(again.map(_.toString).toSeq == after.map(_.toString).toSeq)
  }

  test("residual PQ index survives rewrite (compaction + clustering) across appends") {
    val idx = java.nio.file.Files.createTempDirectory("annmxr").toString + "/i"
    val base = corpus.filter(col("vec_id") < 30L)
    SimilaritySearch.buildIvfPqResidualIndex(base, "embedding", "vec_id",
      idx, nCells = 2, m = 2, pqCells = 4, maxTrainPerCell = 64)
    val q = corpus.filter(col("vec_id") < 3L)
    def search() = SimilaritySearch.ivfPqResidualKnnIndexed(
      spark, idx, q, "embedding", "vec_id", k = 3, nProbe = 2)
    val baseline = rows(search())

    // compaction + cell-clustered rewrites of the codes table:
    // search-invariant (codes are longs — exact through parquet)
    KvMerge.rewrite(spark, s"$idx/codes", numFiles = 2)
    assert(rows(search()) == baseline, "compaction changed residual results")
    KvMerge.rewrite(spark, s"$idx/codes", numFiles = 2,
      clusterBy = Seq("ivf_cell"))
    assert(rows(search()) == baseline, "clustering changed residual results")

    // append after the rewrites: the planted twin of vector 0 encodes
    // to 0's cell and codes, so it ties the ADC minimum for query 0
    // (k covers the whole corpus — tie order can't hide it)
    SimilaritySearch.ivfPqResidualIndexAppend(
      corpus.filter(col("vec_id") >= 30L), "embedding", "vec_id", idx)
    val after = SimilaritySearch.ivfPqResidualKnnIndexed(spark, idx,
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id",
      k = 41, nProbe = 2).orderBy("rnk").collect()
    assert(after.exists(r => r.getAs[Long]("nid") == 99L &&
      r.getAs[Double]("adist") == after.head.getAs[Double]("adist")),
      after.mkString(","))

    // rewrite over the mixed table + vacuum: still consistent
    KvMerge.rewrite(spark, s"$idx/codes", numFiles = 1)
    KvMerge.vacuum(s"$idx/codes", olderThanMs = 0L)
    val again = SimilaritySearch.ivfPqResidualKnnIndexed(spark, idx,
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id",
      k = 41, nProbe = 2).orderBy("rnk").collect()
    assert(again.map(_.toString).toSeq == after.map(_.toString).toSeq)
  }

  test("IVF cells table keeps Bloom pruning warm through a rewrite") {
    val idx = java.nio.file.Files.createTempDirectory("annmx2").toString + "/i"
    SimilaritySearch.buildIvfIndex(corpus, "embedding", "vec_id", idx,
      nCells = 2, maxTrainPerCell = 64)
    val q = corpus.filter(col("vec_id") < 3L)
    def search() = SimilaritySearch.ivfKnnIndexed(
      q, "embedding", "vec_id", idx, k = 3, nProbe = 2)
    val baseline = rows(search())
    // point-lookup Bloom sidecar on the node id (the "fetch vector by
    // id" maintenance path), then a rewrite: the sidecar comes through
    // the swap covering the new files and search is unchanged
    graft.sources.kv.KvBloom.build(spark, s"$idx/cells", Seq("nid"))
    KvMerge.rewrite(spark, s"$idx/cells", numFiles = 2)
    assert(rows(search()) == baseline)
    assert(graft.sources.kv.KvSidecar
      .readMeta(s"$idx/cells", graft.sources.kv.KvBloom.SidecarName).isDefined,
      "the rewrite must keep the Bloom sidecar")
  }

  test("cell-clustered cells table prunes probe scans by footer stats") {
    import graft.sources.kv.{KvInputPartition, KvScan, KvScanBuilder}
    import org.apache.spark.sql.sources.{EqualTo, Filter}
    val idx = java.nio.file.Files.createTempDirectory("annmx4").toString + "/i"
    SimilaritySearch.buildIvfIndex(corpus, "embedding", "vec_id", idx,
      nCells = 4, maxTrainPerCell = 64)
    val q = corpus.filter(col("vec_id") < 3L)
    val baseline = rows(SimilaritySearch.ivfKnnIndexed(
      q, "embedding", "vec_id", idx, k = 3, nProbe = 2))
    // the 100 TB probe layout: cluster the cells table BY CELL so each
    // probed cell reads few files — the probe join's runtime filter
    // (SupportsRuntimeFiltering on the kv scan) then prunes whole files
    // by footer min/max
    KvMerge.rewrite(spark, s"$idx/cells", numFiles = 4,
      clusterBy = Seq("cell"))
    val schema = spark.read.format("kv")
      .option("path", s"$idx/cells").load().schema
    def files(scan: KvScan): Int = scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[KvInputPartition].chunks.map(_.file))
      .distinct.length
    val scan = new KvScanBuilder(s"$idx/cells", schema, 1000, 128L)
      .build().asInstanceOf[KvScan]
    val before = files(scan)
    scan.filter(Array[Filter](EqualTo("cell", 0L)))
    val after = files(scan)
    assert(after < before,
      s"single-cell runtime filter planned $after of $before files - " +
        "the clustered layout must prune")
    // and the search over the clustered layout is unchanged
    assert(rows(SimilaritySearch.ivfKnnIndexed(
      q, "embedding", "vec_id", idx, k = 3, nProbe = 2)) == baseline)
  }

  test("graph index survives rewrite + append + prune composition") {
    val idx = java.nio.file.Files.createTempDirectory("annmx3").toString + "/i"
    val base = corpus.filter(col("vec_id") < 30L)
    SimilaritySearch.buildGraphIndex(base, "embedding", "vec_id", idx,
      nCells = 1, degree = 3, seedsPerCell = 40, maxTrainPerCell = 64)
    val q = corpus.filter(col("vec_id") < 3L)
    def search() = SimilaritySearch.graphKnnIndexed(
      q, "embedding", "vec_id", idx, k = 3, nProbe = 1,
      beamWidth = 45, hops = 1)
    val baseline = rows(search())

    // compact BOTH graph tables: search-invariant
    KvMerge.rewrite(spark, s"$idx/cells", numFiles = 2)
    KvMerge.rewrite(spark, s"$idx/edges", numFiles = 2)
    assert(rows(search()) == baseline, "graph table rewrite changed results")

    // append the planted twin AFTER the rewrites, prune, rewrite again:
    // the twin stays reachable both directions through the whole cycle
    SimilaritySearch.graphIndexAppend(corpus.filter(col("vec_id") === 99L),
      "embedding", "vec_id", idx, degree = 3)
    SimilaritySearch.graphPruneEdges(spark, idx, degree = 3)
    KvMerge.rewrite(spark, s"$idx/edges", numFiles = 1)
    val fromOld = SimilaritySearch.graphKnnIndexed(
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id", idx,
      k = 3, nProbe = 1, beamWidth = 45, hops = 1).orderBy("rnk").collect()
    assert(fromOld.head.getAs[Long]("nid") == 99L, fromOld.mkString(","))
    val fromNew = SimilaritySearch.graphKnnIndexed(
      corpus.filter(col("vec_id") === 99L), "embedding", "vec_id", idx,
      k = 3, nProbe = 1, beamWidth = 45, hops = 1).orderBy("rnk").collect()
    assert(fromNew.head.getAs[Long]("nid") == 0L, fromNew.mkString(","))
  }

  test("hierarchical walk survives the same maintenance composition") {
    // the hier entry rebuilds its top layer from the PERSISTED seeds,
    // which are build-time-fixed — so table rewrites must be exactly
    // search-invariant, and append+prune must keep the planted twin
    // reachable through the routed entries
    val idx = java.nio.file.Files.createTempDirectory("annmx4").toString + "/i"
    val base = corpus.filter(col("vec_id") < 30L)
    SimilaritySearch.buildGraphIndex(base, "embedding", "vec_id", idx,
      nCells = 2, degree = 3, seedsPerCell = 15, maxTrainPerCell = 64,
      crossCells = 1, degreeCross = 2)
    val q = corpus.filter(col("vec_id") < 3L)
    def search() = SimilaritySearch.graphKnnHierIndexed(
      q, "embedding", "vec_id", idx, k = 3,
      entryBeam = 4, hopsTop = 2, degreeTop = 3, beamWidth = 10, hops = 3)
    val baseline = rows(search())
    KvMerge.rewrite(spark, s"$idx/cells", numFiles = 2)
    KvMerge.rewrite(spark, s"$idx/edges", numFiles = 2)
    KvMerge.rewrite(spark, s"$idx/seeds", numFiles = 1)
    assert(rows(search()) == baseline, "graph table rewrite changed hier results")
    // append the twin, prune under the split budgets, rewrite: the twin
    // is findable through the hierarchy (routed entries -> reverse edge)
    SimilaritySearch.graphIndexAppend(corpus.filter(col("vec_id") === 99L),
      "embedding", "vec_id", idx)
    SimilaritySearch.graphPruneEdges(spark, idx, degree = 3)
    KvMerge.rewrite(spark, s"$idx/edges", numFiles = 1)
    val got = SimilaritySearch.graphKnnHierIndexed(
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id", idx,
      k = 3, entryBeam = 4, hopsTop = 2, degreeTop = 3,
      beamWidth = 30, hops = 3).orderBy("rnk").collect()
    assert(got.head.getAs[Long]("nid") == 99L, got.mkString(","))
  }

  test("append's touched-cell semi-join reaches the cells scan as a runtime filter") {
    // the O(batch) claim at the I/O level: on a cell-clustered cells
    // table the dst-pool semi-join's keys must arrive at the kv scan as
    // a runtime (DPP-style) filter, so untouched cells' FILES are
    // planned away (KvRuntimeFilterSpec proves a filtered KvScan prunes
    // files; this pins that the append's join SHAPE delivers the filter)
    val idx = java.nio.file.Files.createTempDirectory("annmx6").toString + "/i"
    SimilaritySearch.buildGraphIndex(corpus, "embedding", "vec_id", idx,
      nCells = 4, degree = 3, seedsPerCell = 2, maxTrainPerCell = 64)
    KvMerge.rewrite(spark, s"$idx/cells", numFiles = 4, clusterBy = Seq("cell"))
    val cells = spark.read.format("kv").option("path", s"$idx/cells").load()
    val touched = cells.filter(col("cell") === 0L).select(col("cell")).distinct()
    val members = SimilaritySearch.appendCandidateMembers(
      cells, cells.limit(0), touched)
    members.collect()
    val plan = members.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("RuntimeFilter"),
      s"no runtime filter reached the cells scan:\n${plan.take(2000)}")
  }

  test("PCA index maintenance: rewrite is search-invariant, stored u survives") {
    val idx = java.nio.file.Files.createTempDirectory("annmx5").toString + "/i"
    val sheared = corpus.select(col("vec_id"),
      transform(col("embedding"), x =>
        x.cast("double") +
          lit(4.0) * element_at(col("embedding"), 1).cast("double"))
        .as("embedding"))
    // dim must equal the corpus's true dimension (16): the round-13
    // HouseholderChain kernel REFUSES a mismatched reflection vector
    // where the old zip_with silently null-padded past the array
    val pca = Some(SimilaritySearch.Rotation.Pca(16))
    SimilaritySearch.buildIvfPqIndex(sheared, "embedding", "vec_id", idx,
      nCells = 2, m = 2, pqCells = 8, maxTrainPerCell = 64, rotation = pca)
    val q = sheared.filter(col("vec_id") < 3L)
    def search() = SimilaritySearch.ivfPqKnnIndexed(
      spark, idx, q, "embedding", "vec_id", k = 3, nProbe = 2)
    val baseline = rows(search())
    // indexed == in-memory at the same knobs (same stored basis)
    assert(baseline == rows(SimilaritySearch.ivfPqKnn(sheared, q,
      "embedding", "vec_id", k = 3, nCells = 2, nProbe = 2,
      m = 2, pqCells = 8, maxTrainPerCell = 64, rotation = pca)))
    KvMerge.rewrite(spark, s"$idx/householder", numFiles = 1)
    KvMerge.rewrite(spark, s"$idx/codes", numFiles = 2)
    assert(rows(search()) == baseline, "pca index rewrite changed results")
    // a missing u table fails fast instead of silently searching unrotated
    graft.sources.ParquetIO.deletePath(s"$idx/householder")
    intercept[Exception] { search().collect() }
  }

  test("persisted two-layer tier: indexed parity, stored cell graph actually read") {
    val q = corpus.filter(col("vec_id") < 3L)
    val mem = rows(SimilaritySearch.graphKnnHier2(corpus, q, "embedding",
      "vec_id", k = 3, nCells = 4, degree = 3, beamWidth = 10, hops = 3,
      seedsPerCell = 2, maxTrainPerCell = 64, crossCells = 1, degreeCross = 2,
      entryBeam = 4, hopsTop = 2, degreeTop = 3,
      entryCells = 2, hopsCells = 2, degreeCells = 2))
    val idx = java.nio.file.Files.createTempDirectory("annmx9").toString + "/i"
    SimilaritySearch.buildGraphIndex(corpus, "embedding", "vec_id", idx,
      nCells = 4, degree = 3, seedsPerCell = 2, maxTrainPerCell = 64,
      crossCells = 1, degreeCross = 2, degreeTop = 3, degreeCells = 2)
    def search(dc: Int) = rows(SimilaritySearch.graphKnnHier2Indexed(
      q, "embedding", "vec_id", idx, k = 3,
      entryBeam = 4, hopsTop = 2, degreeTop = 3,
      entryCells = 2, hopsCells = 2, degreeCells = dc,
      beamWidth = 10, hops = 3))
    // persisted-path search equals the in-memory walk bit-for-bit
    assert(search(2) == mem)
    // the stored cell graph is actually read: tamper → change, restore
    val real = spark.read.format("kv")
      .option("path", s"$idx/cell_edges").load().collect().toSeq
    val schema = spark.read.format("kv")
      .option("path", s"$idx/cell_edges").load().schema
    import spark.implicits._
    Seq((0L, 0L)).toDF("src", "dst").write.format("kv")
      .option("path", s"$idx/cell_edges").mode("overwrite").save()
    assert(search(2) != mem,
      "tampered cell_edges did not change results — stored graph unread")
    spark.createDataFrame(spark.sparkContext.parallelize(real, 1), schema)
      .write.format("kv").option("path", s"$idx/cell_edges")
      .mode("overwrite").save()
    assert(search(2) == mem)
    // a DIFFERENT degreeCells ignores the stored graph and rebuilds —
    // and deleting the table falls back bit-identically too
    val dc3 = search(3)
    graft.sources.ParquetIO.deletePath(s"$idx/cell_edges")
    assert(search(2) == mem,
      "cell-graph rebuild fallback diverged from the persisted path")
    assert(search(3) == dc3)
  }

  test("streamed node appends + one finalize equal the one-shot append bit-for-bit") {
    // the batching-independence contract of the streaming graph tier:
    // graphAppendNodes per micro-batch (nodes only) + ONE
    // graphFinalizeAppend (edges over final state) must produce the
    // same index as a single graphIndexAppend of the union — no matter
    // how the drain was chopped. Cross-cell build so the finalize
    // exercises the knobs-driven long-range legs too.
    val base = corpus.filter(col("vec_id") < 30L)
    def build(): String = {
      val idx = java.nio.file.Files.createTempDirectory("annmx7").toString + "/i"
      SimilaritySearch.buildGraphIndex(base, "embedding", "vec_id", idx,
        nCells = 2, degree = 3, seedsPerCell = 3, maxTrainPerCell = 64,
        crossCells = 1, degreeCross = 2)
      idx
    }
    def table(p: String, n: String): Seq[String] = spark.read.format("kv")
      .option("path", s"$p/$n").load()
      .collect().toSeq.map(_.toString).sorted
    val one = build()
    SimilaritySearch.graphIndexAppend(corpus.filter(col("vec_id") >= 30L),
      "embedding", "vec_id", one)
    val str = build()
    // three arbitrary waves (2 + 8 + the twin) — nodes only
    SimilaritySearch.graphAppendNodes(
      corpus.filter(col("vec_id") >= 30L && col("vec_id") < 32L),
      "embedding", "vec_id", str)
    SimilaritySearch.graphAppendNodes(
      corpus.filter(col("vec_id") >= 32L && col("vec_id") < 99L),
      "embedding", "vec_id", str)
    SimilaritySearch.graphAppendNodes(
      corpus.filter(col("vec_id") === 99L), "embedding", "vec_id", str)
    // before finalize the drained nodes have no edges: they are
    // invisible to walks (never wrong, just not found yet)
    val pre = SimilaritySearch.graphKnnIndexed(
      corpus.filter(col("vec_id") < 3L), "embedding", "vec_id", str,
      k = 3, nProbe = 2, beamWidth = 8, hops = 2).collect()
    assert(pre.forall(r => r.getAs[Long]("nid") < 30L),
      s"drained nodes leaked into the walk before finalize: ${pre.mkString(",")}")
    SimilaritySearch.graphFinalizeAppend(spark, str)
    assert(table(str, "cells") == table(one, "cells"),
      "drained cells table differs from the one-shot append's")
    assert(table(str, "edges") == table(one, "edges"),
      "drained edges differ from the one-shot append's")
    // pending cleared: a second finalize is a no-op
    val e1 = table(str, "edges")
    SimilaritySearch.graphFinalizeAppend(spark, str)
    assert(table(str, "edges") == e1, "retried finalize must be a no-op")
    // and the searches agree bit-for-bit
    val q = corpus.filter(col("vec_id") < 3L)
    def s(p: String) = rows(SimilaritySearch.graphKnnIndexed(
      q, "embedding", "vec_id", p, k = 3, nProbe = 2, beamWidth = 8, hops = 2))
    assert(s(str) == s(one))
  }

  test("streamed drain leaves the persisted hier layers search-valid") {
    // seeds and top_edges are BUILD-time-fixed (base slice only), so
    // streaming maintenance must leave them byte-identical and the
    // hier-routed search over the drained index must equal the
    // one-shot append's — the hier tier's batch/streaming parity
    val base = corpus.filter(col("vec_id") < 30L)
    def build(): String = {
      val idx = java.nio.file.Files.createTempDirectory("annmx9").toString + "/i"
      SimilaritySearch.buildGraphIndex(base, "embedding", "vec_id", idx,
        nCells = 2, degree = 3, seedsPerCell = 3, maxTrainPerCell = 64,
        crossCells = 1, degreeCross = 2, degreeTop = 3)
      idx
    }
    def table(p: String, n: String): Seq[String] = spark.read.format("kv")
      .option("path", s"$p/$n").load()
      .collect().toSeq.map(_.toString).sorted
    val one = build()
    SimilaritySearch.graphIndexAppend(corpus.filter(col("vec_id") >= 30L),
      "embedding", "vec_id", one)
    val str = build()
    SimilaritySearch.graphAppendNodes(
      corpus.filter(col("vec_id") >= 30L && col("vec_id") < 35L),
      "embedding", "vec_id", str)
    SimilaritySearch.graphAppendNodes(
      corpus.filter(col("vec_id") >= 35L), "embedding", "vec_id", str)
    SimilaritySearch.graphFinalizeAppend(spark, str)
    assert(table(str, "top_edges") == table(one, "top_edges"),
      "the drain touched the append-stable top layer")
    assert(table(str, "seeds") == table(one, "seeds"),
      "the drain touched the build-time seed table")
    val q = corpus.filter(col("vec_id") < 3L)
    def s(p: String) = rows(SimilaritySearch.graphKnnHierIndexed(
      q, "embedding", "vec_id", p, k = 3,
      entryBeam = 4, hopsTop = 2, degreeTop = 3, beamWidth = 10, hops = 3))
    assert(s(str) == s(one),
      "hier search over the drained index differs from the one-shot append's")
    // the drained nodes are reachable THROUGH the hier route: 0's
    // planted twin (99, drained in wave 2) comes back at rank 1
    val got = SimilaritySearch.graphKnnHierIndexed(
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id", str,
      k = 3, entryBeam = 4, hopsTop = 2, degreeTop = 3,
      beamWidth = 10, hops = 3).orderBy("rnk").collect()
    assert(got.head.getAs[Long]("nid") == 99L, got.mkString(","))
  }

  test("binary tier: chopped encode-appends equal the one-shot append bit-for-bit") {
    // the train-free base case of the maintenance matrix: encoding is a
    // pure per-row function of the stored dim, so ANY batching of
    // binaryIndexAppend yields the same code table — no finalize pass
    val base = corpus.filter(col("vec_id") < 30L)
    def build(): String = {
      val idx = java.nio.file.Files.createTempDirectory("annmx10").toString + "/i"
      SimilaritySearch.buildBinaryIndex(base, "embedding", "vec_id", idx,
        dim = 16)
      idx
    }
    def table(p: String): Seq[String] = spark.read.format("kv")
      .option("path", s"$p/codes").load()
      .collect().toSeq.map(_.toString).sorted
    val one = build()
    SimilaritySearch.binaryIndexAppend(corpus.filter(col("vec_id") >= 30L),
      "embedding", "vec_id", one)
    val str = build()
    // three uneven waves, including a planted-twin row in the last
    SimilaritySearch.binaryIndexAppend(
      corpus.filter(col("vec_id") >= 30L && col("vec_id") < 33L),
      "embedding", "vec_id", str)
    SimilaritySearch.binaryIndexAppend(
      corpus.filter(col("vec_id") >= 33L && col("vec_id") < 38L),
      "embedding", "vec_id", str)
    SimilaritySearch.binaryIndexAppend(
      corpus.filter(col("vec_id") >= 38L), "embedding", "vec_id", str)
    assert(table(str) == table(one),
      "chopped encode-appends diverged from the one-shot append")
    val q = corpus.filter(col("vec_id") < 3L)
    def s(p: String) = rows(SimilaritySearch.binaryKnnIndexed(
      spark, p, q, "embedding", "vec_id", k = 3))
    assert(s(str) == s(one),
      "search over the chopped drain differs from the one-shot append's")
    // the appended rows are searchable: 0's planted twin (99) differs
    // in exactly the sign of coord 0 (ham = 1); other corpus rows can
    // COLLIDE with 0's full sign pattern (ham = 0) in a 16-bit space,
    // so assert membership in a wide shortlist, not rank 1
    val got = SimilaritySearch.binaryKnnIndexed(spark, str,
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id", k = 8)
      .collect()
    val twin = got.find(_.getAs[Long]("nid") == 99L)
    assert(twin.isDefined, s"drained twin unreachable: ${got.mkString(",")}")
    assert(twin.get.getAs[Long]("ham") == 1L,
      s"twin's Hamming distance should be the single flipped sign: ${twin.get}")
  }

  test("persisted hier top layer: read-only search equals the rebuild fallback") {
    val idx = java.nio.file.Files.createTempDirectory("annmx8").toString + "/i"
    SimilaritySearch.buildGraphIndex(corpus, "embedding", "vec_id", idx,
      nCells = 2, degree = 3, seedsPerCell = 3, maxTrainPerCell = 64,
      crossCells = 1, degreeCross = 2, degreeTop = 3)
    val q = corpus.filter(col("vec_id") < 3L)
    def search(dt: Int) = rows(SimilaritySearch.graphKnnHierIndexed(
      q, "embedding", "vec_id", idx, k = 3,
      entryBeam = 4, hopsTop = 2, degreeTop = dt, beamWidth = 10, hops = 3))
    val persisted = search(3)
    // the stored table is actually read: tampering with it changes
    // routing (then restore by rebuilding the layer through a build)
    val realTop = spark.read.format("kv")
      .option("path", s"$idx/top_edges").load().collect().toSeq
    val minSeed = spark.read.format("kv").option("path", s"$idx/seeds")
      .load().agg(org.apache.spark.sql.functions.min("nid")).collect()(0).getLong(0)
    import spark.implicits._
    Seq((minSeed, minSeed)).toDF("src", "dst").write.format("kv")
      .option("path", s"$idx/top_edges").mode("overwrite").save()
    assert(search(3) != persisted,
      "tampered top_edges did not change results — the stored layer is not being read")
    spark.createDataFrame(spark.sparkContext.parallelize(realTop, 1),
      spark.read.format("kv").option("path", s"$idx/top_edges").load().schema)
      .write.format("kv").option("path", s"$idx/top_edges")
      .mode("overwrite").save()
    assert(search(3) == persisted, "restored top_edges must restore results")
    // a search at a DIFFERENT degreeTop ignores the stored layer and
    // rebuilds — and deleting the table entirely falls back too, with
    // bit-identical answers to the persisted path
    val dt2 = search(2)
    graft.sources.ParquetIO.deletePath(s"$idx/top_edges")
    assert(search(3) == persisted,
      "rebuild fallback diverged from the persisted top layer")
    assert(search(2) == dt2)
    // appends never touch the persisted layer (seeds are fixed)
    SimilaritySearch.buildGraphIndex(corpus, "embedding", "vec_id", idx,
      nCells = 2, degree = 3, seedsPerCell = 3, maxTrainPerCell = 64,
      crossCells = 1, degreeCross = 2, degreeTop = 3)
    val before = spark.read.format("kv")
      .option("path", s"$idx/top_edges").load()
      .collect().toSeq.map(_.toString).sorted
    SimilaritySearch.graphIndexAppend(
      corpus.filter(col("vec_id") === 99L)
        .withColumn("vec_id", org.apache.spark.sql.functions.lit(199L)),
      "embedding", "vec_id", idx)
    val after = spark.read.format("kv")
      .option("path", s"$idx/top_edges").load()
      .collect().toSeq.map(_.toString).sorted
    assert(after == before, "append must leave the persisted top layer intact")
  }
}
