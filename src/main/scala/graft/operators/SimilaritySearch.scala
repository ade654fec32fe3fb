package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{BoundedTopK, Sketches}
import graft.functions.VectorExpressions.{arrayDot, l2Norm}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  *  - bruteForceKnn — exact cosine top-k; query set broadcast, corpus
  *    never shuffled until the k·|Q| result rows. The recall baseline.
  *  - lshKnn — hyperplane-sketch band join prunes the corpus per query
  *    before exact scoring; recall tunable via bands/planes.
  *  - ivfKnn — inverted-file index: k-means-style centroids (computed
  *    distributed, deterministic seed), corpus assigned to cells once
  *    (can be persisted/bucketed), queries probe the nProbe nearest
  *    cells only — the classic 100 TB ANN layout (IVF-Flat, as in
  *    Johnson et al., "Billion-scale similarity search with GPUs", 2017).
  */
object SimilaritySearch {

  private val dot: (Column, Column) => Column = (a, b) => arrayDot(a, b)

  /** Run independent audit chains' actions concurrently (guide §2.6:
    * actions are only sequential because the driver calls them
    * sequentially — submitting the independent recall chains from a
    * thread pool lets the next chain's tasks back-fill the cores the
    * current chain's straggler tail leaves idle). Results are exact
    * counts over deterministic chains, so concurrency cannot change any
    * value. Every thunk finishes before the first failure is rethrown,
    * so a caller's `finally` never releases a frame a sibling still reads.
    */
  private def inParallel[T](thunks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = thunks.map(t => Future(t()))
    fs.foreach(f => Await.ready(f, Duration.Inf))
    fs.map(_.value.get.get)
  }

  /** The recall audit every ANN tier shares: measure each named chain's
    * top-k against one `truth` top-k over the same queries. The truth's
    * (qid, nid) is persisted and materialized BEFORE any chain runs —
    * the chains run concurrently ([[inParallel]]) and all read it — and
    * released afterwards, also when a chain throws. Each chain's hits
    * are its (qid, nid) rows found in the truth (a left-semi join), and
    * recall_milli = hits·1000 div (k·|Q|), 1000 when |Q| = 0.
    *
    * One row: n_queries, k, the `lead` columns, then per chain
    * hits_<name>, recall_<name>_milli — or n_hits, recall_milli for a
    * chain named "" (the single-chain audits).
    */
  private def recallAudit(truth: DataFrame, k: Int, lead: Column*)(
      chains: (String, () => DataFrame)*): DataFrame = {
    val exact = truth.select(col("qid"), col("nid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nQueries = exact.select(col("qid")).distinct().count()
      val hits = inParallel(chains.map { case (_, chain) => () =>
        chain().select(col("qid"), col("nid"))
          .join(exact, Seq("qid", "nid"), "left_semi").count()
      })
      val perChain = chains.map(_._1).zip(hits).flatMap { case (name, h) =>
        val milli = if (nQueries == 0) 1000L else h * 1000L / (k.toLong * nQueries)
        val (hitsCol, milliCol) =
          if (name.isEmpty) ("n_hits", "recall_milli")
          else (s"hits_$name", s"recall_${name}_milli")
        Seq(lit(h).as(hitsCol), lit(milli).as(milliCol))
      }
      truth.sparkSession.range(1).select(
        Seq(lit(nQueries).as("n_queries"), lit(k).as("k")) ++ lead ++ perChain: _*)
    } finally { exact.unpersist(); () }
  }

  /** Subspace `s` of each vector for PQ, sliced per-row from
    * size(vec)/m — no driver-side dimension probe, so plan construction
    * runs zero Spark jobs. Fail-fast contract: a vector whose dimension
    * does not divide by `m` raises at execution instead of silently
    * dropping its trailing dims from every subspace.
    */
  private def pqSubspace(df: DataFrame, vecCol: String, idCol: String,
      s: Int, m: Int): DataFrame = {
    val sz = size(col(vecCol))
    val subDim = when(sz % lit(m) === 0, (sz / lit(m)).cast("int"))
      .otherwise(raise_error(concat(
        lit("vector dim "), sz.cast("string"), lit(s" must divide into $m subspaces"))))
    df.select(col(idCol),
      slice(col(vecCol), lit(s) * subDim + lit(1), subDim).as("subv"))
  }

  private def norm(c: Column): Column = l2Norm(c)

  /** Normalize input: (id, e double[], nrm). */
  private def prep(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("e"))
      .withColumn("nrm", norm(col("e")))

  /** (qid, nid, sim) candidates → (qid, nid, sim, rnk) top-k per query,
    * via the bounded-heap aggregate: map-side partials keep k rows per
    * query per partition and only those shuffle — never a window over
    * corpus-sized candidate sets (the single-reducer-per-query ceiling).
    * Ranking order matches the former window: sim desc, nid asc.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(BoundedTopK.topK(struct(col("sim"), col("nid")), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.nid").as("nid"),
        round(col("s.sim"), 6).as("sim"), (col("pos") + 1).cast("int").as("rnk"))

  /** Exact cosine top-k of `queries` against `corpus`. */
  def bruteForceKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val c = prep(corpus, vecCol, idCol)
      .select(col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
    val q = prep(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    topKPerQuery(
      broadcast(q).join(c, col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** Exact L2 top-k (qid, nid) of `queries` against `corpus`, ranked by
    * negated squared distance, then nid — the truth of the ADC chains,
    * which approximate L2 rather than cosine.
    */
  private def exactL2Knn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val pc = prep(corpus, vecCol, idCol).select(col("id"), col("e"))
    broadcast(prep(queries, vecCol, idCol)
        .select(col("id").as("qid"), col("e").as("qe")))
      .join(pc, col("qid") =!= col("id"))
      .withColumn("d2", aggregate(zip_with(col("qe"), col("e"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
      .groupBy(col("qid"))
      .agg(graft.functions.BoundedTopK.topK(
        struct((lit(0.0) - col("d2")).as("negd"), col("id").as("nid")),
        k).as("top"))
      .select(col("qid"), explode(col("top.nid")).as("nid"))
  }

  /** Scalar-quantized (SQ8 / int8) cosine top-k — the memory-lean
    * brute-force tier: each L2-normalized vector is quantized to one
    * signed byte per dimension (per-vector symmetric scale 127/max|x|),
    * an 8× shrink vs float64 planes (4× vs float32) that turns a
    * 100 TB float corpus into a scannable 12.5 TB byte corpus while
    * keeping cosine error under ~1%. The standard "SQ8" flat index of
    * IVF libraries (Johnson et al. 2017 use the same per-vector scalar
    * codec as their flat-storage fallback).
    *
    * Exactness contract: quantization is `floor(x·127/mx + 0.5)` (the
    * codebase's round-half-up convention), the dot product is an exact
    * INTEGER sum, and the final rescale `(idot·qmx·nmx)/127²` is a
    * fixed-op-order double expression — every step replays verbatim in
    * the gate oracle, so the approximation itself is value-checked, not
    * fuzz-tolerated.
    *
    * Scale shape: quantization is row-local; queries broadcast; the
    * corpus codes never shuffle; per-query top-k is the bounded-heap
    * aggregate (map-side k-row partials).
    */
  def sq8Knn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val c = sq8Quantize(corpus, vecCol, idCol)
      .select(col("id").as("nid"), col("q").as("nq"), col("mx").as("nmx"))
    val q = sq8Quantize(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("q").as("qq"), col("mx").as("qmx"))
    val idot = aggregate(
      zip_with(col("qq"), col("nq"), (a, b) => a * b), lit(0L), (acc, v) => acc + v)
    topKPerQuery(
      broadcast(q).join(c, col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (idot.cast("double") * col("qmx") * col("nmx") / lit(16129.0)).as("sim")),
      k)
  }

  /** 1-bit sign quantization of a vector as packed 32-bit words — the
    * binary-quantization code production vector stores ship as their
    * cheapest tier (32× smaller than float32, 64× vs float64): bit b
    * of word w is 1 iff coordinate w·32+b is strictly positive. Packing
    * sums DISTINCT powers of two below 2³² as plain longs (no carries,
    * no sign-bit wrap — both engines agree exactly), so the whole
    * encoding replays in the oracle.
    */
  def binarySignWords(vec: Column, dim: Int): Column = {
    require(dim >= 1 && dim <= 4096, s"dim $dim out of range (1..4096)")
    val words = (dim + 31) / 32
    array((0 until words).map { w =>
      (0 until math.min(32, dim - w * 32)).map { b =>
        when(element_at(vec, w * 32 + b + 1).cast("double") > 0.0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
  }

  /** Hamming distance between two packed sign codes (bit_count of the
    * per-word XOR, summed — codegen'd built-ins end to end).
    */
  private def hammingWords(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Binary (Hamming) top-k over sign codes — the 32×-compressed flat
    * scan: queries broadcast, the corpus's packed words never shuffle,
    * per-query top-k is the bounded-heap aggregate. Ranks by
    * (hamming asc, nid asc); ties are exact integers, so the oracle
    * replays the order bit for bit.
    */
  def binaryKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int): DataFrame = {
    binaryHammingTopK(
      queries.select(col(idCol).as("qid"),
        binarySignWords(col(vecCol), dim).as("qbw")),
      corpus.select(col(idCol).as("nid"),
        binarySignWords(col(vecCol), dim).as("nbw")),
      k)
  }

  /** The binary tier's shared scoring chain over encoded frames —
    * `(qid, qbw)` × `(nid, nbw)` → (qid, nid, ham, rnk).
    */
  private def binaryHammingTopK(
      qEnc: DataFrame, cEnc: DataFrame, k: Int): DataFrame =
    broadcast(qEnc)
      .join(cEnc, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        hammingWords(col("qbw"), col("nbw")).as("ham"))
      .groupBy(col("qid"))
      .agg(graft.functions.BoundedTopK.topK(
        struct((lit(0.0) - col("ham").cast("double")).as("s"),
          col("nid"), col("ham")), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.nid").as("nid"), col("t.ham").as("ham"),
        (col("pos") + 1).cast("int").as("rnk"))

  /** Persist the binary tier's code table — at 100 TB THIS is the
    * point: the packed words land once as their own narrow kv table
    * (32× smaller than the float column) and every search scans codes
    * only. Encoding is data-independent (no training), so `bin_meta`
    * records just the dim the queries must pack at.
    */
  def buildBinaryIndex(
      corpus: DataFrame, vecCol: String, idCol: String, path: String,
      dim: Int): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col(idCol).as("nid"),
        binarySignWords(col(vecCol), dim).as("bw"))
      .write.format("kv").option("path", s"$path/codes")
      .mode("overwrite").save()
    Seq(Tuple1(dim.toLong)).toDF("dim")
      .write.format("kv").option("path", s"$path/bin_meta")
      .mode("overwrite").save()
  }

  /** Search a [[buildBinaryIndex]] code table: pack raw queries at the
    * STORED dim, Hamming top-k against the codes scan — bit-identical
    * to the in-memory [[binaryKnn]] (encoding is deterministic and
    * training-free), so the gates share one oracle.
    */
  def binaryKnnIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, vecCol: String, idCol: String,
      k: Int): DataFrame = {
    val metaRows = spark.read.format("kv")
      .option("path", s"$path/bin_meta").load().collect()
    require(metaRows.nonEmpty, s"no bin_meta under $path")
    val dim = metaRows.head.getAs[Long]("dim").toInt
    val codes = spark.read.format("kv").option("path", s"$path/codes")
      .load().select(col("nid"), col("bw").as("nbw"))
    binaryHammingTopK(
      queries.select(col(idCol).as("qid"),
        binarySignWords(col(vecCol), dim).as("qbw")),
      codes, k)
  }

  /** Append new vectors to a [[buildBinaryIndex]] code table — the
    * streaming-maintenance phase of the train-free tier: encoding is a
    * deterministic pure function of each vector at the STORED dim
    * (`bin_meta`), so per-batch encode-append is batching-independent
    * BY CONSTRUCTION — chopped drains equal the one-shot append row for
    * row with no finalize pass (the trained tiers need one; this is the
    * degenerate base case of the maintenance matrix). O(batch) compute
    * and file I/O per call.
    */
  def binaryIndexAppend(
      newVecs: DataFrame, vecCol: String, idCol: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    val metaRows = spark.read.format("kv")
      .option("path", s"$path/bin_meta").load().collect()
    require(metaRows.nonEmpty, s"no bin_meta under $path")
    val dim = metaRows.head.getAs[Long]("dim").toInt
    newVecs.select(col(idCol).as("nid"),
        binarySignWords(col(vecCol), dim).as("bw"))
      .write.format("kv").option("path", s"$path/codes")
      .mode("append").save()
  }

  /** Binary shortlist + exact rescore — the serving cascade the 1-bit
    * tier exists for (the [[ivfPqRefineKnn]] pattern on Hamming codes):
    * the packed-word scan picks `refine` candidates per query, ONLY
    * those ids fetch raw vectors for exact cosine, and the top `k` by
    * TRUE similarity come back. At 100 TB the first pass reads the
    * 32×-smaller code column; the float column is touched for
    * |Q|·refine rows.
    */
  def binaryRefineKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      refine: Int = 16): DataFrame = {
    require(refine >= k, s"refine shortlist ($refine) must be >= k ($k)")
    val shortlist = binaryKnn(corpus, queries, vecCol, idCol, dim, refine)
      .select(col("qid"), col("nid"))
    val c = prep(corpus, vecCol, idCol)
      .select(col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
    val q = prep(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    topKPerQuery(
      shortlist
        .join(broadcast(q), "qid")
        .join(c, "nid")
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** SQ8 integer-grid quantization of the unit-normalized vectors —
    * `(id, q: array<long> in [−127,127], mx)`; shared by [[sq8Knn]]'s
    * corpus plane and the asymmetric binary query side (the oracle
    * replays the identical chain).
    */
  private def sq8Quantize(df: DataFrame, vecCol: String,
      idCol: String): DataFrame = {
    val p = prep(df, vecCol, idCol)
    p.select(col("id"), transform(col("e"), x => x / col("nrm")).as("u"))
      .withColumn("mx", array_max(transform(col("u"), x => abs(x))))
      .select(col("id"),
        transform(col("u"),
          x => floor(x * lit(127.0) / col("mx") + lit(0.5)).cast("long"))
          .as("q"),
        col("mx"))
  }

  /** Asymmetric binary search (Jégou-style asymmetric distance on the
    * 1-bit tier): the corpus contributes ONLY its packed sign words —
    * identical storage to [[binaryKnn]] — but the query keeps its
    * magnitudes (SQ8-quantized so the score is an exact integer):
    * `score = Σ_i qq_i·sign(x_i)`. Hamming throws the query's
    * magnitudes away too; asymmetric scoring recovers much of the
    * refine gap BEFORE touching any float column
    * ([[binaryAsymRecallAudit]] measures it). The shortlist then takes
    * the usual exact-cosine rescore. Integer scores with nid-asc ties,
    * SQ8 grid, packing, rescore — all oracle-replayed.
    */
  def binaryAsymKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      refine: Int = 16): DataFrame = {
    require(refine >= k, s"refine shortlist ($refine) must be >= k ($k)")
    val shortlist = binaryAsymShortlist(corpus, queries, vecCol, idCol,
      dim, refine).select(col("qid"), col("nid"))
    val c = prep(corpus, vecCol, idCol)
      .select(col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
    val q = prep(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    topKPerQuery(
      shortlist
        .join(broadcast(q), "qid")
        .join(c, "nid")
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** [[binaryAsymKnn]] over a [[buildBinaryIndex]] code table — the
    * persisted-variant parity every searcher keeps: the asymmetric
    * first pass scans the STORED 32×-smaller words at the bin_meta dim,
    * the rescore fetches floats for |Q|·refine rows from the caller's
    * corpus frame. Bit-identical to the in-memory path (encoding is
    * train-free; scores are exact integers), so the gates share one
    * oracle.
    */
  def binaryAsymKnnIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      refine: Int = 16): DataFrame = {
    require(refine >= k, s"refine shortlist ($refine) must be >= k ($k)")
    val metaRows = spark.read.format("kv")
      .option("path", s"$path/bin_meta").load().collect()
    require(metaRows.nonEmpty, s"no bin_meta under $path")
    val dim = metaRows.head.getAs[Long]("dim").toInt
    val codes = spark.read.format("kv").option("path", s"$path/codes")
      .load().select(col("nid"), col("bw").as("nbw"))
    val qEnc = sq8Quantize(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("q").as("qq"))
    val shortlist = broadcast(qEnc)
      .join(codes, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.functions.VectorExpressions.binaryAsymScore(
          col("qq"), col("nbw"), dim).as("asym"))
      .groupBy(col("qid"))
      .agg(graft.functions.BoundedTopK.topK(
        struct(col("asym").cast("double").as("s"), col("nid")), refine)
        .as("top"))
      .select(col("qid"), explode(col("top.nid")).as("nid"))
    val c = prep(corpus, vecCol, idCol)
      .select(col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
    val q = prep(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    topKPerQuery(
      shortlist.join(broadcast(q), "qid").join(c, "nid")
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** `(qid, nid, asym, rnk)` top-`width` by the exact integer
    * asymmetric score (desc, nid asc) — the code-column-only first
    * pass: queries broadcast with their quantized components, the
    * corpus scan reads packed words only.
    */
  private def binaryAsymShortlist(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, width: Int): DataFrame = {
    val cEnc = corpus.select(col(idCol).as("nid"),
      binarySignWords(col(vecCol), dim).as("nbw"))
    val qEnc = sq8Quantize(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("q").as("qq"))
    broadcast(qEnc)
      .join(cEnc, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.functions.VectorExpressions.binaryAsymScore(
          col("qq"), col("nbw"), dim).as("asym"))
      .groupBy(col("qid"))
      .agg(graft.functions.BoundedTopK.topK(
        struct(col("asym").cast("double").as("s"), col("nid"),
          col("asym")), width).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.nid").as("nid"),
        col("t.asym").as("asym"), (col("pos") + 1).cast("int").as("rnk"))
  }

  /** The asymmetric rung's measured value at IDENTICAL storage: Hamming
    * shortlist + rescore vs asymmetric raw top-k vs asymmetric
    * shortlist + rescore, all vs exact cosine brute force at the same
    * budget — what using the query's magnitudes buys before touching
    * floats, and what remains for the rescore.
    */
  def binaryAsymRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      refine: Int = 16): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "sym_refined" -> (() => binaryRefineKnn(corpus, queries, vecCol, idCol,
        dim, k, refine)),
      "asym_raw" -> (() => binaryAsymShortlist(corpus, queries, vecCol,
        idCol, dim, k)),
      "asym_refined" -> (() => binaryAsymKnn(corpus, queries, vecCol, idCol,
        dim, k, refine)))

  /** Binary × IVF — sign codes under coarse cells: the query routes to
    * `nProbe` cells as usual, but WITHIN the probed cells the first
    * pass scans packed Hamming codes (32× smaller than the float
    * column) for a `refine` shortlist, and only shortlist ids fetch
    * raw vectors for exact cosine. At 100 TB this composes the two
    * savings: the probe prunes which cells are read at all, the codes
    * shrink what a probed cell costs to scan. Deterministic end to end
    * (trainCentroids chain, integer Hamming, fixed-order rescore) —
    * the oracle replays cells, probes, codes, shortlist and rescore.
    */
  def binaryIvfKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4, refine: Int = 16,
      iterations: Int = 2, maxTrainPerCell: Int = 16384): DataFrame = {
    require(refine >= k, s"refine shortlist ($refine) must be >= k ($k)")
    val cents = trainCentroids(corpus, vecCol, idCol, nCells, iterations,
      maxTrainPerCell)
    val cPrep = prep(corpus, vecCol, idCol)
    val assigned = assignCells(cPrep, cents)
      .select(col("cell"), col("id").as("nid"),
        binarySignWords(col("e"), dim).as("nbw"))
    val qPrepped = prep(queries, vecCol, idCol)
    val probes = qPrepped.crossJoin(broadcast(centroidArray(cents)))
      .select(col("id").as("qid"),
        binarySignWords(col("e"), dim).as("qbw"),
        explode(nearestCellsExpr(col("e"), nProbe).getField("cell"))
          .as("cell"))
    val shortlist = broadcast(probes).join(assigned, Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        hammingWords(col("qbw"), col("nbw")).as("ham"))
      .groupBy(col("qid"))
      .agg(graft.functions.BoundedTopK.topK(
        struct((lit(0.0) - col("ham").cast("double")).as("s"),
          col("nid"), col("ham")), refine).as("top"))
      .select(col("qid"), explode(col("top.nid")).as("nid"))
    val c = cPrep.select(col("id").as("nid"), col("e").as("ne"),
      col("nrm").as("nn"))
    val q = qPrepped.select(col("id").as("qid"), col("e").as("qe"),
      col("nrm").as("qn"))
    topKPerQuery(
      shortlist.join(broadcast(q), "qid").join(c, "nid")
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** Asymmetric binary × IVF — [[binaryIvfKnn]] with the better first
    * pass: the probe prunes which cells are read, the cells are scanned
    * as packed sign words (32× smaller), but the within-cell score is
    * the asymmetric `Σ qq_i·sign(x_i)` instead of symmetric Hamming —
    * the query's magnitudes ride the broadcast for free
    * ([[binaryAsymRecallAudit]] measures what they buy flat;
    * [[binaryAsymIvfRecallAudit]] measures it composed). Same storage,
    * same probe budget, same rescore — only the shortlist quality
    * changes. Exact integer scores; cells, probes, codes, asym
    * shortlist and rescore all replay in the oracle.
    */
  def binaryAsymIvfKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4, refine: Int = 16,
      iterations: Int = 2, maxTrainPerCell: Int = 16384): DataFrame = {
    require(refine >= k, s"refine shortlist ($refine) must be >= k ($k)")
    val cents = trainCentroids(corpus, vecCol, idCol, nCells, iterations,
      maxTrainPerCell)
    val cPrep = prep(corpus, vecCol, idCol)
    val assigned = assignCells(cPrep, cents)
      .select(col("cell"), col("id").as("nid"),
        binarySignWords(col("e"), dim).as("nbw"))
    val qPrepped = prep(queries, vecCol, idCol)
    val qQuant = sq8Quantize(queries, vecCol, idCol)
      .select(col("id"), col("q").as("qq"))
    val probes = qPrepped.join(qQuant, "id")
      .crossJoin(broadcast(centroidArray(cents)))
      .select(col("id").as("qid"), col("qq"),
        explode(nearestCellsExpr(col("e"), nProbe).getField("cell"))
          .as("cell"))
    val shortlist = broadcast(probes).join(assigned, Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.functions.VectorExpressions.binaryAsymScore(
          col("qq"), col("nbw"), dim).as("asym"))
      .groupBy(col("qid"))
      .agg(graft.functions.BoundedTopK.topK(
        struct(col("asym").cast("double").as("s"), col("nid")), refine)
        .as("top"))
      .select(col("qid"), explode(col("top.nid")).as("nid"))
    val c = cPrep.select(col("id").as("nid"), col("e").as("ne"),
      col("nrm").as("nn"))
    val q = qPrepped.select(col("id").as("qid"), col("e").as("qe"),
      col("nrm").as("qn"))
    topKPerQuery(
      shortlist.join(broadcast(q), "qid").join(c, "nid")
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** The composition price sheet: symmetric vs asymmetric within-cell
    * scoring at the SAME probe/refine budget, both vs exact cosine
    * brute force.
    */
  def binaryAsymIvfRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4, refine: Int = 16,
      iterations: Int = 2, maxTrainPerCell: Int = 16384): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "ivf_sym" -> (() => binaryIvfKnn(corpus, queries, vecCol, idCol,
        dim, k, nCells, nProbe, refine, iterations, maxTrainPerCell)),
      "ivf_asym" -> (() => binaryAsymIvfKnn(corpus, queries, vecCol, idCol,
        dim, k, nCells, nProbe, refine, iterations, maxTrainPerCell)))

  /** What scanning codes instead of floats inside probed cells costs:
    * exact-within-cell IVF vs binary-within-cell (+rescore) at the SAME
    * nProbe budget, both vs exact cosine brute force.
    */
  def binaryIvfRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4, refine: Int = 16,
      iterations: Int = 2, maxTrainPerCell: Int = 16384): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "ivf_exact" -> (() => ivfKnn(corpus, queries, vecCol, idCol, k,
        nCells, nProbe, iterations, maxTrainPerCell)),
      "ivf_binary" -> (() => binaryIvfKnn(corpus, queries, vecCol, idCol,
        dim, k, nCells, nProbe, refine, iterations, maxTrainPerCell)))

  /** The 1-bit tier's measured value: Hamming-only vs Hamming+rescore
    * at the SAME shortlist budget, both vs exact cosine brute force —
    * what the 32× compression costs raw and what the rescore buys back.
    */
  def binaryRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      refine: Int = 16): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "binary" -> (() => binaryKnn(corpus, queries, vecCol, idCol, dim, k)),
      "refined" -> (() => binaryRefineKnn(corpus, queries, vecCol, idCol,
        dim, k, refine)))

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified re-ranking: from each query's `poolSize` most similar
    * candidates, greedily select `k` maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)` — the standard
    * redundancy-penalized retrieval head (RAG context selection,
    * diverse few-shot sampling).
    *
    * Determinism contract: relevance and candidate-pair cosines are
    * integer-quantized micro-units (`floor(sim·1e6 + 0.5)`), λ is a
    * milli-unit rational, so every greedy step compares exact integers
    * (`lambdaMilli·rel − (1000−lambdaMilli)·maxsim`) with nid-asc
    * tiebreaks — the oracle unrolls the identical k stages in SQL.
    *
    * Scale shape: the candidate pool is `poolSize` rows per query
    * (bounded-heap top-k over the corpus — the only corpus-sized pass);
    * everything after operates on |Q|·poolSize rows. The k greedy stages
    * are DataFrame joins/aggregations over those pool frames (persisted
    * once), so the iteration cost is independent of corpus size; the
    * corpus is scanned exactly once.
    */
  def mmrRerank(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      poolSize: Int = 20, lambdaMilli: Int = 700,
      maxDriverRows: Long = 1000000L): DataFrame = {
    require(k >= 1 && poolSize >= k, s"need poolSize >= k >= 1, got k=$k pool=$poolSize")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000,
      s"lambdaMilli must be in [0, 1000], got $lambdaMilli")
    val cPrep = prep(corpus, vecCol, idCol)
      .select(col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
    val qPrep = prep(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    // ENFORCED driver-traffic bound (the greedy stages collect ≤|Q| rows
    // each, k·|Q| total): MMR is a RERANK-scale operator — a corpus-scale
    // query set must be partitioned into bounded batches upstream, not
    // silently funneled through the driver.
    val nQ = qPrep.count()
    require(k.toLong * nQ <= maxDriverRows,
      s"mmrRerank collects k·|Q| = ${k.toLong * nQ} selected rows through " +
        s"the driver (bound $maxDriverRows): partition the query set into " +
        s"bounded batches (or raise maxDriverRows deliberately)")
    // pool: top-poolSize by exact cosine, relevance in integer micro-units
    val cands = broadcast(qPrep).join(cPrep, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim"))
      .groupBy(col("qid"))
      .agg(BoundedTopK.topK(struct(col("sim"), col("nid")), poolSize).as("top"))
      .select(col("qid"), explode(col("top")).as("s"))
      .select(col("qid"), col("s.nid").as("nid"),
        floor(col("s.sim") * lit(1e6) + lit(0.5)).as("rel"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pairwise cosines INSIDE each pool (|Q|·poolSize² rows max)
    val withVec = broadcast(cands).join(cPrep, Seq("nid"))
      .select(col("qid"), col("nid"), col("rel"), col("ne"), col("nn"))
    val pairs = withVec.as("a")
      .join(withVec.as("b"),
        col("a.qid") === col("b.qid") && col("a.nid") =!= col("b.nid"))
      .select(col("a.qid").as("qid"), col("a.nid").as("nid"),
        col("b.nid").as("other"),
        floor(arrayDot(col("a.ne"), col("b.ne")) / (col("a.nn") * col("b.nn"))
          * lit(1e6) + lit(0.5)).as("ps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def pick1(df: DataFrame, scoreCol: String): DataFrame =
      df.groupBy(col("qid"))
        .agg(BoundedTopK.topK(
          struct(col(scoreCol).cast("double").as("sc"), col("nid"), col("rel")), 1).as("t"))
        .select(col("qid"), col("t")(0).getField("nid").as("nid"),
          col("t")(0).getField("rel").as("rel"))

    // the selected set is ≤|Q| rows per stage — collect it to the driver
    // and feed the next stage a literal frame (the tokenizer-trainer
    // stance: bounded per-round driver traffic). A lazy union chain
    // instead would re-execute every earlier stage's pick inside every
    // later stage's join — an O(k²) job blow-up the cache only partly
    // hides (this was a 12.6 s gate; it is ~2 s with literal frames).
    val spark = corpus.sparkSession
    val selSchema = pick1(cands, "rel").schema
    def literal(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), selSchema)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(org.apache.spark.sql.Row, Int)]
    selected ++= pick1(cands, "rel").collect().map(_ -> 1)
    for (t <- 2 to k) {
      val sel = literal(selected.map(_._1).toSeq)
      val remaining = cands.join(broadcast(sel.select("qid", "nid")),
        Seq("qid", "nid"), "left_anti")
      val maxSim = pairs.join(
          broadcast(sel.select(col("qid"), col("nid").as("other"))),
          Seq("qid", "other"))
        .groupBy(col("qid"), col("nid")).agg(max(col("ps")).as("maxsim"))
      val scoredT = remaining.join(broadcast(maxSim), Seq("qid", "nid"))
        .withColumn("mmr",
          lit(lambdaMilli.toLong) * col("rel") -
            lit((1000 - lambdaMilli).toLong) * col("maxsim"))
      selected ++= pick1(scoredT, "mmr").collect().map(_ -> t)
    }
    cands.unpersist()
    pairs.unpersist()
    val rows = selected.map { case (r, t) =>
      org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), t) }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(selSchema.fields :+
        org.apache.spark.sql.types.StructField("rnk0", org.apache.spark.sql.types.IntegerType, nullable = false)))
      .select(col("qid"), col("nid"), col("rel").cast("long").as("rel_micro"),
        col("rnk0").cast("int").as("rnk"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings" —
    * the LASER/CCMatrix recipe): score candidate translation pairs by
    * the RATIO margin `cos(x,y) / ((avgNN_k(x) + avgNN_k(y)) / 2)` —
    * raw cosine over the mean of both sides' k-NN cosines — which
    * cancels hubness, then keep each source row's best target above a
    * threshold.
    *
    * Determinism contract: per-pair cosines are quantized to micro-units
    * AFTER the raw-double top-k ranking; neighborhood sums are integer
    * sums of those micro-units; the margin is the exact integer division
    * `(2000·k·cm) div (sx + sy)` (milli-units). Pairs with a negative
    * cosine or non-positive neighborhood mass are dropped before the
    * division on both engines (floor-vs-truncate division semantics
    * diverge on negatives; such pairs are unminable anyway).
    *
    * Scale shape: the source side broadcasts against the target corpus
    * (LASER-style mining runs a bounded query batch per pass); both
    * neighborhood sums are per-id aggregates of bounded-heap top-k
    * frames. At corpus×corpus scale, feed ANN candidates (ivfKnn pairs)
    * in place of the brute-force pair stream — the margin math is
    * unchanged.
    */
  def marginMine(
      src: DataFrame, tgt: DataFrame,
      vecCol: String, idCol: String, k: Int,
      minMarginMilli: Int = 1000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val x = prep(src, vecCol, idCol)
      .select(col("id").as("xid"), col("e").as("xe"), col("nrm").as("xn"))
    val y = prep(tgt, vecCol, idCol)
      .select(col("id").as("yid"), col("e").as("ye"), col("nrm").as("yn"))
    val pairs = broadcast(x).join(y)
      .select(col("xid"), col("yid"),
        (dot(col("xe"), col("ye")) / (col("xn") * col("yn"))).as("sim"))
    def topkOf(key: String, other: String): DataFrame =
      pairs.groupBy(col(key))
        .agg(BoundedTopK.topK(struct(col("sim"), col(other)), k).as("top"))
        .select(col(key), explode(col("top")).as("s"))
        .select(col(key), col(s"s.$other").as(other),
          floor(col("s.sim") * lit(1e6) + lit(0.5)).as("cm"))
    val fwd = topkOf("xid", "yid")
    val sx = fwd.groupBy(col("xid")).agg(sum(col("cm")).as("sx"))
    val sy = topkOf("yid", "xid").groupBy(col("yid")).agg(sum(col("cm")).as("sy"))
    val margins = fwd
      .join(broadcast(sx), Seq("xid")).join(broadcast(sy), Seq("yid"))
      .where(col("cm") >= 0 && (col("sx") + col("sy")) > 0)
      .withColumn("margin_milli", expr(s"(${2000L * k} * cm) DIV (sx + sy)"))
    margins.groupBy(col("xid"))
      .agg(BoundedTopK.topK(
        struct(col("margin_milli").cast("double").as("mm"), col("yid")), 1).as("t"))
      .select(col("xid").as("src_id"),
        col("t")(0).getField("yid").as("tgt_id"),
        col("t")(0).getField("mm").cast("long").as("margin_milli"))
      .where(col("margin_milli") >= minMarginMilli)
  }

  /** LSH-pruned top-k: candidates = corpus vectors sharing ≥1 sketch band
    * with the query; exact cosine re-scoring on candidates only.
    */
  def lshKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      numPlanes: Int = 64, bands: Int = 8): DataFrame = {
    def banded(df: DataFrame, prefix: String): DataFrame =
      prep(df, vecCol, idCol)
        .withColumn("sk", Sketches.hyperplaneSketch(col("e"), numPlanes))
        .select(col("id").as(s"${prefix}id"), col("e").as(s"${prefix}e"),
          col("nrm").as(s"${prefix}n"),
          posexplode(Sketches.sketchBands(col("sk"), bands, numPlanes))
            .as(Seq("band", "band_key")))
    val q = banded(queries, "q")
    val c = banded(corpus, "c")
    topKPerQuery(
      broadcast(q).join(c, Seq("band", "band_key"))
        .where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid").as("nid"), col("qe"), col("ce"), col("qn"), col("cn"))
        .dropDuplicates("qid", "nid")
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim")),
      k)
  }

  /** Multi-probe LSH (Lv et al., VLDB 2007, determinized): each query
    * probes its own band key PLUS the keys perturbed by the
    * 1st..(probes−1)th LOWEST-cost bit SETS. At `maxFlipBits = 1` the
    * perturbations are single-bit flips ranked by plane |margin| (asc,
    * then mask asc — integer micro-unit margins from
    * [[Sketches.hyperplaneMargins]], so rank order is closed-form); at
    * `maxFlipBits = 2` the probe sequence also spans bit PAIRS, ranked
    * by SUMMED margins in the same total order — Lv et al.'s
    * perturbation-set sequence, where multi-probe typically reaches
    * parity with 2× the band budget. The scale point: recall grows on
    * the QUERY side only — the corpus-side banded table (the big,
    * shuffled/broadcast thing) stays `bands·|corpus|` rows, where
    * single-probe LSH buys the same recall by ADDING bands and growing
    * the corpus table. probes=1 is exactly [[lshKnn]].
    */
  def lshMultiProbeKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      numPlanes: Int = 64, bands: Int = 8, probes: Int = 4,
      maxFlipBits: Int = 1): DataFrame = {
    require(numPlanes % bands == 0,
      s"numPlanes $numPlanes must split into $bands bands")
    val w = numPlanes / bands
    require(w <= 32, s"band width $w exceeds 32 bits — use more bands")
    require(maxFlipBits >= 1 && maxFlipBits <= 2,
      s"maxFlipBits must be 1 (singles) or 2 (+pairs), got $maxFlipBits")
    val nPerturb = if (maxFlipBits == 1) w else w + w * (w - 1) / 2
    require(probes >= 1 && probes <= nPerturb + 1,
      s"probes must be in [1, ${nPerturb + 1}] (the band has $nPerturb " +
        s"perturbation sets at maxFlipBits=$maxFlipBits)")
    val c = prep(corpus, vecCol, idCol)
      .withColumn("sk", Sketches.hyperplaneSketch(col("e"), numPlanes))
      .select(col("id").as("cid"), col("e").as("ce"), col("nrm").as("cn"),
        posexplode(Sketches.sketchBands(col("sk"), bands, numPlanes))
          .as(Seq("band", "band_key")))
    // perturbation sets as (summed margin, XOR mask) structs — a total
    // order (ms asc, mask asc) array_sort replays lexicographically and
    // the oracle replays as a row_number; singles sort identically to
    // the r12 (margin asc, bit asc) rule since mask = 2^j is monotone
    def bitMask(j: Column): Column = pow(lit(2.0), j.cast("double")).cast("long")
    val singles = zip_with(
      slice(col("mg"), col("band") * w + 1, lit(w)),
      sequence(lit(0), lit(w - 1)),
      (m, j) => struct(m.as("ms"), bitMask(j).as("mask")))
    val perturbs =
      if (maxFlipBits == 1) singles
      else concat(singles, flatten(transform(sequence(lit(0), lit(w - 2)),
        i => transform(sequence(i + 1, lit(w - 1)), j => struct(
          (element_at(col("mg"), col("band") * w + i + 1) +
            element_at(col("mg"), col("band") * w + j + 1)).as("ms"),
          (bitMask(i) + bitMask(j)).as("mask"))))))
    val probeKeys = prep(queries, vecCol, idCol)
      .withColumn("sk", Sketches.hyperplaneSketch(col("e"), numPlanes))
      .withColumn("mg", Sketches.hyperplaneMargins(col("e"), numPlanes))
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        posexplode(Sketches.sketchBands(col("sk"), bands, numPlanes))
          .as(Seq("band", "key")), col("mg"))
      .withColumn("flips", slice(array_sort(perturbs), 1, probes - 1))
      .select(col("qid"), col("qe"), col("qn"), col("band"),
        explode(concat(array(col("key")),
          transform(col("flips"), f =>
            col("key").bitwiseXOR(f.getField("mask")))))
          .as("band_key"))
    topKPerQuery(
      broadcast(probeKeys).join(c, Seq("band", "band_key"))
        .where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid").as("nid"),
          col("qe"), col("ce"), col("qn"), col("cn"))
        .dropDuplicates("qid", "nid")
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim")),
      k)
  }

  /** Measured value of multi-probe at EQUAL band budget: single-probe
    * vs multi-probe recall, both vs exact brute force — one row
    * ([[varPermRecallAudit]] discipline). Multi-probe candidates are a
    * superset of single-probe's, so recall_multi ≥ recall_single by
    * construction; the audit MEASURES how much the flipped probes buy
    * on this corpus.
    */
  def lshMultiProbeRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      numPlanes: Int = 64, bands: Int = 8, probes: Int = 4): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "single" -> (() => lshKnn(corpus, queries, vecCol, idCol, k,
        numPlanes, bands)),
      "multi" -> (() => lshMultiProbeKnn(corpus, queries, vecCol, idCol,
        k, numPlanes, bands, probes)))

  /** Multi-probe LSH with the probe budget spent JOINTLY across bands
    * (Lv et al.'s full query-directed ordering): instead of a per-band
    * quota (every band flips its own `probes−1` lowest-margin sets —
    * even bands whose key already matches confidently), ONE global rank
    * over every band's perturbation sets — (summed micro-margin asc,
    * band asc, mask asc), still closed-form — spends `extraProbes`
    * keys where the sketch is least confident, query by query. Equal
    * TOTAL budget to the per-band sequence when extraProbes =
    * bands·(probes−1); the corpus-side banded table is IDENTICAL.
    * extraProbes = 0 is exactly [[lshKnn]].
    */
  def lshMultiProbeJointKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      numPlanes: Int = 64, bands: Int = 8, extraProbes: Int = 16,
      maxFlipBits: Int = 2): DataFrame = {
    require(numPlanes % bands == 0,
      s"numPlanes $numPlanes must split into $bands bands")
    val w = numPlanes / bands
    require(w <= 32, s"band width $w exceeds 32 bits — use more bands")
    require(maxFlipBits >= 1 && maxFlipBits <= 2,
      s"maxFlipBits must be 1 (singles) or 2 (+pairs), got $maxFlipBits")
    val nPerturb =
      bands * (if (maxFlipBits == 1) w else w + w * (w - 1) / 2)
    require(extraProbes >= 0 && extraProbes <= nPerturb,
      s"extraProbes must be in [0, $nPerturb] at maxFlipBits=$maxFlipBits")
    val c = prep(corpus, vecCol, idCol)
      .withColumn("sk", Sketches.hyperplaneSketch(col("e"), numPlanes))
      .select(col("id").as("cid"), col("e").as("ce"), col("nrm").as("cn"),
        posexplode(Sketches.sketchBands(col("sk"), bands, numPlanes))
          .as(Seq("band", "band_key")))
    def bitMask(j: Column): Column = pow(lit(2.0), j.cast("double")).cast("long")
    def mgAt(b: Column, j: Column): Column =
      element_at(col("mg"), b * w + j + 1)
    def singles(b: Column): Column = transform(sequence(lit(0), lit(w - 1)),
      j => struct(mgAt(b, j).as("ms"), b.as("band"), bitMask(j).as("mask")))
    def pairs(b: Column): Column = flatten(transform(
      sequence(lit(0), lit(w - 2)),
      i => transform(sequence(i + 1, lit(w - 1)), j => struct(
        (mgAt(b, i) + mgAt(b, j)).as("ms"), b.as("band"),
        (bitMask(i) + bitMask(j)).as("mask")))))
    val perturbs = flatten(transform(sequence(lit(0), lit(bands - 1)),
      b => if (maxFlipBits == 1) singles(b)
           else concat(singles(b), pairs(b))))
    val probeKeys = prep(queries, vecCol, idCol)
      .withColumn("sk", Sketches.hyperplaneSketch(col("e"), numPlanes))
      .withColumn("mg", Sketches.hyperplaneMargins(col("e"), numPlanes))
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        Sketches.sketchBands(col("sk"), bands, numPlanes).as("keys"),
        slice(array_sort(perturbs), 1, extraProbes).as("flips"))
      .select(col("qid"), col("qe"), col("qn"),
        explode(concat(
          transform(sequence(lit(0), lit(bands - 1)), b =>
            struct(b.cast("int").as("band"),
              element_at(col("keys"), (b + 1).cast("int")).as("band_key"))),
          transform(col("flips"), f =>
            struct(f.getField("band").cast("int").as("band"),
              element_at(col("keys"), (f.getField("band") + 1).cast("int"))
                .bitwiseXOR(f.getField("mask")).as("band_key")))))
          .as("p"))
      .select(col("qid"), col("qe"), col("qn"),
        col("p.band").as("band"), col("p.band_key").as("band_key"))
    topKPerQuery(
      broadcast(probeKeys).join(c, Seq("band", "band_key"))
        .where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid").as("nid"),
          col("qe"), col("ce"), col("qn"), col("cn"))
        .dropDuplicates("qid", "nid")
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("sim")),
      k)
  }

  /** Measured value of the JOINT ordering at equal TOTAL budget: the
    * per-band pair sequence (probes−1 flips in EVERY band) vs the joint
    * rank spending the same bands·(probes−1) keys where margins are
    * lowest — same corpus-side table, both vs exact brute force.
    */
  def lshMultiProbeJointRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      numPlanes: Int = 64, bands: Int = 8, probes: Int = 6,
      maxFlipBits: Int = 2): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "per_band" -> (() => lshMultiProbeKnn(corpus, queries, vecCol, idCol,
        k, numPlanes, bands, probes, maxFlipBits)),
      "joint" -> (() => lshMultiProbeJointKnn(corpus, queries, vecCol,
        idCol, k, numPlanes, bands, bands * (probes - 1), maxFlipBits)))

  /** Measured value of the PAIR probe sequence at EQUAL band budget:
    * single-bit multi-probe (the r12 sequence, its probe count capped
    * at w+1 by construction) vs the maxFlipBits=2 sequence with a
    * longer probe budget — the corpus-side banded table is IDENTICAL
    * in both (that is the multi-probe trade), so any recall gap is
    * bought purely query-side. Both vs exact brute force.
    */
  def lshMultiProbePairRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      numPlanes: Int = 64, bands: Int = 8,
      probes1: Int = 6, probes2: Int = 12): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "single_bit" -> (() => lshMultiProbeKnn(corpus, queries, vecCol, idCol,
        k, numPlanes, bands, probes1, maxFlipBits = 1)),
      "pair" -> (() => lshMultiProbeKnn(corpus, queries, vecCol, idCol,
        k, numPlanes, bands, probes2, maxFlipBits = 2)))

  /** Train IVF centroids with Lloyd iterations expressed as DataFrame
    * aggregations (one shuffle of `nCells`·dim rows per iteration — never
    * the corpus). Initial centroids are a deterministic hash-sample of
    * the corpus (splitmix64 of the id); per-dimension means fold member
    * values in id order, so the trained centroids are BIT-DETERMINISTIC —
    * retries, re-runs, and independent engines (the DuckDB gate oracle)
    * produce identical doubles, which a parallel `avg` (merge-order-
    * dependent float addition) cannot guarantee.
    *
    * Training state is BOUNDED: each iteration folds at most
    * `maxTrainPerCell` members per cell, selected deterministically as
    * the members with the largest splitmix64(id) (a uniform hash-sample;
    * ties on the double-rounded hash break on id asc). The selection is
    * a `BoundedTopK` aggregate — heap of `maxTrainPerCell` rows per cell
    * per partition, map-side partials — so a skewed corpus with one hot
    * cell never materializes the cell's membership in any buffer. The
    * per-(cell,dim) id-ordered fold then sees ≤ maxTrainPerCell values.
    */
  def trainCentroids(
      corpus: DataFrame, vecCol: String, idCol: String,
      nCells: Int, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    val c = prep(corpus, vecCol, idCol)
    // Deterministic init: the nCells rows with smallest splitmix64(id),
    // cell ids assigned in hash order (the frame is nCells rows — the
    // single-partition window is driver-sized, not corpus-sized).
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("hk"))
    var centroids = c.withColumn("hk", Sketches.splitmixLong(col("id")))
      .orderBy(col("hk")).limit(nCells)
      .withColumn("cell", row_number().over(w).cast("long") - 1L)
      .select(col("cell"), col("e").as("ce"))
    var iter = 0
    while (iter < iterations) {
      val assigned = assignCells(c, centroids)
      // Deterministic per-cell training sample: keep the maxTrainPerCell
      // members with the largest hash, via the bounded heap (score =
      // hash as double desc, id asc tiebreak — replayable in the oracle).
      // The member vector rides in the heap struct (id is unique, so the
      // tiebreak order is unchanged) — no join back, no explode: the
      // whole Lloyd step is ONE aggregation whose state is ≤
      // maxTrainPerCell rows per cell per partition.
      val picked = assigned
        .withColumn("hk", Sketches.splitmixLong(col("id")).cast("double"))
        .groupBy(col("cell"))
        .agg(BoundedTopK.topK(
          struct(col("hk"), col("id"), col("e")), maxTrainPerCell).as("top"))
      // id-ascending member order (the oracle's `ORDER BY id` fold), then
      // a per-dim left-to-right sum — bit-identical to the previous
      // explode/groupBy formulation, computed row-locally per cell.
      centroids = picked
        .select(col("cell"),
          sort_array(transform(col("top"), m =>
            struct(m.getField("id").as("id"), m.getField("e").as("e")))).as("mem"))
        .select(col("cell"),
          transform(sequence(lit(1), size(element_at(col("mem"), 1).getField("e"))),
            d => aggregate(col("mem"), lit(0.0),
              (acc, m) => acc + element_at(m.getField("e"), d)) /
              size(col("mem")).cast("double")).as("ce"))
      iter += 1
    }
    // LAZY persist (no job at plan construction): the trained frame is
    // nCells rows but every consumer pair (assign + distance tables,
    // assign + probes) would otherwise re-execute the whole Lloyd chain
    // — per-consumer projections differ, so exchange reuse never fires
    // (probe-verified: 24 corpus scans, 0 ReusedExchange in ivfPqKnn
    // before this). First evaluation populates the cache; reruns read
    // nCells rows instead of rescanning the corpus per iteration.
    // Registered for release at the next gate boundary (SessionCaches).
    SessionCaches.register(centroids)
  }

  /** The centroid frame folded to ONE cell-ascending array row —
    * `(cents: array<struct<cell,ce>>)` — broadcast to every row-local
    * consumer (assignment, probe selection, PQ distance tables) so the
    * vector side NEVER shuffles for model lookups (guide §2.4: the model
    * is bounded, the corpus is not; the old crossJoin+groupBy shape
    * re-shuffled |corpus|·nCells rows per call).
    */
  private def centroidArray(centroids: DataFrame): DataFrame =
    centroids.agg(
      sort_array(collect_list(struct(col("cell"), col("ce")))).as("cents"))

  /** Train ALL m per-subspace PQ codebooks in ONE Lloyd chain over the
    * exploded (s, id, subvector) frame: group keys are (s, cell), so
    * every per-(s, cell) state — the hash-sampled init rows, the
    * bounded training sample, the id-ordered per-dim mean fold — is
    * EXACTLY the per-subspace [[trainCentroids]] state (splitmix64(id)
    * is subspace-blind, so each subspace's init and sample pick the
    * SAME ids), but m sequential training chains collapse into one:
    * one init pass and ONE bounded-heap exchange per Lloyd iteration
    * instead of m. Returns the per-s codebooks as filters of one
    * persisted (s, cell, ce) frame — bit-identical inputs to
    * [[encodeCodes]]/[[pqDistanceTables]] by construction.
    */
  private def trainSubCentroids(
      corpus: DataFrame, vecCol: String, idCol: String, m: Int,
      nCells: Int, iterations: Int,
      maxTrainPerCell: Int): Seq[DataFrame] = {
    val c = prep(corpus, vecCol, idCol)
    val sz = size(col("e"))
    val subDim = when(sz % lit(m) === 0, (sz / lit(m)).cast("int"))
      .otherwise(raise_error(concat(
        lit("vector dim "), sz.cast("string"),
        lit(s" must divide into $m subspaces"))))
    def slices(e: Column): Column =
      array((0 until m).map(s =>
        slice(e, lit(s) * subDim + lit(1), subDim)): _*)
    // (s, id, e=subvector): m rows per vector, one corpus pass
    val sub = c.select(col("id") +:
      Seq(posexplode(slices(col("e"))).as(Seq("__s", "se"))): _*)
      .select(col("__s"), col("id"), col("se").as("e"))
    // deterministic init, computed ONCE: the nCells smallest-splitmix64
    // ids (identical in every subspace), cell ids in hash order — the
    // per-s slices of those rows are the per-subspace init centroids
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("hk"))
    var centroids = c.withColumn("hk", Sketches.splitmixLong(col("id")))
      .orderBy(col("hk")).limit(nCells)
      .withColumn("cell", row_number().over(w).cast("long") - 1L)
      .select(col("cell"),
        posexplode(slices(col("e"))).as(Seq("__s", "ce")))
      .select(col("__s"), col("cell"), col("ce"))
    var iter = 0
    while (iter < iterations) {
      // all m codebooks in ONE broadcast row, indexed by s (model-sized
      // aggregation — never the corpus)
      val byS = centroids.groupBy(col("__s"))
        .agg(sort_array(collect_list(struct(col("cell"), col("ce"))))
          .as("cents"))
        .agg(transform(
          sort_array(collect_list(struct(col("__s"), col("cents")))),
          x => x.getField("cents")).as("centsBys"))
      val assigned = sub.crossJoin(broadcast(byS))
        .withColumn("cents", element_at(col("centsBys"), col("__s") + 1))
        .withColumn("m", array_min(transform(col("cents"),
          c2 => struct(cd2(col("e"), c2).as("d2"),
            c2.getField("cell").as("cell")))))
        .select(col("__s"), col("id"), col("e"), col("m.cell").as("cell"))
      val picked = assigned
        .withColumn("hk", Sketches.splitmixLong(col("id")).cast("double"))
        .groupBy(col("__s"), col("cell"))
        .agg(BoundedTopK.topK(
          struct(col("hk"), col("id"), col("e")), maxTrainPerCell).as("top"))
      centroids = picked
        .select(col("__s"), col("cell"),
          sort_array(transform(col("top"), mm =>
            struct(mm.getField("id").as("id"), mm.getField("e").as("e"))))
            .as("mem"))
        .select(col("__s"), col("cell"),
          transform(sequence(lit(1), size(element_at(col("mem"), 1).getField("e"))),
            d => aggregate(col("mem"), lit(0.0),
              (acc, mm) => acc + element_at(mm.getField("e"), d)) /
              size(col("mem")).cast("double")).as("ce"))
      iter += 1
    }
    // gate-scoped persist (SessionCaches): the m per-s consumers read one
    // cached m·nCells-row frame; released at the next gate boundary
    val merged = SessionCaches.register(centroids)
    (0 until m).map(s =>
      merged.filter(col("__s") === s).select(col("cell"), col("ce")))
  }

  /** d² between the row vector `e` and one (cell, ce) struct — the exact
    * fold every former crossJoin site used (zip_with square diffs,
    * left-to-right sum), so scores are bit-identical.
    */
  private def cd2(e: Column, c: Column): Column =
    aggregate(zip_with(e, c.getField("ce"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** The query's `nProbe` nearest cells as a (d2 asc, cell asc) sorted
    * struct array — row-local over the broadcast centroid array;
    * replaces the collect_list/groupBy probe shuffle.
    */
  private def nearestCellsExpr(e: Column, nProbe: Int,
      excludeCell: Option[Column] = None): Column = {
    val cands = excludeCell
      .map(x => filter(col("cents"), c => c.getField("cell") =!= x))
      .getOrElse(col("cents"))
    slice(sort_array(transform(cands,
      c => struct(cd2(e, c).as("d2"), c.getField("cell").as("cell")))),
      1, nProbe)
  }

  /** Assign each corpus vector to its nearest centroid — row-local
    * argmin over the broadcast centroid array: `array_min` over
    * struct(d2, cell) is EXACTLY the former groupBy `min(struct(d2,
    * cell))` (d2 asc, cell-asc ties), with zero exchanges — the corpus
    * stays in place, nothing |corpus|·nCells-sized is ever materialized
    * or shuffled.
    */
  def assignCells(prepped: DataFrame, centroids: DataFrame): DataFrame =
    prepped.crossJoin(broadcast(centroidArray(centroids)))
      .withColumn("m", array_min(transform(col("cents"),
        c => struct(cd2(col("e"), c).as("d2"), c.getField("cell").as("cell")))))
      .select(col("id"), col("m.cell").as("cell"), col("e"), col("nrm"))

  /** The nearest cell of `e` over a given centroid-array column — the
    * [[assignCells]] argmin as a bare expression, for the one-pass
    * encoders below.
    */
  private def argminCell(cents: Column, e: Column): Column =
    array_min(transform(cents,
      c => struct(cd2(e, c).as("d2"), c.getField("cell").as("cell"))))
      .getField("cell")

  /** Encode a frame carrying a vector column `vc` as PQ codes in ONE
    * row-local pass: every subspace's code is the [[assignCells]] argmin
    * over that subspace's broadcast codebook array applied to the same
    * per-row slice the per-subspace assign used — no per-subspace
    * passes, no m-way join of corpus-sized code frames (formerly m
    * joins, each an exchange of |corpus| rows). `keep` columns ride
    * through. Slice arithmetic and the dim-divisibility fail-fast match
    * [[pqSubspace]] exactly (cast-then-slice ≡ slice-then-cast on
    * doubles), so codes are bit-identical to the joined formulation.
    */
  private def encodeCodes(
      df: DataFrame, vc: Column, subCents: Seq[DataFrame],
      keep: Seq[Column]): DataFrame = {
    val m = subCents.length
    val withArrs = (0 until m).foldLeft(df) { (d, s) =>
      d.crossJoin(broadcast(
        centroidArray(subCents(s)).select(col("cents").as(s"__cents$s"))))
    }
    val sz = size(vc)
    val subDim = when(sz % lit(m) === 0, (sz / lit(m)).cast("int"))
      .otherwise(raise_error(concat(
        lit("vector dim "), sz.cast("string"),
        lit(s" must divide into $m subspaces"))))
    withArrs.select(keep :+
      array((0 until m).map { s =>
        argminCell(col(s"__cents$s"),
          transform(slice(vc, lit(s) * subDim + lit(1), subDim),
            x => x.cast("double")))
      }: _*).as("codes"): _*)
  }

  /** IVF-PQ: the production ANN layout (coarse inverted lists + compact
    * codes, FAISS's IVFPQ shape). The coarse quantizer assigns every
    * vector to one of `nCells` inverted lists; a product quantizer
    * compresses each vector to `m` codes. A query probes its `nProbe`
    * nearest coarse cells and ADC-scores ONLY the codes in those lists —
    * candidate count divides by nCells/nProbe AND each candidate costs m
    * lookups instead of a d-dim dot product.
    *
    * Codes quantize the raw vectors (not coarse residuals — the residual
    * refinement trades determinism for recall; this variant keeps every
    * stage bit-replayable by the oracle, and the recall knobs are
    * nProbe/pqCells).
    *
    * `normalize` unit-normalizes corpus and queries first (on unit
    * vectors ‖x−y‖² = 2−2·cos, so the L2 chain becomes cosine-
    * consistent); `rotation` then puts a [[Rotation]] in front of the
    * chain, fitted once on the (normalized) corpus and applied to
    * corpus and queries alike — coarse cells, codes and ADC all live in
    * the rotated space.
    */
  def ivfPqKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384, normalize: Boolean = false,
      rotation: Option[Rotation] = None): DataFrame = {
    val (base, pre) = fitPreprocess(corpus, vecCol, idCol, m, normalize, rotation)
    rankAdc(ivfPqAdcScores(base, pre(queries, vecCol, idCol), vecCol, idCol,
      nCells, nProbe, m, pqCells, iterations, maxTrainPerCell), k)
  }

  /** (qid, nid, adist) → top-k per query, adist asc / nid asc ties. */
  private def rankAdc(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(BoundedTopK.topK(
        struct((-col("adist")).as("negd"), col("nid").as("nid")), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.nid").as("nid"),
        round(-col("s.negd"), 6).as("adist"), (col("pos") + 1).cast("int").as("rnk"))

  /** The IVF-PQ candidate generator shared by [[ivfPqKnn]] and
    * [[ivfPqRefineKnn]] (inputs already preprocessed): (qid, nid, adist)
    * for every code in the query's
    * probed cells, self-matches excluded.
    */
  private def ivfPqAdcScores(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String,
      nCells: Int, nProbe: Int,
      m: Int, pqCells: Int, iterations: Int,
      maxTrainPerCell: Int): DataFrame = {
    def sub(df: DataFrame, s: Int): DataFrame = pqSubspace(df, vecCol, idCol, s, m)

    // coarse inverted lists over the full vectors; all m subspace
    // codebooks trained in ONE merged Lloyd chain
    val coarse = trainCentroids(corpus, vecCol, idCol, nCells, iterations, maxTrainPerCell)
    val perSubCents = trainSubCentroids(corpus, vecCol, idCol, m,
      pqCells, iterations, maxTrainPerCell)
    // ONE row-local encode pass: coarse cell + all m codes per corpus
    // row over the broadcast model arrays (formerly a per-subspace
    // assign + m-way join + lists join — each an exchange)
    val codes = encodeAbsolute(corpus, vecCol, idCol, coarse, perSubCents)
    val dtabs = pqDistanceTables(queries, vecCol, idCol, perSubCents)
    ivfPqScoreModel(queries, vecCol, idCol, coarse, dtabs, codes, nProbe, m)
  }

  /** ADC scoring against MATERIALIZED model frames — shared by the
    * in-memory path and the persisted index: coarse centroids (cell,
    * ce), per-query distance tables `dtabs` (qid, dtabs array-of-array),
    * corpus codes (nid, ivf_cell, codes). Probe selection and the
    * joined distance tables broadcast; the codes table never shuffles.
    */
  private def ivfPqScoreModel(
      queries: DataFrame, vecCol: String, idCol: String,
      coarse: DataFrame, dtabs: DataFrame, codes: DataFrame,
      nProbe: Int, m: Int): DataFrame = {
    // nProbe nearest coarse cells per query — row-local over the
    // broadcast centroid array (same (d2 asc, cell asc) order the former
    // collect_list/sort/slice produced, zero exchanges)
    val probes = prep(queries, vecCol, idCol)
      .crossJoin(broadcast(centroidArray(coarse)))
      .select(col("id").as("qid"),
        explode(nearestCellsExpr(col("e"), nProbe).getField("cell"))
          .as("ivf_cell"))
    broadcast(probes.join(broadcast(dtabs), "qid"))
      .join(codes, Seq("ivf_cell"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, s) => acc + element_at(element_at(col("dtabs"), s + 1),
            (element_at(col("codes"), s + 1) + 1).cast("int"))).as("adist"))
  }

  /** Per-query PQ distance tables against given per-subspace codebooks:
    * (qid, dtabs) where dtabs(s)(c) = d²(query subspace s, codebook s
    * centroid c).
    */
  private def pqDistanceTables(
      queries: DataFrame, vecCol: String, idCol: String,
      subCents: Seq[DataFrame]): DataFrame = {
    val m = subCents.length
    // ONE row-local pass: every subspace's cell-ascending d² table is an
    // expression over the broadcast codebook arrays — no per-subspace
    // shuffle, no m-way join of |Q|-sized aggregates. dt ordering and
    // arithmetic match the former sort_array(collect_list) fold exactly
    // (cell ids are unique, arrays are cell-ascending).
    val sz = size(col(vecCol))
    val subDim = when(sz % lit(m) === 0, (sz / lit(m)).cast("int"))
      .otherwise(raise_error(concat(
        lit("vector dim "), sz.cast("string"), lit(s" must divide into $m subspaces"))))
    val q = queries.select(col(idCol).as("qid") +:
      (0 until m).map(s => transform(
        slice(col(vecCol), lit(s) * subDim + lit(1), subDim),
        x => x.cast("double")).as(s"sube$s")): _*)
    (0 until m).foldLeft(q) { (df, s) =>
      df.crossJoin(broadcast(
        centroidArray(subCents(s)).select(col("cents").as(s"cents$s"))))
    }.select(col("qid"),
      array((0 until m).map(s => transform(col(s"cents$s"),
        c => aggregate(zip_with(col(s"sube$s"), c.getField("ce"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))): _*)
        .as("dtabs"))
  }

  /** Persist an IVF-PQ index — the production "train once, search many"
    * layout ([[buildIvfIndex]]'s stance for the compact-code tier):
    * coarse centroids at `<path>/coarse`, per-subspace PQ codebooks at
    * `<path>/pq<s>`, and the corpus as codes (nid, ivf_cell, codes) at
    * `<path>/codes` — m bytes-worth of codes per vector instead of the
    * raw floats. Searches and appends never retrain or rescan the
    * corpus; they apply the preprocessing the build recorded
    * (`normalize` in `meta`, a stored rotation in its own tables —
    * [[StoredRotation]]), so answers are bit-identical to the in-memory
    * [[ivfPqKnn]] at the same knobs. Only the rotations with a stored
    * form (VarPerm, Pca) persist.
    */
  def buildIvfPqIndex(
      corpus: DataFrame, vecCol: String, idCol: String, path: String,
      nCells: Int = 16, m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384, normalize: Boolean = false,
      rotation: Option[Rotation] = None): Unit = {
    val (base, pre) = fitPreprocess(corpus, vecCol, idCol, m, normalize, rotation)
    StoredRotation.write(corpus.sparkSession, path, pre)
    val coarse = trainCentroids(base, vecCol, idCol, nCells, iterations, maxTrainPerCell)
    coarse.write.format("kv").option("path", s"$path/coarse")
      .mode("overwrite").save()
    val perSubCents = trainSubCentroids(base, vecCol, idCol, m,
      pqCells, iterations, maxTrainPerCell)
    perSubCents.zipWithIndex.foreach { case (cents, s) =>
      cents.write.format("kv").option("path", s"$path/pq$s")
        .mode("overwrite").save()
    }
    encodeAbsolute(base, vecCol, idCol, coarse, perSubCents)
      .write.format("kv").option("path", s"$path/codes")
      .mode("overwrite").save()
    writePqMeta(corpus.sparkSession, path, residual = false, pre)
  }

  /** ONE row-local encode pass of preprocessed rows against an absolute
    * IVF-PQ model: coarse cell + all m codes per row (nid, ivf_cell,
    * codes) — shared by the in-memory chain, the build and the append.
    */
  private def encodeAbsolute(df: DataFrame, vecCol: String, idCol: String,
      coarse: DataFrame, subCents: Seq[DataFrame]): DataFrame = {
    val prepped = prep(df, vecCol, idCol)
      .crossJoin(broadcast(
        centroidArray(coarse).select(col("cents").as("__cents_coarse"))))
    encodeCodes(prepped, col("e"), subCents,
      keep = Seq(col("id").as("nid"),
        argminCell(col("__cents_coarse"), col("e")).as("ivf_cell")))
  }

  /** The PQ layouts' one-row `meta` table: the residual layout marker
    * and the normalize flag. A rotated index records its normalize flag
    * with the rotation instead ([[StoredRotation]]) and 0 here.
    */
  private def writePqMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, residual: Boolean, pre: Preprocess): Unit = {
    import spark.implicits._
    Seq((if (residual) 1L else 0L,
      if (pre.normalize && pre.rotation.isEmpty) 1L else 0L))
      .toDF("residual", "normalize")
      .write.format("kv").option("path", s"$path/meta")
      .mode("overwrite").save()
  }

  /** A one-row 0/1 flag table's flag (`table` a full path): 1 → true.
    * An absent table or column (layouts that predate the flag) reads
    * false, so old indexes keep their exact behavior.
    */
  private def readFlag(spark: org.apache.spark.sql.SparkSession,
      table: String, name: String): Boolean =
    graft.sources.ParquetIO.listFiles(table).nonEmpty && {
      val df = spark.read.format("kv").option("path", table).load()
      df.columns.contains(name) &&
        df.select(col(name)).collect().headOption.exists(_.getLong(0) == 1L)
    }

  /** Open a persisted IVF-PQ index for search or append: its table
    * reader, the per-subspace codebooks, and the STORED preprocessing
    * raw inputs take before they meet the codebooks — unit
    * normalization (the `meta` flag, or the rotation's), then the stored
    * rotation. `residual` is the layout the caller codes for; the other
    * layout refuses, because absolute-coding tables over residual codes
    * (or the reverse) give silently wrong distances.
    */
  private def openPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, residual: Boolean)
      : (String => DataFrame, Seq[DataFrame], Preprocess) = {
    def table(sub: String) =
      spark.read.format("kv").option("path", s"$path/$sub").load()
    val subCents = Iterator.from(0)
      .takeWhile(s => graft.sources.ParquetIO.listFiles(s"$path/pq$s").nonEmpty)
      .map(s => table(s"pq$s")).toSeq
    require(subCents.nonEmpty, s"no PQ codebooks under $path")
    require(readFlag(spark, s"$path/meta", "residual") == residual,
      if (residual) s"$path is not a residual IVF-PQ index (no residual " +
        "meta marker) — use ivfPqKnnIndexed / ivfPqIndexAppend"
      else s"$path is a residual IVF-PQ index — use " +
        "ivfPqResidualKnnIndexed / ivfPqResidualIndexAppend")
    val stored = StoredRotation.read(spark, path)
    (table, subCents, Preprocess(
      readFlag(spark, s"$path/meta", "normalize") || stored.exists(_._2),
      stored.map(_._1)))
  }

  /** Search a persisted IVF-PQ index — must answer IDENTICALLY to the
    * in-memory [[ivfPqKnn]] over the same corpus (deterministic
    * training), so the gates share one oracle. Only the codebooks
    * (broadcast-sized) and the probed cells' codes are touched.
    */
  def ivfPqKnnIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, vecCol: String, idCol: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    val (table, subCents, pre) = openPqIndex(spark, path, residual = false)
    val qBase = pre(queries, vecCol, idCol)
    val dtabs = pqDistanceTables(qBase, vecCol, idCol, subCents)
    // dedup by (qid, nid): an [[ivfPqIndexAppend]] retried after a crash
    // appends the same codes rows twice; without this, one nid's
    // identical (adist, nid) pair seats TWO of the k heap slots and
    // evicts a true neighbor (the graph walk's per-nid node dedup, at
    // the bounded candidate level — never a corpus-table shuffle)
    rankAdc(ivfPqScoreModel(qBase, vecCol, idCol, table("coarse"), dtabs,
      table("codes").select(col("nid"), col("ivf_cell"), col("codes")),
      nProbe, subCents.length).dropDuplicates("qid", "nid"), k)
  }

  /** Incremental IVF-PQ maintenance: preprocess NEW vectors as the build
    * did, encode them against the persisted codebooks (coarse
    * assignment + per-subspace codes — no retraining, the codebooks stay
    * stable) and append them to the codes table. Periodic re-training is
    * [[buildIvfPqIndex]] again.
    */
  def ivfPqIndexAppend(
      newVecs: DataFrame, vecCol: String, idCol: String, path: String): Unit = {
    val (table, subCents, pre) =
      openPqIndex(newVecs.sparkSession, path, residual = false)
    encodeAbsolute(pre(newVecs, vecCol, idCol), vecCol, idCol,
      table("coarse"), subCents)
      .write.format("kv").option("path", s"$path/codes").mode("append").save()
  }

  /** IVF-PQ with an exact re-ranking tail (the FAISS `IndexRefineFlat`
    * pattern): ADC selects a `refine`-sized shortlist per query from the
    * compact codes, then ONLY those shortlist ids fetch their raw vectors
    * for exact cosine rescoring, and the top `k` by TRUE similarity come
    * back. The recall of a wide approximate beam, the final ordering of
    * exact similarity — per query the corpus pays its code scan plus
    * `refine` raw-vector dot products instead of N.
    *
    * Scale shape: the shortlist is queries×refine rows (broadcast-sized);
    * the raw corpus is probed by a broadcast hash join on id and never
    * shuffles. Shortlist selection rides the bounded heap (adist asc,
    * nid asc at the boundary — the deterministic cut the oracle replays).
    */
  def ivfPqRefineKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int, refine: Int = 16,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    require(refine >= k, s"refine shortlist ($refine) must be >= k ($k)")
    val scored = ivfPqAdcScores(corpus, queries, vecCol, idCol,
      nCells, nProbe, m, pqCells, iterations, maxTrainPerCell)
    val shortlist = scored.groupBy(col("qid"))
      .agg(BoundedTopK.topK(
        struct((-col("adist")).as("negd"), col("nid").as("nid")), refine).as("top"))
      .select(col("qid"), explode(col("top").getField("nid")).as("nid"))
    val c = prep(corpus, vecCol, idCol)
      .select(col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
    val q = prep(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    topKPerQuery(
      broadcast(shortlist.join(broadcast(q), "qid")).join(c, Seq("nid"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** Persist an IVF index: centroids and cell assignments land as two kv
    * tables under `path` (arrays ride the kv source's LIST columns). At
    * 100 TB you train once and amortize it over every search — the ANN
    * analog of the kv source's persisted search-index mode.
    *
    * `normalize=true` makes the index COSINE-consistent: vectors are
    * unit-normalized before training and assignment, so the k-means
    * cells partition by DIRECTION instead of by norm (on a norm-spread
    * corpus raw L2 cells cluster by magnitude and a probe misses
    * directional neighbors — the metric mismatch `q_ann_cosine_audit`
    * pins for the ADC tiers applies to cell ROUTING here). The flag is
    * recorded in the index's knobs table so search and append apply the
    * identical preprocessing — the [[buildIvfPqIndex]] stored-preprocessing
    * discipline.
    */
  def buildIvfIndex(
      corpus: DataFrame, vecCol: String, idCol: String, path: String,
      nCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384, normalize: Boolean = false): Unit = {
    val base = if (normalize) unitNormed(corpus, vecCol, idCol) else corpus
    val cents = trainCentroids(base, vecCol, idCol, nCells, iterations, maxTrainPerCell)
    cents.write.format("kv").option("path", s"$path/centroids")
      .mode("overwrite").save()
    assignCells(prep(base, vecCol, idCol), cents)
      .select(col("cell"), col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
      .write.format("kv").option("path", s"$path/cells")
      .mode("overwrite").save()
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq(Tuple1(if (normalize) 1L else 0L)).toDF("normalize")
      .write.format("kv").option("path", s"$path/knobs")
      .mode("overwrite").save()
  }

  /** The search/append-time preprocessing recorded by a build's knobs
    * table: `normalize=1` → unit-normalize inputs before prep. Pre-knob
    * layouts (no table, or a knobs table without the column — graph
    * indexes built before the flag existed) read as raw, so old indexes
    * keep their exact behavior.
    */
  private def readNormalizeKnob(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    readFlag(spark, s"$path/knobs", "normalize")

  /** Row-local unit normalization of `vecCol` (id projected through) —
    * the cosine-consistency transform shared by every `normalize` knob.
    */
  private def unitNormed(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol), unitNorm(col(vecCol)).as(vecCol))

  /** Incremental index maintenance: assign NEW vectors against the
    * persisted centroids (no retraining — centroids stay stable, which
    * is what makes incremental ANN indexing cheap) and append them to
    * the cells table. Periodic re-clustering is [[buildIvfIndex]] again;
    * between rebuilds the index absorbs appends at the cost of one
    * broadcast assignment per batch.
    */
  def ivfIndexAppend(
      newVecs: DataFrame, vecCol: String, idCol: String, path: String): Unit = {
    val spark = newVecs.sparkSession
    // the build's preprocessing, never the caller's guess: a normalized
    // index normalizes its appends too (raw rows in a unit-norm cell
    // layout would be routed by magnitude and searched by direction)
    val base =
      if (readNormalizeKnob(spark, path)) unitNormed(newVecs, vecCol, idCol)
      else newVecs
    val cents = spark.read.format("kv").option("path", s"$path/centroids").load()
    assignCells(prep(base, vecCol, idCol), cents)
      .select(col("cell"), col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
      .write.format("kv").option("path", s"$path/cells").mode("append").save()
  }

  /** IVF search against a persisted index — no retraining, no corpus
    * re-assignment: probes read only the centroid table (broadcast-sized)
    * and the probed cells' rows.
    */
  def ivfKnnIndexed(
      queries: DataFrame, vecCol: String, idCol: String, path: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    // stored preprocessing knob (one-row read): queries take the SAME
    // transform the corpus was indexed under, or probe routing diverges
    val qBase =
      if (readNormalizeKnob(spark, path)) unitNormed(queries, vecCol, idCol)
      else queries
    val cents = spark.read.format("kv").option("path", s"$path/centroids").load()
    val assigned = spark.read.format("kv").option("path", s"$path/cells").load()
      .select(col("cell"), col("nid"), col("ne"), col("nn"))
    val qPrepped = prep(qBase, vecCol, idCol)
    val probes = qPrepped.crossJoin(broadcast(centroidArray(cents)))
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        explode(nearestCellsExpr(col("e"), nProbe).getField("cell"))
          .as("cell"))
    // dedup by (qid, nid): an [[ivfIndexAppend]] retried after a crash
    // appends the same cells rows twice; without this, one nid's
    // identical (sim, nid) pair seats TWO of the k heap slots and
    // evicts a true neighbor (bounded candidate-level dedup — the
    // corpus-sized cells table never reshuffles for it)
    topKPerQuery(
      broadcast(probes).join(assigned, Seq("cell"))
        .where(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim"))
        .dropDuplicates("qid", "nid"),
      k)
  }

  /** Product-quantization k-NN (Jégou et al., "Product quantization for
    * nearest neighbor search", TPAMI 2011): split each vector into `m`
    * contiguous subspaces, k-means each subspace with the SAME
    * deterministic chain as IVF ([[trainCentroids]]), encode every
    * corpus vector as `m` small codes, and search by asymmetric distance
    * (ADC): per query, an m × nCells table of exact query-to-centroid
    * squared distances is broadcast, and each corpus vector's
    * approximate distance is the m-term sum of table lookups on its
    * codes.
    *
    * The 100 TB point is MEMORY: a 64-dim float vector (256 B) becomes m
    * codes (m bytes at nCells ≤ 256) — 100× compression — and the scan
    * side touches only codes. Scale shape matches [[bruteForceKnn]]:
    * query tables broadcast, corpus codes never shuffle, per-query
    * results assembled by the bounded heap. Deterministic end to end
    * (id-ordered folds, fixed lookup-sum order), so the DuckDB oracle
    * replays the entire train/encode/search pipeline.
    */
  def pqKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      m: Int = 2, nCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    def sub(df: DataFrame, s: Int): DataFrame = pqSubspace(df, vecCol, idCol, s, m)

    val perSubCents = trainSubCentroids(corpus, vecCol, idCol, m,
      nCells, iterations, maxTrainPerCell)
    // ONE row-local encode pass over the broadcast codebook arrays
    val codes = encodeCodes(prep(corpus, vecCol, idCol), col("e"),
      perSubCents, keep = Seq(col("id").as("nid")))
    // exact query→centroid squared distances, cell-ordered, one
    // row-local pass (shared builder)
    val dtabs = pqDistanceTables(queries, vecCol, idCol, perSubCents)

    // ADC: m-term lookup sum, folded in subspace order
    val scored = broadcast(dtabs).join(codes, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, s) => acc + element_at(element_at(col("dtabs"), s + 1),
            (element_at(col("codes"), s + 1) + 1).cast("int"))).as("adist"))
    scored.groupBy(col("qid"))
      .agg(BoundedTopK.topK(
        struct((-col("adist")).as("negd"), col("nid").as("nid")), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.nid").as("nid"),
        round(-col("s.negd"), 6).as("adist"), (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Exact dense re-rank of a candidate shortlist — the cascade tail of
    * a retrieve-then-rerank stack: `candidates` is a per-query shortlist
    * (qid, nid) from ANY first-stage retriever (BM25, ANN, RRF fusion);
    * every pair scores exact cosine between the query's and the
    * candidate's vector, and the top `k` by TRUE similarity return as
    * (qid, nid, sim, rnk).
    *
    * Scale shape: the shortlist is |Q|·R rows (broadcast-sized by
    * construction); the vector table is probed by a broadcast hash join
    * on id — it never shuffles and is never brute-force scanned per
    * query. This is the shape that turns any cheap recall stage into an
    * exact-ordered result at 100 TB.
    */
  def denseRerank(
      candidates: DataFrame, queryVecs: DataFrame, docVecs: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    val q = prep(queryVecs, vecCol, idCol)
      .select(col("id").as("__qv_id"), col("e").as("qe"), col("nrm").as("qn"))
    val c = prep(docVecs, vecCol, idCol)
      .select(col("id").as("__cv_id"), col("e").as("ne"), col("nrm").as("nn"))
    val paired = candidates.select(col("qid"), col("nid"))
      .join(broadcast(q), col("qid") === col("__qv_id"))
    topKPerQuery(
      broadcast(paired).join(c, col("nid") === col("__cv_id"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** Contrastive hard-negative mining: for each query vector, the k most
    * similar corpus vectors with a DIFFERENT label — the negatives that
    * sit closest to the decision boundary, which is what contrastive /
    * metric-learning training wants mined from the corpus.
    *
    * Same 100 TB shape as [[bruteForceKnn]]: broadcast the (small) query
    * side, score corpus partitions in place, assemble per-query results
    * with the bounded-heap aggregate — corpus never shuffles, map-side
    * partials keep k rows per query per partition. For corpus-scale query
    * sets, run the LSH/IVF pruning first and this as the rescore.
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, labelCol: String, k: Int): DataFrame = {
    val c = prep(corpus, vecCol, idCol)
      .join(corpus.select(col(idCol).as("id"), col(labelCol).as("lbl")), "id")
    val q = prep(queries, vecCol, idCol)
      .join(queries.select(col(idCol).as("id"), col(labelCol).as("lbl")), "id")
    topKPerQuery(
      broadcast(q.select(col("id").as("qid"), col("e").as("qe"),
          col("nrm").as("qn"), col("lbl").as("qlbl")))
        .join(c.select(col("id").as("nid"), col("e").as("ne"),
          col("nrm").as("nn"), col("lbl").as("nlbl")),
          col("qid") =!= col("nid") && col("qlbl") =!= col("nlbl"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** IVF-Flat search: probe the `nProbe` nearest cells per query, exact
    * cosine inside probed cells only.
    */
  def ivfKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    val cents = trainCentroids(corpus, vecCol, idCol, nCells, iterations, maxTrainPerCell)
    val assigned = assignCells(prep(corpus, vecCol, idCol), cents)
      .select(col("cell"), col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
    val qPrepped = prep(queries, vecCol, idCol)
    // nProbe nearest cells per query — row-local over the broadcast
    // centroid array
    val probes = qPrepped.crossJoin(broadcast(centroidArray(cents)))
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        explode(nearestCellsExpr(col("e"), nProbe).getField("cell"))
          .as("cell"))
    topKPerQuery(
      broadcast(probes).join(assigned, Seq("cell"))
        .where(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** (id, e, nrm, attr) — [[prep]] with the filter attribute projected
    * through, for the attribute-constrained search family.
    */
  private def prepAttr(df: DataFrame, vecCol: String, idCol: String,
      attrCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("e"),
      col(attrCol).cast("long").as("attr"))
      .withColumn("nrm", norm(col("e")))

  /** Attribute-filtered exact k-NN — the PRE-FILTER strategy of filtered
    * vector search: each query retrieves the k most cosine-similar
    * corpus vectors whose `attrCol` EQUALS the query's own `attrCol`
    * (the per-query metadata constraint every production vector store
    * exposes: tenant id, language, license class, source shard).
    *
    * Pre-filter is the exact-recall strategy: the predicate restricts
    * the candidate set BEFORE any scoring, so the result is the true
    * constrained top-k by construction. Scale shape: the attribute is a
    * JOIN KEY — the broadcast hash join on `attr` means a corpus row is
    * dot-producted only against queries that share its attribute; the
    * corpus never shuffles, and with a literal (single-tenant)
    * constraint the same plan degenerates to a pushed scan filter. Cost
    * is selectivity·|corpus| dot products per query — exactness paid
    * for with a scan of the matching stratum, which is why the IVF
    * variants below exist.
    */
  def filteredKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, attrCol: String, k: Int): DataFrame = {
    val c = prepAttr(corpus, vecCol, idCol, attrCol)
      .select(col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"),
        col("attr"))
    val q = prepAttr(queries, vecCol, idCol, attrCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        col("attr"))
    topKPerQuery(
      broadcast(q).join(c, Seq("attr"))
        .where(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** Attribute-filtered IVF search, predicate pushed INSIDE the probed
    * cells — the single-index filtered-serving layout: ONE coarse
    * quantizer is trained on the full corpus (filters arrive at query
    * time; re-indexing per predicate is not an option at 100 TB), each
    * query probes its `nProbe` nearest cells, and the attribute
    * constraint is applied to the probed cells' rows BEFORE exact
    * scoring. Recall loss vs [[filteredKnn]] is cell routing only —
    * identical to unfiltered IVF's loss — while cost drops to
    * selectivity·(nProbe/nCells)·|corpus| dot products per query. The
    * alternative post-filter strategy ([[ivfPostFilterKnn]]) is kept
    * for the audit to price: under a selective predicate it starves.
    */
  def ivfFilteredKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, attrCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame =
    topKPerQuery(
      ivfFilteredCandidates(corpus, queries, vecCol, idCol, attrCol,
        nCells, nProbe, iterations, maxTrainPerCell)
        .where(col("attr") === col("qattr"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)

  /** Attribute-filtered IVF search, POST-FILTER with oversampling — the
    * strategy a store whose index stores no attributes is forced into:
    * retrieve the k·`oversample` nearest candidates IGNORING the
    * predicate, then keep the matching ones and re-rank to k. Bounded
    * cost (the shortlist is k·oversample rows per query) but recall
    * starves as predicate selectivity drops below 1/oversample — the
    * failure mode [[filteredRecallAudit]] measures. The shortlist heap
    * is the same bounded aggregate as every other tier; the re-rank
    * after the filter touches k·oversample rows per query only.
    */
  def ivfPostFilterKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, attrCol: String, k: Int,
      oversample: Int,
      nCells: Int = 16, nProbe: Int = 4, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    val shortlist = topKPerQuery(
      ivfFilteredCandidates(corpus, queries, vecCol, idCol, attrCol,
        nCells, nProbe, iterations, maxTrainPerCell)
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k * oversample)
    // the post-filter index stores NO attributes — the predicate is
    // resolved against the metadata table AFTER retrieval, which is the
    // whole strategy: the |Q|·k·oversample shortlist broadcasts against
    // the corpus attribute column (corpus never shuffles). Re-ranking
    // the survivors on (rounded sim desc, nid asc) preserves the
    // shortlist order exactly (6dp rounding is monotone and the heap's
    // own tiebreak is nid asc), so rnk 1..k is the shortlist order,
    // filtered and renumbered.
    val cAttr = corpus.select(col(idCol).as("nid"),
      col(attrCol).cast("long").as("attr"))
    val qAttr = queries.select(col(idCol).as("qid"),
      col(attrCol).cast("long").as("qattr"))
    topKPerQuery(
      broadcast(shortlist).join(cAttr, Seq("nid"))
        .join(broadcast(qAttr), Seq("qid"))
        .where(col("attr") === col("qattr"))
        .select(col("qid"), col("nid"), col("sim")),
      k)
  }

  /** Shared candidate stage of the filtered-IVF strategies: full-corpus
    * coarse training ([[trainCentroids]], deterministic), per-query
    * `nProbe` nearest cells, probed cells' rows joined back with BOTH
    * attributes projected through — (qid, qe, qn, qattr, nid, ne, nn,
    * attr). Post-filter scores all of it; in-cell filter prunes on
    * `attr === qattr` first.
    */
  private def ivfFilteredCandidates(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, attrCol: String,
      nCells: Int, nProbe: Int, iterations: Int,
      maxTrainPerCell: Int): DataFrame = {
    val cents = trainCentroids(corpus, vecCol, idCol, nCells, iterations,
      maxTrainPerCell)
    val assigned = assignCells(prep(corpus, vecCol, idCol), cents)
      .join(corpus.select(col(idCol).as("id"),
        col(attrCol).cast("long").as("attr")), "id")
      .select(col("cell"), col("id").as("nid"), col("e").as("ne"),
        col("nrm").as("nn"), col("attr"))
    val qPrepped = prepAttr(queries, vecCol, idCol, attrCol)
    val probes = qPrepped.crossJoin(broadcast(centroidArray(cents)))
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        col("attr").as("qattr"),
        explode(nearestCellsExpr(col("e"), nProbe).getField("cell"))
          .as("cell"))
    broadcast(probes).join(assigned, Seq("cell"))
      .where(col("qid") =!= col("nid"))
  }

  /** Persisted filtered-IVF index: [[buildIvfIndex]] with the filter
    * attribute stored IN the cells table — the "attributes belong in the
    * index" layout the audit argues for. Centroids, knobs (normalize
    * flag, same contract as every trained tier) and an attr-carrying
    * cells table; search never touches the source corpus.
    */
  def buildFilteredIvfIndex(
      corpus: DataFrame, vecCol: String, idCol: String, attrCol: String,
      path: String, nCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384, normalize: Boolean = false): Unit = {
    val base = if (normalize) unitNormed(corpus, vecCol, idCol) else corpus
    val cents = trainCentroids(base, vecCol, idCol, nCells, iterations, maxTrainPerCell)
    cents.write.format("kv").option("path", s"$path/centroids")
      .mode("overwrite").save()
    assignCells(prep(base, vecCol, idCol), cents)
      .join(corpus.select(col(idCol).as("id"),
        col(attrCol).cast("long").as("attr")), "id")
      .select(col("cell"), col("id").as("nid"), col("e").as("ne"),
        col("nrm").as("nn"), col("attr"))
      .write.format("kv").option("path", s"$path/cells")
      .mode("overwrite").save()
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq(Tuple1(if (normalize) 1L else 0L)).toDF("normalize")
      .write.format("kv").option("path", s"$path/knobs")
      .mode("overwrite").save()
  }

  /** Incremental maintenance of a filtered index: new vectors assign
    * against the STORED centroids (no retraining — the [[ivfIndexAppend]]
    * contract) with their attribute riding the appended rows, so a
    * filtered search sees them immediately. Batching-independent by
    * construction: assignment and the attr join are row-local given the
    * fixed centroids.
    */
  def filteredIndexAppend(
      newVecs: DataFrame, vecCol: String, idCol: String, attrCol: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    val base =
      if (readNormalizeKnob(spark, path)) unitNormed(newVecs, vecCol, idCol)
      else newVecs
    val cents = spark.read.format("kv").option("path", s"$path/centroids").load()
    assignCells(prep(base, vecCol, idCol), cents)
      .join(newVecs.select(col(idCol).as("id"),
        col(attrCol).cast("long").as("attr")), "id")
      .select(col("cell"), col("id").as("nid"), col("e").as("ne"),
        col("nrm").as("nn"), col("attr"))
      .write.format("kv").option("path", s"$path/cells").mode("append").save()
  }

  /** Filtered search against a persisted attr-carrying index — the
    * in-cell predicate pushdown of [[ivfFilteredKnn]], reading only the
    * centroid table and the probed cells' rows; the attribute comparison
    * happens on the stored `attr` column BEFORE any dot product, so a
    * probed cell costs selectivity·|cell| similarity evaluations.
    */
  def ivfFilteredKnnIndexed(
      queries: DataFrame, vecCol: String, idCol: String, attrCol: String,
      path: String, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val qBase =
      if (readNormalizeKnob(spark, path))
        queries.select(col(idCol), unitNorm(col(vecCol)).as(vecCol), col(attrCol))
      else queries
    val cents = spark.read.format("kv").option("path", s"$path/centroids").load()
    val assigned = spark.read.format("kv").option("path", s"$path/cells").load()
      .select(col("cell"), col("nid"), col("ne"), col("nn"), col("attr"))
    val qPrepped = prepAttr(qBase, vecCol, idCol, attrCol)
    val probes = qPrepped.crossJoin(broadcast(centroidArray(cents)))
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        col("attr").as("qattr"),
        explode(nearestCellsExpr(col("e"), nProbe).getField("cell"))
          .as("cell"))
    // (qid, nid) dedup for the same retried-append reason as
    // [[ivfKnnIndexed]]: a crash-replayed filteredIndexAppend must not
    // seat one neighbor in two heap slots
    topKPerQuery(
      broadcast(probes).join(assigned, Seq("cell"))
        .where(col("qid") =!= col("nid") && col("attr") === col("qattr"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim"))
        .dropDuplicates("qid", "nid"),
      k)
  }

  /** The filtered-search price sheet, measured: recall of each strategy
    * against the exact pre-filter truth ([[filteredKnn]]) on the same
    * corpus/queries — one row per strategy: the in-cell predicate
    * pushdown, then post-filter at each requested oversample. The
    * standard result this audit exists to pin: in-cell filtering holds
    * unfiltered-IVF recall at any selectivity, while post-filter decays
    * once selectivity < 1/oversample — the reason attributes belong IN
    * the index at 100 TB, not on a shortlist afterthought.
    */
  def filteredRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, attrCol: String, k: Int,
      oversamples: Seq[Int],
      nCells: Int = 16, nProbe: Int = 4, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    val strategies = "incell" +: oversamples.map(ov => f"post_ov$ov%02d")
    val chains = (() => ivfFilteredKnn(corpus, queries, vecCol, idCol,
        attrCol, k, nCells, nProbe, iterations, maxTrainPerCell)) +:
      oversamples.map(ov => () => ivfPostFilterKnn(corpus, queries, vecCol,
        idCol, attrCol, k, ov, nCells, nProbe, iterations, maxTrainPerCell))
    // chains named by position, so a repeated oversample stays two rows
    val row = recallAudit(
      filteredKnn(corpus, queries, vecCol, idCol, attrCol, k), k)(
      chains.indices.map(i => i.toString -> chains(i)): _*)
    strategies.indices.map { i =>
      row.select(lit(strategies(i)).as("strategy"), col("n_queries"),
        col("k"), col(s"hits_$i").as("n_hits"),
        col(s"recall_${i}_milli").as("recall_milli"))
    }.reduce(_.unionAll(_)).orderBy(col("strategy"))
  }

  /** A pre-rotation in front of an unchanged IVF-PQ index — FAISS's
    * `VectorTransform` stage (the `OPQ…,IVF…,PQ…` index-factory
    * string): one orthogonal map, fitted once on the (normalized)
    * corpus and applied row-locally to the corpus, the queries and
    * appended rows alike. Exact distances are unchanged; only PQ's fixed
    * subspace split sees a different basis, which is the OPQ objective
    * (Ge et al., CVPR 2013). The chains ([[ivfPqKnn]],
    * [[ivfPqResidualKnn]]) and the builds take it as their `rotation`;
    * the indexed searches and appends apply the stored one themselves.
    */
  sealed abstract class Rotation private ()

  object Rotation {
    /** [[opqRotate]]: the data-free Hadamard·sign map (`dim` a power of
      * two). No stored form.
      */
    final case class Hadamard(dim: Int) extends Rotation
    /** [[opqRotateFwht]]: the same map as the codegen'd FWHT butterfly —
      * equal up to final ulps, so its chains get their own oracle. No
      * stored form.
      */
    final case class HadamardFwht(dim: Int) extends Rotation
    /** [[variancePermutation]]: the learned variance-balancing dimension
      * permutation over the chain's `m` subspaces. Stored.
      */
    final case class VarPerm(dim: Int) extends Rotation
    /** [[pcaDirectionsK]]: `components` deflated Householder reflections
      * of `powerIters` power rounds each, pivots placed by
      * [[balancedPivots]] over the chain's `m` subspaces when
      * `balancePivots` (else 0..components−1). Stored.
      */
    final case class Pca(dim: Int, components: Int = 1, powerIters: Int = 4,
        balancePivots: Boolean = false) extends Rotation
  }

  /** A fitted [[Rotation]]: its row map, and for the stored kinds the
    * values [[StoredRotation]] writes.
    */
  private sealed trait Fitted { def apply(vec: Column): Column }
  private final case class DataFree(f: Column => Column) extends Fitted {
    def apply(vec: Column): Column = f(vec)
  }
  private final case class Permutation(perm: Seq[Int]) extends Fitted {
    def apply(vec: Column): Column = permuteVec(vec, perm)
  }
  /** ONE chained-kernel pass per row, whatever the component count. */
  private final case class Reflections(us: Seq[Seq[Long]]) extends Fitted {
    def apply(vec: Column): Column =
      graft.functions.VectorExpressions.householderChain(
        vec, us.map(_.map(_.toDouble)))
  }

  /** The preprocessing every IVF-PQ input takes, as one row-local
    * select: unit normalization (iff `normalize`; fixed original
    * coordinate order — the [[unitNorm]] kernel the oracle replays),
    * then the fitted rotation. Chains, builds, searches and appends all
    * apply it, so corpus, queries and appended rows are always coded in
    * one space.
    */
  private final case class Preprocess(normalize: Boolean,
      rotation: Option[Fitted]) {
    def apply(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
      val base = if (normalize) unitNormed(df, vecCol, idCol) else df
      rotation.fold(base)(r => base.select(col(idCol), r(col(vecCol)).as(vecCol)))
    }
  }

  /** Fit `rotation` on the (normalized) corpus: the preprocessed corpus,
    * and the [[Preprocess]] every other input takes. A learned fit
    * re-reads the corpus (the permutation's proxy pass, the power
    * chains) and the chain reads it several times more, so that corpus
    * is cached once — released at the next gate boundary
    * ([[SessionCaches]]), never by a per-chain finally-unpersist:
    * CacheManager dedupes plan-equal persists to ONE entry that a
    * sibling chain under [[inParallel]] may still be reading.
    */
  private def fitPreprocess(corpus: DataFrame, vecCol: String, idCol: String,
      m: Int, normalize: Boolean,
      rotation: Option[Rotation]): (DataFrame, Preprocess) = {
    val base = Preprocess(normalize, None)(corpus, vecCol, idCol)
    def learned(fit: DataFrame => Fitted): (DataFrame, Fitted) = {
      val cached = SessionCaches.register(base)
      (cached, fit(cached))
    }
    rotation.map {
      case Rotation.Hadamard(d) => (base, DataFree(opqRotate(_, d)))
      case Rotation.HadamardFwht(d) => (base, DataFree(opqRotateFwht(_, d)))
      case Rotation.VarPerm(d) =>
        learned(b => Permutation(variancePermutation(b, vecCol, d, m)))
      case Rotation.Pca(d, components, powerIters, balance) =>
        learned(b => Reflections(pcaDirectionsK(b, vecCol, d, components,
          powerIters,
          if (balance) balancedPivots(components, d, m) else Seq.empty)))
    }.fold((base, Preprocess(normalize, None))) { case (b, f) =>
      (Preprocess(false, Some(f))(b, vecCol, idCol),
        Preprocess(normalize, Some(f)))
    }
  }

  /** The stored rotations' on-disk form — the ONE definition naming
    * their tables. A VarPerm index carries `perm` (slot j → source dim
    * pos), a Pca index `householder` ((comp, slot) → integer u_j, one
    * reflection per comp in application order); beside each, a one-row
    * `normalize` table (`perm_meta` / `pca_meta`) records whether inputs
    * unit-normalize BEFORE the rotation (the index's own `meta.normalize`
    * then reads 0). Both are bounded driver reads (dim·components rows).
    */
  private object StoredRotation {
    /** (rotation table, its meta table) of each stored kind under `path`. */
    private def tables(path: String) = Seq(
      s"$path/perm" -> s"$path/perm_meta",
      s"$path/householder" -> s"$path/pca_meta")

    /** Write `pre`'s rotation beside the index; an unrotated build clears
      * stale rotation tables instead. A data-free rotation has no stored
      * form and refuses before anything is touched.
      */
    def write(spark: org.apache.spark.sql.SparkSession, path: String,
        pre: Preprocess): Unit = {
      import spark.implicits._
      val Seq(perm, pca) = tables(path)
      val stored = pre.rotation.map {
        case Permutation(p) => perm ->
          p.zipWithIndex.map { case (pos, j) => (j.toLong, pos.toLong) }
            .toDF("slot", "pos")
        case Reflections(us) => pca ->
          us.zipWithIndex.flatMap { case (u, c) =>
            u.zipWithIndex.map { case (uj, j) => (c.toLong, j.toLong, uj) }
          }.toDF("comp", "slot", "u")
        case _: DataFree => throw new IllegalArgumentException(
          "a persisted index stores only the learned rotations (VarPerm, Pca)")
      }
      tables(path).foreach { case (t, meta) =>
        graft.sources.ParquetIO.deletePath(t)
        graft.sources.ParquetIO.deletePath(meta)
      }
      stored.foreach { case ((t, meta), rows) =>
        rows.write.format("kv").option("path", t).mode("overwrite").save()
        Seq(Tuple1(if (pre.normalize) 1L else 0L)).toDF("normalize")
          .write.format("kv").option("path", meta).mode("overwrite").save()
      }
    }

    /** The stored rotation and its normalize flag; None for an unrotated
      * index. A meta table whose rotation table is gone refuses (never
      * search unrotated); a rotation table without its meta (a layout
      * that predates the knob) reads as raw inputs. Pre-multi-component
      * `householder` tables (no `comp` column) read as one reflection.
      */
    def read(spark: org.apache.spark.sql.SparkSession,
        path: String): Option[(Fitted, Boolean)] = {
      def exists(t: String) = graft.sources.ParquetIO.listFiles(t).nonEmpty
      val Seq(perm, pca) = tables(path)
      Seq(perm, pca).find { case (t, meta) => exists(t) || exists(meta) }.map {
        case (t, meta) =>
          val rows =
            if (!exists(t)) Array.empty[org.apache.spark.sql.Row]
            else spark.read.format("kv").option("path", t).load().collect()
          require(rows.nonEmpty, s"no rotation table $t, but $meta " +
            "records a rotation — refusing to search unrotated")
          val fitted =
            if (t == perm._1) {
              val p = rows
                .map(r => r.getAs[Long]("slot").toInt -> r.getAs[Long]("pos").toInt)
                .sortBy(_._1).map(_._2).toSeq
              require(p.sorted == (0 until p.length),
                s"corrupt permutation table $t")
              Permutation(p)
            } else {
              val hasComp = rows.head.schema.fieldNames.contains("comp")
              val us = rows
                .map(r => ((if (hasComp) r.getAs[Long]("comp") else 0L),
                  r.getAs[Long]("slot").toInt, r.getAs[Long]("u")))
                .groupBy(_._1).toSeq.sortBy(_._1)
                .map { case (_, rs) => rs.sortBy(_._2).map(_._3).toSeq }
              require(us.forall(_.map(x => x * x).sum > 0),
                s"corrupt householder table $t")
              Reflections(us)
            }
          (fitted, readFlag(spark, meta, "normalize"))
      }
    }
  }


  /** OPQ-style structured rotation — the rotation tier of FAISS's OPQ
    * (Ge et al., CVPR 2013) with the deterministic Hadamard·sign
    * construction in place of the alternating-SVD refinement (an SVD is
    * not exactly replayable by a SQL oracle; the data-free structured
    * rotation is the standard initialization of that same pipeline):
    *
    *   y_j = (1/√d) · Σ_i (-1)^popcount(i AND j) · s_i · x_i
    *
    * with s_i = ±1 from the low bit of splitmix64(i). H·D is orthogonal
    * (H Hadamard, D diagonal ±1), so EXACT distances are unchanged —
    * only PQ's fixed subspace split sees a different, variance-mixed
    * basis, which is precisely the OPQ objective. Requires d a power of
    * two (Sylvester Hadamard), checked per row. Row-local O(d²) map —
    * no shuffle; a 100 TB deployment would fold the same matrix into a
    * codegen'd FWHT Expression (O(d log d)), the semantics pinned here.
    */
  def opqRotate(vec: Column, d: Int): Column = {
    require(d > 0 && (d & (d - 1)) == 0, s"opqRotate: dim $d is not a power of two")
    // plan-time sign constants (splitmix64 parity) — the hot loop stays
    // literal arithmetic inside codegen, no per-element hashing
    val signs = opqSigns(d)
    val signArr = array(signs.map(lit(_)): _*)
    val checked = when(size(vec) === d, vec)
      .otherwise(raise_error(concat(lit(s"opqRotate: expected dim $d, got "),
        size(vec).cast("string"))))
    val sqrtD = lit(math.sqrt(d.toDouble))
    transform(sequence(lit(0), lit(d - 1)), j =>
      aggregate(sequence(lit(0), lit(d - 1)), lit(0.0), (acc, i) =>
        acc + element_at(checked, (i + 1).cast("int")).cast("double") *
          element_at(signArr, (i + 1).cast("int")) *
          when(bit_count(i.bitwiseAND(j)).bitwiseAND(lit(1)) === 0,
            lit(1.0)).otherwise(lit(-1.0))) /
      sqrtD)
  }

  /** The ±1 sign diagonal of [[opqRotate]] — shared with the oracle
    * generator so the SQL replay embeds the identical literals.
    */
  def opqSigns(d: Int): Seq[Double] =
    (0 until d).map(i =>
      if ((Sketches.splitmix64(i.toLong) & 1L) == 0L) 1.0 else -1.0)

  /** The same rotation executed as the O(d log d) fast Walsh–Hadamard
    * butterfly inside whole-stage codegen
    * (`functions.VectorExpressions.FwhtRotate`) — the scale path the
    * [[opqRotate]] scaladoc promises. Mathematically the identical
    * orthogonal map; floating-point output differs from the naive fold
    * only in final ulps (different summation tree), so chains built on
    * it get their OWN oracle replay of the butterfly op order
    * (`SketchOracleSql.opqFwhtCtes`) rather than reusing [[opqRotate]]'s.
    */
  def opqRotateFwht(vec: Column, d: Int): Column = {
    require(d > 0 && (d & (d - 1)) == 0,
      s"opqRotateFwht: dim $d is not a power of two")
    graft.functions.VectorExpressions.fwhtRotate(vec, opqSigns(d))
  }

  /** Data-dependent OPQ rotation, determinized: a variance-balancing
    * dimension PERMUTATION — the eigenvalue-allocation step of OPQ's
    * parametric solution (Ge et al., CVPR 2013 §4.1; FAISS OPQ's
    * initialization) applied to raw coordinates. Dims are ranked by an
    * integer-quantized variance proxy (Σ floor(x²·10⁶ + 0.5) per dim —
    * an order-free integer sum, exact on any engine) and dealt to the
    * `m` PQ subspaces in serpentine order, so each subspace codes an
    * equal share of the corpus's variance instead of whatever the
    * contiguous split happens to cut. A permutation matrix is
    * orthogonal (exact distances unchanged); unlike a learned float
    * rotation (power-iteration PCA's eigenbasis, whose iterate is a
    * float fold no SQL oracle can replay bit-exactly), its DERIVATION
    * replays exactly — the DSIR integer-quantization discipline applied
    * to subspace allocation.
    *
    * Returns `perm` where output slot j reads input dim perm(j). The
    * driver materializes exactly `dim` integer rows (bounded,
    * require-guarded). The 10⁶ quantizer assumes per-dim Σx⁴... proxy
    * sums stay under Long.MaxValue (~9.2e18): at ~10¹² rows of unit-ish
    * values there is still 10⁶ headroom; rescale the corpus or the
    * quantizer before that.
    */
  def variancePermutation(
      corpus: DataFrame, vecCol: String, dim: Int, m: Int): Seq[Int] = {
    require(dim >= 1 && dim <= 4096, s"dim $dim out of range (1..4096)")
    require(m >= 1 && dim % m == 0,
      s"dim $dim must split evenly into m=$m subspaces")
    val q = corpus
      .select(posexplode(transform(col(vecCol), x => x.cast("double")))
        .as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(sum(floor(col("v") * col("v") * lit(1e6) + lit(0.5))
        .cast("long")).as("q"))
      .collect()
      .map(r => r.getAs[Int]("pos") -> r.getAs[Long]("q")).toMap
    val ranked = (0 until dim).sortBy(i => (-q.getOrElse(i, 0L), i))
    val dsub = dim / m
    val perm = new Array[Int](dim)
    ranked.zipWithIndex.foreach { case (dimR, r) =>
      val t = r / m
      val pos = r % m
      val s = if (t % 2 == 0) pos else m - 1 - pos
      perm(s * dsub + t) = dimR
    }
    perm.toSeq
  }

  /** Apply a dimension permutation row-locally: output slot j reads
    * input element perm(j) (plan-time literal indices — pure projection,
    * zero shuffles, whole-stage codegen).
    */
  def permuteVec(vec: Column, perm: Seq[Int]): Column =
    array(perm.map(p => element_at(vec, p + 1).cast("double")): _*)

  /** Measured value of the learned permutation: permuted vs plain
    * IVF-PQ recall at EQUAL probe budget, both vs exact brute force —
    * one row ([[opqRecallAudit]] discipline). On an anisotropic corpus
    * whose variance concentrates inside one contiguous subspace the
    * permutation rebalances what each product quantizer must code and
    * recall rises; on an isotropic corpus it measures ≈0, as it should.
    */
  def varPermRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    def pq(rotation: Option[Rotation]): () => DataFrame = () =>
      ivfPqKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe, m,
        pqCells, iterations, maxTrainPerCell, rotation = rotation)
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "plain" -> pq(None), "perm" -> pq(Some(Rotation.VarPerm(dim))))
  }

  /** Measured value of the normalize knob on the LEARNED-permutation
    * chain ([[ivfCosineRecallAudit]]'s discipline on the varperm
    * tier): raw vs unit-normalized varperm IVF-PQ at the SAME budget,
    * both vs exact cosine brute force. On a corpus with norm spread
    * the raw chain loses twice — cells route by magnitude AND the
    * permutation itself balances magnitude variance cosine ignores
    * (the raw variance proxy is dominated by long vectors).
    */
  def varPermCosineRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    def pq(normalize: Boolean): () => DataFrame = () =>
      ivfPqKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe, m,
        pqCells, iterations, maxTrainPerCell, normalize,
        Some(Rotation.VarPerm(dim)))
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "raw" -> pq(false), "norm" -> pq(true))
  }

  /** Integer-determinized power iteration: the corpus's dominant
    * principal direction (of the uncentered second-moment matrix), as a
    * micro-unit integer vector the oracle re-derives exactly. Each
    * iteration is ONE distributed pass — per row the double fold
    * x·v (v a plan-time literal), then per dimension an exact integer
    * sum of floor(x_d·(x·v) + 0.5) (order-free), then a driver-side
    * integer renormalization v'_d = sign(s_d)·(|s_d| ÷ max(1,
    * s_max ÷ 10⁶)) (truncating division, identical in Scala and SQL).
    * The driver holds `dim` longs per iteration, never a row. Start
    * vector is all-ones (the canonical knob-free choice); `iters` is
    * fixed, so the derivation is a closed formula over the data.
    */
  def powerDirection(corpus: DataFrame, vecCol: String, dim: Int,
      iters: Int = 4): Seq[Long] = {
    require(dim >= 1 && dim <= 4096, s"dim $dim out of range (1..4096)")
    require(iters >= 1 && iters <= 16, s"iters must be in [1, 16], got $iters")
    val rows = corpus.select(
      transform(col(vecCol), x => x.cast("double")).as("e"))
    var v: Seq[Long] = Seq.fill(dim)(1000000L)
    for (_ <- 1 to iters) {
      // two silent-overflow hazards guarded here, both places the Scala
      // side could diverge from the oracle's arithmetic: (1) Spark's
      // floor(double) returns LongType and SATURATES at 2^63−1, where
      // DuckDB keeps the double and errors on the BIGINT cast — so the
      // per-TERM magnitude is checked in the same aggregate; (2) a
      // LongType sum over many in-range terms wraps, where DuckDB's
      // sum(BIGINT) promotes to HUGEINT — so the sum runs in
      // Decimal(38,0) (matching the promotion) with a fits-in-Long
      // require. Either violation is a loud error, never a divergence.
      val s = rows
        .withColumn("dt", arrayDot(col("e"), typedLit(v.map(_.toDouble))))
        .select(col("dt"), posexplode(col("e")).as(Seq("pos", "x")))
        .withColumn("t", col("x") * col("dt") + lit(0.5))
        .groupBy(col("pos"))
        .agg(sum(floor(col("t"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"),
          max(abs(col("t"))).as("mx"))
        .collect()
        .map { r =>
          require(r.getAs[Double]("mx") < 9.0e18,
            "power-iteration term exceeds 2^63 — Spark's long floor " +
              "would saturate; reduce corpus magnitude or pre-scale " +
              "the vectors")
          val bd = r.getAs[java.math.BigDecimal]("s")
          require(bd.abs.compareTo(new java.math.BigDecimal(Long.MaxValue)) <= 0,
            s"power-iteration moment sum $bd exceeds 2^63 — reduce corpus " +
              "magnitude or pre-scale the vectors")
          r.getAs[Int]("pos") -> bd.longValueExact()
        }.toMap
      val sv = (0 until dim).map(d => s.getOrElse(d, 0L))
      val sMax = sv.map(math.abs).max
      require(sMax > 0, "power iteration collapsed: all-zero moment sums")
      val g = math.max(1L, sMax / 1000000L)
      v = sv.map(x => if (x >= 0) x / g else -((-x) / g))
    }
    v
  }

  /** The Householder vector u mapping [[powerDirection]]'s integer v
    * (approximately) onto ±e₁: u = v + sign(v₁)·⌊√(Σv²)⌋·e₁ — the
    * cancellation-safe sign choice. All integer arithmetic (Σv² <
    * 2⁵³, so the double sqrt is exact-input and IEEE on both engines).
    */
  def householderU(v: Seq[Long]): Seq[Long] = householderUAt(v, 0)

  /** [[householderU]] generalized to map v onto ±e_pivot. Entries below
    * the pivot must be EXACTLY zero: then u has zeros there too, so the
    * reflection H = I−2uuᵀ/(uᵀu) FIXES dimensions 0..pivot−1 — the
    * deflation contract that lets a second component's reflection leave
    * the first component's isolated dimension untouched.
    */
  def householderUAt(v: Seq[Long], pivot: Int): Seq[Long] =
    householderUAtFixed(v, pivot, 0 until pivot)

  /** [[householderUAt]] with an arbitrary FIXED-dimension set: v must be
    * exactly zero at every already-isolated pivot position (then u is
    * zero there too, so the reflection fixes those dimensions) — the
    * deflation contract for non-contiguous pivot placement
    * ([[balancedPivots]] spreads isolated components across PQ
    * subspaces instead of packing them into the first one).
    */
  def householderUAtFixed(v: Seq[Long], pivot: Int,
      fixed: Seq[Int]): Seq[Long] = {
    require(pivot >= 0 && pivot < v.length,
      s"pivot $pivot out of range (0..${v.length - 1})")
    require(!fixed.contains(pivot), s"pivot $pivot is already isolated")
    require(fixed.forall(p => v(p) == 0L),
      "entries at already-isolated pivots must be zero — deflate (mask) " +
        "them before power-iterating")
    val sumSq = v.map(x => x * x).sum
    require(sumSq > 0, "zero direction has no Householder reflection")
    val l = math.floor(math.sqrt(sumSq.toDouble)).toLong
    v.zipWithIndex.map { case (x, i) =>
      if (i == pivot) x + (if (x >= 0) l else -l) else x
    }
  }

  /** Variance-balanced pivot placement: component c isolates into the
    * FIRST free slot of subspace c % m — (c % m)·(dim/m) + c/m — so a
    * product quantizer's 2^b codewords never have to code two dominant
    * directions while another subspace codes none (Ge et al. 2013's
    * variance-balancing objective, applied to the pivot positions the
    * Householder construction leaves free). Packing all components
    * into subspace 0 (sequential pivots) measurably LOSES recall past
    * k=2 at small codebooks — the audit gates keep that measured.
    */
  def balancedPivots(components: Int, dim: Int, m: Int): Seq[Int] = {
    require(m >= 1 && dim % m == 0, s"m $m must divide dim $dim")
    require(components <= dim, s"components $components > dim $dim")
    (0 until components).map(c => (c % m) * (dim / m) + c / m)
  }

  /** `components` deflated principal directions as Householder vectors
    * u₀..u_{k−1}: component 0 is [[householderU]] of the corpus's
    * [[powerDirection]]; component i power-iterates the RESIDUAL (the
    * corpus rotated by the
    * reflections learned so far, with the already-isolated dimensions
    * 0..i−1 masked to exactly 0.0 — their per-dim moment sums are then
    * exactly zero, so v_i satisfies the [[householderUAt]] pivot
    * contract by construction) and reflects it onto e_{i+1}. The
    * composed H_{k−1}∘…∘H₀ is a product of exact orthogonals, hence
    * exactly orthogonal — quantization never distorts distances, at any
    * k. Each round's rotation runs through the single-pass
    * [[graft.functions.VectorExpressions.HouseholderChain]] kernel
    * (never nested HOFs), so deriving k components costs k power chains
    * of `powerIters` one-pass iterations each.
    */
  def pcaDirectionsK(corpus: DataFrame, vecCol: String, dim: Int,
      components: Int, powerIters: Int = 4,
      pivots: Seq[Int] = Seq.empty): Seq[Seq[Long]] = {
    require(components >= 1 && components <= 8,
      s"components must be in [1, 8], got $components")
    require(dim >= components,
      s"dim $dim must be >= components $components")
    val pv = if (pivots.isEmpty) (0 until components) else pivots
    require(pv.length == components && pv.distinct.length == components &&
      pv.forall(p => p >= 0 && p < dim),
      s"pivots must be $components distinct positions in [0, $dim), got $pv")
    val us = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    for (i <- 0 until components) {
      val v =
        if (us.isEmpty) powerDirection(corpus, vecCol, dim, powerIters)
        else {
          val isolated = pv.take(i)
          val masked = corpus.select(
            transform(graft.functions.VectorExpressions.householderChain(
              col(vecCol), us.toSeq.map(_.map(_.toDouble))),
              (x, j) => when(
                isolated.map(p => j === p).reduce(_ || _), lit(0.0))
                .otherwise(x)).as("e2"))
          powerDirection(masked, "e2", dim, powerIters)
        }
      us += householderUAtFixed(v, pv(i), pv.take(i))
    }
    us.toSeq
  }

  /** Row-local unit normalization — the cosine-consistency fix for the
    * L2 ADC chain: on unit vectors ‖x−y‖² = 2−2·cos(x,y), so L2
    * nearest neighbors ARE cosine nearest neighbors and the quantizer's
    * budget stops being spent coding norm spread the metric ignores
    * (measured: on a norm-spread fixture the UN-normalized chain's
    * recall is capped by the metric mismatch itself — even EXACT L2
    * search retrieves ~10% of the cosine top-k; q_ann_cosine_audit
    * keeps that measured). Plain doubles, left-to-right fold — the
    * oracle replays it bit-exactly.
    */
  private[operators] def unitNorm(vec: Column): Column =
    graft.functions.VectorExpressions.unitNormalize(vec)

  /** Measured value of the second deflated component: one- vs
    * two-reflection PCA chains at equal budget on the same corpus, both
    * vs exact brute force — [[pcaRecallAudit]]'s discipline one rung up.
    */
  def pca2RecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384, powerIters: Int = 4): DataFrame = {
    def pcaK(components: Int): () => DataFrame = () =>
      ivfPqKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe, m,
        pqCells, iterations, maxTrainPerCell,
        rotation = Some(Rotation.Pca(dim, components, powerIters)))
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "pca1" -> pcaK(1), "pca2" -> pcaK(2))
  }

  /** The THIRD deflated component's measured value: two- vs three-
    * reflection chains at equal budget on the same corpus, both vs
    * exact brute force — [[pca2RecallAudit]]'s discipline one more rung
    * up. On a corpus with three oblique shared directions the two-
    * reflection chain leaves the third smeared across every PQ
    * subspace; the third deflation isolates it.
    */
  def pca3RecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384, powerIters: Int = 4,
      normalize: Boolean = false, balancePivots: Boolean = false): DataFrame = {
    def pcaK(components: Int): () => DataFrame = () =>
      ivfPqKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe, m,
        pqCells, iterations, maxTrainPerCell, normalize,
        Some(Rotation.Pca(dim, components, powerIters, balancePivots)))
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "pca2" -> pcaK(2), "pca3" -> pcaK(3))
  }

  /** The metric-consistency audit: the SAME plain IVF-PQ chain at the
    * SAME budget over raw vs unit-normalized vectors, both vs exact
    * cosine brute force — on a corpus with real norm spread the raw
    * chain's recall is capped by the L2↔cosine mismatch itself (its
    * quantizer spends codewords on norm differences the metric
    * ignores), and `exact_l2` pins that ceiling: even EXACT L2 search
    * misses most cosine neighbors. Normalization is the fix, measured
    * — it is what makes the learned-rotation tiers pay off at all.
    */
  def cosineRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    def pq(normalize: Boolean): () => DataFrame = () =>
      ivfPqKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe, m,
        pqCells, iterations, maxTrainPerCell, normalize)
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      // the mismatch ceiling itself: EXACT L2 top-k vs cosine top-k
      "exact_l2" -> (() => exactL2Knn(corpus, queries, vecCol, idCol, k)),
      "raw" -> pq(false), "norm" -> pq(true))
  }

  /** The SATURATION audit for the deflation loop: recall at components
    * = m−1, m, and m+1 with balanced pivots at a FIXED codebook budget,
    * all vs exact cosine brute force. At k = m every PQ subspace holds
    * exactly one isolated component (all slots used — the balanced
    * allocation's designed operating point); the (m+1)th has no free
    * subspace and must double up in one. WHETHER that extra component
    * still pays is a property of the residual's structure, so the
    * k-progression is MEASURED per corpus, never assumed: on the
    * four-direction fixture the sf0.01 decade shows the textbook peak
    * at k = m (the fifth component isolates noise into a loaded
    * subspace and recall falls), while the larger sf0.1 decade still
    * gains at k = m+1 — exactly the corpus-dependence that makes this
    * sweep, not a parameter-sheet rule, the k-selection procedure.
    */
  def pcaSaturationAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384, powerIters: Int = 4): DataFrame = {
    def pcaK(components: Int): () => DataFrame = () =>
      ivfPqKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe, m,
        pqCells, iterations, maxTrainPerCell, normalize = true,
        Some(Rotation.Pca(dim, components, powerIters, balancePivots = true)))
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k,
      lit(m).as("m"))(
      "under" -> pcaK(m - 1), "full" -> pcaK(m), "over" -> pcaK(m + 1))
  }

  /** Apply the exact orthogonal reflection H = I − 2uuᵀ/(uᵀu) row-
    * locally: x − (2(u·x)/(uᵀu))·u with u a plan-time integer literal —
    * H is EXACTLY orthogonal for any u (distances preserved to float
    * rounding), regardless of v's quantization. Zero shuffles; executed
    * by the codegen'd [[graft.functions.VectorExpressions.HouseholderChain]]
    * kernel (one pass per row — identical arithmetic to the zip_with
    * formulation it replaced, term for term).
    */
  def householderReflect(vec: Column, u: Seq[Long]): Column =
    graft.functions.VectorExpressions.householderChain(
      vec, Seq(u.map(_.toDouble)))

  /** Measured value of the PCA rotation vs the variance permutation at
    * EQUAL probe budget, both vs exact brute force — one row. On an
    * oblique-anisotropy corpus (a dominant direction shared across
    * dims) the permutation is blind — every axis variance is equal —
    * and recall_pca > recall_perm; on axis-aligned anisotropy both
    * fix it. Measured per corpus, never assumed.
    */
  def pcaRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384, powerIters: Int = 4): DataFrame = {
    def pq(rotation: Rotation): () => DataFrame = () =>
      ivfPqKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe, m,
        pqCells, iterations, maxTrainPerCell, rotation = Some(rotation))
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "perm" -> pq(Rotation.VarPerm(dim)),
      "pca" -> pq(Rotation.Pca(dim, powerIters = powerIters)))
  }

  /** Measured-recall comparison of the OPQ-rotated IVF-PQ tier against
    * the plain one at EQUAL probe budget, both vs exact brute force —
    * one row. The rotation's value is a property of the corpus's
    * covariance structure (≈0 on an isotropic corpus, positive on
    * correlated/anisotropic ones), so it is MEASURED per corpus, never
    * assumed ([[annRecallAudit]] discipline).
    */
  def opqRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    def pq(rotation: Option[Rotation]): () => DataFrame = () =>
      ivfPqKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe, m,
        pqCells, iterations, maxTrainPerCell, rotation = rotation)
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "plain" -> pq(None), "opq" -> pq(Some(Rotation.Hadamard(dim))))
  }

  /** Measured recall audit of the IVF tier vs exact brute force — the
    * `q_dedup_lsh_audit` discipline applied to ANN: run BOTH detectors
    * end to end over the same corpus/queries and report one row
    * (n_queries, k, n_hits, recall_milli) where `n_hits` is the summed
    * per-query top-k intersection and `recall_milli = hits·1000 div
    * (k·|Q|)`. This is the number a production retrieval stack needs
    * before trusting `nProbe`: IVF recall depends on the data's cluster
    * structure, so it must be MEASURED per corpus, not assumed from the
    * parameter sheet. Runs on a sampled query set at scale (the brute
    * side is one broadcast-query scan — |Q|·N dot products, fine for
    * audit-sized |Q|).
    */
  def annRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "" -> (() => ivfKnn(corpus, queries, vecCol, idCol, k,
        nCells, nProbe, iterations, maxTrainPerCell)))

  /** Graph-walk ANN (NSW-lite): deterministic beam search over a
    * within-cell k-NN graph — the graph tier of the ANN family, kept
    * exactly oracle-replayable where HNSW's insert-order-dependent
    * construction is not.
    *
    * Build (deterministic, batch): IVF coarse cells (the bit-exact
    * [[trainCentroids]] chain), then per node the `degree` most-cosine-
    * similar SAME-CELL neighbors as directed edges (cell-local
    * self-join, bounded-heap top-degree, nid-asc ties), plus per cell
    * `seedsPerCell` entry points nearest the centroid. Cross-cell
    * connectivity comes from probing: a query seeds its beam from its
    * `nProbe` nearest cells' entry points.
    *
    * Search: `hops` rounds of frontier expansion — beam ∪ beam's edge
    * targets, exact-cosine scored, top-`beamWidth` per query (sim desc,
    * nid asc) — then top-k from the final beam (self-matches excluded
    * at output only; the query's own node is a useful hub mid-walk).
    *
    * Scale shape vs [[ivfKnn]]: a probe SCANS its whole cell
    * (N/nCells·nProbe candidates per query); the walk touches
    * ≤ beamWidth·(degree+1) candidates per hop REGARDLESS of cell size
    * — the win grows with corpus size. Build cost is BOUNDED: edges are
    * computed against a ≤ `maxEdgeCandidatesPerCell` deterministic
    * per-cell candidate pool (the [[trainCentroids]] splitmix64
    * top-sample discipline), so the candidate-pair count is
    * ≤ |corpus| · cap — linear in the corpus at fixed cap — never the
    * unbounded Σ|cell|² self-join a skewed or under-partitioned cell
    * would otherwise produce. Recall impact of a binding cap is
    * MEASURED, not assumed ([[graphRecallAudit]]). Per hop: two
    * broadcast joins (beam×edges, candidates×vectors) — the
    * corpus-sized sides never shuffle.
    *
    * Cross-cell long-range edges (`crossCells`/`degreeCross`, off by
    * default): NSW's long-range links, deterministically — each node
    * also gets its `degreeCross` most-similar targets inside its
    * `crossCells` nearest OTHER cells (centroid-routed, candidates from
    * the same bounded pools). Without them, cross-cell connectivity
    * exists only through probe seeding: a query whose true neighbors
    * live in a cell its probes missed can never walk to them.
    */
  def graphKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      degree: Int = 4, beamWidth: Int = 8, hops: Int = 2,
      seedsPerCell: Int = 2, iterations: Int = 2,
      maxTrainPerCell: Int = 16384,
      maxEdgeCandidatesPerCell: Int = 16384,
      crossCells: Int = 0, degreeCross: Int = 0): DataFrame = {
    val (cents, nodes, edges, seeds, _) = graphPieces(corpus, vecCol, idCol,
      nCells, degree, seedsPerCell, iterations, maxTrainPerCell,
      maxEdgeCandidatesPerCell, crossCells, degreeCross)
    graphWalk(cents, nodes, edges, seeds, queries, vecCol, idCol,
      k, nProbe, beamWidth, hops)
  }

  /** The bounded per-cell edge-candidate pool: the
    * `maxEdgeCandidatesPerCell` members of each cell with the largest
    * splitmix64(id) — `trainCentroids`' `maxTrainPerCell` sampling
    * discipline (bounded heap, hash-as-double desc, id-asc ties;
    * map-side partials, so a hot cell never materializes its membership
    * in any buffer). When the cap exceeds the cell size the pool IS the
    * cell and edge construction is unchanged; when it binds, edges are
    * computed against a uniform deterministic sample — exactly
    * replayable by the oracle either way.
    */
  private[operators] def edgeCandidatePool(
      assigned: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"maxEdgeCandidatesPerCell must be >= 1, got $cap")
    assigned
      .withColumn("hk", Sketches.splitmixLong(col("id")).cast("double"))
      .groupBy(col("cell"))
      .agg(BoundedTopK.topK(
        struct(col("hk"), col("id"), col("e"), col("nrm")), cap).as("top"))
      .select(col("cell"), explode(col("top")).as("t"))
      .select(col("cell"), col("t.id").as("dst"),
        col("t.e").as("de"), col("t.nrm").as("dn"))
  }

  /** The graph index's four tables: (centroids (cell, ce), nodes (cell,
    * nid, ne, nn), edges (src, dst), seeds (cell, nid)) — shared by the
    * in-memory walk and the persisted-index build, so the two paths are
    * identical by construction. The fifth element releases the interim
    * caches: EAGER consumers (buildGraphIndex) call it after their
    * actions; the lazy walk path cannot (its result still reads the
    * cached frames) and keeps them for the session — the trainCentroids
    * cache discipline.
    */
  private def graphPieces(
      corpus: DataFrame, vecCol: String, idCol: String,
      nCells: Int, degree: Int, seedsPerCell: Int, iterations: Int,
      maxTrainPerCell: Int, maxEdgeCandidatesPerCell: Int,
      crossCells: Int, degreeCross: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, () => Unit) = {
    require((crossCells == 0) == (degreeCross == 0),
      s"crossCells ($crossCells) and degreeCross ($degreeCross) must be " +
        "enabled together")
    val cents = trainCentroids(corpus, vecCol, idCol, nCells, iterations,
      maxTrainPerCell)
    val assigned = assignCells(prep(corpus, vecCol, idCol), cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = assigned.select(col("cell"), col("id").as("nid"),
      col("e").as("ne"), col("nrm").as("nn"))

    // ---- bounded edge-candidate pool (shared by within-cell and
    // cross-cell edges): candidate pairs ≤ |corpus| · cap, never Σ s² ----
    val pool = edgeCandidatePool(assigned, maxEdgeCandidatesPerCell)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- within-cell top-degree cosine edges ----
    val src = assigned.select(col("cell"), col("id").as("src"),
      col("e").as("se"), col("nrm").as("sn"))
    val within = src.join(pool, Seq("cell")).where(col("src") =!= col("dst"))
      .select(col("src"),
        (dot(col("se"), col("de")) / (col("sn") * col("dn"))).as("sim"),
        col("dst"))
      .groupBy(col("src"))
      .agg(graft.functions.BoundedTopK.topK(
        struct(col("sim"), col("dst")), degree).as("top"))
      .select(col("src"), explode(col("top")).as("t"))
      .select(col("src"), col("t.dst").as("dst"))

    // ---- cross-cell long-range edges (NSW's long links, determinized):
    // per node its `crossCells` nearest OTHER cells by centroid distance
    // (d2 asc, cell asc — probe routing applied to corpus nodes), then
    // the `degreeCross` most-similar members of those cells' bounded
    // pools. Candidate pairs ≤ |corpus| · crossCells · cap. ----
    val edgesAll =
      if (degreeCross == 0) within
      else {
        // row-local: each node's crossCells nearest OTHER cells come
        // from the broadcast centroid array ((d2 asc, cell asc) — the
        // exact BoundedTopK(-d2, xcell) order), no per-node shuffle
        val xsel = assigned
          .crossJoin(broadcast(centroidArray(cents)))
          .select(col("id").as("src"), col("e").as("se"),
            col("nrm").as("sn"),
            explode(nearestCellsExpr(col("e"), crossCells,
              excludeCell = Some(col("cell"))).getField("cell")).as("cell"))
        val cross = xsel.join(pool, Seq("cell"))
          .select(col("src"),
            (dot(col("se"), col("de")) / (col("sn") * col("dn"))).as("sim"),
            col("dst"))
          .groupBy(col("src"))
          .agg(graft.functions.BoundedTopK.topK(
            struct(col("sim"), col("dst")), degreeCross).as("top"))
          .select(col("src"), explode(col("top")).as("t"))
          .select(col("src"), col("t.dst").as("dst"))
        within.unionByName(cross)
      }
    val edges = edgesAll
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- per-cell entry points (nearest the centroid; score is -d2 so
    // the shared heap's score-desc order means d2 asc, id asc) ----
    val seeds = assigned.join(broadcast(cents), Seq("cell"))
      .withColumn("d2", aggregate(zip_with(col("e"), col("ce"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
      .groupBy(col("cell"))
      .agg(graft.functions.BoundedTopK.topK(
        struct((lit(0.0) - col("d2")).as("nd2"), col("id")), seedsPerCell).as("top"))
      .select(col("cell"), explode(col("top")).as("t"))
      .select(col("cell"), col("t.id").as("nid"))
    (cents, nodes, edges, seeds,
      () => { assigned.unpersist(); pool.unpersist(); edges.unpersist(); () })
  }

  /** Persist the graph index as four kv tables under `path` — train
    * once, search many ([[buildIvfIndex]] discipline). Doubles
    * round-trip parquet exactly, so [[graphKnnIndexed]] answers
    * bit-identically to [[graphKnn]] at the same search knobs.
    */
  def buildGraphIndex(
      corpus: DataFrame, vecCol: String, idCol: String, path: String,
      nCells: Int = 16, degree: Int = 4, seedsPerCell: Int = 2,
      iterations: Int = 2, maxTrainPerCell: Int = 16384,
      maxEdgeCandidatesPerCell: Int = 16384,
      crossCells: Int = 0, degreeCross: Int = 0,
      degreeTop: Int = 0, degreeCells: Int = 0,
      normalize: Boolean = false): Unit = {
    require(degreeTop >= 0,
      s"degreeTop must be >= 0 (0 = no persisted top layer), got $degreeTop")
    require(degreeCells >= 0,
      s"degreeCells must be >= 0 (0 = no persisted cell graph), got $degreeCells")
    // cosine-consistent layout (the buildIvfIndex normalize knob): cells
    // AND edges form over unit vectors, so both the routing geometry and
    // the walk's neighborhoods follow direction, not magnitude
    val base = if (normalize) unitNormed(corpus, vecCol, idCol) else corpus
    val (cents, nodes, edges, seeds, release) = graphPieces(base, vecCol,
      idCol, nCells, degree, seedsPerCell, iterations, maxTrainPerCell,
      maxEdgeCandidatesPerCell, crossCells, degreeCross)
    try {
      cents.write.format("kv").option("path", s"$path/centroids")
        .mode("overwrite").save()
      nodes.write.format("kv").option("path", s"$path/cells")
        .mode("overwrite").save()
      edges.write.format("kv").option("path", s"$path/edges")
        .mode("overwrite").save()
      seeds.write.format("kv").option("path", s"$path/seeds")
        .mode("overwrite").save()
      // hierarchical-entry top layer, persisted train-once/search-many
      // (the buildIvfIndex discipline): seeds are build-time-fixed, so
      // the top-layer kNN graph over them is append-stable and can be
      // stored beside the other tables instead of being refolded
      // (≤ |seeds|·cap work) on every hier search
      if (degreeTop > 0)
        topLayer(nodes, seeds, degreeTop)._2
          .write.format("kv").option("path", s"$path/top_edges")
          .mode("overwrite").save()
      // the two-layer tier's coarse routing graph, same discipline:
      // centroids are build-time-fixed, so the cell graph is
      // append-stable too
      if (degreeCells > 0)
        cellLayer(cents, degreeCells)
          .write.format("kv").option("path", s"$path/cell_edges")
          .mode("overwrite").save()
      // build-knob metadata: appends read the CROSS-edge knobs from here
      // so an index built with long-range links keeps giving them to
      // appended nodes (without it, appended nodes would only ever link
      // within their cell — a silent connectivity downgrade per append)
      val spark = corpus.sparkSession
      import spark.implicits._
      Seq((degree.toLong, seedsPerCell.toLong, nCells.toLong,
        maxEdgeCandidatesPerCell.toLong, crossCells.toLong,
        degreeCross.toLong, degreeTop.toLong, degreeCells.toLong,
        if (normalize) 1L else 0L))
        .toDF("degree", "seeds_per_cell", "n_cells",
          "max_edge_candidates", "cross_cells", "degree_cross",
          "degree_top", "degree_cells", "normalize")
        .write.format("kv").option("path", s"$path/knobs")
        .mode("overwrite").save()
    } finally release()
  }

  /** Incremental graph-index maintenance — NSW's bidirectional insert,
    * batch-shaped: assign NEW vectors against the persisted centroids
    * (no retraining), give each its top-`degree` outgoing edges within
    * its cell (over existing + new nodes), and append the REVERSE
    * edges too, so walks through the old graph can reach the new nodes
    * (without them a new node is only findable from its own outgoing
    * links — never as a walk target). Centroids and entry points stay
    * fixed; periodic re-clustering is [[buildGraphIndex]] again.
    *
    * Crash-safe by jointedness: edges land before cells, and a dangling
    * edge (target not yet in the cells table) silently drops at the
    * walk's scoring join; duplicate EDGES from a retried append are
    * absorbed by the walk's candidate dedup, duplicate CELLS rows (a
    * retry after a partially committed cells write) by the walk's
    * per-nid node dedup. Reverse edges can push an old node's degree
    * past `degree` — that only widens its frontier; fold it back with
    * [[graphPruneEdges]] at the next maintenance window before hub
    * nodes inflate per-hop walk cost.
    *
    * The dst side is the same bounded per-cell candidate pool as the
    * build ([[edgeCandidatePool]]): per new vector ≤ cap candidates,
    * so an append into a giant cell stays O(batch · cap).
    *
    * Build knobs come from the index's `knobs` table (written by
    * [[buildGraphIndex]]): an index built with long-range links gives
    * appended nodes the same `degreeCross` links into their
    * `crossCells` nearest OTHER cells (plus reverse links), so append
    * waves never silently downgrade cross-cell connectivity — and the
    * `degree`/`maxEdgeCandidatesPerCell` parameters default (at the 0
    * sentinel) to the BUILD's values from the same table, so appending
    * to an index built with degree=8 without re-passing the knob never
    * silently gives new nodes thinner edge lists. Indexes without a
    * knobs table (pre-meta layouts) append within-cell only with the
    * literal fallbacks (4, 16384).
    *
    * Maintenance cost is O(batch), not O(index): the dst candidate
    * pool is built ONLY over the cells this batch touches (the batch's
    * own cells plus its cross-edge target cells — a broadcast semi-join
    * on the cells table), so the pool aggregation's input tracks the
    * append's cell membership, never the whole corpus. Duplicate node
    * rows left by a crash-retried prior append dedup before the pool,
    * so they neither double-count against the cap nor seat two
    * identical (sim, dst) candidates in the top-degree heap. To also
    * prune the semi-join's file I/O at scale, keep the cells table
    * clustered by cell ([[KvMerge.rewrite]] with `clusterBy=cell` in
    * the maintenance window) — the scan's runtime filter then skips
    * whole files of untouched cells.
    */
  def graphIndexAppend(newVecs: DataFrame, vecCol: String, idCol: String,
      path: String, degree: Int = 0,
      maxEdgeCandidatesPerCell: Int = 0): Unit = {
    val spark = newVecs.sparkSession
    val (deg, cap, crossCells, degreeCross) =
      appendKnobs(spark, path, degree, maxEdgeCandidatesPerCell)
    def t(n: String) = spark.read.format("kv").option("path", s"$path/$n").load()
    val base =
      if (readNormalizeKnob(spark, path)) unitNormed(newVecs, vecCol, idCol)
      else newVecs
    val newNodes = assignCells(prep(base, vecCol, idCol), t("centroids"))
      .select(col("cell"), col("id").as("nid"), col("e").as("ne"),
        col("nrm").as("nn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      appendEdgesFor(spark, path, newNodes, deg, cap, crossCells, degreeCross)
      newNodes.select(col("cell"), col("nid"), col("ne"), col("nn"))
        .write.format("kv").option("path", s"$path/cells").mode("append").save()
    } finally { newNodes.unpersist(); () }
  }

  /** Resolve the append-time build knobs: explicit parameter > knobs
    * table (the build's values) > literal fallback — the 0-sentinel
    * contract shared by [[graphIndexAppend]], [[graphFinalizeAppend]]
    * and [[graphPruneEdges]].
    */
  private def appendKnobs(spark: org.apache.spark.sql.SparkSession,
      path: String, degree: Int, maxEdgeCandidatesPerCell: Int)
      : (Int, Int, Int, Int) = {
    require(degree >= 0, s"degree must be >= 0 (0 = from knobs), got $degree")
    require(maxEdgeCandidatesPerCell >= 0,
      "maxEdgeCandidatesPerCell must be >= 0 (0 = from knobs), got " +
        maxEdgeCandidatesPerCell)
    val knobs =
      if (graft.sources.ParquetIO.listFiles(s"$path/knobs").isEmpty) None
      else spark.read.format("kv").option("path", s"$path/knobs").load()
        .collect().headOption
    def knob(name: String, explicit: Int, fallback: Int): Int =
      if (explicit > 0) explicit
      else knobs.map(_.getAs[Long](name).toInt).getOrElse(fallback)
    val deg = knob("degree", degree, 4)
    val cap = knob("max_edge_candidates", maxEdgeCandidatesPerCell, 16384)
    val (crossCells, degreeCross) = knobs
      .map(r => (r.getAs[Long]("cross_cells").toInt,
        r.getAs[Long]("degree_cross").toInt))
      .getOrElse((0, 0))
    (deg, cap, crossCells, degreeCross)
  }

  /** The append EDGE pass shared by [[graphIndexAppend]] (one-shot) and
    * [[graphFinalizeAppend]] (streaming drain): computes `newNodes`'
    * forward within-cell edges, their cross-cell long-range edges when
    * the build carries them, and the reverse edges, over the bounded
    * final-state candidate pool — then APPENDS them to the edges table.
    * `newNodes` must be persisted by the caller (it is consumed by
    * several jobs).
    */
  private def appendEdgesFor(spark: org.apache.spark.sql.SparkSession,
      path: String, newNodes: DataFrame, deg: Int, cap: Int,
      crossCells: Int, degreeCross: Int): Unit = {
    def t(n: String) = spark.read.format("kv").option("path", s"$path/$n").load()
    val cents = t("centroids")
    // cross-cell target selection FIRST: its target cells join the
    // batch's own cells to form the touched set that bounds the pool
    val xselOpt =
      if (degreeCross == 0) None
      else Some(newNodes
        .crossJoin(broadcast(centroidArray(cents)))
        .select(col("nid").as("src"), col("ne").as("se"),
          col("nn").as("sn"),
          explode(nearestCellsExpr(col("ne"), crossCells,
            excludeCell = Some(col("cell"))).getField("cell")).as("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val touched = xselOpt
      .map(x => newNodes.select(col("cell"))
        .unionByName(x.select(col("cell"))))
      .getOrElse(newNodes.select(col("cell")))
      .distinct()
    val src = newNodes.select(col("cell"), col("nid").as("src"),
      col("ne").as("se"), col("nn").as("sn"))
    val dst = edgeCandidatePool(
      appendCandidateMembers(t("cells"), newNodes, touched)
        .select(col("nid").as("id"), col("cell"),
          col("ne").as("e"), col("nn").as("nrm")),
      cap)
    def topEdges(cand: DataFrame, deg: Int): DataFrame = cand
      .select(col("src"),
        (dot(col("se"), col("de")) / (col("sn") * col("dn"))).as("sim"),
        col("dst"))
      .groupBy(col("src"))
      .agg(graft.functions.BoundedTopK.topK(
        struct(col("sim"), col("dst")), deg).as("top"))
      .select(col("src"), explode(col("top")).as("t"))
      .select(col("src"), col("t.dst").as("dst"))
    val fwd = topEdges(
      broadcast(src).join(dst, Seq("cell")).where(col("src") =!= col("dst")),
      deg)
    val cross = xselOpt
      .map(xsel => topEdges(broadcast(xsel).join(dst, Seq("cell")), degreeCross))
      .getOrElse(fwd.limit(0))
    val outgoing = fwd.unionByName(cross)
    val rev = outgoing.select(col("dst").as("src"), col("src").as("dst"))
    try {
      outgoing.unionByName(rev).write.format("kv")
        .option("path", s"$path/edges").mode("append").save()
    } finally {
      xselOpt.foreach(_.unpersist()); ()
    }
  }

  /** Streaming graph-index maintenance, NODE phase — the
    * batching-independent half of [[graphIndexAppend]], safe to call
    * per micro-batch from `foreachBatch`: assign the batch against the
    * persisted centroids (a per-row map, so the resulting node rows do
    * not depend on how the stream was chopped into batches) and append
    * them to the `cells` table, recording their ids in a `pending`
    * table. NO edges are computed here: the build's per-wave top-degree
    * edge fold sees only its wave's pool, so edges computed per
    * micro-batch would depend on trigger boundaries — instead ONE
    * deterministic edge pass over the whole drained set runs at
    * [[graphFinalizeAppend]], keyed by final state. Until then the
    * drained nodes are invisible to walks (reachable only through
    * edges/seeds), never wrong.
    *
    * Crash contract: `pending` lands before `cells`, so every committed
    * node row is covered by a pending id; a foreachBatch retry
    * re-appends both, and the duplicates dedup by nid at the finalize
    * (and at every walk).
    */
  def graphAppendNodes(newVecs: DataFrame, vecCol: String, idCol: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    def t(n: String) = spark.read.format("kv").option("path", s"$path/$n").load()
    val base =
      if (readNormalizeKnob(spark, path)) unitNormed(newVecs, vecCol, idCol)
      else newVecs
    val newNodes = assignCells(prep(base, vecCol, idCol), t("centroids"))
      .select(col("cell"), col("id").as("nid"), col("e").as("ne"),
        col("nrm").as("nn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      newNodes.select(col("cell"), col("nid")).write.format("kv")
        .option("path", s"$path/pending").mode("append").save()
      newNodes.write.format("kv")
        .option("path", s"$path/cells").mode("append").save()
    } finally { newNodes.unpersist(); () }
  }

  /** Streaming graph-index maintenance, EDGE phase: one deterministic
    * [[graphIndexAppend]] edge pass over EVERYTHING [[graphAppendNodes]]
    * drained since the last finalize — the pending set joins its node
    * rows back from the cells table (final state, not wave order), so
    * the finished index is bit-identical to a single-batch
    * `graphIndexAppend` of the union, no matter how the stream was
    * chopped into micro-batches (pinned by the maintenance spec).
    * Build knobs resolve from the knobs table under the same 0-sentinel
    * contract as the one-shot append. A finalize with nothing pending
    * is a no-op. Crash contract: edges land before the pending clear; a
    * retried finalize duplicates edge rows, which the walks' candidate
    * dedup absorbs and the next [[graphPruneEdges]] removes.
    */
  def graphFinalizeAppend(spark: org.apache.spark.sql.SparkSession,
      path: String, degree: Int = 0,
      maxEdgeCandidatesPerCell: Int = 0): Unit = {
    if (graft.sources.ParquetIO.listFiles(s"$path/pending").isEmpty) return
    val (deg, cap, crossCells, degreeCross) =
      appendKnobs(spark, path, degree, maxEdgeCandidatesPerCell)
    def t(n: String) = spark.read.format("kv").option("path", s"$path/$n").load()
    // no broadcast hint on the pending set: a long drain can accumulate
    // an arbitrarily large pending table, so the planner (AQE) decides —
    // small drains broadcast, big ones shuffle
    val newNodes = t("cells")
      .join(t("pending").select(col("nid")).distinct(), Seq("nid"), "left_semi")
      .dropDuplicates("nid")
      .select(col("cell"), col("nid"), col("ne"), col("nn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      appendEdgesFor(spark, path, newNodes, deg, cap, crossCells, degreeCross)
    } finally { newNodes.unpersist(); () }
    graft.sources.ParquetIO.deletePath(s"$path/pending")
  }

  /** The O(batch) dst-pool input for [[graphIndexAppend]]: existing ∪
    * new node rows restricted (broadcast semi-join) to the append's
    * touched cells, deduped by nid — DETERMINISTICALLY: an existing row
    * whose nid also appears in the batch loses to the batch's row (a
    * broadcast anti-join on the batch's nids), so re-appending an id
    * with a changed vector always pools the NEW embedding instead of
    * letting `dropDuplicates` pick one arbitrarily. Within each leg,
    * duplicate nids carry identical rows (crash-retried appends), so
    * the per-leg dedup is order-free. NOTE: re-appending an existing id
    * is still not an update — the cells table ends up with both rows
    * and the WALK's per-nid dedup picks arbitrarily; use a rebuild (or
    * row-level DML on the cells table) to change a vector. The pool
    * aggregation downstream reads rows bounded by touched-cell
    * MEMBERSHIP, never table size — pinned by the maintenance spec on
    * a 1-of-16-cells append.
    */
  private[operators] def appendCandidateMembers(
      existing: DataFrame, newNodes: DataFrame,
      touched: DataFrame): DataFrame = {
    val newDedup = newNodes
      .join(broadcast(touched), Seq("cell"), "left_semi")
      .dropDuplicates("nid")
    // no broadcast hint on the batch's nid set: one-shot appends are
    // batch-sized, but a streaming finalize can pass an arbitrarily
    // large drained set — the planner (AQE) picks broadcast when small
    existing
      .join(broadcast(touched), Seq("cell"), "left_semi")
      .join(newNodes.select(col("nid")), Seq("nid"), "left_anti")
      .dropDuplicates("nid")
      .unionByName(newDedup)
  }

  /** Maintenance for the persisted graph index: fold every node's
    * out-edge list back to its `degree` most-similar targets (sim desc,
    * dst asc — the build's bounded-heap order). [[graphIndexAppend]]'s
    * reverse edges grow hub nodes' degree unboundedly across append
    * waves, inflating per-hop walk cost (≤ beamWidth·(maxDegree+1));
    * this re-establishes the bound — the `rebuildIndexes` discipline
    * applied to the graph tier, run in the same maintenance window.
    * Similarities are recomputed from the co-located cells table (the
    * vectors are already there), retry-duplicated edge rows dedup, and
    * dangling edges from a crashed append (src or dst missing from the
    * cells table) heal by dropping at the join. Crash-safe via the
    * shared backup-aside swap ([[KvMerge.writeAndSwap]]).
    *
    * On an index built with cross-cell long-range links the prune
    * mirrors the BUILD's two budgets (read from the knobs table):
    * same-cell edges fold to top-`degree`, cross-cell edges fold
    * SEPARATELY to top-`degree_cross` — otherwise the deliberately
    * lower-similarity long-range links would always lose the single
    * shared rank to within-cell neighbors and maintenance would
    * silently disconnect the cells the links were added to bridge.
    */
  def graphPruneEdges(spark: org.apache.spark.sql.SparkSession,
      path: String, degree: Int = 0): Unit = {
    require(degree >= 0, s"degree must be >= 0 (0 = from knobs), got $degree")
    val edgesPath = s"$path/edges"
    KvMerge.recoverSwap(edgesPath)
    def t(n: String) = spark.read.format("kv").option("path", s"$path/$n").load()
    // same 0-sentinel discipline as graphIndexAppend: the same-cell
    // degree resolves from the BUILD's knobs table unless explicitly
    // overridden, so a maintenance call without the knob never silently
    // prunes with a budget different from the one the index was built
    // with (pre-meta indexes fall back to the explicit value / literal 4)
    val knobRow =
      if (graft.sources.ParquetIO.listFiles(s"$path/knobs").isEmpty) None
      else t("knobs").collect().headOption
    val deg =
      if (degree > 0) degree
      else knobRow.map(_.getAs[Long]("degree").toInt).getOrElse(4)
    require(deg >= 1, s"resolved degree must be >= 1, got $deg")
    val degreeCross =
      knobRow.map(_.getAs[Long]("degree_cross").toInt).getOrElse(0)
    val nodes = t("cells").select(col("nid"), col("cell"), col("ne"), col("nn"))
      .dropDuplicates("nid")
    val scored = t("edges").dropDuplicates("src", "dst")
      .join(nodes.select(col("nid").as("src"), col("cell").as("scell"),
        col("ne").as("se"), col("nn").as("sn")), Seq("src"))
      .join(nodes.select(col("nid").as("dst"), col("cell").as("dcell"),
        col("ne").as("de"), col("nn").as("dn")), Seq("dst"))
      .select(col("src"),
        (dot(col("se"), col("de")) / (col("sn") * col("dn"))).as("sim"),
        col("dst"), (col("scell") === col("dcell")).as("same_cell"))
    def fold(edges: DataFrame, deg: Int): DataFrame = edges
      .groupBy(col("src"))
      .agg(graft.functions.BoundedTopK.topK(
        struct(col("sim"), col("dst")), deg).as("top"))
      .select(col("src"), explode(col("top")).as("t"))
      .select(col("src"), col("t.dst").as("dst"))
    val pruned =
      if (degreeCross == 0) fold(scored, deg)
      else fold(scored.where(col("same_cell")), deg)
        .unionByName(fold(scored.where(!col("same_cell")), degreeCross))
    KvMerge.writeAndSwap(pruned, edgesPath)
  }

  /** Graph walk against a persisted index — no rebuild: the walk reads
    * the broadcast-sized centroid/seed tables and only the beam's edge
    * lists and candidate vectors.
    */
  def graphKnnIndexed(
      queries: DataFrame, vecCol: String, idCol: String, path: String,
      k: Int, nProbe: Int = 4, beamWidth: Int = 8, hops: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    def t(n: String) = spark.read.format("kv").option("path", s"$path/$n").load()
    val qBase =
      if (readNormalizeKnob(spark, path)) unitNormed(queries, vecCol, idCol)
      else queries
    graphWalk(t("centroids"), t("cells"), t("edges"), t("seeds"),
      qBase, vecCol, idCol, k, nProbe, beamWidth, hops)
  }

  private def graphWalk(
      cents: DataFrame, nodesWithCell: DataFrame, edges: DataFrame,
      seeds: DataFrame, queries: DataFrame, vecCol: String, idCol: String,
      k: Int, nProbe: Int, beamWidth: Int, hops: Int): DataFrame = {
    require(beamWidth >= k, s"beamWidth $beamWidth must be >= k $k")
    // dedup by nid: a graphIndexAppend retried after a partially
    // committed cells write can leave a node's row twice in the table;
    // candidate dedup alone would still score both copies and let one
    // nid occupy two beam/top-k slots
    val nodes = nodesWithCell.select(col("nid"), col("ne"), col("nn"))
      .dropDuplicates("nid")
    val probes = prep(queries, vecCol, idCol)
      .crossJoin(broadcast(centroidArray(cents)))
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"),
        explode(nearestCellsExpr(col("e"), nProbe).getField("cell"))
          .as("cell"))
    val seeded = broadcast(probes).join(seeds, Seq("cell"))
      .select(col("qid"), col("qe"), col("qn"), col("nid"))
      .dropDuplicates("qid", "nid")
    val beam = walkFrom(nodes, edges, seeded, beamWidth, hops)
    topKPerQuery(
      beam.where(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), col("sim")), k)
  }

  /** The beam loop shared by the base walk and the hierarchical top
    * layer: score the entry rows (qid, qe, qn, nid), keep the
    * per-query top-`beamWidth`, then `hops` rounds of (beam ∪ edge
    * expansion) → dedup → score → top-beam. Returns the final beam
    * (qid, qe, qn, nid, sim).
    */
  private def walkFrom(nodes: DataFrame, edges: DataFrame,
      seeded: DataFrame, beamWidth: Int, hops: Int): DataFrame = {
    def score(cand: DataFrame): DataFrame = // (qid, qe, qn, nid) -> + sim
      broadcast(cand).join(nodes, Seq("nid"))
        .select(col("qid"), col("qe"), col("qn"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim"))

    def topBeam(scored: DataFrame): DataFrame =
      scored.groupBy(col("qid"))
        .agg(graft.functions.BoundedTopK.topK(
          struct(col("sim"), col("nid")), beamWidth).as("top"),
          first(col("qe")).as("qe"), first(col("qn")).as("qn"))
        .select(col("qid"), col("qe"), col("qn"), explode(col("top")).as("t"))
        .select(col("qid"), col("qe"), col("qn"),
          col("t.nid").as("nid"), col("t.sim").as("sim"))

    // each hop references the beam TWICE (kept candidates + frontier
    // expansion), so an unbroken lineage re-evaluates the whole
    // upstream 2^hops times — at hops=3 that re-planned and re-read
    // the index tables ~8x per consumer (measured 74 s on the indexed
    // gate). The beam is bounded at |Q|·beamWidth rows: an eager
    // localCheckpoint per hop cuts the lineage and makes every hop two
    // bounded jobs, keeping the walk linear in `hops`.
    var beam = topBeam(score(seeded)).localCheckpoint()
    var hop = 0
    while (hop < hops) {
      val expanded = broadcast(beam
        .select(col("qid"), col("qe"), col("qn"), col("nid").as("src")))
        .join(edges, Seq("src"))
        .select(col("qid"), col("qe"), col("qn"), col("dst").as("nid"))
      val cand = beam.select(col("qid"), col("qe"), col("qn"), col("nid"))
        .unionByName(expanded)
        .dropDuplicates("qid", "nid")
      beam = topBeam(score(cand)).localCheckpoint()
      hop += 1
    }
    beam
  }

  /** The hierarchical top layer (HNSW's upper levels, determinized to
    * ONE coarse level): a kNN graph over the SEED nodes only. Entry
    * routing walks this graph from a fixed global entry (the min-nid
    * seed — HNSW's fixed entry point) instead of scoring the query
    * against every centroid, so per-query routing cost is
    * O(entryBeam · degreeTop · hopsTop) — independent of nCells, where
    * flat probing pays O(nCells) centroid distances per query. The
    * seed table is broadcast-sized by construction (nCells ·
    * seedsPerCell rows); its all-pairs edge build is bounded by
    * `maxTopCandidates` (the [[edgeCandidatePool]] splitmix64
    * top-sample, one global pool), so top-layer build cost is
    * ≤ |seeds| · cap, never |seeds]².
    *
    * Returns (seed nodes (nid, ne, nn), top edges (src, dst)).
    */
  private[operators] def topLayer(nodes: DataFrame, seeds: DataFrame,
      degreeTop: Int, maxTopCandidates: Int = 16384)
      : (DataFrame, DataFrame) = {
    require(degreeTop >= 1, s"degreeTop must be >= 1, got $degreeTop")
    val seedN = seedNodes(nodes, seeds)
    val pool = edgeCandidatePool(
      seedN.select(col("nid").as("id"), lit(0L).as("cell"),
        col("ne").as("e"), col("nn").as("nrm")),
      maxTopCandidates)
      .select(col("dst"), col("de"), col("dn"))
    val topEdges = seedN
      .select(col("nid").as("src"), col("ne").as("se"), col("nn").as("sn"))
      .crossJoin(broadcast(pool))
      .where(col("src") =!= col("dst"))
      .select(col("src"),
        (dot(col("se"), col("de")) / (col("sn") * col("dn"))).as("sim"),
        col("dst"))
      .groupBy(col("src"))
      .agg(graft.functions.BoundedTopK.topK(
        struct(col("sim"), col("dst")), degreeTop).as("top"))
      .select(col("src"), explode(col("top")).as("t"))
      .select(col("src"), col("t.dst").as("dst"))
    (seedN, topEdges)
  }

  /** The seed NODE rows (nid, ne, nn) of a graph index — the broadcast-
    * sized join of the seed ids to their vectors, shared by the
    * top-layer build and the persisted-top-layer read path.
    */
  private def seedNodes(nodes: DataFrame, seeds: DataFrame): DataFrame =
    seeds.select(col("nid")).distinct()
      .join(nodes.select(col("nid"), col("ne"), col("nn"))
        .dropDuplicates("nid"), Seq("nid"))

  /** The hierarchical walk: route through the top layer from the fixed
    * min-nid entry seed (beam `entryBeam`, `hopsTop` rounds over the
    * seed graph), then run the standard base walk seeded by the final
    * top-layer beam — `entryBeam` query-adaptive entry nodes instead of
    * nProbe · seedsPerCell per-cell quota seeds.
    */
  private def hierWalk(
      nodesWithCell: DataFrame, edges: DataFrame,
      seedN: DataFrame, topEdges: DataFrame,
      queries: DataFrame, vecCol: String, idCol: String,
      k: Int, entryBeam: Int, hopsTop: Int,
      beamWidth: Int, hops: Int): DataFrame = {
    require(beamWidth >= k, s"beamWidth $beamWidth must be >= k $k")
    require(entryBeam >= 1, s"entryBeam must be >= 1, got $entryBeam")
    require(hopsTop >= 0, s"hopsTop must be >= 0, got $hopsTop")
    val nodes = nodesWithCell.select(col("nid"), col("ne"), col("nn"))
      .dropDuplicates("nid")
    val entry = seedN.agg(min(col("nid")).as("nid"))
    val seeded0 = prep(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
      .crossJoin(broadcast(entry))
    val routed = walkFrom(nodes, topEdges, seeded0, entryBeam, hopsTop)
    val beam = walkFrom(nodes, edges,
      routed.select(col("qid"), col("qe"), col("qn"), col("nid")),
      beamWidth, hops)
    topKPerQuery(
      beam.where(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), col("sim")), k)
  }

  /** Graph-walk ANN with a hierarchical entry — [[graphKnn]] with the
    * flat centroid probing replaced by the top-layer routed entries.
    * The point of the hierarchy: the same recall floor at HALF the
    * entry budget (entryBeam vs nProbe·seedsPerCell seeds), with
    * routing cost independent of nCells.
    */
  def graphKnnHier(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, degree: Int = 4, beamWidth: Int = 8, hops: Int = 2,
      seedsPerCell: Int = 2, iterations: Int = 2,
      maxTrainPerCell: Int = 16384,
      maxEdgeCandidatesPerCell: Int = 16384,
      crossCells: Int = 0, degreeCross: Int = 0,
      entryBeam: Int = 4, hopsTop: Int = 2, degreeTop: Int = 4): DataFrame = {
    val (_, nodes, edges, seeds, _) = graphPieces(corpus, vecCol, idCol,
      nCells, degree, seedsPerCell, iterations, maxTrainPerCell,
      maxEdgeCandidatesPerCell, crossCells, degreeCross)
    val (seedN, topEdges) = topLayer(nodes, seeds, degreeTop)
    hierWalk(nodes, edges, seedN, topEdges, queries, vecCol, idCol,
      k, entryBeam, hopsTop, beamWidth, hops)
  }

  /** Hierarchical walk against a persisted index — read-only at search
    * time when the build persisted its top layer ([[buildGraphIndex]]
    * with `degreeTop` > 0, recorded in the knobs table): `top_edges`
    * reads back like every other index table, restoring the
    * train-once/search-many discipline for the hier tier. An index
    * without the table (pre-persist layouts) or built at a DIFFERENT
    * `degreeTop` than the search requests falls back to rebuilding the
    * top layer from the (broadcast-sized) persisted seeds + their node
    * rows — a bounded job, no corpus pass. Both paths answer
    * bit-identically (`topLayer` is deterministic and its edges are
    * longs — exact in parquet), pinned by the maintenance spec. Seeds
    * are build-time-fixed ([[graphIndexAppend]] never changes them), so
    * the persisted layer is append-stable.
    */
  def graphKnnHierIndexed(
      queries: DataFrame, vecCol: String, idCol: String, path: String,
      k: Int, entryBeam: Int = 4, hopsTop: Int = 2, degreeTop: Int = 4,
      beamWidth: Int = 8, hops: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    def t(n: String) = spark.read.format("kv").option("path", s"$path/$n").load()
    // read-only search when the build persisted its top layer at this
    // degreeTop (knobs-recorded); rebuild from the broadcast-sized seed
    // set otherwise (pre-r13 indexes / mismatched degreeTop) — both
    // paths bit-identical, pinned by the maintenance spec
    val storedDegreeTop =
      if (graft.sources.ParquetIO.listFiles(s"$path/knobs").isEmpty) 0
      else t("knobs").collect().headOption
        .filter(_.schema.fieldNames.contains("degree_top"))
        .map(_.getAs[Long]("degree_top").toInt).getOrElse(0)
    val (seedN, topEdges) =
      if (storedDegreeTop == degreeTop &&
          graft.sources.ParquetIO.listFiles(s"$path/top_edges").nonEmpty)
        (seedNodes(t("cells"), t("seeds")), t("top_edges"))
      else topLayer(t("cells"), t("seeds"), degreeTop)
    val qBase =
      if (readNormalizeKnob(spark, path)) unitNormed(queries, vecCol, idCol)
      else queries
    hierWalk(t("cells"), t("edges"), seedN, topEdges,
      qBase, vecCol, idCol, k, entryBeam, hopsTop, beamWidth, hops)
  }

  /** The COARSE routing layer for very-large-nCells graph indexes: a
    * kNN graph over the cell CENTROIDS themselves (top-`degreeCells`
    * nearest other centroids by d2, d2 asc / cell asc — the probe
    * metric, one row per cell). At nCells where the seed table
    * (nCells·seedsPerCell) stops being comfortably broadcast-sized,
    * entry routing should not scan all centroids per query (flat
    * probing) nor walk a seed graph from one global entry across the
    * whole corpus' seed set — a beam walk over this nCells-node graph
    * first picks each query's `entryCells` cells, and only THOSE cells'
    * seeds enter the seed-layer walk. Candidate pairs are bounded by
    * the [[edgeCandidatePool]] splitmix64 top-sample
    * (`maxCellCandidates`), so the build is ≤ nCells·cap, never
    * nCells².
    */
  private[operators] def cellLayer(cents: DataFrame, degreeCells: Int,
      maxCellCandidates: Int = 16384): DataFrame = {
    require(degreeCells >= 1, s"degreeCells must be >= 1, got $degreeCells")
    val pool = edgeCandidatePool(
      cents.select(lit(0L).as("cell"), col("cell").as("id"),
        col("ce").as("e"), lit(1.0).as("nrm")),
      maxCellCandidates)
      .select(col("dst"), col("de"))
    cents.select(col("cell").as("src"), col("ce").as("se"))
      .crossJoin(broadcast(pool))
      .where(col("src") =!= col("dst"))
      .withColumn("d2", aggregate(zip_with(col("se"), col("de"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
      .groupBy(col("src"))
      .agg(graft.functions.BoundedTopK.topK(
        struct((lit(0.0) - col("d2")).as("nd2"), col("dst")),
        degreeCells).as("top"))
      .select(col("src"), explode(col("top")).as("t"))
      .select(col("src"), col("t.dst").as("dst"))
  }

  /** Beam walk over the [[cellLayer]] graph from the fixed min-cell
    * entry: per hop the beam's cells expand through their centroid
    * edges, candidates score by query-to-centroid d2 (d2 asc, cell asc
    * — the probe order), fold to `entryCells`. Per-query routing cost
    * is O(entryCells · degreeCells · hopsCells) centroid distances —
    * independent of nCells, where flat probing pays O(nCells).
    */
  private def cellWalk(cents: DataFrame, cellEdges: DataFrame,
      queries: DataFrame, entryCells: Int, hopsCells: Int): DataFrame = {
    require(entryCells >= 1, s"entryCells must be >= 1, got $entryCells")
    require(hopsCells >= 0, s"hopsCells must be >= 0, got $hopsCells")
    def score(cand: DataFrame): DataFrame = cand
      .join(broadcast(cents), Seq("cell"))
      .select(col("qid"), col("qe"), col("qn"), col("cell"),
        aggregate(zip_with(col("qe"), col("ce"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
          .as("d2"))
    def topBeam(scored: DataFrame): DataFrame =
      scored.groupBy(col("qid"))
        .agg(graft.functions.BoundedTopK.topK(
          struct((lit(0.0) - col("d2")).as("nd2"), col("cell")),
          entryCells).as("top"),
          first(col("qe")).as("qe"), first(col("qn")).as("qn"))
        .select(col("qid"), col("qe"), col("qn"), explode(col("top")).as("t"))
        .select(col("qid"), col("qe"), col("qn"), col("t.cell").as("cell"))
    val entry = cents.agg(min(col("cell")).as("cell"))
    var beam = topBeam(score(queries.crossJoin(broadcast(entry))))
      .localCheckpoint()
    var hop = 0
    while (hop < hopsCells) {
      val expanded = broadcast(beam
        .select(col("qid"), col("qe"), col("qn"), col("cell").as("src")))
        .join(cellEdges, Seq("src"))
        .select(col("qid"), col("qe"), col("qn"), col("dst").as("cell"))
      val cand = beam.select(col("qid"), col("qe"), col("qn"), col("cell"))
        .unionByName(expanded)
        .dropDuplicates("qid", "cell")
      beam = topBeam(score(cand)).localCheckpoint()
      hop += 1
    }
    beam
  }

  /** TWO-layer hierarchical graph ANN: a coarse centroid-graph walk
    * routes each query to `entryCells` cells, those cells' seeds (a
    * per-query entryCells·seedsPerCell set — bounded regardless of
    * nCells) seed the seed-layer walk, and the final routed beam seeds
    * the base walk. This removes the last nCells dependence from the
    * hierarchical entry: [[graphKnnHier]]'s fixed-entry seed walk is
    * per-query cheap but its ENTRY quality decays as one global entry
    * point routes across ever more cells; here routing cost AND entry
    * quality are independent of nCells (audited: the 800‰ cross-edge
    * floor at nCells = 64 with the same entry budget).
    */
  def graphKnnHier2(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 64, degree: Int = 4, beamWidth: Int = 8, hops: Int = 2,
      seedsPerCell: Int = 2, iterations: Int = 2,
      maxTrainPerCell: Int = 16384,
      maxEdgeCandidatesPerCell: Int = 16384,
      crossCells: Int = 0, degreeCross: Int = 0,
      entryBeam: Int = 4, hopsTop: Int = 2, degreeTop: Int = 4,
      entryCells: Int = 4, hopsCells: Int = 2,
      degreeCells: Int = 4): DataFrame = {
    val (cents, nodes, edges, seeds, _) = graphPieces(corpus, vecCol, idCol,
      nCells, degree, seedsPerCell, iterations, maxTrainPerCell,
      maxEdgeCandidatesPerCell, crossCells, degreeCross)
    val (_, topEdges) = topLayer(nodes, seeds, degreeTop)
    val cellEdges = cellLayer(cents, degreeCells)
    hier2Walk(cents, nodes, edges, seeds, topEdges, cellEdges,
      queries, vecCol, idCol, k, entryBeam, hopsTop, entryCells,
      hopsCells, beamWidth, hops)
  }

  /** The two-layer walk over explicit tables — shared by the in-memory
    * [[graphKnnHier2]] and the persisted-index [[graphKnnHier2Indexed]],
    * so the two paths are identical by construction.
    */
  private def hier2Walk(
      cents: DataFrame, nodesWithCell: DataFrame, edges: DataFrame,
      seeds: DataFrame, topEdges: DataFrame, cellEdges: DataFrame,
      queries: DataFrame, vecCol: String, idCol: String, k: Int,
      entryBeam: Int, hopsTop: Int, entryCells: Int, hopsCells: Int,
      beamWidth: Int, hops: Int): DataFrame = {
    require(beamWidth >= k, s"beamWidth $beamWidth must be >= k $k")
    val q0 = prep(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    val routedCells = cellWalk(cents, cellEdges, q0, entryCells, hopsCells)
    val nodesD = nodesWithCell.select(col("nid"), col("ne"), col("nn"))
      .dropDuplicates("nid")
    val seeded0 = routedCells.join(seeds, Seq("cell"))
      .select(col("qid"), col("qe"), col("qn"), col("nid"))
      .dropDuplicates("qid", "nid")
    val routed = walkFrom(nodesD, topEdges, seeded0, entryBeam, hopsTop)
    val beam = walkFrom(nodesD, edges,
      routed.select(col("qid"), col("qe"), col("qn"), col("nid")),
      beamWidth, hops)
    topKPerQuery(
      beam.where(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"), col("sim")), k)
  }

  /** Two-layer hierarchical walk against a persisted index — read-only
    * at search time when the build persisted BOTH routing layers
    * ([[buildGraphIndex]] with `degreeTop` and `degreeCells` > 0,
    * knobs-recorded): `top_edges` and `cell_edges` read back like every
    * other index table. Either layer falls back to its bounded rebuild
    * (seed-set fold / centroid fold — no corpus pass) when its table is
    * missing or was built at a different degree; all paths answer
    * bit-identically (longs round-trip parquet exactly), pinned by the
    * maintenance spec. Both layers are append-stable: seeds and
    * centroids are build-time-fixed.
    */
  def graphKnnHier2Indexed(
      queries: DataFrame, vecCol: String, idCol: String, path: String,
      k: Int, entryBeam: Int = 4, hopsTop: Int = 2, degreeTop: Int = 4,
      entryCells: Int = 4, hopsCells: Int = 2, degreeCells: Int = 4,
      beamWidth: Int = 8, hops: Int = 2): DataFrame = {
    require(degreeCells >= 1, s"degreeCells must be >= 1, got $degreeCells")
    val spark = queries.sparkSession
    def t(n: String) = spark.read.format("kv").option("path", s"$path/$n").load()
    def knob(name: String): Int =
      if (graft.sources.ParquetIO.listFiles(s"$path/knobs").isEmpty) 0
      else t("knobs").collect().headOption
        .filter(_.schema.fieldNames.contains(name))
        .map(_.getAs[Long](name).toInt).getOrElse(0)
    val topEdges =
      if (knob("degree_top") == degreeTop &&
          graft.sources.ParquetIO.listFiles(s"$path/top_edges").nonEmpty)
        t("top_edges")
      else topLayer(t("cells"), t("seeds"), degreeTop)._2
    val cellEdges =
      if (knob("degree_cells") == degreeCells &&
          graft.sources.ParquetIO.listFiles(s"$path/cell_edges").nonEmpty)
        t("cell_edges")
      else cellLayer(t("centroids"), degreeCells)
    val qBase =
      if (readNormalizeKnob(spark, path)) unitNormed(queries, vecCol, idCol)
      else queries
    hier2Walk(t("centroids"), t("cells"), t("edges"), t("seeds"),
      topEdges, cellEdges, qBase, vecCol, idCol, k,
      entryBeam, hopsTop, entryCells, hopsCells, beamWidth, hops)
  }

  /** Measured recall of the two-layer walk vs exact brute force — the
    * [[graphHierRecallAudit]] discipline for [[graphKnnHier2]].
    */
  def graphHier2RecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 64, degree: Int = 4, beamWidth: Int = 8, hops: Int = 2,
      seedsPerCell: Int = 2, iterations: Int = 2,
      maxTrainPerCell: Int = 16384,
      maxEdgeCandidatesPerCell: Int = 16384,
      crossCells: Int = 0, degreeCross: Int = 0,
      entryBeam: Int = 4, hopsTop: Int = 2, degreeTop: Int = 4,
      entryCells: Int = 4, hopsCells: Int = 2,
      degreeCells: Int = 4): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "" -> (() => graphKnnHier2(corpus, queries, vecCol, idCol, k, nCells,
        degree, beamWidth, hops, seedsPerCell, iterations, maxTrainPerCell,
        maxEdgeCandidatesPerCell, crossCells, degreeCross,
        entryBeam, hopsTop, degreeTop, entryCells, hopsCells, degreeCells)))

  /** Measured recall of the hierarchical walk vs exact brute force —
    * the [[graphRecallAudit]] discipline for [[graphKnnHier]].
    */
  def graphHierRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, degree: Int = 4, beamWidth: Int = 8, hops: Int = 2,
      seedsPerCell: Int = 2, iterations: Int = 2,
      maxTrainPerCell: Int = 16384,
      maxEdgeCandidatesPerCell: Int = 16384,
      crossCells: Int = 0, degreeCross: Int = 0,
      entryBeam: Int = 4, hopsTop: Int = 2, degreeTop: Int = 4): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "" -> (() => graphKnnHier(corpus, queries, vecCol, idCol, k, nCells,
        degree, beamWidth, hops, seedsPerCell, iterations, maxTrainPerCell,
        maxEdgeCandidatesPerCell, crossCells, degreeCross,
        entryBeam, hopsTop, degreeTop)))

  /** Measured recall of the graph tier vs exact brute force — the
    * [[annRecallAudit]] discipline for [[graphKnn]]: one row
    * (n_queries, k, n_hits, recall_milli). Walk depth and beam width
    * are corpus-dependent knobs; their recall must be measured, never
    * assumed.
    */
  def graphRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      degree: Int = 4, beamWidth: Int = 8, hops: Int = 2,
      seedsPerCell: Int = 2, iterations: Int = 2,
      maxTrainPerCell: Int = 16384,
      maxEdgeCandidatesPerCell: Int = 16384,
      crossCells: Int = 0, degreeCross: Int = 0): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "" -> (() => graphKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe,
        degree, beamWidth, hops, seedsPerCell, iterations, maxTrainPerCell,
        maxEdgeCandidatesPerCell, crossCells, degreeCross)))

  /** The metric-consistency audit for the IVF-Flat tier (the
    * [[cosineRecallAudit]] discipline one tier down): the SAME probe
    * budget over raw vs unit-normalized vectors, both vs exact cosine
    * brute force. IVF rescoring is already cosine, so the gap this
    * measures is pure cell ROUTING — raw k-means cells partition a
    * norm-spread corpus by magnitude and the query's nProbe nearest
    * cells miss its directional neighbors. The normalized chain is
    * bit-identical to `buildIvfIndex(normalize=true)` + search (shared
    * code path), so the measured gain is the knob's gain.
    */
  def ivfCosineRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame =
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "raw" -> (() => ivfKnn(corpus, queries, vecCol, idCol, k,
        nCells, nProbe, iterations, maxTrainPerCell)),
      "norm" -> (() => ivfKnn(
        unitNormed(corpus, vecCol, idCol), unitNormed(queries, vecCol, idCol),
        vecCol, idCol, k, nCells, nProbe, iterations, maxTrainPerCell)))

  /** IVF-PQ with RESIDUAL encoding — the layout FAISS's IVFPQ actually
    * ships (Jégou et al., TPAMI 2011 §IV.B, "IVFADC"): PQ codes
    * quantize x − centroid(cell(x)) instead of x. The coarse quantizer
    * absorbs each cluster's mean, so the product quantizer spends its
    * codebook on the (much smaller) within-cell spread — on clustered
    * data the same m×pqCells budget buys far finer resolution than
    * coding absolute positions ([[ivfPqResidualRecallAudit]] measures
    * the gain). The cost: query preprocessing is per PROBED CELL — the
    * query's residual (and its m distance tables) differ per cell, so
    * table work is nProbe× the plain chain's. Corpus-side shape is
    * unchanged: codes never shuffle, tables broadcast, the scan
    * touches only probed cells' codes.
    *
    * Deterministic end to end (the [[trainCentroids]] chain for both
    * quantizer levels, id-ordered folds, fixed lookup-sum order), so
    * the DuckDB oracle replays coarse training, residuals, per-subspace
    * residual codebooks, per-(query, cell) tables and the ADC sum.
    */
  def ivfPqResidualKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384, normalize: Boolean = false,
      rotation: Option[Rotation] = None): DataFrame = {
    val (base, pre) = fitPreprocess(corpus, vecCol, idCol, m, normalize, rotation)
    val (coarse, subCents, codes) = residualModel(base, vecCol, idCol,
      nCells, m, pqCells, iterations, maxTrainPerCell)
    rankAdc(residualAdcScores(pre(queries, vecCol, idCol), vecCol, idCol,
      coarse, subCents, codes, nProbe, m), k)
  }

  /** The residual tier's three model pieces — coarse centroids (cell,
    * ce), per-subspace RESIDUAL codebooks, and the corpus as codes
    * (nid, ivf_cell, codes) — shared by the in-memory chain and the
    * persisted-index build so the two paths are identical by
    * construction (the [[graphPieces]] discipline).
    */
  private def residualModel(
      corpus: DataFrame, vecCol: String, idCol: String,
      nCells: Int, m: Int, pqCells: Int, iterations: Int,
      maxTrainPerCell: Int): (DataFrame, Seq[DataFrame], DataFrame) = {
    val coarse = trainCentroids(corpus, vecCol, idCol, nCells, iterations,
      maxTrainPerCell)
    // residual rows (id, ivf_cell, rvec = e − centroid); read m times
    // for training + m times for encoding — cache once
    val resid = residualRows(prep(corpus, vecCol, idCol), coarse)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perSubCents = trainSubCentroids(resid, "rvec", "id", m,
      pqCells, iterations, maxTrainPerCell)
    // ONE row-local encode pass over the cached residual rows
    val codes = encodeCodes(resid, col("rvec"), perSubCents,
      keep = Seq(col("id").as("nid"), col("ivf_cell")))
    (coarse, perSubCents, codes)
  }

  /** (id, ivf_cell, rvec): assign against `coarse` and subtract the
    * assigned centroid — the encode step shared by build and append.
    */
  private def residualRows(prepped: DataFrame, coarse: DataFrame): DataFrame =
    // row-local: the argmin struct carries the winning centroid's ce, so
    // the subtraction needs no join back to the coarse table ((d2, cell)
    // pairs are unique — the ce field never enters the comparison)
    prepped.crossJoin(broadcast(centroidArray(coarse)))
      .withColumn("m", array_min(transform(col("cents"),
        c => struct(cd2(col("e"), c).as("d2"), c.getField("cell").as("cell"),
          c.getField("ce").as("ce")))))
      .select(col("id"), col("m.cell").as("ivf_cell"),
        zip_with(col("e"), col("m.ce"), (x, y) => x - y).as("rvec"))

  /** IVFADC's asymmetric scoring against model frames: nProbe coarse
    * probes, a query residual (and m distance tables) PER PROBED CELL,
    * lookup-sum ADC over the probed cells' codes. Tables broadcast;
    * the codes table never shuffles.
    */
  private def residualAdcScores(
      queries: DataFrame, vecCol: String, idCol: String,
      coarse: DataFrame, subCents: Seq[DataFrame], codes: DataFrame,
      nProbe: Int, m: Int): DataFrame = {
    // nProbe nearest coarse cells per query WITH the per-cell query
    // residual (IVFADC's asymmetric side) — one row-local pass over the
    // broadcast coarse array: probe order is (d2 asc, cell asc) as
    // before (cell ids are unique, so the residual field never enters
    // the sort), and rq is the same zip_with(e, ce, x−y) the old
    // join-back computed
    val qres = prep(queries, vecCol, idCol)
      .crossJoin(broadcast(centroidArray(coarse)))
      .select(col("id").as("qid"),
        explode(slice(sort_array(transform(col("cents"),
          c => struct(cd2(col("e"), c).as("d2"),
            c.getField("cell").as("cell"),
            zip_with(col("e"), c.getField("ce"), (x, y) => x - y)
              .as("rq")))),
          1, nProbe)).as("p"))
      .select(col("qid"), col("p.cell").as("ivf_cell"), col("p.rq").as("rq"))
    // per-(qid, ivf_cell) distance tables: dt(s)(c) = d²(residual
    // subspace s, residual codebook s centroid c) — row-local over the
    // broadcast codebook arrays (formerly a groupBy shuffle + m-way
    // join per subspace)
    val sz = size(col("rq"))
    val subDim = (sz / lit(m)).cast("int")
    val dtabs = (0 until m).foldLeft(qres) { (df, s) =>
      df.crossJoin(broadcast(
        centroidArray(subCents(s)).select(col("cents").as(s"cents$s"))))
    }.select(col("qid"), col("ivf_cell"),
      array((0 until m).map(s => transform(col(s"cents$s"),
        c => aggregate(zip_with(
          slice(col("rq"), lit(s) * subDim + lit(1), subDim),
          c.getField("ce"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x))): _*).as("dtabs"))
    broadcast(dtabs)
      .join(codes, Seq("ivf_cell"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, s) => acc + element_at(element_at(col("dtabs"), s + 1),
            (element_at(col("codes"), s + 1) + 1).cast("int"))).as("adist"))
  }

  /** Persist a residual IVF-PQ index — [[buildIvfPqIndex]]'s layout for
    * the residual tier: coarse centroids at `<path>/coarse`,
    * per-subspace RESIDUAL codebooks at `<path>/pq<s>`, corpus codes
    * (nid, ivf_cell, codes) at `<path>/codes`, plus a one-row `meta`
    * marker (`residual=1`) so a reader can tell the layouts apart —
    * searching residual codes with absolute-coding tables would return
    * silently wrong distances. `normalize` and a stored `rotation`
    * persist as in [[buildIvfPqIndex]] (FAISS's `OPQ,IVF,PQ` factory
    * composition with a VarPerm rotation).
    */
  def buildIvfPqResidualIndex(
      corpus: DataFrame, vecCol: String, idCol: String, path: String,
      nCells: Int = 16, m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384, normalize: Boolean = false,
      rotation: Option[Rotation] = None): Unit = {
    val (base, pre) = fitPreprocess(corpus, vecCol, idCol, m, normalize, rotation)
    StoredRotation.write(corpus.sparkSession, path, pre)
    val (coarse, subCents, codes) = residualModel(base, vecCol, idCol,
      nCells, m, pqCells, iterations, maxTrainPerCell)
    coarse.write.format("kv").option("path", s"$path/coarse")
      .mode("overwrite").save()
    subCents.zipWithIndex.foreach { case (sc, s) =>
      sc.write.format("kv").option("path", s"$path/pq$s")
        .mode("overwrite").save()
    }
    codes.write.format("kv").option("path", s"$path/codes")
      .mode("overwrite").save()
    writePqMeta(corpus.sparkSession, path, residual = true, pre)
  }

  /** Search a persisted residual index — answers IDENTICALLY to the
    * in-memory [[ivfPqResidualKnn]] at the same knobs (deterministic
    * training, shared scoring path), so the gates share one oracle.
    * Refuses an index without the residual meta marker.
    */
  def ivfPqResidualKnnIndexed(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, vecCol: String, idCol: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    val (table, subCents, pre) = openPqIndex(spark, path, residual = true)
    // per-(qid, nid) dedup: a crash-retried append leaves duplicate
    // codes rows (the ivfPqKnnIndexed discipline)
    rankAdc(residualAdcScores(pre(queries, vecCol, idCol), vecCol, idCol,
      table("coarse"), subCents,
      table("codes").select(col("nid"), col("ivf_cell"), col("codes")),
      nProbe, subCents.length).dropDuplicates("qid", "nid"), k)
  }

  /** Incremental residual-index maintenance: preprocess NEW vectors as
    * the build did, encode them against the PERSISTED coarse centroids
    * and residual codebooks (assign → subtract centroid → per-subspace
    * code — no retraining) and append their code rows. Centroids and
    * codebooks stay fixed, which is what keeps incremental encoding
    * cheap; re-clustering is a rebuild.
    */
  def ivfPqResidualIndexAppend(
      newVecs: DataFrame, vecCol: String, idCol: String, path: String): Unit = {
    val (table, subCents, pre) =
      openPqIndex(newVecs.sparkSession, path, residual = true)
    val resid = residualRows(prep(pre(newVecs, vecCol, idCol), vecCol, idCol),
      table("coarse"))
    // ONE row-local encode pass against the persisted codebooks
    encodeCodes(resid, col("rvec"), subCents,
      keep = Seq(col("id").as("nid"), col("ivf_cell")))
      .write.format("kv").option("path", s"$path/codes")
      .mode("append").save()
  }

  /** The composition's four quadrants at one budget, all vs exact L2
    * brute force: plain / permuted-only / residual-only / both — on a
    * corpus with subspace-variance imbalance AND cluster structure,
    * `both` must clear each single fix (the reason FAISS composes
    * them rather than choosing).
    */
  def opqResidualRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, dim: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    val perm = Some(Rotation.VarPerm(dim))
    def pq(rotation: Option[Rotation]): () => DataFrame = () =>
      ivfPqKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe, m,
        pqCells, iterations, maxTrainPerCell, rotation = rotation)
    def residual(rotation: Option[Rotation]): () => DataFrame = () =>
      ivfPqResidualKnn(corpus, queries, vecCol, idCol, k, nCells, nProbe,
        m, pqCells, iterations, maxTrainPerCell, rotation = rotation)
    recallAudit(exactL2Knn(corpus, queries, vecCol, idCol, k), k)(
      "plain" -> pq(None), "perm" -> pq(perm),
      "residual" -> residual(None), "both" -> residual(perm))
  }

  /** Residual ADC with an exact re-ranking tail — [[ivfPqRefineKnn]]'s
    * FAISS `IndexRefineFlat` pattern on the residual chain (IVFADC +
    * refine: the configuration FAISS deployments actually serve): the
    * residual codes select a `refine`-sized shortlist per query, ONLY
    * those ids fetch their raw vectors for exact cosine rescoring, and
    * the top `k` by TRUE similarity come back.
    */
  def ivfPqResidualRefineKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int, refine: Int = 16,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame = {
    require(refine >= k, s"refine shortlist ($refine) must be >= k ($k)")
    val (coarse, subCents, codes) = residualModel(corpus, vecCol, idCol,
      nCells, m, pqCells, iterations, maxTrainPerCell)
    val scored = residualAdcScores(queries, vecCol, idCol, coarse, subCents,
      codes, nProbe, m)
    val shortlist = scored.groupBy(col("qid"))
      .agg(BoundedTopK.topK(
        struct((-col("adist")).as("negd"), col("nid").as("nid")), refine).as("top"))
      .select(col("qid"), explode(col("top").getField("nid")).as("nid"))
    val c = prep(corpus, vecCol, idCol)
      .select(col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
    val q = prep(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    topKPerQuery(
      broadcast(shortlist.join(broadcast(q), "qid")).join(c, Seq("nid"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** Matryoshka / adaptive retrieval (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022 — the two-pass serving
    * recipe): shortlist by exact cosine over only the FIRST
    * `prefixDim` dimensions (MRL-trained embeddings concentrate
    * information in the prefix, so the truncated scan is nearly as
    * discriminative at prefixDim/dim the cost), then exact FULL-dim
    * rescoring of the `refine`-sized shortlist. At 100 TB the prefix
    * lives as its own narrow column (a dim/prefixDim-times smaller
    * scan); only shortlist rows ever read their full vectors. Both
    * passes are deterministic exact cosine — the oracle replays
    * truncation, shortlist and rescore.
    */
  def matryoshkaKnn(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      prefixDim: Int, refine: Int = 16): DataFrame = {
    require(refine >= k, s"refine shortlist ($refine) must be >= k ($k)")
    require(prefixDim >= 1, s"prefixDim must be >= 1, got $prefixDim")
    def trunc(df: DataFrame) = df.select(col(idCol),
      slice(col(vecCol), 1, prefixDim).as(vecCol))
    val shortlist = bruteForceKnn(trunc(corpus), trunc(queries),
      vecCol, idCol, refine)
      .select(col("qid"), col("nid"))
    val c = prep(corpus, vecCol, idCol)
      .select(col("id").as("nid"), col("e").as("ne"), col("nrm").as("nn"))
    val q = prep(queries, vecCol, idCol)
      .select(col("id").as("qid"), col("e").as("qe"), col("nrm").as("qn"))
    topKPerQuery(
      broadcast(shortlist.join(broadcast(q), "qid")).join(c, Seq("nid"))
        .select(col("qid"), col("nid"),
          (dot(col("qe"), col("ne")) / (col("qn") * col("nn"))).as("sim")),
      k)
  }

  /** The matryoshka trade measured: prefix-only top-k vs
    * prefix-shortlist + full rescore vs full brute force — the rescore
    * must recover most of what truncation loses, at shortlist-sized
    * full-vector cost (the recall row a deployment needs before
    * picking prefixDim).
    */
  def matryoshkaRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      prefixDim: Int, refine: Int = 16): DataFrame = {
    def trunc(df: DataFrame) = df.select(col(idCol),
      slice(col(vecCol), 1, prefixDim).as(vecCol))
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k,
      lit(prefixDim).as("prefix_dim"), lit(refine).as("refine"))(
      "prefix" -> (() => bruteForceKnn(trunc(corpus), trunc(queries),
        vecCol, idCol, k)),
      "rescored" -> (() => matryoshkaKnn(corpus, queries, vecCol, idCol,
        k, prefixDim, refine)))
  }

  /** Residual vs absolute PQ coding at the SAME budget, both vs exact
    * L2 brute force (the metric both ADC chains approximate) — the
    * IVFADC gain is a property of the corpus's cluster structure (it
    * is the within-cell/global variance ratio), so it gets measured,
    * never assumed from the parameter sheet.
    */
  def ivfPqResidualRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      m: Int = 2, pqCells: Int = 16, iterations: Int = 2,
      maxTrainPerCell: Int = 16384): DataFrame =
    recallAudit(exactL2Knn(corpus, queries, vecCol, idCol, k), k)(
      "plain" -> (() => ivfPqKnn(corpus, queries, vecCol, idCol, k,
        nCells, nProbe, m, pqCells, iterations, maxTrainPerCell)),
      "residual" -> (() => ivfPqResidualKnn(corpus, queries, vecCol, idCol,
        k, nCells, nProbe, m, pqCells, iterations, maxTrainPerCell)))

  /** The metric-consistency audit for the graph tier: [[graphKnn]] at
    * the SAME walk budget over raw vs unit-normalized vectors, both vs
    * exact cosine brute force. On a norm-spread corpus the raw layout
    * loses twice — cells route by magnitude AND within-cell edges can
    * only link the directional neighbors that magnitude-clustering
    * happened to co-locate — so the walk's reachable set, not just its
    * entry, is metric-inconsistent. Normalizing the BUILD (the
    * `buildGraphIndex(normalize=true)` knob; this audit runs the same
    * shared code path in memory) fixes both.
    */
  def graphCosineRecallAudit(
      corpus: DataFrame, queries: DataFrame,
      vecCol: String, idCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      degree: Int = 4, beamWidth: Int = 8, hops: Int = 2,
      seedsPerCell: Int = 2, iterations: Int = 2,
      maxTrainPerCell: Int = 16384,
      maxEdgeCandidatesPerCell: Int = 16384,
      crossCells: Int = 0, degreeCross: Int = 0): DataFrame = {
    def walk(c: DataFrame, q: DataFrame): () => DataFrame = () =>
      graphKnn(c, q, vecCol, idCol, k, nCells, nProbe, degree,
        beamWidth, hops, seedsPerCell, iterations, maxTrainPerCell,
        maxEdgeCandidatesPerCell, crossCells, degreeCross)
    recallAudit(bruteForceKnn(corpus, queries, vecCol, idCol, k), k)(
      "raw" -> walk(corpus, queries),
      "norm" -> walk(unitNormed(corpus, vecCol, idCol),
        unitNormed(queries, vecCol, idCol)))
  }
}
