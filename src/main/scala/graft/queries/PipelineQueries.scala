package graft.queries

import org.apache.spark.sql.graftshim.GraftSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{LangId, Sketches, TextFunctions}
import graft.operators.{Curation, Dedup, Multimodal, SimilaritySearch}

/** Gate entries for the training-data-pipeline operators (dedup,
  * similarity search, multimodal, text analysis). Entries whose math is
  * ANSI-expressible carry a DuckDB oracle; the sketch-based ones (MinHash
  * LSH, SimHash, hyperplane ANN, winnowing, language-ID) are deterministic
  * but not SQL-expressible → rows-only gate + dedicated ScalaTest specs.
  */
object PipelineQueries {

  /** PNG payloads staged once per sfDir (fixture authoring isn't the
    * operator under test); the multimodal gates measure the real decode
    * path over these.
    */
  private def stagedPngDocs(s: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val pngDir = s"/tmp/graft_png$safe"
    Tables.stageOnce(pngDir) {
      Multimodal.withPngPayload(
        Tables.load(s, dir, "documents").select(col("doc_id")), "doc_id")
        .write.format("kv").option("path", pngDir).mode("overwrite").save()
    }
    s.read.format("kv").option("path", pngDir).load()
  }

  /** The deterministic synthetic link graph shared by the pagerank
    * gates: three mod-arithmetic out-links per doc.
    */
  private def syntheticLinkGraph(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
    val n = docs.agg((max(col("doc_id")) + 1L).as("__n"))
    docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"),
        explode(array(lit(7L), lit(31L), lit(131L))).as("m"), col("__n"))
      .select(col("src"), ((col("src") * col("m") + 1L) % col("__n")).as("dst"))
  }

  private def stagedWavDocs(s: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wavDir = s"/tmp/graft_wav$safe"
    Tables.stageOnce(wavDir) {
      Multimodal.withWavPayload(
        Tables.load(s, dir, "documents").select(col("doc_id")), "doc_id")
        .write.format("kv").option("path", wavDir).mode("overwrite").save()
    }
    s.read.format("kv").option("path", wavDir).load()
  }

  /** Per-source BIGRAM rows `(source, gram)` of the six-source
    * documents slice — the overlap gates' shared corpus (genuinely
    * partial pairwise vocabularies, unlike the fixture's saturated user
    * sets). Tokens are the empties-dropped whitespace split; the <2-
    * token guard matters because `sequence(1, 0)` runs DESCENDING.
    */
  private def SourceBigrams(s: SparkSession, dir: String): DataFrame = {
    val srcs = (0 to 5).map(i => s"src$i")
    Tables.load(s, dir, "documents")
      .where(col("source").isin(srcs: _*))
      .select(col("source"),
        filter(split(trim(col("text")), "\\s+"), t => t =!= "").as("ts"))
      .select(col("source"), explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => concat(element_at(col("ts"), i), lit(" "),
            element_at(col("ts"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("gram"))
  }

  /** The THREE-oblique-directions fixture shared by the q_ann_pca3 and
    * q_ann_cosine_audit gates: +8·dim1 (all-ones), +4·dim2
    * (alternating ±), +2·dim3 (period-4 ++−−) — three mutually
    * orthogonal sign diagonals with strictly decreasing magnitudes
    * (exact powers of two), and a REAL norm spread: the dominant
    * coordinates dominate ‖x‖, so cosine and L2 neighbors genuinely
    * diverge here (the property the cosine audit measures).
    */
  private def Pca3Fixture(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") +
          lit(8.0) * element_at(col("embedding"), 1).cast("double") +
          when(pmod(i, lit(2)) === 0, lit(4.0)).otherwise(lit(-4.0)) *
            element_at(col("embedding"), 2).cast("double") +
          when(pmod(i, lit(4)) < 2, lit(2.0)).otherwise(lit(-2.0)) *
            element_at(col("embedding"), 3).cast("double"))
        .as("embedding"))

  /** The variance-front-loaded (MRL-profile) fixture shared by the
    * matryoshka gates: dims 0–31 scaled ×4.0, 32–63 ×0.25 (exact
    * powers of two — bit-identical scaling on both engines; the
    * q_ann_varperm anisotropy, reused as a prefix-capability profile).
    */
  private def MrlFixture(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") * when(i < 32, lit(4.0)).otherwise(lit(0.25)))
        .as("embedding"))

  /** [[Pca3Fixture]] plus a FOURTH mutually-orthogonal sign diagonal
    * (+1·dim4, period-8 ++++−−−−) — four oblique shared directions
    * with strictly decreasing power-of-two magnitudes, one per PQ
    * subspace at m = 4: the saturation audit's designed operating
    * point (a fifth component has only residual noise left to
    * isolate).
    */
  private def Pca4Fixture(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") +
          lit(8.0) * element_at(col("embedding"), 1).cast("double") +
          when(pmod(i, lit(2)) === 0, lit(4.0)).otherwise(lit(-4.0)) *
            element_at(col("embedding"), 2).cast("double") +
          when(pmod(i, lit(4)) < 2, lit(2.0)).otherwise(lit(-2.0)) *
            element_at(col("embedding"), 3).cast("double") +
          when(pmod(i, lit(8)) < 4, lit(1.0)).otherwise(lit(-1.0)) *
            element_at(col("embedding"), 4).cast("double"))
        .as("embedding"))

  /** The linear-probe gate's features/label frame: (doc_id, f, y) with
    * f = [1, words/100, 'the'-count/10, avg-word-len/10] (all O(1),
    * non-negative — the moment-guard contract) and y = 1.0 iff the doc
    * mentions the token 'join'. Every term is split/replace/length
    * arithmetic with proven engine parity.
    */
  private def ProbeFeatures(docs: DataFrame): DataFrame = {
    val toks = filter(split(lower(col("text")), " "), t => length(t) > 0)
    val nWords = size(toks).cast("double")
    val nThe = size(filter(toks, t => t === lit("the"))).cast("double")
    val avgw = length(regexp_replace(col("text"), " ", "")).cast("double") /
      greatest(nWords, lit(1.0)) / lit(10.0)
    docs.select(col("doc_id"),
      array(lit(1.0), nWords / lit(100.0), nThe / lit(10.0), avgw).as("f"),
      when(array_contains(toks, "join"), lit(1.0)).otherwise(lit(0.0)).as("y"))
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Video modality through the REAL path: GFV container walk → real
    // per-frame ImageIO PNG decode → integer luma sums; every value
    // predicted by the oracle from the per-frame generator seed.
    "q_multimodal_video" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val gfvDir = s"/tmp/graft_gfv$safe"
      Tables.stageOnce(gfvDir) {
        Multimodal.withGfvPayload(
          Tables.load(s, dir, "documents").select(col("doc_id")), "doc_id")
          .write.format("kv").option("path", gfvDir).mode("overwrite").save()
      }
      Multimodal.videoFrameStats(
        s.read.format("kv").option("path", gfvDir).load(), "payload")
        .select(col("doc_id"), col("frame_idx"), col("n_pixels"), col("sum_luma"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Audio modality through a REAL RIFF/WAVE chunk walk + PCM16 sample
    // scan: every value (rate, counts, integer duration, Σ|s|, peak) is
    // predicted bit-exactly by the oracle from the staged generator
    // formula — the lumaStats proof standard, for audio.
    "q_multimodal_audio" -> ((s, dir) => {
      Multimodal.decodeAudioMeta(stagedWavDocs(s, dir), "payload")
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("duration_ms"), col("sum_abs"), col("peak"))
        .orderBy(col("doc_id"))
    }),

    // --- dedup (operator-backed) ---
    "q_dedup_drop_exact" -> ((s, dir) => {
      Dedup.dropExactDuplicates(Tables.load(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    "q_dedup_minhash_lsh" -> ((s, dir) => {
      Dedup.minHashLsh(Tables.load(s, dir, "documents"), "text", "doc_id",
        numHashes = 64, bands = 16, minJaccard = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Gate at the standard near-dup radius 3: adaptive banding gives
    // 4 × 16-bit chunks (pigeonhole tight, small buckets — the fast
    // path). Full recall at ANY radius is the operator's contract,
    // proven by DedupSpec's crafted hamming-10 pair; 8-bit chunks at
    // wide radii cost ~5× in candidate fan-out, which belongs in a
    // deliberate recall/cost tradeoff, not in every gate run.
    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simHash(Tables.load(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Containment dedup over a corpus augmented with deterministic
    // half-length prefix copies (every 10th doc), so true containments
    // exist: each prefix copy must pair with its source (and any other
    // doc that happens to contain it). Exact rarest-shingle candidates.
    "q_dedup_containment" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val words = split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")
      val prefixes = base
        .where(col("doc_id") % 10 === 0 && size(words) >= 8)
        .select((col("doc_id") + 100000).as("doc_id"),
          array_join(slice(words, lit(1), (size(words) / lit(2)).cast("int")), " ").as("text"))
      Dedup.containment(base.unionByName(prefixes), "text", "doc_id", k = 4)
        .orderBy(col("id_inner"), col("id_outer"))
    }),
    // The measured cost of the containment skew cap (q_dedup_lsh_audit
    // discipline): run the exact and the rarest-shingle-df-capped
    // detectors end to end over the same augmented corpus and report
    // pair counts, skipped inner docs, and recall at the cap. df ≤ 2
    // admits docs whose rarest shingle appears in at most 2 docs —
    // tight enough that the cap provably fires at sf0.01.
    "q_dedup_containment_audit" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val words = split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")
      val prefixes = base
        .where(col("doc_id") % 10 === 0 && size(words) >= 8)
        .select((col("doc_id") + 100000).as("doc_id"),
          array_join(slice(words, lit(1), (size(words) / lit(2)).cast("int")), " ").as("text"))
      Dedup.containmentAudit(base.unionByName(prefixes), "text", "doc_id",
        k = 4, maxShingleDf = 2)
    }),
    // CCNet-style line-level dedup over a deterministically line-ified
    // corpus (8-word chunks as lines — the fixture text is single-line):
    // lines shared across >1 document are dropped as boilerplate, docs
    // rebuilt from the survivors in order.
    "q_doc_dedup_lines" -> ((s, dir) => {
      val words = split(trim(col("text")), "\\s+")
      val lineified = Tables.load(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", transform(
          sequence(lit(0), ((size(words) - 1) / lit(8)).cast("int")),
          ci => concat_ws(" ", slice(words, ci * 8 + 1, lit(8))))).as("text"))
      Dedup.dedupLines(lineified, "text", "doc_id", maxDocFreq = 1)
        .orderBy(col("doc_id"))
    }),

    // Cross-document repeated-span removal (sub-document dedup): a fixed
    // boilerplate sentence is appended to every 7th doc — its 8-token
    // windows become corpus-duplicated, the min-id doc keeps them, every
    // other injected doc loses exactly the injected tokens (straddling
    // windows mix in doc-unique tokens, so they stay), plus whatever
    // spans the corpus's natural near-duplicates share.
    "q_doc_dedup_spans" -> ((s, dir) => {
      val boiler = " subscribe to our newsletter today full terms of service apply"
      val aug = Tables.load(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(boiler)))
          .otherwise(col("text")).as("text"))
      Dedup.dedupSpans(aug, "text", "doc_id", n = 8)
        .select(col("doc_id"), col("n_tokens_dropped"), md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // The duplicate-token FRACTION (Lee et al. 2021's "Deduplicating
    // Training Data" reporting metric): the share of corpus tokens
    // that span dedup removes (n-gram windows duplicated across docs,
    // keeper excluded) — the memorization-risk number a release
    // report carries next to its dedup settings. Derived from the
    // same span machinery as q_doc_dedup_spans (same fixture), exact
    // integer micro-fraction.
    "q_corpus_dup_token_fraction" -> ((s, dir) => {
      val boiler = " subscribe to our newsletter today full terms of service apply"
      val aug = Tables.load(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(boiler)))
          .otherwise(col("text")).as("text"))
      val out = Dedup.dedupSpans(aug, "text", "doc_id", n = 8)
      val total = col("kept") + col("dropped")
      out.agg(
          sum(size(filter(
            graft.functions.WhitespaceTokens.wsTokens(col("text")),
            t => length(t) > 0))).cast("long").as("kept"),
          sum(col("n_tokens_dropped")).cast("long").as("dropped"))
        .select(total.as("n_tokens_total"),
          col("dropped").as("n_tokens_dup"),
          ((lit(1000000L) * col("dropped") -
            pmod(lit(1000000L) * col("dropped"), total)) / total)
            .cast("long").as("dup_fraction_micro"))
    }),

    // Dedup grouping: connected components over the MinHash-LSH pair
    // graph (same parameters as q_dedup_minhash_lsh). The operator's
    // checkpointed pointer-jumping rounds are checked against a recursive
    // transitive closure in the oracle — two different algorithms, one
    // fixpoint.
    "q_dedup_groups" -> ((s, dir) => {
      val pairs = Dedup.minHashLsh(Tables.load(s, dir, "documents"),
        "text", "doc_id", numHashes = 64, bands = 16, minJaccard = 0.2)
      Dedup.connectedComponents(pairs).orderBy(col("id"))
    }),

    // Integer-exact PageRank over a deterministic synthetic link graph
    // (three mod-arithmetic out-links per doc): the crawl-prioritization
    // prior, 3 fixed iterations of pure integer arithmetic (micro-unit
    // ranks, div-by-outdeg contributions, 85% damping as *85 DIV 100) —
    // bit-identical on any engine, oracle unrolls all three iterations.
    "q_graph_pagerank" -> ((s, dir) => {
      graft.operators.GraphRank.pageRank(syntheticLinkGraph(s, dir),
        "src", "dst", iterations = 3)
        .orderBy(col("id"))
    }),

    // The same integer-exact PageRank through the storage-partitioned
    // layout: edges (+ pre-joined out-degrees) materialized ONCE as a
    // src-bucketized kv table, every iteration's rank⋈edges join reads
    // the edge side in place — identical ranks, shared oracle; the
    // 100 TB iteration shape (PlanInvariantSpec asserts the edge scan
    // never reshuffles).
    "q_graph_pagerank_bucketed" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val path = s"/tmp/graft_prededges$safe"
      graft.operators.GraphRank.prepareEdgesBucketed(
        s, syntheticLinkGraph(s, dir), "src", "dst", path, numBuckets = 8)
      graft.operators.GraphRank.pageRankBucketed(s, path, iterations = 3)
        .orderBy(col("id"))
    }),

    // Components through the dst-bucketized edge layout: the per-round
    // edges⋈labels join reads the edge table in place — identical
    // fixpoint to q_dedup_groups (shared recursive-closure oracle).
    "q_dedup_groups_bucketed" -> ((s, dir) => {
      val pairs = Dedup.minHashLsh(Tables.load(s, dir, "documents"),
        "text", "doc_id", numHashes = 64, bands = 16, minJaccard = 0.2)
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      Dedup.connectedComponentsBucketed(s, pairs,
        s"/tmp/graft_ccedges$safe", numBuckets = 8).orderBy(col("id"))
    }),

    // Duplicate-cluster size histogram — the dedup audit chart
    // ("how big are the duplicate families?"): same pair graph and
    // closure as q_dedup_groups, two partial-aggregable groupBys on top.
    "q_dedup_cluster_sizes" -> ((s, dir) => {
      val pairs = Dedup.minHashLsh(Tables.load(s, dir, "documents"),
        "text", "doc_id", numHashes = 64, bands = 16, minJaccard = 0.2)
      Dedup.connectedComponents(pairs)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // Best-keeper near-dup drop: per duplicate cluster keep the longest
    // member (ties → min id) — what a production pipeline does, vs the
    // arbitrary min-id keeper. Same pair graph as q_dedup_groups; the
    // oracle replays closure + argmax independently.
    "q_dedup_drop_best" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
        numHashes = 64, bands = 16, minJaccard = 0.2)
      Dedup.dropNearDuplicatesBest(docs, pairs, "doc_id", "n_chars")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // The composed scale path: LSH candidates, exact shingle-set verify —
    // what replaces the all-pairs-per-shingle join on a real corpus.
    "q_dedup_ngram_lsh" -> ((s, dir) => {
      Dedup.ngramJaccardViaLsh(Tables.load(s, dir, "documents"), "text", "doc_id",
        numHashes = 64, bands = 16, minJaccard = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_embedding" -> ((s, dir) => {
      Dedup.embeddingCosine(Tables.load(s, dir, "embeddings"), "embedding",
        "vec_id", minCosine = 0.25)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // --- similarity search (operator-backed; brute-force is the oracle
    // anchor via q_embed_knn; LSH/IVF are the scale paths) ---
    "q_ann_lsh" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.lshKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, bands = 16)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Multi-probe LSH (Lv et al. 2007, single-bit perturbations): at a
    // deliberately collision-poor band budget (8 bands × 8 bits; the
    // 16-band gate above reaches 933‰ by paying twice the corpus-side
    // table) each query also probes the keys with its 5 lowest-
    // confidence bits flipped — recall rises on the QUERY side only,
    // where single-probe buys recall by adding bands and growing the
    // CORPUS-side banded table. Sketches, margins, flip priorities,
    // probe keys and the exact rescore all replay in the oracle.
    "q_ann_lsh_multiprobe" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.lshMultiProbeKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, bands = 8, probes = 6)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The flipped probes' measured value at EQUAL band budget: single
    // vs multi-probe recall vs exact brute force — one row (measured
    // 200 → 533‰ at sf0.01).
    "q_ann_lsh_multiprobe_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.lshMultiProbeRecallAudit(emb,
        emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, bands = 8, probes = 6)
    }),

    // Lv et al.'s full probe-set sequence: perturbations span bit PAIRS
    // ranked by SUMMED integer margins ((ms, mask) total order), so the
    // probe budget extends past the w+1 single-bit ceiling while the
    // corpus-side banded table stays untouched. The pair generation,
    // rank order, XOR keys and exact rescore all replay in the oracle.
    "q_ann_lsh_multiprobe2" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.lshMultiProbeKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, bands = 8, probes = 12,
        maxFlipBits = 2)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The pair sequence's measured value: single-bit multi-probe (the
    // r12 budget) vs the pair sequence at the SAME corpus-side table —
    // the pair recall must hold the single-bit floor.
    "q_ann_lsh_multiprobe2_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.lshMultiProbePairRecallAudit(emb,
        emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, bands = 8,
        probes1 = 6, probes2 = 12)
    }),

    // Lv et al.'s JOINT probe ordering: the same pair perturbation sets
    // ranked GLOBALLY per query ((ms, band, mask) — one budget spent
    // where the sketch is least confident) instead of a per-band quota
    // that flips even confidently-matched bands. Equal TOTAL budget
    // (8·5 = 40 extra keys), identical corpus-side table; the global
    // rank, XOR keys and rescore replay in the oracle.
    "q_ann_lsh_multiprobe_joint" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.lshMultiProbeJointKnn(emb,
        emb.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 3, bands = 8, extraProbes = 40, maxFlipBits = 2)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The joint ordering's measured value vs the per-band quota at
    // equal total budget, both vs brute force.
    "q_ann_lsh_multiprobe_joint_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.lshMultiProbeJointRecallAudit(emb,
        emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, bands = 8, probes = 6)
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      // maxTrainPerCell=32 < members-per-cell at sf0.01 — the gate
      // exercises the bounded hash-sampled training path, not just the
      // full-membership degenerate case
      SimilaritySearch.ivfKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 8, nProbe = 3, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The ANN recall audit (the q_dedup_lsh_audit discipline for the
    // vector tier): IVF top-k AND exact brute-force top-k run end to
    // end, one row of measured recall — IVF recall is a property of the
    // corpus's cluster structure, so it gets measured, not assumed.
    "q_ann_ivf_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.annRecallAudit(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 8, nProbe = 3, maxTrainPerCell = 32)
    }),

    // Filtered search, exact pre-filter baseline: each query retrieves
    // within its own label stratum (~10% selectivity on this corpus) —
    // the metadata-constrained serving query every vector store fields.
    "q_ann_filtered" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.filteredKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", "label", k = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Filtered IVF, predicate pushed inside the probed cells: ONE index
    // trained on the full corpus (filters arrive at query time), the
    // label constraint applied to probed rows before exact scoring.
    "q_ann_filtered_ivf" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.ivfFilteredKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", "label", k = 3,
        nCells = 8, nProbe = 3, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Filtered IVF, post-filter with 4× oversampling: the attribute-less
    // index strategy — shortlist k·4 ignoring the predicate, filter via
    // the metadata table, re-rank. Starves at 10% selectivity; the
    // audit below prices exactly how much.
    "q_ann_filtered_post" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.ivfPostFilterKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", "label", k = 3, oversample = 4,
        nCells = 8, nProbe = 3, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Persisted filtered index: the label column stored IN the cells
    // table (buildFilteredIvfIndex), search reads centroids + probed
    // cells only — bit-identical to the in-memory in-cell strategy
    // (shared oracle), the persisted-parity discipline of every tier.
    "q_ann_filtered_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_fvidx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildFilteredIvfIndex(emb, "embedding", "vec_id",
        "label", idx, nCells = 8, maxTrainPerCell = 32)
      SimilaritySearch.ivfFilteredKnnIndexed(emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", "label", idx, k = 3, nProbe = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The filtered-search price sheet, measured against the exact
    // pre-filter truth: in-cell pushdown holds IVF routing recall at any
    // selectivity; post-filter decays once selectivity < 1/oversample —
    // the reason attributes belong IN the index at 100 TB.
    "q_ann_filtered_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.filteredRecallAudit(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", "label", k = 3, oversamples = Seq(2, 8, 16),
        nCells = 8, nProbe = 3, maxTrainPerCell = 32)
    }),

    // OPQ tier: IVF-PQ over the deterministic Hadamard·sign rotation
    // (FAISS OPQ's rotation stage, data-free structured construction so
    // the whole chain — rotation, coarse k-means, per-subspace PQ, ADC
    // — replays exactly in the oracle). Same budget as q_ann_ivfpq.
    "q_ann_opq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.ivfPqOpqKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", dim = 64, k = 3, nCells = 4, nProbe = 2,
        m = 2, pqCells = 4, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // SSL-prototypes density pruning (Sorscher et al. 2022): per
    // k-means cluster keep the hardest keepMilli‰ (farthest from the
    // prototype) — the per-mode coverage-preserving prune. Whole chain
    // (k-means, d2, rank, integer keep counts) replays in the oracle.
    "q_sample_prototypes" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      graft.operators.Curation.prototypesPrune(emb, "embedding", "vec_id",
        keepMilli = 300, nCells = 8, maxTrainPerCell = 32)
        .orderBy(col("cell"), col("rnk"))
    }),

    // Graph-walk ANN (NSW-lite): deterministic beam search over a
    // within-cell kNN graph — per hop the walk touches beam×(degree+1)
    // candidates regardless of cell size, where an IVF probe scans its
    // whole cell. Build, seeds, walk and final top-k all replay in the
    // oracle (SketchOracleSql.annGraphCtes unrolls the hops).
    "q_ann_graph" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.graphKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 8, nProbe = 3,
        degree = 8, beamWidth = 16, hops = 3, seedsPerCell = 4,
        maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The persisted-index walk: centroids/cells/edges/seeds as kv
    // tables (train once, search many) — answers bit-identically to
    // the in-memory walk at the same knobs, so it shares the capped
    // walk's oracle. The build binds the production edge-candidate cap
    // (48/cell — binding at every fixture sf), because this gate is a
    // ScaleTrend family: the uncapped build is |corpus|·|cell| and
    // bends quadratic between fixture decades; the capped build is
    // |corpus|·cap — the configuration a 100 TB corpus would run.
    "q_ann_graph_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_gridx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildGraphIndex(emb, "embedding", "vec_id", idx,
        nCells = 8, degree = 8, seedsPerCell = 4, maxTrainPerCell = 32,
        maxEdgeCandidatesPerCell = 48)
      SimilaritySearch.graphKnnIndexed(emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", idx, k = 3, nProbe = 3,
        beamWidth = 16, hops = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The walk's measured recall vs exact brute force at the same
    // parameters — one row, annRecallAudit discipline.
    "q_ann_graph_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.graphRecallAudit(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 8, nProbe = 3,
        degree = 8, beamWidth = 16, hops = 3, seedsPerCell = 4,
        maxTrainPerCell = 32)
    }),

    // Cross-cell long-range edges (NSW's long links, determinized):
    // q_ann_graph's exact budget plus per-node top-4 edges into its 2
    // nearest OTHER cells. Without them a query whose true neighbors sit
    // in a cell its probes missed can never walk there; with them the
    // walk escapes its probed cells. Build+walk fully oracle-replayed.
    "q_ann_graph_cross" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.graphKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 8, nProbe = 3,
        degree = 8, beamWidth = 16, hops = 3, seedsPerCell = 4,
        maxTrainPerCell = 32, crossCells = 2, degreeCross = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The long-range edges' measured value at EQUAL beam/hops budget:
    // recall vs brute force (one row). On this fixture the probe-seeded
    // walk floor is 533‰ (q_ann_graph_audit); the cross edges lift it to
    // 800‰ — measured, not assumed.
    "q_ann_graph_cross_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.graphRecallAudit(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 8, nProbe = 3,
        degree = 8, beamWidth = 16, hops = 3, seedsPerCell = 4,
        maxTrainPerCell = 32, crossCells = 2, degreeCross = 4)
    }),

    // The build-side cost bound, BINDING: edges computed against a
    // 48-member deterministic per-cell candidate pool (cells hold ~62
    // members at sf0.01, ~250 at sf0.1), so candidate pairs are
    // |corpus|·48, never Σ|cell|². The oracle replays the sampled pool
    // (splitmix64-desc top-48 per cell), the capped edge build, and the
    // full walk — the cap is part of the replayed contract, not a
    // hidden approximation.
    "q_ann_graph_capped" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.graphKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 8, nProbe = 3,
        degree = 8, beamWidth = 16, hops = 3, seedsPerCell = 4,
        maxTrainPerCell = 32, maxEdgeCandidatesPerCell = 48)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The full graph-index maintenance cycle, oracle-replayed: build on
    // a base slice, append a batch (forward + reverse edges against the
    // fixed centroids), degree-prune the inflated edge lists back to
    // the bound, then walk. Every stage — assignment, append edges,
    // dedup, the top-degree re-fold, seeds (build-time, base-only) and
    // the unrolled hops — replays in the oracle.
    "q_ann_graph_prune" -> ((s, dir) => {
      val idx = s"/tmp/graft_grprune${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildGraphIndex(emb.filter(col("vec_id") >= 10),
        "embedding", "vec_id", idx, nCells = 8, degree = 8,
        seedsPerCell = 4, maxTrainPerCell = 32)
      SimilaritySearch.graphIndexAppend(emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", idx, degree = 8)
      SimilaritySearch.graphPruneEdges(s, idx, degree = 8)
      SimilaritySearch.graphKnnIndexed(emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", idx, k = 3, nProbe = 3,
        beamWidth = 16, hops = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Hierarchical entry (HNSW's upper levels, one determinized coarse
    // layer): a kNN graph over the 32 seed nodes, walked from the fixed
    // min-nid entry with beam 6 for 2 rounds — the final routed beam
    // seeds the base walk instead of flat centroid probing. HALF the
    // entry budget of q_ann_graph_cross (6 routed entries vs 12 quota
    // seeds), routing cost independent of nCells. Fully oracle-replayed
    // (top-layer edges, fixed entry, both unrolled walks).
    "q_ann_graph_hier" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.graphKnnHier(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 8,
        degree = 8, beamWidth = 16, hops = 3, seedsPerCell = 4,
        maxTrainPerCell = 32, crossCells = 2, degreeCross = 4,
        entryBeam = 6, hopsTop = 2, degreeTop = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The persisted-index hierarchical walk: the build persists the
    // top layer (`top_edges`, knobs-recorded degreeTop) so search is
    // READ-ONLY — no per-call top-layer refold — and answers
    // bit-identically to the in-memory hier walk (and to the rebuild
    // fallback pre-persist indexes use).
    "q_ann_graph_hier_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_grhidx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildGraphIndex(emb, "embedding", "vec_id", idx,
        nCells = 8, degree = 8, seedsPerCell = 4, maxTrainPerCell = 32,
        crossCells = 2, degreeCross = 4, degreeTop = 4)
      SimilaritySearch.graphKnnHierIndexed(emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", idx, k = 3,
        entryBeam = 6, hopsTop = 2, degreeTop = 4,
        beamWidth = 16, hops = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Streaming graph-tier index maintenance — the graph analogue of
    // q_ann_stream_index, batching-INDEPENDENT by construction: the
    // foreachBatch drain appends NODE rows only (per-row assignment
    // against fixed centroids), then ONE deterministic edge pass over
    // the whole drained set runs at finalize, keyed by final state —
    // so the oracle can replay it as train-on-base / assign-all /
    // edge-replay without knowing the trigger boundaries.
    "q_ann_graph_stream_index" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val idx = s"/tmp/graft_grstr_$u/i"
      val ckpt = s"/tmp/graft_grstrck_$u"
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildGraphIndex(emb.filter(col("vec_id") < 250),
        "embedding", "vec_id", idx, nCells = 8, degree = 8,
        seedsPerCell = 4, maxTrainPerCell = 32)
      // 400 source rows/trigger: ≥2 non-empty node batches at sf0.01
      // (150 + 100 post-filter) and 5 at sf0.1 — multi-batch enough to
      // exercise the drain (the spec pins arbitrary-chop bit-equality)
      // without paying 20 fixed micro-batch cycles per bench run
      val q = s.readStream.format("log")
        .option("path", s"$dir/embeddings.parquet")
        .option("maxOffsetsPerTrigger", "400").load()
        .filter(col("vec_id") >= 250)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          if (!df.isEmpty)
            SimilaritySearch.graphAppendNodes(df, "embedding", "vec_id", idx)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      SimilaritySearch.graphFinalizeAppend(s, idx)
      SimilaritySearch.graphKnnIndexed(emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", idx, k = 3, nProbe = 3,
        beamWidth = 16, hops = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Streaming maintenance × the persisted hierarchy: the SAME drain
    // harness, but the build persists its top layer (degreeTop=4 over
    // the base seeds) and the post-drain search routes through it
    // read-only (graphKnnHierIndexed) — seeds and top_edges are
    // build-time-fixed, so the layer is append-STABLE under streaming
    // ingest: nothing to refresh at the finalize, pinned by the
    // oracle replaying the base-seed top graph + the final
    // (base ∪ drained) walk. Closes the hier tier's batch/streaming
    // asymmetry.
    "q_ann_graph_stream_hier" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val idx = s"/tmp/graft_grsh_$u/i"
      val ckpt = s"/tmp/graft_grshck_$u"
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildGraphIndex(emb.filter(col("vec_id") < 250),
        "embedding", "vec_id", idx, nCells = 8, degree = 8,
        seedsPerCell = 4, maxTrainPerCell = 32, degreeTop = 4)
      val q = s.readStream.format("log")
        .option("path", s"$dir/embeddings.parquet")
        .option("maxOffsetsPerTrigger", "400").load()
        .filter(col("vec_id") >= 250)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          if (!df.isEmpty)
            SimilaritySearch.graphAppendNodes(df, "embedding", "vec_id", idx)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      SimilaritySearch.graphFinalizeAppend(s, idx)
      SimilaritySearch.graphKnnHierIndexed(emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", idx, k = 3,
        entryBeam = 4, hopsTop = 2, degreeTop = 4,
        beamWidth = 16, hops = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // TWO-layer hierarchy at nCells=64 (where the flat entry would scan
    // 64 centroids per query and the fixed-entry seed walk routes one
    // global entry across 128 seeds): a coarse walk over the
    // cell-centroid kNN graph picks each query's 6 entry cells, their
    // seeds enter the seed-layer walk at the SAME entryBeam=6 budget —
    // routing cost independent of nCells. Measured at the shared
    // budget (beamWidth=24, hops=3): flat probing 466‰, one-layer hier
    // 533‰, two-layer 800‰ — the 800‰ cross-edge floor survives the
    // 8× cell count ONLY with the cell-routed entries. Centroid graph,
    // cell walk, seed walk and base walk all replay in the oracle.
    "q_ann_graph_hier2" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.graphKnnHier2(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 64,
        degree = 8, beamWidth = 24, hops = 3, seedsPerCell = 2,
        maxTrainPerCell = 32, crossCells = 2, degreeCross = 4,
        entryBeam = 6, hopsTop = 2, degreeTop = 4,
        entryCells = 6, hopsCells = 2, degreeCells = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The persisted two-layer tier: BOTH routing layers stored at build
    // time (top_edges + cell_edges, knobs-recorded) — search is
    // read-only across all three layers and answers bit-identically to
    // the in-memory walk, so the gate shares its oracle.
    "q_ann_graph_hier2_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_grh2idx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildGraphIndex(emb, "embedding", "vec_id", idx,
        nCells = 64, degree = 8, seedsPerCell = 2, maxTrainPerCell = 32,
        crossCells = 2, degreeCross = 4, degreeTop = 4, degreeCells = 4)
      SimilaritySearch.graphKnnHier2Indexed(emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", idx, k = 3,
        entryBeam = 6, hopsTop = 2, degreeTop = 4,
        entryCells = 6, hopsCells = 2, degreeCells = 4,
        beamWidth = 24, hops = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The two-layer walk's measured value: the 800‰ cross-edge recall
    // floor must survive nCells=64 at the same entry budget (flat and
    // one-layer walks measure 466/533‰ at this exact budget).
    "q_ann_graph_hier2_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.graphHier2RecallAudit(emb,
        emb.filter(col("vec_id") < 5), "embedding", "vec_id", k = 3,
        nCells = 64, degree = 8, beamWidth = 24, hops = 3,
        seedsPerCell = 2, maxTrainPerCell = 32,
        crossCells = 2, degreeCross = 4,
        entryBeam = 6, hopsTop = 2, degreeTop = 4,
        entryCells = 6, hopsCells = 2, degreeCells = 4)
    }),

    // The hierarchy's measured value: recall vs brute force at HALF
    // q_ann_graph_cross's entry budget — the audit must hold the 800‰
    // cross-edge floor with 6 routed entries where flat probing needed
    // 12 quota seeds.
    "q_ann_graph_hier_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.graphHierRecallAudit(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 8,
        degree = 8, beamWidth = 16, hops = 3, seedsPerCell = 4,
        maxTrainPerCell = 32, crossCells = 2, degreeCross = 4,
        entryBeam = 6, hopsTop = 2, degreeTop = 4)
    }),

    // The maintenance cycle on an index built WITH cross-cell links:
    // the append takes degree AND the cross knobs from the knobs table
    // (no re-passed parameters — the silent-downgrade trap this gate
    // pins shut), and the prune folds same-cell and cross-cell edges
    // to their SEPARATE build budgets so long-range links survive
    // maintenance. Build, knobs-driven append, split-budget prune and
    // walk all replay in the oracle.
    "q_ann_graph_prune_cross" -> ((s, dir) => {
      val idx = s"/tmp/graft_grprunex${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildGraphIndex(emb.filter(col("vec_id") >= 10),
        "embedding", "vec_id", idx, nCells = 8, degree = 8,
        seedsPerCell = 4, maxTrainPerCell = 32,
        crossCells = 2, degreeCross = 4)
      SimilaritySearch.graphIndexAppend(emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", idx)
      SimilaritySearch.graphPruneEdges(s, idx, degree = 8)
      SimilaritySearch.graphKnnIndexed(emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", idx, k = 3, nProbe = 3,
        beamWidth = 16, hops = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The same rotation executed by the codegen'd O(d log d) fast
    // Walsh-Hadamard Expression (VectorExpressions.FwhtRotate) — the
    // butterfly reassociates the sums, so this chain gets its own
    // oracle replaying the stage/op order literally rather than
    // reusing q_ann_opq's naive-fold replay.
    "q_ann_opq_fwht" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.ivfPqOpqFwhtKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", dim = 64, k = 3, nCells = 4, nProbe = 2,
        m = 2, pqCells = 4, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Unigram-LM tokenizer training (Kudo 2018 / SentencePiece), the
    // hard-EM/Viterbi variant: substring seed vocabulary, integer
    // micro-nat surprisal scores, Viterbi re-segmentation of every word
    // type, re-count, prune, re-score. With BPE (q_tokenizer_merges)
    // this covers both major public subword-tokenizer trainers; the
    // oracle replays seed ranks, the unrolled per-position DP (cost
    // asc, longer-token-wins ties), the recursive backtrack walk, and
    // both smoothed score tables.
    "q_tokenizer_unigram" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.TokenizerTraining.trainUnigram(docs, "text")
        .orderBy(col("cnt").desc, col("tok")).limit(64)
    }),

    // SentencePiece's ACTUAL prune criterion (loss delta): keep the
    // multi-char tokens whose REMOVAL most increases total corpus cost
    // (masked-Viterbi alternative segmentation per (word type, token)
    // pair, integer micro-nats) instead of the most-counted ones — at
    // this budget the two criteria measurably disagree on the corpus
    // (loss keeps irreplaceable stems like 'hash'/'join' over generic
    // fragments; non-vacuity spec-pinned). Seed ranks, both DPs, the
    // deltas and the prune all replay in the oracle.
    "q_tokenizer_unigram_loss" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.TokenizerTraining.trainUnigramLossPrune(docs, "text",
        seedMulti = 64, vocabMulti = 8)
        .orderBy(col("cnt").desc, col("tok")).limit(64)
    }),

    // The loss criterion INSIDE the EM loop: two rounds at the tight
    // 64→48→8 budget schedule — round 1 prunes to 48 by loss delta,
    // round 2 re-scores, re-segments (routing around the evictions),
    // recomputes every masked DP under the fresh scores and prunes to
    // the final 8. The result measurably differs from BOTH the
    // single-round loss prune and the two-round count-pruning EM on
    // this corpus (non-vacuity spec-pinned); both rounds' DPs, masked
    // DPs, deltas and budgets replay in the oracle.
    "q_tokenizer_unigram_loss_em2" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.TokenizerTraining.trainUnigramLossPrune(docs, "text",
        seedMulti = 64, vocabMulti = 8, emIterations = 2)
        .orderBy(col("cnt").desc, col("tok")).limit(64)
    }),

    // SentencePiece's PRACTICAL schedule: count-prune the big early
    // pool (one Viterbi pass — no masked DP per (word, token) pair
    // while the candidate set is at its largest), loss-prune the final
    // round where an irreplaceable eviction can't be corrected.
    // MEASURED answer to "do the cheap early rounds change the final
    // vocabulary?": NO on this corpus — count→loss at 32→24→8 lands
    // bit-identical (cnt, delta, score) to loss→loss at the same
    // knobs, having skipped round 1's masked DPs entirely (the round
    // where the candidate pool, and so the DP fan-out, is largest);
    // count→count at the same knobs DIFFERS (drops 'join'/'hash' for
    // generic fragments), so the final loss round is load-bearing.
    // Both rounds replay in the oracle (count round = one Viterbi
    // chain, no delta CTEs).
    "q_tokenizer_unigram_mixed" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.TokenizerTraining.trainUnigramSchedule(docs, "text",
        seedMulti = 32, vocabMulti = 8, criteria = Seq("count", "loss"))
        .orderBy(col("cnt").desc, col("tok")).limit(64)
    }),

    // CCNet's perplexity bucketing with the REPO'S OWN tokenizer: train
    // the unigram LM, Viterbi-encode every document under the final
    // scores, take integer micro-nats per token (cost // n_tokens —
    // the per-doc LM quality signal), and split the corpus into
    // head/middle/tail TERTILES by exact rank (rn ordered by cost
    // asc, doc_id; bucket = (rn−1)·3 // n_docs). At 100 TB the rank
    // is one total-order sort of doc-level rows (not tokens); the
    // training/encode stages are the bounded trainUnigram shapes.
    // Training, encode, per-doc costs, ranks and bucket rollups all
    // replay in the oracle.
    "q_doc_unigram_ppl_buckets" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val trained = graft.operators.TokenizerTraining.trainUnigram(
        docs, "text", seedMulti = 64, vocabMulti = 8)
      val scores = trained.collect()
        .map(r => r.getAs[String]("tok") -> r.getAs[Long]("score")).toMap
      val sMap = typedLit(scores)
      val perDoc = graft.operators.TokenizerTraining
        .encodeUnigram(docs, "text", "doc_id", scores)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          aggregate(col("tokens"), lit(0L),
            (a, t) => a + element_at(sMap, t)).as("cost_micro"))
        .where(col("n_tokens") > 0)
        // exact integer floor(cost/n): subtract the remainder first so
        // the double division is an exact integer (never a truncating
        // cast of a rounded quotient)
        .withColumn("mnpt", ((col("cost_micro") -
          pmod(col("cost_micro"), col("n_tokens"))) / col("n_tokens"))
          .cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("mnpt"), col("doc_id"))
      perDoc
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("nd", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()).cast("long"))
        .withColumn("bucket",
          when((col("rn") - 1L) * 3L < col("nd"), "head")
            .when((col("rn") - 1L) * 3L < col("nd") * 2L, "middle")
            .otherwise("tail"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          min(col("mnpt")).as("min_mnpt"), max(col("mnpt")).as("max_mnpt"))
        .orderBy(col("bucket"))
    }),

    // The multi-round EM variant: two Viterbi-EM rounds at TIGHT
    // budgets (64→48→8) — the interim prune evicts multi-char tokens
    // round 2's re-segmentation must route around, so the final
    // vocabulary measurably DIFFERS from the single-round trainer's on
    // this corpus (knobs chosen so the gate differentiates a broken
    // second round; at the default 256→192→128 the corpus converges
    // after round 1 and rounds 2+ are fixed points). Both rounds' DP /
    // backtrack / re-count / prune replay in the oracle.
    "q_tokenizer_unigram_em2" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.TokenizerTraining.trainUnigram(docs, "text",
        seedMulti = 64, vocabMulti = 8, emIterations = 2)
        .orderBy(col("cnt").desc, col("tok")).limit(64)
    }),

    // The encode side of the unigram trainer: tokenize every document
    // with the trained vocabulary (each word TYPE segmented once,
    // documents join back) — per-doc token counts, with the oracle
    // re-deriving the trained scores and running a SECOND Viterbi
    // unroll under them.
    "q_doc_unigram_tokens" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val vocab = graft.operators.TokenizerTraining.trainUnigram(docs, "text")
        .collect()
        .map(r => r.getAs[String]("tok") -> r.getAs[Long]("score")).toMap
      graft.operators.TokenizerTraining.encodeUnigram(docs, "text", "doc_id", vocab)
        .select(col("doc_id"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // The tokenizer as a PERSISTED ARTIFACT (the production shape:
    // train once, ship the vocab, encode anywhere): the trained
    // (tok, score) table lands in kv, and the serving plan reads the
    // stored rows alone — no re-training — with encode output
    // BIT-IDENTICAL to the train-in-plan gate (same vocab ⇒ same
    // Viterbi segmentation; shares its oracle). The vocab read is the
    // documented driver-bounded collect (≤ 8192 rows by the training
    // require), the same artifact shape every ANN tier persists.
    "q_doc_unigram_tokens_indexed" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val vk = s"/tmp/graft_uvocab$safe"
      graft.sources.ParquetIO.deletePath(vk)
      val docs = Tables.load(s, dir, "documents")
      graft.operators.TokenizerTraining.trainUnigram(docs, "text")
        .write.format("kv").option("path", vk).mode("overwrite").save()
      val vocab = s.read.format("kv").option("path", vk).load()
        .collect()
        .map(r => r.getAs[String]("tok") -> r.getAs[Long]("score")).toMap
      graft.operators.TokenizerTraining.encodeUnigram(docs, "text", "doc_id", vocab)
        .select(col("doc_id"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Streaming ingest × ANN index maintenance (the q_kv_stream_index
    // composition applied to the vector tier): build the IVF index on a
    // base slice, then stream the remaining vectors in rate-limited
    // micro-batches, each foreachBatch running ivfIndexAppend (assign
    // against the FIXED persisted centroids, append to the cells table
    // — O(batch) per trigger, never O(index)). Assignment is per-row
    // against fixed centroids, so the final index content is
    // batching-independent: the oracle trains on the base slice,
    // assigns ALL vectors, and replays the probe search exactly.
    "q_ann_stream_index" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val idx = s"/tmp/graft_annstr_$u/i"
      val ckpt = s"/tmp/graft_annstrck_$u"
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildIvfIndex(emb.filter(col("vec_id") < 250),
        "embedding", "vec_id", idx, nCells = 8, maxTrainPerCell = 32)
      val q = s.readStream.format("log")
        .option("path", s"$dir/embeddings.parquet")
        .option("maxOffsetsPerTrigger", "500").load()
        .filter(col("vec_id") >= 250)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          if (!df.isEmpty)
            SimilaritySearch.ivfIndexAppend(df, "embedding", "vec_id", idx)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      SimilaritySearch.ivfKnnIndexed(emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", idx, k = 3, nProbe = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // LEARNED OPQ rotation: variance-balancing dimension permutation
    // (OPQ's eigenvalue-allocation step, integer-determinized) on an
    // ANISOTROPIC fixture — dims 0-31 ×4.0, 32-63 ×0.25 (exact powers
    // of two), so the contiguous PQ split puts all the variance in one
    // subspace and the learned permutation has something real to fix.
    // Proxy sums, ranking, serpentine allocation, permutation and the
    // full IVF-PQ chain all replay in the oracle.
    "q_ann_varperm" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val aniso = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") * when(i < 32, lit(4.0)).otherwise(lit(0.25)))
          .as("embedding"))
      SimilaritySearch.ivfPqVarPermKnn(aniso,
        aniso.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 4, nProbe = 4, m = 2, pqCells = 16,
        maxTrainPerCell = 64)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The learned tier persisted: permutation + IVF-PQ tables as kv
    // tables (train once, search many) — queries apply the STORED
    // permutation, so results are bit-identical to the in-memory chain
    // and the gate shares its oracle.
    "q_ann_varperm_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_vpidx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      val aniso = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") * when(i < 32, lit(4.0)).otherwise(lit(0.25)))
          .as("embedding"))
      SimilaritySearch.buildVarPermIndex(aniso, "embedding", "vec_id", idx,
        dim = 64, nCells = 4, m = 2, pqCells = 16, maxTrainPerCell = 64)
      SimilaritySearch.varPermKnnIndexed(s, idx,
        aniso.filter(col("vec_id") < 20), "embedding", "vec_id",
        k = 3, nProbe = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The learned permutation's measured value on the anisotropic
    // fixture: permuted vs plain IVF-PQ recall at EQUAL probe budget vs
    // exact brute force — where q_ann_opq_audit's data-free rotation
    // correctly ties on the isotropic fixture, the data-dependent
    // permutation shows a REAL gain here (measured, oracle-replayed).
    "q_ann_varperm_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val aniso = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") * when(i < 32, lit(4.0)).otherwise(lit(0.25)))
          .as("embedding"))
      SimilaritySearch.varPermRecallAudit(aniso,
        aniso.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 4, nProbe = 4, m = 2, pqCells = 16,
        maxTrainPerCell = 64)
    }),

    // The learned-permutation tier under the stored cosine knob:
    // buildVarPermIndex(normalize=true) unit-normalizes FIRST, derives
    // the permutation from the UNIT vectors (a raw-variance proxy is
    // dominated by vector length, which cosine ignores) and records
    // the flag in perm_meta — raw queries enter and varPermKnnIndexed
    // applies the identical transform. Unit chain, proxy sums,
    // permutation and the full IVF-PQ chain replay in the oracle.
    "q_ann_varperm_cosine" -> ((s, dir) => {
      val idx = s"/tmp/graft_vpcos${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      val mixed = MrlFixture(Pca3Fixture(emb))
      SimilaritySearch.buildVarPermIndex(mixed, "embedding", "vec_id", idx,
        dim = 64, nCells = 8, m = 4, pqCells = 16, maxTrainPerCell = 64,
        normalize = true)
      SimilaritySearch.varPermKnnIndexed(s, idx,
        mixed.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 3, nProbe = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The knob's measured value on the varperm tier: raw vs
    // unit-normalized varperm chains at the SAME budget (each derives
    // its own permutation from the vectors it codes), both vs exact
    // cosine brute force, on the mixed fixture (norm spread AND
    // subspace-variance imbalance — the raw chain loses on routing
    // and on what its permutation balances).
    "q_ann_varperm_cosine_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val mixed = MrlFixture(Pca3Fixture(emb))
      SimilaritySearch.varPermCosineRecallAudit(mixed,
        mixed.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 8, nProbe = 4, m = 4, pqCells = 16,
        maxTrainPerCell = 64)
    }),

    // LEARNED PCA rotation (integer power iteration + exact Householder
    // reflection) on an OBLIQUE-anisotropy fixture: every dim sheared
    // by +4·dim1, so the dominant variance direction is the all-ones
    // diagonal and every AXIS variance is equal — the variance
    // permutation is blind here, only a genuine rotation concentrates
    // the shared component where one product quantizer can code it.
    // Power rounds, Householder u, reflection and the full IVF-PQ
    // chain all replay in the oracle.
    "q_ann_pca" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val sheared = emb.select(col("vec_id"),
        transform(col("embedding"), x =>
          x.cast("double") +
            lit(4.0) * element_at(col("embedding"), 1).cast("double"))
          .as("embedding"))
      SimilaritySearch.ivfPqPcaKnn(sheared,
        sheared.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 4, nProbe = 4, m = 2, pqCells = 16,
        maxTrainPerCell = 64)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The learned-rotation tier persisted: Householder u + IVF-PQ
    // tables as kv tables (train once, search many) — queries apply
    // the STORED u, so results are bit-identical to the in-memory
    // chain and the gate shares its oracle.
    "q_ann_pca_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_pcaidx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      val sheared = emb.select(col("vec_id"),
        transform(col("embedding"), x =>
          x.cast("double") +
            lit(4.0) * element_at(col("embedding"), 1).cast("double"))
          .as("embedding"))
      SimilaritySearch.buildPcaIndex(sheared, "embedding", "vec_id", idx,
        dim = 64, nCells = 4, m = 2, pqCells = 16, maxTrainPerCell = 64)
      SimilaritySearch.pcaKnnIndexed(s, idx,
        sheared.filter(col("vec_id") < 20), "embedding", "vec_id",
        k = 3, nProbe = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The rotation's measured value vs the PERMUTATION at equal probe
    // budget on the oblique fixture — recall_pca must exceed
    // recall_perm (the permutation reads equal axis variances and
    // reduces to a no-op reallocation), both vs exact brute force.
    "q_ann_pca_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val sheared = emb.select(col("vec_id"),
        transform(col("embedding"), x =>
          x.cast("double") +
            lit(4.0) * element_at(col("embedding"), 1).cast("double"))
          .as("embedding"))
      SimilaritySearch.pcaRecallAudit(sheared,
        sheared.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 4, nProbe = 4, m = 2, pqCells = 16,
        maxTrainPerCell = 64)
    }),

    // TWO deflated PCA components on a TWO-oblique-directions fixture:
    // +4·dim1 along all-ones AND +2·dim2 along the alternating-sign
    // diagonal (exact powers of two) — one reflection isolates only
    // the first; the second component power-iterates the dim0-masked
    // residual (v₂[0] = 0 exactly, so H₂ fixes e₁) and composes,
    // H₂∘H₁ exactly orthogonal. Both power chains, both Householders
    // and the chain replay in the oracle.
    "q_ann_pca2" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val two = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") +
            lit(4.0) * element_at(col("embedding"), 1).cast("double") +
            when(pmod(i, lit(2)) === 0, lit(2.0)).otherwise(lit(-2.0)) *
              element_at(col("embedding"), 2).cast("double"))
          .as("embedding"))
      SimilaritySearch.ivfPqPca2Knn(two,
        two.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 4, nProbe = 4, m = 2, pqCells = 16,
        maxTrainPerCell = 64)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The second component's measured value: one- vs two-reflection
    // chains at equal budget on the two-direction fixture, both vs
    // exact brute force — recall_pca2 must exceed recall_pca1 (the
    // single reflection leaves the second shared component smeared
    // across both PQ subspaces).
    "q_ann_pca2_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val two = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") +
            lit(4.0) * element_at(col("embedding"), 1).cast("double") +
            when(pmod(i, lit(2)) === 0, lit(2.0)).otherwise(lit(-2.0)) *
              element_at(col("embedding"), 2).cast("double"))
          .as("embedding"))
      SimilaritySearch.pca2RecallAudit(two,
        two.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 4, nProbe = 4, m = 2, pqCells = 16,
        maxTrainPerCell = 64)
    }),

    // THREE deflated PCA components over UNIT-NORMALIZED vectors with
    // VARIANCE-BALANCED pivots (one isolated component per PQ subspace:
    // pivots 0/16/32 at m=4 — Ge et al. 2013's balancing objective
    // applied to the Householder pivot positions). Sequential pivots
    // measurably LOSE here — packing three dominant dims into one
    // 16-codeword codebook leaves ~2.5 quantization levels per dim —
    // and without normalization EVERYTHING is capped by the L2↔cosine
    // mismatch (q_ann_cosine_audit pins that ceiling). Normalization,
    // all three power chains, Householders and the composed rotation
    // replay in the oracle.
    "q_ann_pca3" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val three = Pca3Fixture(emb)
      SimilaritySearch.ivfPqPcaKKnn(three,
        three.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, components = 3, nCells = 4, nProbe = 4, m = 4,
        pqCells = 16, maxTrainPerCell = 64,
        normalize = true, balancePivots = true)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The k-component chain persisted: householder table stores
    // (comp, slot, u) — dim·k rows, application order — plus the
    // normalize flag in pca_meta, beside the IVF-PQ tables built over
    // the normalized+rotated vectors; queries apply the STORED chain,
    // bit-identical to the in-memory k=3 path, so the gate shares its
    // oracle.
    "q_ann_pca3_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_pca3idx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      val three = Pca3Fixture(emb)
      SimilaritySearch.buildPcaIndex(three, "embedding", "vec_id", idx,
        dim = 64, nCells = 4, m = 4, pqCells = 16, maxTrainPerCell = 64,
        components = 3, normalize = true, balancePivots = true)
      SimilaritySearch.pcaKnnIndexed(s, idx,
        three.filter(col("vec_id") < 20), "embedding", "vec_id",
        k = 3, nProbe = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The third component's measured value: two- vs three-reflection
    // chains at equal budget on the three-direction fixture (both
    // normalized + balanced), both vs exact cosine brute force —
    // recall_pca3 must exceed recall_pca2 (the two-reflection chain
    // leaves the third shared component smeared across every PQ
    // subspace).
    "q_ann_pca3_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val three = Pca3Fixture(emb)
      SimilaritySearch.pca3RecallAudit(three,
        three.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 4, nProbe = 4, m = 4, pqCells = 16,
        maxTrainPerCell = 64, normalize = true, balancePivots = true)
    }),

    // WHERE components stop paying (the k-selection sweep): recall at
    // k = m−1 / m / m+1 deflated components with balanced pivots at a
    // fixed codebook budget on the FOUR-direction fixture — at k = m
    // every subspace holds exactly one isolated component (all slots
    // used); the (m+1)th must double up in one. Measured: 466→616→583
    // at sf0.01 (the textbook peak at k = m) but 416→466→516 at sf0.1
    // (the bigger corpus's residual still carries signal) — the
    // corpus-dependence that makes the sweep, not a parameter-sheet
    // rule, the k-selection procedure. All three chains + the cosine
    // truth replay in the oracle.
    "q_ann_pca_saturation" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val four = Pca4Fixture(emb)
      SimilaritySearch.pcaSaturationAudit(four,
        four.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 4, nProbe = 4, m = 4, pqCells = 16,
        maxTrainPerCell = 64)
    }),

    // The metric-consistency audit: the SAME plain IVF-PQ chain at the
    // SAME budget over raw vs unit-normalized vectors, both vs exact
    // COSINE brute force, on the norm-spread fixture — plus the
    // mismatch ceiling itself (exact L2 top-k vs cosine top-k). On
    // unit vectors ‖x−y‖² = 2−2cos(x,y), so normalization is what
    // makes an L2 ADC chain answer the cosine question at all; the
    // raw chain's recall is capped near the exact-L2 ceiling no
    // matter how good its quantizer is. Everything replays in the
    // oracle.
    "q_ann_cosine_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val three = Pca3Fixture(emb)
      SimilaritySearch.cosineRecallAudit(three,
        three.filter(col("vec_id") < 20), "embedding", "vec_id",
        k = 3, nCells = 4, nProbe = 4, m = 4, pqCells = 16,
        maxTrainPerCell = 64)
    }),

    // The cosine-consistency knob, persisted: buildIvfIndex
    // (normalize=true) unit-normalizes the corpus before training and
    // assignment AND records the flag in the index's knobs table, so
    // ivfKnnIndexed applies the identical transform to raw queries at
    // search time — cells partition by direction, not magnitude. The
    // oracle replays the normalized chain end to end (unit norm,
    // k-means, probes, cosine rescoring); queries enter RAW, proving
    // the stored knob (not the caller) drives the preprocessing.
    "q_ann_ivf_cosine" -> ((s, dir) => {
      val idx = s"/tmp/graft_ivfcos${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      val three = Pca3Fixture(emb)
      SimilaritySearch.buildIvfIndex(three, "embedding", "vec_id", idx,
        nCells = 8, maxTrainPerCell = 32, normalize = true)
      SimilaritySearch.ivfKnnIndexed(three.filter(col("vec_id") < 20),
        "embedding", "vec_id", idx, k = 3, nProbe = 2)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The knob's measured value on the IVF tier: the SAME probe budget
    // over raw vs unit-normalized vectors, both vs exact cosine brute
    // force, on the norm-spread fixture — IVF rescoring is already
    // cosine, so the gap is pure cell ROUTING (raw cells cluster by
    // magnitude; the query's nProbe nearest cells miss directional
    // neighbors). Both chains and the brute reference replay in the
    // oracle.
    "q_ann_ivf_cosine_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val three = Pca3Fixture(emb)
      SimilaritySearch.ivfCosineRecallAudit(three,
        three.filter(col("vec_id") < 20), "embedding", "vec_id",
        k = 3, nCells = 8, nProbe = 2, maxTrainPerCell = 32)
    }),

    // The knob's measured value on the graph tier: graphKnn at the
    // SAME walk budget over raw vs unit-normalized vectors, both vs
    // exact cosine brute force. The raw layout loses twice on a
    // norm-spread corpus — entry cells route by magnitude AND
    // within-cell edges only link the directional neighbors that
    // magnitude-clustering co-located — so normalize fixes the
    // reachable set, not just the entry (buildGraphIndex's knob runs
    // this exact shared code path).
    "q_ann_graph_cosine_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val three = Pca3Fixture(emb)
      SimilaritySearch.graphCosineRecallAudit(three,
        three.filter(col("vec_id") < 20), "embedding", "vec_id",
        k = 3, nCells = 8, nProbe = 1, degree = 8, beamWidth = 16,
        hops = 3, seedsPerCell = 4, maxTrainPerCell = 32)
    }),

    // PERSISTED sketch table + rollup — the operational 100 TB pattern
    // the register representation exists for: per-(event_type, 6h
    // window) registers land ONCE as a kv table (binary blobs), and
    // any coarser distinct count is answered from sketch rows alone —
    // no raw-data re-read. Register max is associative/commutative, so
    // the rollup is BIT-IDENTICAL to the direct sketch over the raw
    // union — the oracle pins the merged estimate against the direct
    // chain's replay (any merge divergence fails the compare), with
    // the direct aggregate and exact count riding along.
    "q_corpus_hll_merge" -> ((s, dir) => {
      val sk = s"/tmp/graft_hllsk${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(sk)
      val ev = Tables.load(s, dir, "events")
      ev.groupBy(col("event_type"), window(col("ts"), "21600 seconds"))
        .agg(graft.functions.HllDistinct.hllRegisters(col("user_id"), p = 8)
          .as("regs"))
        .select(col("event_type"),
          unix_timestamp(col("window.start")).as("w_start"), col("regs"))
        .write.format("kv").option("path", sk).mode("overwrite").save()
      val merged = s.read.format("kv").option("path", sk).load()
        .groupBy(col("event_type"))
        .agg(graft.functions.HllMerge.hllMergeEstimate(col("regs"), p = 8)
          .as("hll_ndv"))
      val direct = ev.groupBy(col("event_type"))
        .agg(graft.functions.HllDistinct.hllDistinct(col("user_id"), p = 8)
          .as("hll_direct"),
          countDistinct(col("user_id")).as("exact_ndv"))
      merged.join(direct, "event_type")
        .select(col("event_type"), col("hll_ndv"), col("hll_direct"),
          col("exact_ndv"))
        .orderBy(col("event_type"))
    }),

    // Cross-corpus OVERLAP from persisted sketches alone — the release
    // question ("how much vocabulary does corpus A share with corpus
    // B") answered WITHOUT the exact join: register union is
    // element-wise max (A∪B's sketch exactly), so
    // |A∩B| ≈ |A| + |B| − |A∪B| by inclusion–exclusion over three
    // row-local estimate readouts. Corpora are the per-source BIGRAM
    // vocabularies of the documents table (genuinely partial overlaps,
    // unlike the fixture's saturated user sets); the raw corpus is
    // touched ONLY for the exact-intersection accuracy pin that rides
    // along — the estimate columns derive from the 6-row sketch table
    // (broadcast pair frame, zero corpus-side join). At 100 TB the
    // exact pairwise vocab join is exactly what this replaces: 15
    // pair estimates read 6 persisted 256-byte rows. All three
    // estimators and the pairing replay in the oracle.
    "q_corpus_hll_overlap" -> ((s, dir) => {
      import graft.functions.{HllDistinct, HllMerge}
      val sk = s"/tmp/graft_hllov${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(sk)
      val grams = SourceBigrams(s, dir)
      grams.groupBy(col("source"))
        .agg(HllDistinct.hllRegisters(col("gram"), p = 8).as("regs"))
        .write.format("kv").option("path", sk).mode("overwrite").save()
      val skdf = s.read.format("kv").option("path", sk).load()
      val est = skdf.select(col("source").as("source_a"),
          col("regs").as("ra"))
        .join(broadcast(skdf.select(col("source").as("source_b"),
          col("regs").as("rb"))), col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          HllMerge.hllEstimate(col("ra"), 8).as("hll_a"),
          HllMerge.hllEstimate(col("rb"), 8).as("hll_b"),
          HllMerge.hllEstimate(HllMerge.hllUnion(col("ra"), col("rb")), 8)
            .as("hll_union"))
        .withColumn("hll_overlap",
          col("hll_a") + col("hll_b") - col("hll_union"))
      val dg = grams.distinct()
      val exact = dg.select(col("source").as("source_a"), col("gram"))
        .join(dg.select(col("source").as("source_b"), col("gram")), "gram")
        .where(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      est.join(exact, Seq("source_a", "source_b"), "left")
        .na.fill(0L, Seq("exact_overlap"))
        .select(col("source_a"), col("source_b"), col("hll_a"),
          col("hll_b"), col("hll_union"), col("hll_overlap"),
          col("exact_overlap"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // PERSISTED KMV minima table + rollup — the q_corpus_hll_merge
    // discipline on the KMV synopsis: per-(type, 6h window) minima
    // land ONCE as a kv table; any coarser distinct count is answered
    // from sketch rows alone via kmv_merge (set-union + trim — the k
    // smallest of a union of k-min sets IS the union's k-min, so the
    // rollup is BIT-IDENTICAL to the direct build). The oracle replays
    // ONE chain and pins both the merged and the direct column.
    "q_corpus_kmv_merge" -> ((s, dir) => {
      import graft.functions.KmvDistinct
      val sk = s"/tmp/graft_kmvmg${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(sk)
      val ev = Tables.load(s, dir, "events")
      ev.groupBy(col("event_type"), window(col("ts"), "21600 seconds"))
        .agg(KmvDistinct.kmvMinima(col("user_id"), k = 128).as("mins"))
        .select(col("event_type"),
          unix_timestamp(col("window.start")).as("w_start"), col("mins"))
        .write.format("kv").option("path", sk).mode("overwrite").save()
      val merged = s.read.format("kv").option("path", sk).load()
        .groupBy(col("event_type"))
        .agg(KmvDistinct.kmvMergeMinima(col("mins"), k = 128).as("mins"))
        .select(col("event_type"),
          KmvDistinct.kmvEstimate(col("mins"), k = 128).as("kmv_ndv"))
      val direct = ev.groupBy(col("event_type"))
        .agg(KmvDistinct.kmvDistinct(col("user_id"), k = 128)
          .as("kmv_direct"),
          countDistinct(col("user_id")).as("exact_ndv"))
      merged.join(direct, "event_type")
        .select(col("event_type"), col("kmv_ndv"), col("kmv_direct"),
          col("exact_ndv"))
        .orderBy(col("event_type"))
    }),

    // The KMV route to the same overlap question — DIRECT intersection
    // estimation instead of HLL's differenced inclusion–exclusion: the
    // k smallest hashes of minA ∪ minB are exactly A∪B's synopsis, and
    // membership of those hashes in each side is testable from the
    // stored arrays alone (Beyer et al., SIGMOD'07), so K∩/k scales the
    // union estimate with variance that does NOT blow up when the
    // overlap is small relative to the union. Same persisted-sketch
    // discipline: the estimate columns read the 6-row minima table; the
    // raw corpus only feeds the exact ride-along pin.
    "q_corpus_kmv_overlap" -> ((s, dir) => {
      import graft.functions.KmvDistinct
      val sk = s"/tmp/graft_kmvov${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(sk)
      val grams = SourceBigrams(s, dir)
      grams.groupBy(col("source"))
        .agg(KmvDistinct.kmvMinima(col("gram"), k = 256).as("mins"))
        .write.format("kv").option("path", sk).mode("overwrite").save()
      val skdf = s.read.format("kv").option("path", sk).load()
      val est = skdf.select(col("source").as("source_a"),
          col("mins").as("ma"))
        .join(broadcast(skdf.select(col("source").as("source_b"),
          col("mins").as("mb"))), col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          KmvDistinct.kmvIntersectEstimate(col("ma"), col("mb"), 256)
            .as("kmv_overlap"))
      val dg = grams.distinct()
      val exact = dg.select(col("source").as("source_a"), col("gram"))
        .join(dg.select(col("source").as("source_b"), col("gram")), "gram")
        .where(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      est.join(exact, Seq("source_a", "source_b"), "left")
        .na.fill(0L, Seq("exact_overlap"))
        .select(col("source_a"), col("source_b"), col("kmv_overlap"),
          col("exact_overlap"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // The rotation's measured value: OPQ-rotated vs plain IVF-PQ recall
    // at EQUAL probe budget, both against exact brute force — one row.
    // On an isotropic corpus the delta is ≈0 by construction; the gate
    // keeps the comparison measured instead of assumed.
    "q_ann_opq_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.opqRecallAudit(emb, emb.filter(col("vec_id") < 10),
        "embedding", "vec_id", dim = 64, k = 3, nCells = 4, nProbe = 3,
        m = 2, pqCells = 16, maxTrainPerCell = 64)
    }),

    // Scalar quantization (SQ8): one signed byte per dimension, exact
    // integer dot products, fixed-op-order rescale — the 8×-smaller
    // brute-force plane; every quantization step replays in the oracle.
    "q_ann_sq8" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.sq8Knn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Binary (1-bit sign) quantization — the 32×-compressed tier below
    // SQ8: packed 32-bit sign words, Hamming top-k by bit_count(xor).
    // Exact integer distances with nid-asc ties, so the packing, the
    // per-word XOR pop-counts and the ranking all replay in the oracle.
    "q_ann_binary" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.binaryKnn(emb, emb.filter(col("vec_id") < 20),
        "embedding", "vec_id", dim = 64, k = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The code table persisted (train-free: encoding is deterministic,
    // bin_meta records the packing dim) — searches scan the 32×-smaller
    // codes table only; bit-identical to the in-memory scan, so the
    // gate shares its oracle.
    "q_ann_binary_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_binidx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildBinaryIndex(emb, "embedding", "vec_id", idx,
        dim = 64)
      SimilaritySearch.binaryKnnIndexed(s, idx,
        emb.filter(col("vec_id") < 20), "embedding", "vec_id", k = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Streaming maintenance for the binary tier — the LAST
    // batch/streaming asymmetry closed: build on a 250-vector base,
    // drain the rest through foreachBatch binaryIndexAppend (500/
    // trigger), search the drained table. Encoding is train-free and
    // deterministic at the stored dim, so chopped ≡ one-shot BY
    // CONSTRUCTION (no finalize pass — the degenerate base case of the
    // maintenance matrix every trained tier implements); the final
    // corpus is the full table, so the gate shares the indexed oracle.
    "q_ann_binary_stream_index" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val idx = s"/tmp/graft_binstr_$u/i"
      val ckpt = s"/tmp/graft_binstrck_$u"
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildBinaryIndex(emb.filter(col("vec_id") < 250),
        "embedding", "vec_id", idx, dim = 64)
      val q = s.readStream.format("log")
        .option("path", s"$dir/embeddings.parquet")
        .option("maxOffsetsPerTrigger", "500").load()
        .filter(col("vec_id") >= 250)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          if (!df.isEmpty)
            SimilaritySearch.binaryIndexAppend(df, "embedding", "vec_id", idx)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      SimilaritySearch.binaryKnnIndexed(s, idx,
        emb.filter(col("vec_id") < 20), "embedding", "vec_id", k = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The 1-bit serving cascade (binary shortlist + exact rescore —
    // the ivfPqRefineKnn pattern on Hamming codes): at 100 TB the
    // first pass reads the 32×-smaller code column and the float
    // column is touched for |Q|·refine rows only. Whole cascade
    // (packing, Hamming shortlist, cosine rescore) oracle-replayed.
    "q_ann_binary_refine" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.binaryRefineKnn(emb, emb.filter(col("vec_id") < 20),
        "embedding", "vec_id", dim = 64, k = 3, refine = 10)
        .orderBy(col("qid"), col("rnk"))
    }),

    // What the 32× compression costs raw and what the rescore buys
    // back: Hamming-only vs Hamming+rescore at the same budget, both
    // vs exact cosine brute force (measured, oracle-replayed).
    "q_ann_binary_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.binaryRecallAudit(emb,
        emb.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, refine = 10)
    }),

    // Asymmetric binary scoring (Jégou's asymmetric distance on the
    // 1-bit tier): IDENTICAL corpus storage to q_ann_binary — packed
    // sign words only — but the query keeps its magnitudes (SQ8
    // integer grid), scoring Σ qq_i·sign(x_i). The standard next rung
    // above symmetric Hamming at zero storage cost; shortlist +
    // exact-cosine rescore as usual. Integer scores, nid-asc ties —
    // quantization, packing, scoring and rescore all oracle-replayed.
    "q_ann_binary_asym" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.binaryAsymKnn(emb, emb.filter(col("vec_id") < 20),
        "embedding", "vec_id", dim = 64, k = 3, refine = 10)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The asym cascade over the PERSISTED code table: the stored words
    // feed the asymmetric first pass, floats are fetched for
    // |Q|·refine rows only — bit-identical to the in-memory path
    // (train-free encode, integer scores), so the gate shares its
    // oracle.
    "q_ann_binary_asym_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_binasx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildBinaryIndex(emb, "embedding", "vec_id", idx,
        dim = 64)
      SimilaritySearch.binaryAsymKnnIndexed(s, idx, emb,
        emb.filter(col("vec_id") < 20), "embedding", "vec_id", k = 3,
        refine = 10)
        .orderBy(col("qid"), col("rnk"))
    }),

    // What the query's magnitudes buy at identical storage: symmetric
    // Hamming+rescore vs asymmetric raw top-k vs asymmetric+rescore,
    // all vs exact cosine brute force at the same refine budget.
    "q_ann_binary_asym_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.binaryAsymRecallAudit(emb,
        emb.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, refine = 10)
    }),

    // Binary × IVF: the probe prunes which cells are read at all, the
    // sign codes shrink what a probed cell costs to scan (32×), and
    // the rescore touches floats for |Q|·refine rows only — the two
    // savings composed. Cells, probes, codes, shortlist and rescore
    // all replay in the oracle.
    "q_ann_binary_ivf" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.binaryIvfKnn(emb, emb.filter(col("vec_id") < 20),
        "embedding", "vec_id", dim = 64, k = 3, nCells = 8, nProbe = 2,
        refine = 10, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // What scanning codes instead of floats inside probed cells costs:
    // exact-within-cell IVF vs binary-within-cell (+rescore) at the
    // SAME nProbe budget, both vs exact cosine truth (measured).
    "q_ann_binary_ivf_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.binaryIvfRecallAudit(emb,
        emb.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 8, nProbe = 2, refine = 10,
        maxTrainPerCell = 32)
    }),

    // Asymmetric × IVF: the composed serving configuration — cell
    // pruning (read nProbe cells), 32× code-column scan, and the
    // asymmetric within-cell score that uses the broadcast query's
    // magnitudes for free. Same storage, same budget as
    // q_ann_binary_ivf; only the shortlist quality differs. Whole
    // chain (k-means cells, probes, SQ8 grid, integer asym scores,
    // rescore) replays in the oracle.
    "q_ann_binary_asym_ivf" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.binaryAsymIvfKnn(emb, emb.filter(col("vec_id") < 20),
        "embedding", "vec_id", dim = 64, k = 3, nCells = 8, nProbe = 2,
        refine = 10, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The composition's price sheet at one budget: symmetric vs
    // asymmetric within-cell scoring, both vs exact cosine truth.
    "q_ann_binary_asym_ivf_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.binaryAsymIvfRecallAudit(emb,
        emb.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 8, nProbe = 2, refine = 10,
        maxTrainPerCell = 32)
    }),

    // Product quantization: per-subspace deterministic k-means, corpus as
    // m×code bytes, ADC lookup-sum search — the memory-compressed ANN
    // tier (oracle replays train/encode/search end to end).
    "q_ann_pq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.pqKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, m = 2, nCells = 4, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // IVF-PQ: coarse inverted lists + compact codes, probes scan only
    // their lists' codes — the production ANN layout, every stage
    // replayed by the oracle.
    // IVFADC residual coding (the FAISS IVFPQ default): PQ quantizes
    // x − centroid(cell) — the coarse quantizer absorbs cluster means,
    // the codebook codes only within-cell spread; the query side pays
    // a residual + m tables PER PROBED CELL. Whole chain (coarse
    // k-means, residuals, residual codebooks, per-(query,cell) tables,
    // ADC) replays in the oracle.
    "q_ann_ivfpq_residual" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.ivfPqResidualKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 4, nProbe = 2,
        m = 2, pqCells = 4, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The persisted residual index (train once, search many): coarse +
    // residual codebooks + codes as kv tables with a residual meta
    // marker; answers bit-identically to the in-memory chain, so it
    // shares the residual oracle.
    "q_ann_ivfpq_residual_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_rpqidx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildIvfPqResidualIndex(emb, "embedding", "vec_id",
        idx, nCells = 4, m = 2, pqCells = 4, maxTrainPerCell = 32)
      SimilaritySearch.ivfPqResidualKnnIndexed(s, idx,
        emb.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 3, nProbe = 2)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Streaming maintenance for the PQ tier (residual layout — the
    // production default): quantizers train on the base slice once;
    // each micro-batch encodes its rows against the PERSISTED coarse
    // centroids and residual codebooks (per-row, so the final index
    // content is batching-independent) — the q_ann_stream_index oracle
    // family: train-on-base / encode-all / search-replay.
    "q_ann_ivfpq_stream_index" -> ((s, dir) => {
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val idx = s"/tmp/graft_rpqstr_$u/i"
      val ckpt = s"/tmp/graft_rpqstrck_$u"
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildIvfPqResidualIndex(emb.filter(col("vec_id") < 250),
        "embedding", "vec_id", idx, nCells = 8, m = 2, pqCells = 4,
        maxTrainPerCell = 32)
      val q = s.readStream.format("log")
        .option("path", s"$dir/embeddings.parquet")
        .option("maxOffsetsPerTrigger", "500").load()
        .filter(col("vec_id") >= 250)
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          if (!df.isEmpty)
            SimilaritySearch.ivfPqResidualIndexAppend(df, "embedding", "vec_id", idx)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      SimilaritySearch.ivfPqResidualKnnIndexed(s, idx,
        emb.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 3, nProbe = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The cosine knob through the residual tier: the residual index
    // built with normalize=true stores the flag in its meta table and
    // applies the unit transform to raw queries at search — the full
    // composition (unit norm → coarse cells → residual codebooks →
    // per-cell tables → ADC) replays in the oracle.
    "q_ann_ivfpq_residual_cosine" -> ((s, dir) => {
      val idx = s"/tmp/graft_rpqcos${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      val three = Pca3Fixture(emb)
      SimilaritySearch.buildIvfPqResidualIndex(three, "embedding", "vec_id",
        idx, nCells = 4, m = 4, pqCells = 16, maxTrainPerCell = 64,
        normalize = true)
      SimilaritySearch.ivfPqResidualKnnIndexed(s, idx,
        three.filter(col("vec_id") < 20), "embedding", "vec_id",
        k = 3, nProbe = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // OPQ × IVFADC (FAISS's OPQ,IVF,PQ factory): the learned
    // serpentine permutation first, residual coding after — the two
    // fixes repair INDEPENDENT pathologies (subspace-variance
    // imbalance vs per-cell means). Exact top-3 in the permuted basis,
    // permutation derivation + residual chain fully oracle-replayed.
    "q_ann_opq_residual" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val mixed = MrlFixture(Pca3Fixture(emb))
      SimilaritySearch.ivfPqOpqResidualKnn(mixed,
        mixed.filter(col("vec_id") < 5), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 8, nProbe = 4, m = 4, pqCells = 16,
        maxTrainPerCell = 64)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The composed tier persisted: perm table + residual layout under
    // one path (train once, search many); raw queries take the STORED
    // permutation then the residual indexed chain — bit-identical to
    // the in-memory composition, so the gate shares its oracle.
    "q_ann_opq_residual_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_oridx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      val mixed = MrlFixture(Pca3Fixture(emb))
      SimilaritySearch.buildOpqResidualIndex(mixed, "embedding", "vec_id",
        idx, dim = 64, nCells = 8, m = 4, pqCells = 16,
        maxTrainPerCell = 64)
      SimilaritySearch.opqResidualKnnIndexed(s, idx,
        mixed.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 3, nProbe = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The composition's four quadrants measured at one budget (probes
    // cover every cell, isolating CODING quality): plain / permuted /
    // residual / both vs exact L2 truth on a fixture with BOTH
    // pathologies — both must clear each single fix.
    "q_ann_opq_residual_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val mixed = MrlFixture(Pca3Fixture(emb))
      SimilaritySearch.opqResidualRecallAudit(mixed,
        mixed.filter(col("vec_id") < 20), "embedding", "vec_id",
        dim = 64, k = 3, nCells = 8, nProbe = 8, m = 4, pqCells = 16,
        maxTrainPerCell = 64)
    }),

    // The composed OPQ×IVFADC tier under the stored cosine knob — the
    // LAST raw-vector ADC entry: unit vectors, permutation derived
    // from them, residual coding in the permuted basis, perm_meta
    // recording the preprocessing. Raw queries enter; the whole
    // normalize→permute→residual chain replays in the oracle.
    "q_ann_opq_residual_cosine" -> ((s, dir) => {
      val idx = s"/tmp/graft_orcos${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      val mixed = MrlFixture(Pca3Fixture(emb))
      SimilaritySearch.buildOpqResidualIndex(mixed, "embedding", "vec_id",
        idx, dim = 64, nCells = 8, m = 4, pqCells = 16,
        maxTrainPerCell = 64, normalize = true)
      SimilaritySearch.opqResidualKnnIndexed(s, idx,
        mixed.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 3, nProbe = 4)
        .orderBy(col("qid"), col("rnk"))
    }),

    // IVFADC + refine — the configuration FAISS deployments actually
    // serve: residual codes pick a 10-wide shortlist, only those ids
    // fetch raw vectors for exact cosine rescoring, top-3 by TRUE
    // similarity. Whole cascade (residual chain, shortlist, rescore)
    // replays in the oracle.
    "q_ann_ivfpq_residual_refine" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.ivfPqResidualRefineKnn(emb,
        emb.filter(col("vec_id") < 5), "embedding", "vec_id",
        k = 3, refine = 10, nCells = 4, nProbe = 2, m = 2, pqCells = 4,
        maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Matryoshka / adaptive retrieval (MRL's two-pass serving recipe)
    // on a variance-FRONT-LOADED embedding (dims 0-31 ×4.0, 32-63
    // ×0.25 — the profile MRL training produces, and exactly what the
    // varperm rotation manufactures from a raw embedding): exact
    // cosine over the FIRST 16 of 64 dims picks a 12-wide shortlist
    // (a 4x-narrower scan), full-dim exact rescore orders the final
    // top-3. Truncation, shortlist and rescore all replay in the
    // oracle.
    "q_ann_matryoshka" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val mrl = MrlFixture(emb)
      SimilaritySearch.matryoshkaKnn(mrl, mrl.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, prefixDim = 16, refine = 12)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The matryoshka trade measured: prefix-only top-k vs rescored vs
    // full brute — the rescore must recover most of what truncation
    // loses at shortlist-sized full-vector cost (and the same audit on
    // a NON-front-loaded embedding is the check that tells you your
    // embedding is not prefix-capable).
    "q_ann_matryoshka_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val mrl = MrlFixture(emb)
      SimilaritySearch.matryoshkaRecallAudit(mrl,
        mrl.filter(col("vec_id") < 20), "embedding", "vec_id",
        k = 3, prefixDim = 16, refine = 12)
    }),

    // Residual coding's measured value: residual vs absolute chains at
    // the SAME budget on the clustered fixture, both vs exact L2 brute
    // force — the gain IS the within-cell/global variance ratio, so it
    // gets measured per corpus, never assumed.
    "q_ann_ivfpq_residual_audit" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val three = Pca3Fixture(emb)
      SimilaritySearch.ivfPqResidualRecallAudit(three,
        three.filter(col("vec_id") < 20), "embedding", "vec_id",
        k = 3, nCells = 8, nProbe = 8, m = 4, pqCells = 16,
        maxTrainPerCell = 64)
    }),

    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.ivfPqKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nCells = 4, nProbe = 2,
        m = 2, pqCells = 4, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // IVF-PQ + exact refine: the ADC beam picks a 10-wide shortlist, the
    // shortlist rescores with exact cosine over the raw vectors, top-3 by
    // TRUE similarity — approximate recall, exact final ordering (the
    // FAISS IndexRefineFlat pattern; every stage incl. the shortlist cut
    // replays in the oracle).
    "q_ann_ivfpq_refine" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.ivfPqRefineKnn(emb, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, refine = 10, nCells = 4, nProbe = 2,
        m = 2, pqCells = 4, maxTrainPerCell = 32)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The persisted IVF-PQ index: codebooks + corpus codes as kv tables,
    // search without retraining or rescanning the corpus — must answer
    // IDENTICALLY to the in-memory q_ann_ivfpq (deterministic training),
    // so it shares that gate's full-replay oracle.
    "q_ann_ivfpq_indexed" -> ((s, dir) => {
      val idx = s"/tmp/graft_ivfpqidx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx)
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildIvfPqIndex(emb, "embedding", "vec_id", idx,
        nCells = 4, m = 2, pqCells = 4, maxTrainPerCell = 32)
      SimilaritySearch.ivfPqKnnIndexed(s, idx, emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 3, nProbe = 2)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The persisted-index path: build the IVF index once (kv tables for
    // centroids + cell assignments), search against it — must answer
    // IDENTICALLY to the in-memory q_ann_ivf, so it shares that gate's
    // full k-means-replay oracle.
    "q_ann_ivf_indexed" -> ((s, dir) => {
      // fixed per-sf path cleared up front (a UUID-fresh dir per
      // invocation strands a corpus-sized cells table in /tmp per run)
      val idx = s"/tmp/graft_ivfidx${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.ParquetIO.deletePath(idx) // centroids + cells live under it
      val emb = Tables.load(s, dir, "embeddings")
      SimilaritySearch.buildIvfIndex(emb, "embedding", "vec_id", idx,
        nCells = 8, maxTrainPerCell = 32)
      SimilaritySearch.ivfKnnIndexed(emb.filter(col("vec_id") < 5),
        "embedding", "vec_id", idx, k = 3, nProbe = 3)
        .orderBy(col("qid"), col("rnk"))
    }),

    // --- multimodal: REAL javax.imageio decode of generated PNGs; the
    // oracle predicts metadata from the generation parameters (n_bytes is
    // the PNG encoder's output size — proven in MultimodalSpec, not
    // SQL-predictable) ---
    "q_multimodal_meta" -> ((s, dir) => {
      val docs = stagedPngDocs(s, dir)
      Multimodal.decodeMeta(docs, "payload")
        .select(col("doc_id"), col("media.format").as("format"),
          col("media.width").as("width"), col("media.height").as("height"))
        .orderBy(col("doc_id"))
    }),
    // Pixel-exact decode proof: luminance statistics computed from the
    // REAL ImageIO-decoded pixels must equal the oracle's pure-SQL replay
    // of the generator formula (rgb = ((id·31 + y)·31 + x) mod 2^24) —
    // the decode path reproduces the image content, not just its header.
    "q_multimodal_pixels" -> ((s, dir) => {
      Multimodal.lumaStats(stagedPngDocs(s, dir), "payload")
        .select(col("doc_id"), col("n_pixels"), col("sum_luma"), col("n_bright"))
        .orderBy(col("doc_id"))
    }),

    // Perceptual image hash through the REAL decode path: the 64-bit
    // aHash of every staged PNG plus the Hamming distance to the next
    // doc's image — both replayed bit-exactly by the oracle from the
    // generator formula (pure integer math end to end). Re-encode
    // invariance (the dedup property) is spec-pinned in MultimodalSpec.
    "q_multimodal_phash" -> ((s, dir) => {
      val hashed = Multimodal.imageHash(stagedPngDocs(s, dir), "payload")
        .select(col("doc_id"), col("ahash64"))
      hashed.as("a").join(hashed.as("b"),
          col("a.doc_id") + 1 === col("b.doc_id"), "left_outer")
        .select(col("a.doc_id").as("doc_id"), col("a.ahash64").as("ahash64"),
          expr("bit_count(a.ahash64 ^ b.ahash64)").cast("int").as("dist_next"))
        .orderBy(col("doc_id"))
    }),

    // Visual near-dup through the REAL decode path: banded aHash
    // candidates + exact Hamming verify (recall exact by pigeonhole at
    // maxHamming < bands). The oracle is a genuinely independent
    // formulation: it brute-forces ALL pairs over the replayed hashes —
    // no banding — so any candidate-generation bug fails the gate.
    // Input restricted to images at least 8x8 (degenerate tiny images
    // hash to near-constant values — the hot-band case the operator
    // documents).
    "q_multimodal_img_dedup" -> ((s, dir) => {
      val docs = stagedPngDocs(s, dir)
        .where(col("doc_id") % 64 >= 7 && col("doc_id") % 48 >= 7)
      Multimodal.imageNearDup(docs, "payload", "doc_id",
        maxHamming = 3, bands = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Frame sampling with the round-8 honesty contract: even docs carry
    // a REAL GFV container (frames explode through the real walk + their
    // PNG headers probe to the generator dimensions), odd docs carry
    // text bytes — NOT a video container — and surface ONE decode_error
    // row instead of fabricated frame slices.
    "q_multimodal_frames" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val gfv = Multimodal.withGfvPayload(
        base.where(col("doc_id") % 2 === 0).select("doc_id"), "doc_id")
      val txt = Multimodal.withBinaryPayload(
          base.where(col("doc_id") % 2 =!= 0), "text")
        .select("doc_id", "payload")
      val sampled = Multimodal.sampleFrames(
        gfv.unionByName(txt), "payload", framesPerDoc = 4)
      Multimodal.decodeMeta(sampled, "frame")
        .select(col("doc_id"), col("frame_idx"),
          col("media.width").as("w"), col("media.height").as("h"),
          col("decode_error"))
        .orderBy(col("doc_id"), col("frame_idx").asc_nulls_first)
    }),

    // Video through a REAL AVI/MJPEG container: RIFF('AVI ') walk to the
    // movi LIST, per-frame REAL JPEG decode (ImageIO) — the oracle pins
    // the structural truth (frame count and decoded pixel count per
    // frame); JPEG sample values are codec-defined, so the pixel-exact
    // luma proof stays on the GFV gate (q_multimodal_video).
    "q_multimodal_video_avi" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val aviDir = s"/tmp/graft_avi$safe"
      Tables.stageOnce(aviDir) {
        Multimodal.withAviPayload(
          Tables.load(s, dir, "documents").select(col("doc_id")), "doc_id")
          .write.format("kv").option("path", aviDir).mode("overwrite").save()
      }
      Multimodal.videoFrameStats(
        s.read.format("kv").option("path", aviDir).load(), "payload")
        .select(col("doc_id"), col("frame_idx"), col("n_pixels"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // mp4 container metadata through the REAL ISO BMFF box walk: even
    // docs carry a standards-shaped mp4 fixture (brand / duration /
    // track count / codec fourccs all box-derived from doc_id), odd
    // docs carry text bytes — not a container — and surface ONE
    // decode_error row. Frames stay honestly undecodable for mp4 (no
    // JVM codec; Mp4Spec pins the frame-path error) — this gate pins
    // that the METADATA tier answers from the real box structure.
    "q_multimodal_mp4_meta" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val mp4 = Multimodal.withMp4Payload(
        base.where(col("doc_id") % 2 === 0).select("doc_id"), "doc_id")
      val txt = Multimodal.withBinaryPayload(
          base.where(col("doc_id") % 2 =!= 0), "text")
        .select("doc_id", "payload")
      Multimodal.videoContainerMeta(mp4.unionByName(txt), "payload")
        .select(col("doc_id"), col("container"), col("major_brand"),
          col("timescale"), col("duration_units"), col("duration_ms"),
          col("n_tracks"), col("codecs"), col("n_samples"),
          col("sample_bytes"), col("n_chunks"), col("bitrate_bps"),
          col("decode_error"))
        .orderBy(col("doc_id"))
    }),

    // Capstone: a composed training-data pipeline — quality gate →
    // exact dedup → per-language token accounting — each stage an
    // operator from this library, the whole chain one Catalyst plan
    // (filters/pruning push through all stages).
    "q_pipeline_curation" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val qualityGated = docs.where(TextFunctions.qualityScore(col("text")) >= 0.5)
      val deduped = Dedup.dropExactDuplicates(qualityGated, "text", "doc_id")
      deduped
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text"))).as("total_tokens"))
        .orderBy(col("lang"))
    }),

    // FineWeb-style end-to-end curation (the web-scale recipe): n-gram
    // language gate → Gopher quality rules → exact dedup (normalized-
    // content keeper) → PII scrub → token accounting, ONE Catalyst plan.
    // PII is injected post-dedup (the scrub stage runs last in real
    // pipelines) so the scrubber provably fires inside the composition.
    // Every stage replays in the oracle: per-doc langid detection,
    // rule thresholds, keeper choice, regex scrub, token recount.
    "q_pipeline_fineweb" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val en = docs.where(LangId.langId(col("text")) === "en")
      val passed = Curation.gopherFilter(en, "text", "doc_id", minWords = 40)
        .where(col("passed")).select(col("doc_id"), col("text"))
      val deduped = Dedup.dropExactDuplicates(passed, "text", "doc_id")
      val aug = deduped.select(col("doc_id"), concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10."), (col("doc_id") % 200).cast("string"),
        lit(".0.1 or call 555-123-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      Curation.scrubPii(aug, "text")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tok"),
          (col("n_emails") + col("n_ips") + col("n_phones")).as("n_pii"),
          md5(col("text")).as("scrubbed_md5"))
        .orderBy(col("doc_id"))
    }),

    // The dataloader-facing end-to-end composition: auditable Gopher
    // filter → exact dedup → token budget → deterministic epoch shuffle,
    // all one Catalyst plan. The output IS a training manifest: which
    // docs survive, their token accounting, and their reproducible
    // (shard, pos, global_pos) read order. The oracle replays every
    // stage — rules, keeper choice, hash-order running sum, seeded
    // permutation — end to end.
    "q_pipeline_pretrain" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val filtered = Curation.gopherFilter(docs, "text", "doc_id", minWords = 40)
        .where(col("passed")).select(col("doc_id"), col("text"))
      val deduped = Dedup.dropExactDuplicates(filtered, "text", "doc_id")
      val budgeted = Curation.tokenBudget(deduped, "doc_id",
        size(split(col("text"), " ")), budget = 15000L)
      val shuffled = Curation.shuffleShards(budgeted.select(col("doc_id")),
        "doc_id", shards = 8, seed = 17L)
      budgeted.join(shuffled, "doc_id")
        .select(col("doc_id"), col("n_tok"), col("cum_tokens"), col("shard"),
          col("pos"), col("global_pos"))
        .orderBy(col("doc_id"))
    }),

    // ANALYZE-style one-pass statistics. The money column is projected to
    // its natural DECIMAL(18,2) type (the reference's explicit
    // precision/scale discipline) — which also makes the KMV hash input
    // (the plain decimal string) engine-independent, so the DuckDB oracle
    // reproduces approx_ndv exactly.
    "q_corpus_stats" -> ((s, dir) => {
      graft.operators.CorpusStats.collect(
        Tables.load(s, dir, "orders").withColumn("o_totalprice",
          col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))))
        .orderBy(col("column"))
    }),

    // HyperLogLog distinct-count registers (Flajolet 2007) — KMV's
    // fixed-size sibling: 2^p BYTES of state per group at any
    // cardinality, merged by element-wise register max (order-free,
    // idempotent — the shape an approximate COUNT DISTINCT must have
    // at 100 TB, where the exact distinct's shuffle carries every
    // key). Hash, registers, exact integer harmonic sum, the
    // fixed-op-order estimator AND the small-range linear-counting
    // branch all replay in the oracle; exact_ndv rides along so the
    // gate also PINS the measured accuracy per group.
    "q_corpus_hll" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          graft.functions.HllDistinct.hllDistinct(col("user_id"), p = 8)
            .as("hll_ndv"),
          countDistinct(col("user_id")).as("exact_ndv"),
          graft.functions.HllDistinct.hllDistinct(col("event_id"), p = 8)
            .as("hll_events"),
          countDistinct(col("event_id")).as("exact_events"))
        .orderBy(col("event_type"))
    }),

    // --- text analysis (function-backed) ---
    "q_doc_bpe_tokens" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
          TextFunctions.tokenCount(col("text")).as("n_ws"))
        .orderBy(col("doc_id"))
    }),
    "q_doc_quality_score" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Distributed linear-probe TRAINING (the "train a quality/topic
    // classifier" step of curation pipelines): ridge least squares on
    // cheap O(1)-scaled features (intercept, words/100, 'the'-count/10,
    // avg-word-len/10) predicting a topic label (doc mentions 'join').
    // One exact-integer moments pass + a BigInt Cramer solve — the
    // quantized products, exact sums, truncating means, 24-term
    // cofactor determinants and the final quantized division ALL
    // replay in the oracle (HUGEINT).
    "q_probe_linear" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val w = graft.operators.LinearProbe.trainRidge(
        ProbeFeatures(docs), "f", "y", dim = 4, lambdaMicro = 10000L)
      import s.implicits._
      w.zipWithIndex.map { case (wj, j) => (j.toLong, wj) }
        .toDF("slot", "w_micro").orderBy(col("slot"))
    }),

    // Coordinated join-size probe ([[graft.operators.SampleSynopsis]]):
    // |views ⋈ purchases on user_id| estimated from two persisted
    // bottom-64 join-key synopses ALONE (correlated sampling — both
    // tables hash keys with the SAME splitmix64, so below the shared
    // coverage threshold τ the sampled join is exact and scales by
    // 2^64/τ). The query optimizer's "how big is this join" question
    // answered without scanning either table; exact pair count rides
    // along. At sf0.001 both synopses are complete → the estimate is
    // EXACT (the estimator's documented branch); at sf0.01 the
    // 150-keys-vs-k=64 sampling regime is exercised. HUGEINT-replayed.
    "q_probe_join_size" -> ((s, dir) => {
      import graft.operators.SampleSynopsis
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val pa = s"/tmp/graft_jsyna$safe"
      val pb = s"/tmp/graft_jsynb$safe"
      graft.sources.ParquetIO.deletePath(pa)
      graft.sources.ParquetIO.deletePath(pb)
      val ev = Tables.load(s, dir, "events")
      SampleSynopsis.buildJoinKeySynopsis(
        ev.filter(col("event_type") === "view"), "user_id", pa, 64)
      SampleSynopsis.buildJoinKeySynopsis(
        ev.filter(col("event_type") === "purchase"), "user_id", pb, 64)
      val exact = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(count(lit(1)).as("ca"))
        .join(ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(count(lit(1)).as("cb")), "user_id")
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).cast("long")
          .as("exact_pairs"))
      SampleSynopsis.joinSizeEstimate(s, pa, pb, 64)
        .crossJoin(broadcast(exact))
        .select(lit(64).as("k_cap"), col("est_pairs"), col("exact_pairs"))
    }),

    // FILTERED join-size probe: the view-side synopsis additionally
    // records, per sampled key, how many of that key's rows pass
    // `value >= 50` (counted in the SAME grouping pass — k extra longs,
    // no second scan). The optimizer's "how big is this join under my
    // predicate" question then prices from stored rows alone: below τ
    // both synopses hold every key and the per-key filtered count is
    // exact there, so the correlated-sampling estimator applies with
    // cntA swapped for the predicate column. One synopsis pair serves
    // BOTH the filtered and unfiltered estimates (est_pairs_all rides
    // along); exact filtered pairs pin the answer. HUGEINT-replayed.
    "q_probe_join_size_filtered" -> ((s, dir) => {
      import graft.operators.SampleSynopsis
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val pa = s"/tmp/graft_jsynfa$safe"
      val pb = s"/tmp/graft_jsynfb$safe"
      graft.sources.ParquetIO.deletePath(pa)
      graft.sources.ParquetIO.deletePath(pb)
      val ev = Tables.load(s, dir, "events")
      SampleSynopsis.buildJoinKeySynopsis(
        ev.filter(col("event_type") === "view"), "user_id", pa, 64,
        Seq("cnt_hi" -> (col("value") >= 50.0)))
      SampleSynopsis.buildJoinKeySynopsis(
        ev.filter(col("event_type") === "purchase"), "user_id", pb, 64)
      val exact = ev
        .filter(col("event_type") === "view" && col("value") >= 50.0)
        .groupBy(col("user_id")).agg(count(lit(1)).as("ca"))
        .join(ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(count(lit(1)).as("cb")), "user_id")
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).cast("long")
          .as("exact_pairs_hi"))
      val estAll = SampleSynopsis.joinSizeEstimate(s, pa, pb, 64)
        .select(col("est_pairs").as("est_pairs_all"))
      SampleSynopsis.joinSizeEstimate(s, pa, pb, 64, "cnt_hi", "cnt")
        .select(col("est_pairs").as("est_pairs_hi"))
        .crossJoin(broadcast(estAll))
        .crossJoin(broadcast(exact))
        .select(lit(64).as("k_cap"), col("est_pairs_hi"),
          col("est_pairs_all"), col("exact_pairs_hi"))
    }),

    // Join-key synopsis MAINTENANCE under append (the
    // q_sample_incremental discipline on (key, cnt) synopses): each
    // half-batch appends its OWN per-key bottom-64 rows — no rebuild,
    // no cross-batch re-scan — and the read-side rollup (sum counts
    // per key, then trim to the bottom-k) estimates IDENTICALLY to a
    // direct build over the whole table. The lemma gains a count leg:
    // ranks only shrink on subsets, so every key of the union's
    // bottom-k was kept by EVERY batch that saw it — summing its
    // per-batch counts reconstructs the exact union count. The direct
    // estimate rides along; one replayed chain pins both columns.
    "q_probe_join_size_incremental" -> ((s, dir) => {
      import graft.operators.SampleSynopsis
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val pa = s"/tmp/graft_jsynia$safe"
      val pb = s"/tmp/graft_jsynib$safe"
      graft.sources.ParquetIO.deletePath(pa)
      graft.sources.ParquetIO.deletePath(pb)
      val ev = Tables.load(s, dir, "events")
      def ingest(side: org.apache.spark.sql.DataFrame, p: String): Unit =
        Seq(0, 1).foreach { par =>
          SampleSynopsis.joinKeySynopsisRows(
            side.filter(col("event_id") % 2 === par), "user_id", 64)
            .write.format("kv").option("path", p)
            .mode(if (par == 0) "overwrite" else "append").save()
        }
      ingest(ev.filter(col("event_type") === "view"), pa)
      ingest(ev.filter(col("event_type") === "purchase"), pb)
      def rolled(p: String) = SampleSynopsis.rollupJoinSynopsis(
        s.read.format("kv").option("path", p).load(), 64)
      val est = SampleSynopsis.joinSizeEstimateFrames(
        rolled(pa), rolled(pb), 64)
      val direct = SampleSynopsis.joinSizeEstimateFrames(
        SampleSynopsis.joinKeySynopsisRows(
          ev.filter(col("event_type") === "view"), "user_id", 64),
        SampleSynopsis.joinKeySynopsisRows(
          ev.filter(col("event_type") === "purchase"), "user_id", 64), 64)
        .select(col("est_pairs").as("est_pairs_direct"))
      val exact = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(count(lit(1)).as("ca"))
        .join(ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(count(lit(1)).as("cb")), "user_id")
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).cast("long")
          .as("exact_pairs"))
      est.crossJoin(broadcast(direct)).crossJoin(broadcast(exact))
        .select(lit(64).as("k_cap"), col("est_pairs"),
          col("est_pairs_direct"), col("exact_pairs"))
    }),

    // The join-size probe MATRIX: per-6h-window view/purchase synopses
    // (k = 8 — windows genuinely sample) persisted once, then the
    // view⋈purchase rate of every window priced from stored rows
    // alone — the "is conversion drifting" dashboard without a raw
    // scan. τ is per (window, side); a window under capacity on both
    // sides estimates EXACTLY. Windows are those with committed
    // synopses on BOTH sides (an equi-join needs both). Exact
    // per-window pairs ride along; HUGEINT-replayed per window.
    "q_probe_join_size_windows" -> ((s, dir) => {
      import graft.operators.SampleSynopsis
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val pa = s"/tmp/graft_jsynwa$safe"
      val pb = s"/tmp/graft_jsynwb$safe"
      graft.sources.ParquetIO.deletePath(pa)
      graft.sources.ParquetIO.deletePath(pb)
      val ev = Tables.load(s, dir, "events")
        .withColumn("w_start",
          unix_timestamp(window(col("ts"), "21600 seconds")("start")))
      def build(typ: String, p: String): Unit =
        SampleSynopsis.joinKeySynopsisRows(
          ev.filter(col("event_type") === typ), "user_id", 8,
          keep = Seq("w_start"))
          .write.format("kv").option("path", p).mode("overwrite").save()
      build("view", pa)
      build("purchase", pb)
      val est = SampleSynopsis.joinSizeEstimateFrames(
        s.read.format("kv").option("path", pa).load(),
        s.read.format("kv").option("path", pb).load(), 8,
        keep = Seq("w_start"))
      val exact = ev.filter(col("event_type") === "view")
        .groupBy(col("w_start"), col("user_id"))
        .agg(count(lit(1)).as("ca"))
        .join(ev.filter(col("event_type") === "purchase")
          .groupBy(col("w_start"), col("user_id"))
          .agg(count(lit(1)).as("cb")), Seq("w_start", "user_id"))
        .groupBy(col("w_start"))
        .agg(sum(col("ca") * col("cb")).cast("long").as("exact_pairs"))
      est.join(exact, Seq("w_start"), "left")
        .select(col("w_start"), col("est_pairs"),
          coalesce(col("exact_pairs"), lit(0L)).as("exact_pairs"))
        .orderBy(col("w_start"))
    }),

    // Filtered DRIFT sheet: the per-window view synopses additionally
    // carry cnt_hi (rows with value ≥ 50, counted in the same build
    // pass), so the high-value conversion rate of every window prices
    // from the SAME stored rows as the unfiltered one — one synopsis
    // build, two drift curves. Exact filtered pairs ride along
    // per window; HUGEINT-replayed.
    "q_probe_join_size_windows_filtered" -> ((s, dir) => {
      import graft.operators.SampleSynopsis
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val pa = s"/tmp/graft_jsynwfa$safe"
      val pb = s"/tmp/graft_jsynwfb$safe"
      graft.sources.ParquetIO.deletePath(pa)
      graft.sources.ParquetIO.deletePath(pb)
      val ev = Tables.load(s, dir, "events")
        .withColumn("w_start",
          unix_timestamp(window(col("ts"), "21600 seconds")("start")))
      SampleSynopsis.joinKeySynopsisRows(
        ev.filter(col("event_type") === "view"), "user_id", 8,
        preds = Seq("cnt_hi" -> (col("value") >= 50.0)),
        keep = Seq("w_start"))
        .write.format("kv").option("path", pa).mode("overwrite").save()
      SampleSynopsis.joinKeySynopsisRows(
        ev.filter(col("event_type") === "purchase"), "user_id", 8,
        keep = Seq("w_start"))
        .write.format("kv").option("path", pb).mode("overwrite").save()
      val sa = s.read.format("kv").option("path", pa).load()
      val sb = s.read.format("kv").option("path", pb).load()
      val estHi = SampleSynopsis.joinSizeEstimateFrames(sa, sb, 8,
        "cnt_hi", "cnt", keep = Seq("w_start"))
        .withColumnRenamed("est_pairs", "est_pairs_hi")
      val estAll = SampleSynopsis.joinSizeEstimateFrames(sa, sb, 8,
        keep = Seq("w_start"))
        .withColumnRenamed("est_pairs", "est_pairs_all")
      val exact = ev
        .filter(col("event_type") === "view" && col("value") >= 50.0)
        .groupBy(col("w_start"), col("user_id"))
        .agg(count(lit(1)).as("ca"))
        .join(ev.filter(col("event_type") === "purchase")
          .groupBy(col("w_start"), col("user_id"))
          .agg(count(lit(1)).as("cb")), Seq("w_start", "user_id"))
        .groupBy(col("w_start"))
        .agg(sum(col("ca") * col("cb")).cast("long").as("exact_pairs_hi"))
      estHi.join(estAll, "w_start")
        .join(exact, Seq("w_start"), "left")
        .select(col("w_start"), col("est_pairs_hi"), col("est_pairs_all"),
          coalesce(col("exact_pairs_hi"), lit(0L)).as("exact_pairs_hi"))
        .orderBy(col("w_start"))
    }),

    // GROUP-COUNT probe — the third leg of sketch-driven planning
    // (join size, join order, now output cardinality): how many rows
    // will `GROUP BY event_type, user_id` produce, answered from a
    // persisted HLL sketch over the canonical composite key — the
    // shuffle-partition sizing question without a pre-pass. The
    // pricing path reads one stored register row; exact distinct
    // rides along; the register chain replays in the oracle.
    "q_probe_groupby_size" -> ((s, dir) => {
      import graft.functions.{HllDistinct, HllMerge}
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val sk = s"/tmp/graft_gbsz$safe"
      graft.sources.ParquetIO.deletePath(sk)
      val ev = Tables.load(s, dir, "events")
      val gk = concat(col("event_type"), lit("|"),
        col("user_id").cast("string"))
      ev.select(gk.as("gk"))
        .agg(HllDistinct.hllRegisters(col("gk"), p = 8).as("regs"))
        .select(lit("*").as("grp"), col("regs"))
        .write.format("kv").option("path", sk).mode("overwrite").save()
      val plan = s.read.format("kv").option("path", sk).load()
        .select(HllMerge.hllEstimate(col("regs"), 8).as("n_groups_hat"))
      val exact = ev.agg(countDistinct(gk).as("exact_groups"))
      plan.crossJoin(broadcast(exact))
        .select(col("n_groups_hat"), col("exact_groups"))
    }),

    // The drift matrix drains FROM THE STREAM: each micro-batch
    // appends its own per-(window, key) synopsis rows for both sides,
    // and the read-side grouped rollup (sum counts per (window, key),
    // trim per window) reproduces the batch-built drift sheet
    // BIT-IDENTICALLY — the count-summing lemma applies per window, so
    // the result is micro-batching-independent and shares the windows
    // gate's oracle (chopped ≡ one-shot ≡ direct).
    "q_stream_probe_windows" -> ((s, dir) => {
      import graft.operators.SampleSynopsis
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val pa = s"/tmp/graft_jsynswa_$u/t"
      val ckpt = s"/tmp/graft_jsynswck_$u"
      val q = GraftSession.clone(s, GraftSession.MicroBatch: _*).readStream.format("log")
        .option("path", s"$dir/events.parquet")
        .option("maxOffsetsPerTrigger", "2500").load()
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("w_start",
          unix_timestamp(window(col("ts"), "21600 seconds")("start")))
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          // ONE action per micro-batch: both sides' per-(window, key)
          // synopsis rows built in a single grouped pass (event_type is
          // a keep dimension — a grouped bottom-k over the
          // type-partitioned rows IS the filtered build, row for row),
          // replacing the isEmpty probe + two filtered writes (3 jobs →
          // 1). coalesce(1) keeps the per-batch append at one part file.
          SampleSynopsis.joinKeySynopsisRows(
            df.filter(col("event_type").isin("view", "purchase")),
            "user_id", 8, keep = Seq("w_start", "event_type"))
            .coalesce(1)
            .write.format("kv").option("path", pa).mode("append").save()
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      def rolled(t: String) = SampleSynopsis.rollupJoinSynopsis(
        s.read.format("kv").option("path", pa).load()
          .filter(col("event_type") === t)
          .select("w_start", "h", "key", "cnt"), 8,
        keep = Seq("w_start"))
      val est = SampleSynopsis.joinSizeEstimateFrames(
        rolled("view"), rolled("purchase"), 8, keep = Seq("w_start"))
      // exact reference from ONE grouped pass (was 2 events scans + a
      // per-window join): the per-(window, user) inner join across the
      // two types ≡ the pivoted both-sides-present product sum.
      val ev = Tables.load(s, dir, "events")
        .withColumn("w_start",
          unix_timestamp(window(col("ts"), "21600 seconds")("start")))
      val exact = ev.filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("w_start"), col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L)).as("ca"),
          sum(when(col("event_type") === "purchase", 1L)).as("cb"))
        .filter(col("ca").isNotNull && col("cb").isNotNull)
        .groupBy(col("w_start"))
        .agg(sum(col("ca") * col("cb")).cast("long").as("exact_pairs"))
      est.join(exact, Seq("w_start"), "left")
        .select(col("w_start"), col("est_pairs"),
          coalesce(col("exact_pairs"), lit(0L)).as("exact_pairs"))
        .orderBy(col("w_start"))
    }),

    // SEMI-join probe — the advisor's fourth leg: how many DISTINCT
    // view users also purchase (semi-join selectivity / "matched keys"
    // rather than pair counts), answered by the Beyer et al. KMV
    // direct-intersection estimator over two persisted bottom-64
    // minima rows alone. k = 64 < the 150-user key space, so the
    // sampled branch genuinely exercises; exact shared-user count
    // rides along; the union+membership+normalization chain replays
    // term for term.
    "q_probe_semijoin" -> ((s, dir) => {
      import graft.functions.KmvDistinct
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val sk = s"/tmp/graft_sjsyn$safe"
      graft.sources.ParquetIO.deletePath(sk)
      val ev = Tables.load(s, dir, "events")
      ev.filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("event_type"))
        .agg(KmvDistinct.kmvMinima(col("user_id"), k = 64).as("mins"))
        .write.format("kv").option("path", sk).mode("overwrite").save()
      val skdf = s.read.format("kv").option("path", sk).load()
      val est = skdf.filter(col("event_type") === "view")
        .select(col("mins").as("ma"))
        .crossJoin(broadcast(skdf.filter(col("event_type") === "purchase")
          .select(col("mins").as("mb"))))
        .select(KmvDistinct.kmvIntersectEstimate(col("ma"), col("mb"), 64)
          .as("shared_users_hat"))
      val exact = ev.filter(col("event_type") === "view")
        .select(col("user_id")).distinct()
        .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id")).distinct(), "user_id")
        .agg(count(lit(1)).as("exact_shared"))
      est.crossJoin(broadcast(exact))
        .select(col("shared_users_hat"), col("exact_shared"))
    }),

    // Join-PLAN advisor: the optimizer's "which join first" question
    // answered from persisted synopses alone. Four bottom-64 join-key
    // synopses (customer/orders on custkey, orders/lineitem on
    // orderkey) land once; each candidate join's size is priced from
    // stored rows, and rank_by_est orders the plan — no raw table is
    // touched by the pricing path. Exact pair counts ride along so the
    // sheet shows what the advice was worth. HUGEINT-replayed.
    "q_probe_join_plan" -> ((s, dir) => {
      import graft.operators.SampleSynopsis
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val base = s"/tmp/graft_jplan$safe"
      graft.sources.ParquetIO.deletePath(base)
      val orders = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      val li = Tables.load(s, dir, "lineitem")
      def build(df: org.apache.spark.sql.DataFrame, keyCol: String,
          name: String): Unit =
        SampleSynopsis.joinKeySynopsisRows(df, keyCol, 64)
          .write.format("kv").option("path", s"$base/$name")
          .mode("overwrite").save()
      build(cust, "c_custkey", "cust")
      build(orders, "o_custkey", "ordc")
      build(orders, "o_orderkey", "ordk")
      build(li, "l_orderkey", "lik")
      def est(a: String, b: String, jn: String) =
        SampleSynopsis.joinSizeEstimateFrames(
          s.read.format("kv").option("path", s"$base/$a").load(),
          s.read.format("kv").option("path", s"$base/$b").load(), 64)
          .select(lit(jn).as("join_name"), col("est_pairs"))
      def exactOf(a: org.apache.spark.sql.DataFrame, ka: String,
          b: org.apache.spark.sql.DataFrame, kb: String, jn: String) =
        a.groupBy(col(ka).as("key")).agg(count(lit(1)).as("ca"))
          .join(b.groupBy(col(kb).as("key")).agg(count(lit(1)).as("cb")),
            "key")
          .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).cast("long")
            .as("exact_pairs"))
          .select(lit(jn).as("join_name"), col("exact_pairs"))
      val ests = est("cust", "ordc", "customer_orders")
        .unionAll(est("ordk", "lik", "orders_lineitem"))
      val exacts = exactOf(cust, "c_custkey", orders, "o_custkey",
          "customer_orders")
        .unionAll(exactOf(orders, "o_orderkey", li, "l_orderkey",
          "orders_lineitem"))
      ests.join(exacts, "join_name")
        .withColumn("rank_by_est",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("est_pairs"), col("join_name"))))
        .select(col("join_name"), col("est_pairs"), col("exact_pairs"),
          col("rank_by_est"))
        .orderBy(col("join_name"))
    }),

    // Streaming join-key synopsis ingest (the foreachBatch maintenance
    // discipline): the event stream drains in micro-batches, each batch
    // appending its own per-key synopsis rows for both sides; the
    // read-side rollup then estimates IDENTICALLY to the direct build —
    // micro-batching-independent by the same count-summing lemma as
    // the incremental gate (whose oracle it shares: chopped ≡ one-shot
    // ≡ direct).
    "q_stream_probe_ingest" -> ((s, dir) => {
      import graft.operators.SampleSynopsis
      val u = java.util.UUID.randomUUID().toString.replace("-", "")
      val pa = s"/tmp/graft_jsynsa_$u/t"
      val ckpt = s"/tmp/graft_jsynsck_$u"
      val q = GraftSession.clone(s, GraftSession.MicroBatch: _*).readStream.format("log")
        .option("path", s"$dir/events.parquet")
        .option("maxOffsetsPerTrigger", "2500").load()
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          // ONE action per micro-batch (was 3: isEmpty + two filtered
          // writes): both sides' synopsis rows in a single grouped pass
          // with event_type as a keep dimension — the grouped bottom-k
          // over type-partitioned rows IS the per-type filtered build,
          // row for row. coalesce(1) = one part file per batch.
          SampleSynopsis.joinKeySynopsisRows(
            df.filter(col("event_type").isin("view", "purchase")),
            "user_id", 64, keep = Seq("event_type"))
            .coalesce(1)
            .write.format("kv").option("path", pa).mode("append").save()
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      def rolled(t: String) = SampleSynopsis.rollupJoinSynopsis(
        s.read.format("kv").option("path", pa).load()
          .filter(col("event_type") === t).select("h", "key", "cnt"), 64)
      val est = SampleSynopsis.joinSizeEstimateFrames(
        rolled("view"), rolled("purchase"), 64)
      // direct-build + exact reference from ONE shared (type, key, cnt)
      // grouping pass (was 4 events scans + 4 per-side aggregations):
      // filter-then-count ≡ count-per-(type,key)-then-filter, and the
      // exact inner-join pair count ≡ the pivoted both-sides-present sum.
      val ev = Tables.load(s, dir, "events")
      val perKey = ev.filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("event_type"), col("user_id").as("key"))
        .agg(count(lit(1)).as("cnt"))
      def synOf(t: String) = SampleSynopsis.joinKeySynopsisFromCounts(
        perKey.filter(col("event_type") === t).select("key", "cnt"), 64)
      val direct = SampleSynopsis.joinSizeEstimateFrames(
        synOf("view"), synOf("purchase"), 64)
        .select(col("est_pairs").as("est_pairs_direct"))
      val exact = perKey.groupBy(col("key"))
        .agg(sum(when(col("event_type") === "view", col("cnt"))).as("ca"),
          sum(when(col("event_type") === "purchase", col("cnt"))).as("cb"))
        .filter(col("ca").isNotNull && col("cb").isNotNull)
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).cast("long")
          .as("exact_pairs"))
      est.crossJoin(broadcast(direct)).crossJoin(broadcast(exact))
        .select(lit(64).as("k_cap"), col("est_pairs"),
          col("est_pairs_direct"), col("exact_pairs"))
    }),

    // The trained probe applied: per-doc predicted label, top-10 by
    // (score desc, doc_id) — training AND scoring replayed end to end.
    "q_probe_linear_scores" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val feats = ProbeFeatures(docs)
      val w = graft.operators.LinearProbe.trainRidge(feats, "f", "y", dim = 4, lambdaMicro = 10000L)
      feats.select(col("doc_id"),
        round(graft.operators.LinearProbe.score(col("f"), w), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    }),
    // The FineWeb-style "train a quality classifier, then filter the
    // corpus with it" loop as ONE composed plan: ridge-train the probe
    // on the labeled features (exact integer moments + BigInt Cramer),
    // score every document, keep the predicted positives (score ≥ 0.5
    // — scores are bit-identical across engines, so the cut is
    // replayable), and account the surviving tokens. Training,
    // scoring, threshold and token counts all replay in the oracle.
    "q_pipeline_probe_filter" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val feats = ProbeFeatures(docs)
      val w = graft.operators.LinearProbe.trainRidge(feats, "f", "y",
        dim = 4, lambdaMicro = 10000L)
      val toks = docs.select(col("doc_id"),
        size(filter(split(lower(col("text")), " "), t => length(t) > 0))
          .cast("long").as("n_tokens"))
      feats.select(col("doc_id"),
          graft.operators.LinearProbe.score(col("f"), w).as("score"))
        .where(col("score") >= 0.5)
        .join(toks, "doc_id")
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Error bars for corpus metrics in ONE pass (the Poisson bootstrap
    // — the only bootstrap that works without resampling a 100 TB
    // corpus): 64 deterministic replicas, each row weighted by a
    // truncated-Poisson(1) draw from integer threshold comparisons on
    // the splitmix 53-bit lattice, exact integer replica means (BigInt
    // floor), exact-rank [2.5%, 97.5%] band. Thresholds, hashes,
    // weights, replica sums, means and ranks all replay in the oracle.
    "q_corpus_bootstrap_ci" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val vals = docs.select(col("doc_id"),
        size(filter(split(lower(col("text")), " "), t => length(t) > 0))
          .cast("long").as("n_tokens"))
      graft.operators.CorpusStats.bootstrapMeanCi(vals, "n_tokens",
        "doc_id", replicas = 64, seed = 7L)
    }),

    // CI for a RATIO metric: the kept-token fraction under a ≥50-word
    // length gate (numerator and denominator resampled TOGETHER under
    // the same replica weights — independent resampling would
    // fabricate variance a paired statistic doesn't have). Same
    // one-pass Poisson machinery, exact-rank band, full oracle replay.
    "q_corpus_bootstrap_ratio" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val nTok = size(filter(split(lower(col("text")), " "),
        t => length(t) > 0)).cast("long")
      val vals = docs.select(col("doc_id"),
        when(nTok >= 50L, nTok).otherwise(lit(0L)).as("kept_tokens"),
        nTok.as("n_tokens"))
      graft.operators.CorpusStats.bootstrapRatioCi(vals, "kept_tokens",
        "n_tokens", "doc_id", replicas = 64, seed = 7L)
    }),

    // Per-GROUP CIs under ONE shared replica plan: per-language mean
    // token counts with comparable bands (every group's replica-r mean
    // saw the same resampling draw — the design for "is A above B"
    // questions). groups×replicas bounded driver rows, full replay.
    "q_corpus_bootstrap_groups" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val vals = docs.select(col("doc_id"), col("lang"),
        size(filter(split(lower(col("text")), " "), t => length(t) > 0))
          .cast("long").as("n_tokens"))
      graft.operators.CorpusStats.bootstrapGroupMeanCi(vals, "lang",
        "n_tokens", "doc_id", replicas = 64, seed = 7L)
    }),

    "q_doc_langid" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .groupBy(LangId.langId(col("text")).as("detected_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("detected_lang"))
    }),
    "q_doc_winnow" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(Sketches.winnowingFingerprints(col("text"))).as("n_fingerprints"),
          Sketches.simhash64(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }),
  )

  // pagerank: the 3 integer iterations unrolled — div-by-outdeg
  // contributions, *85 // 100 damping, 150000 teleport. Shared by the
  // checkpoint-backed and the bucketized-layout gates (integer math is
  // layout-free).
  private val pagerankOracle: String = {
    def iter(prev: String, out: String) =
      s"""$out AS (
         |  SELECT n.id, coalesce(s.inflow, 0) * 85 // 100 + 150000 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(r.r // od.outdeg) AS BIGINT) AS inflow
         |    FROM $prev r JOIN od ON r.id = od.src JOIN e ON e.src = od.src
         |    GROUP BY 1) s ON n.id = s.id
         |)""".stripMargin
    s"""WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
       |e AS (
       |  SELECT doc_id AS src, (doc_id * m + 1) % nn.n AS dst
       |  FROM documents, nn, unnest(CAST([7, 31, 131] AS BIGINT[])) AS t(m)
       |), nodes AS (
       |  SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
       |), od AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |${iter("r0", "r1")}, ${iter("r1", "r2")}, ${iter("r2", "r3")}
       |SELECT id, CAST(r AS BIGINT) AS rank_micro FROM r3 ORDER BY id""".stripMargin
  }

  /** The binary tier's shared encode fragment: raw doubles + packed
    * 32-bit sign words (bit b of word w set iff e[w·32+b+1] > 0 —
    * distinct powers of two summed, exact on both engines).
    */
  private val binaryEncCtes: String =
    """bq_base AS MATERIALIZED (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), bq_enc AS MATERIALIZED (
      |  SELECT id, list_transform(range(2), w ->
      |    list_sum(list_transform(range(32), b ->
      |      CASE WHEN e[(w * 32 + b + 1)::INT] > 0.0
      |        THEN (1::BIGINT << b) ELSE 0::BIGINT END))) AS bw
      |  FROM bq_base
      |)""".stripMargin

  /** SQ8-quantized queries (id < 20) scored asymmetrically against the
    * packed sign words: `Σ qq_i · (bit_i ? +1 : −1)`, exact integers —
    * `BinaryAsymKernel.score`'s contract replayed. Requires
    * [[binaryEncCtes]] in scope.
    */
  private val binaryAsymCtes: String =
    """baq AS MATERIALIZED (
      |  SELECT id, list_transform(u, x -> CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT)) AS qq
      |  FROM (
      |    SELECT id, u, list_max(list_transform(u, x -> abs(x))) AS mx
      |    FROM (
      |      SELECT id, list_transform(e, x -> x / nrm) AS u
      |      FROM (SELECT id, e,
      |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      |        FROM bq_base WHERE id < 20)
      |    )
      |  )
      |), basc AS MATERIALIZED (
      |  SELECT q.id AS qid, a.id AS nid,
      |    list_sum(list_transform(generate_series(0, 63),
      |      i -> q.qq[i + 1] * (CASE WHEN ((a.bw[(i // 32) + 1] >> (i % 32)) & 1) = 1
      |        THEN 1 ELSE -1 END)))::BIGINT AS asym
      |  FROM baq q JOIN bq_enc a ON a.id <> q.id
      |)""".stripMargin

  /** Shared by q_ann_binary_asym and its persisted-index twin: the
    * asym shortlist at refine=10, exact cosine rescore, top-3.
    */
  private val annBinaryAsymOracle: String =
    s"""WITH $binaryEncCtes, $binaryAsymCtes
       |, sl AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY asym DESC, nid) AS rn
       |    FROM basc
       |  ) WHERE rn <= 10
       |), nn AS (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM bq_base
       |), re AS (
       |  SELECT s.qid, s.nid,
       |    list_sum(list_transform(generate_series(1, 64),
       |      i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) AS sim
       |  FROM sl s JOIN nn q ON q.id = s.qid JOIN nn a ON a.id = s.nid
       |)
       |SELECT qid, nid, round(sim, 6) AS sim, CAST(rn AS INT) AS rnk FROM (
       |  SELECT qid, nid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |  FROM re
       |) WHERE rn <= 3 ORDER BY qid, rnk""".stripMargin

  def oracles: Map[String, String] = SketchOracleSql.oracles ++ Map(
    "q_graph_pagerank" -> pagerankOracle,
    "q_graph_pagerank_bucketed" -> pagerankOracle,
    // bucketized components share q_dedup_groups' recursive-closure
    // oracle: two algorithms AND two physical layouts, one fixpoint
    "q_dedup_groups_bucketed" -> SketchOracleSql.componentsOracle,

    // video decode: replay the per-frame pixel generator — frame f of
    // doc d uses seed d·131 + f over w = d%16+1, h = d%12+1
    "q_multimodal_video" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 4 + 2 AS INT) AS nf,
        |    CAST(doc_id % 16 + 1 AS BIGINT) AS w,
        |    CAST(doc_id % 12 + 1 AS BIGINT) AS h
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS frame_idx
        |  FROM d
        |), px AS (
        |  SELECT doc_id, frame_idx, w, h,
        |    (((doc_id * 131 + frame_idx) * 31 + y) * 31 + x) % 16777216 AS v
        |  FROM f, unnest(generate_series(0, h - 1)) AS ty(y),
        |    unnest(generate_series(0, w - 1)) AS tx(x)
        |)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
        |  max(w * h) AS n_pixels,
        |  CAST(sum(((v // 65536) * 299 + ((v // 256) % 256) * 587 + (v % 256) * 114) // 1000)
        |    AS BIGINT) AS sum_luma
        |FROM px
        |GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // audio decode: replay the staged PCM generator
    // s_i = ((id·31 + i·17) mod 65536) − 32768 over n = id%500+100
    // samples — integer math end to end
    "q_multimodal_audio" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 500 + 100 AS BIGINT) AS n FROM documents
        |), s AS (
        |  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM d
        |), v AS (
        |  SELECT doc_id, n,
        |    abs((doc_id * 31 + i * 17) % 65536 - 32768) AS a
        |  FROM s
        |)
        |SELECT doc_id, CAST(8000 AS INT) AS sample_rate, n AS n_samples,
        |  n * 1000 // 8000 AS duration_ms,
        |  CAST(sum(a) AS BIGINT) AS sum_abs, CAST(max(a) AS BIGINT) AS peak
        |FROM v GROUP BY doc_id, n
        |ORDER BY doc_id""".stripMargin,
    // SQ8 ANN: the whole codec replays — unit-normalize, per-vector
    // scale, floor(x·127/mx + .5) byte codes, exact INTEGER dot, then
    // the same fixed-op-order double rescale. Left-assoc arithmetic in
    // both engines, so sim doubles are bit-identical pre-round.
    "q_ann_sq8" ->
      """WITH n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
        |  FROM embeddings
        |), qz AS (
        |  SELECT vec_id, mx,
        |    list_transform(u, x -> CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT)) AS q
        |  FROM (
        |    SELECT vec_id, u,
        |      list_max(list_transform(u, x -> abs(x))) AS mx
        |    FROM (SELECT vec_id, list_transform(e, x -> x / nrm) AS u FROM n)
        |  )
        |), p AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    CAST(list_sum(list_transform(generate_series(1, len(a.q)),
        |      i -> a.q[i] * b.q[i])) AS DOUBLE) * a.mx * b.mx / 16129.0 AS sim
        |  FROM qz a JOIN qz b ON a.vec_id < 5 AND b.vec_id <> a.vec_id
        |), r AS (
        |  SELECT qid, nid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
        |  FROM p
        |)
        |SELECT qid, nid, round(sim, 6) AS sim, rnk
        |FROM r WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin,
    // Binary ANN: sign packing into two 32-bit words (distinct powers
    // of two summed — exact integers), Hamming = per-word
    // bit_count(xor), (ham asc, nid asc) rank
    "q_ann_binary" ->
      s"""WITH $binaryEncCtes
         |, sc AS (
         |  SELECT q.id AS qid, a.id AS nid,
         |    (bit_count(xor(q.bw[1], a.bw[1]))
         |      + bit_count(xor(q.bw[2], a.bw[2])))::BIGINT AS ham
         |  FROM (SELECT * FROM bq_enc WHERE id < 20) q
         |  JOIN bq_enc a ON a.id <> q.id
         |)
         |SELECT qid, nid, ham, CAST(rn AS INT) AS rnk FROM (
         |  SELECT qid, nid, ham,
         |    row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
         |  FROM sc
         |) WHERE rn <= 3 ORDER BY qid, rnk""".stripMargin,
    // the drained code table IS the full corpus's (train-free encode,
    // append-only maintenance) — same oracle as the one-shot index
    "q_ann_binary_stream_index" ->
      s"""WITH $binaryEncCtes
         |, sc AS (
         |  SELECT q.id AS qid, a.id AS nid,
         |    (bit_count(xor(q.bw[1], a.bw[1]))
         |      + bit_count(xor(q.bw[2], a.bw[2])))::BIGINT AS ham
         |  FROM (SELECT * FROM bq_enc WHERE id < 20) q
         |  JOIN bq_enc a ON a.id <> q.id
         |)
         |SELECT qid, nid, ham, CAST(rn AS INT) AS rnk FROM (
         |  SELECT qid, nid, ham,
         |    row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
         |  FROM sc
         |) WHERE rn <= 3 ORDER BY qid, rnk""".stripMargin,
    // the persisted code table answers identically to the in-memory
    // scan (training-free deterministic encode) — same oracle
    "q_ann_binary_indexed" ->
      s"""WITH $binaryEncCtes
         |, sc AS (
         |  SELECT q.id AS qid, a.id AS nid,
         |    (bit_count(xor(q.bw[1], a.bw[1]))
         |      + bit_count(xor(q.bw[2], a.bw[2])))::BIGINT AS ham
         |  FROM (SELECT * FROM bq_enc WHERE id < 20) q
         |  JOIN bq_enc a ON a.id <> q.id
         |)
         |SELECT qid, nid, ham, CAST(rn AS INT) AS rnk FROM (
         |  SELECT qid, nid, ham,
         |    row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
         |  FROM sc
         |) WHERE rn <= 3 ORDER BY qid, rnk""".stripMargin,
    // the cascade: 10-wide Hamming shortlist, exact cosine rescore of
    // shortlist ids only, top-3 by true similarity
    "q_ann_binary_refine" ->
      s"""WITH $binaryEncCtes
         |, sc AS (
         |  SELECT q.id AS qid, a.id AS nid,
         |    (bit_count(xor(q.bw[1], a.bw[1]))
         |      + bit_count(xor(q.bw[2], a.bw[2])))::BIGINT AS ham
         |  FROM (SELECT * FROM bq_enc WHERE id < 20) q
         |  JOIN bq_enc a ON a.id <> q.id
         |), sl AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
         |    FROM sc
         |  ) WHERE rn <= 10
         |), nn AS (
         |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
         |  FROM bq_base
         |), re AS (
         |  SELECT s.qid, s.nid,
         |    list_sum(list_transform(generate_series(1, 64),
         |      i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) AS sim
         |  FROM sl s JOIN nn q ON q.id = s.qid JOIN nn a ON a.id = s.nid
         |)
         |SELECT qid, nid, round(sim, 6) AS sim, CAST(rn AS INT) AS rnk FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
         |  FROM re
         |) WHERE rn <= 3 ORDER BY qid, rnk""".stripMargin,
    // both tiers vs exact cosine truth at the same budget
    "q_ann_binary_audit" ->
      s"""WITH $binaryEncCtes
         |, sc AS (
         |  SELECT q.id AS qid, a.id AS nid,
         |    (bit_count(xor(q.bw[1], a.bw[1]))
         |      + bit_count(xor(q.bw[2], a.bw[2])))::BIGINT AS ham
         |  FROM (SELECT * FROM bq_enc WHERE id < 20) q
         |  JOIN bq_enc a ON a.id <> q.id
         |), bk AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
         |    FROM sc
         |  ) WHERE rn <= 3
         |), sl AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
         |    FROM sc
         |  ) WHERE rn <= 10
         |), nn AS (
         |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
         |  FROM bq_base
         |), rk AS (
         |  SELECT qid, nid FROM (
         |    SELECT s.qid, s.nid,
         |      row_number() OVER (PARTITION BY s.qid ORDER BY
         |        list_sum(list_transform(generate_series(1, 64),
         |          i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) DESC, s.nid) AS rn
         |    FROM sl s JOIN nn q ON q.id = s.qid JOIN nn a ON a.id = s.nid
         |  ) WHERE rn <= 3
         |), br AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.id AS qid, a.id AS nid,
         |      row_number() OVER (PARTITION BY q.id ORDER BY
         |        list_sum(list_transform(generate_series(1, 64),
         |          i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) DESC, a.id) AS rn
         |    FROM (SELECT * FROM nn WHERE id < 20) q
         |    JOIN nn a ON a.id <> q.id
         |  ) WHERE rn <= 3
         |), hb AS (SELECT count(*)::BIGINT AS h FROM bk JOIN br USING (qid, nid)),
         |hr AS (SELECT count(*)::BIGINT AS h FROM rk JOIN br USING (qid, nid)),
         |nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM br)
         |SELECT nq.n AS n_queries, CAST(3 AS INT) AS k,
         |  hb.h AS hits_binary,
         |  CAST(hb.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_binary_milli,
         |  hr.h AS hits_refined,
         |  CAST(hr.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_refined_milli
         |FROM hb, hr, nq""".stripMargin,
    // asymmetric scoring: SQ8 query grid, Σ qq_i·(±1 by sign bit),
    // integer shortlist, exact cosine rescore — every step replayed
    "q_ann_binary_asym" -> annBinaryAsymOracle,
    // the persisted code table answers identically (train-free encode,
    // exact integer scores) — same oracle
    "q_ann_binary_asym_indexed" -> annBinaryAsymOracle,
    // the three detectors vs exact cosine truth at one refine budget
    "q_ann_binary_asym_audit" ->
      s"""WITH $binaryEncCtes, $binaryAsymCtes
         |, sc AS (
         |  SELECT q.id AS qid, a.id AS nid,
         |    (bit_count(xor(q.bw[1], a.bw[1]))
         |      + bit_count(xor(q.bw[2], a.bw[2])))::BIGINT AS ham
         |  FROM (SELECT * FROM bq_enc WHERE id < 20) q
         |  JOIN bq_enc a ON a.id <> q.id
         |), ssl AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
         |    FROM sc
         |  ) WHERE rn <= 10
         |), nn AS (
         |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
         |  FROM bq_base
         |), rk AS (
         |  SELECT qid, nid FROM (
         |    SELECT s.qid, s.nid,
         |      row_number() OVER (PARTITION BY s.qid ORDER BY
         |        list_sum(list_transform(generate_series(1, 64),
         |          i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) DESC, s.nid) AS rn
         |    FROM ssl s JOIN nn q ON q.id = s.qid JOIN nn a ON a.id = s.nid
         |  ) WHERE rn <= 3
         |), ak AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY asym DESC, nid) AS rn
         |    FROM basc
         |  ) WHERE rn <= 3
         |), asl AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY asym DESC, nid) AS rn
         |    FROM basc
         |  ) WHERE rn <= 10
         |), ar AS (
         |  SELECT qid, nid FROM (
         |    SELECT s.qid, s.nid,
         |      row_number() OVER (PARTITION BY s.qid ORDER BY
         |        list_sum(list_transform(generate_series(1, 64),
         |          i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) DESC, s.nid) AS rn
         |    FROM asl s JOIN nn q ON q.id = s.qid JOIN nn a ON a.id = s.nid
         |  ) WHERE rn <= 3
         |), br AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.id AS qid, a.id AS nid,
         |      row_number() OVER (PARTITION BY q.id ORDER BY
         |        list_sum(list_transform(generate_series(1, 64),
         |          i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) DESC, a.id) AS rn
         |    FROM (SELECT * FROM nn WHERE id < 20) q
         |    JOIN nn a ON a.id <> q.id
         |  ) WHERE rn <= 3
         |), hs AS (SELECT count(*)::BIGINT AS h FROM rk JOIN br USING (qid, nid)),
         |ha AS (SELECT count(*)::BIGINT AS h FROM ak JOIN br USING (qid, nid)),
         |hx AS (SELECT count(*)::BIGINT AS h FROM ar JOIN br USING (qid, nid)),
         |nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM br)
         |SELECT nq.n AS n_queries, CAST(3 AS INT) AS k,
         |  hs.h AS hits_sym_refined,
         |  CAST(hs.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_sym_refined_milli,
         |  ha.h AS hits_asym_raw,
         |  CAST(ha.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_asym_raw_milli,
         |  hx.h AS hits_asym_refined,
         |  CAST(hx.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_asym_refined_milli
         |FROM hs, ha, hx, nq""".stripMargin,
    // Containment is plain string algebra in DuckDB: space-padded
    // substring test over the same normalized + prefix-augmented corpus
    // (brute-force N² pairs — exact, oracle-sized only).
    "q_dedup_containment" ->
      """WITH base AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), aug AS (
        |  SELECT doc_id, t FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    array_to_string(list_slice(string_split(t, ' '), 1,
        |      len(string_split(t, ' ')) // 2), ' ')
        |  FROM base
        |  WHERE doc_id % 10 = 0 AND len(string_split(t, ' ')) >= 8
        |), docs AS (
        |  SELECT doc_id, t FROM aug WHERE len(string_split(t, ' ')) >= 4
        |)
        |SELECT a.doc_id AS id_inner, b.doc_id AS id_outer
        |FROM docs a JOIN docs b
        |  ON a.doc_id <> b.doc_id
        |  AND instr(' ' || b.t || ' ', ' ' || a.t || ' ') > 0
        |ORDER BY 1, 2""".stripMargin,

    // containment audit: exact pairs (brute force), capped pairs (exact
    // pairs whose inner doc's rarest-shingle df ≤ 2 — the capped
    // operator's candidate join is complete per admitted inner doc, so
    // the two formulations coincide), skipped docs, integer recall
    "q_dedup_containment_audit" ->
      """WITH base AS (
        |  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), aug AS (
        |  SELECT doc_id, t FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |    array_to_string(list_slice(string_split(t, ' '), 1,
        |      len(string_split(t, ' ')) // 2), ' ')
        |  FROM base
        |  WHERE doc_id % 10 = 0 AND len(string_split(t, ' ')) >= 8
        |), docs AS (
        |  SELECT doc_id, t, string_split(t, ' ') AS wds FROM aug
        |  WHERE len(string_split(t, ' ')) >= 4
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(wds[(i + 1)::INT : (i + 4)::INT], ' ') AS shingle
        |  FROM docs, unnest(generate_series(0, len(wds) - 4)) AS g(i)
        |), dfq AS (
        |  SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY 1
        |), rarest AS (
        |  SELECT doc_id, min(df) AS rdf FROM sh JOIN dfq USING (shingle) GROUP BY 1
        |), ep AS (
        |  SELECT a.doc_id AS i, b.doc_id AS o
        |  FROM docs a JOIN docs b
        |    ON a.doc_id <> b.doc_id
        |    AND instr(' ' || b.t || ' ', ' ' || a.t || ' ') > 0
        |), cp AS (
        |  SELECT ep.i, ep.o FROM ep JOIN rarest r ON r.doc_id = ep.i
        |  WHERE r.rdf <= 2
        |)
        |SELECT CAST((SELECT count(*) FROM ep) AS BIGINT) AS n_pairs_exact,
        |  CAST((SELECT count(*) FROM cp) AS BIGINT) AS n_pairs_capped,
        |  CAST((SELECT count(*) FROM rarest WHERE rdf > 2) AS BIGINT) AS n_docs_skipped,
        |  CAST(CASE WHEN (SELECT count(*) FROM ep) = 0 THEN 1000
        |    ELSE (SELECT count(*) FROM cp) * 1000 // (SELECT count(*) FROM ep)
        |  END AS BIGINT) AS recall_milli""".stripMargin,

    "q_dedup_drop_exact" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "q_pipeline_fineweb" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
      s"""WITH det AS (
         |${SketchOracleSql.langidDetectSql("documents")}
         |), en AS (
         |  SELECT d.doc_id, d.text FROM documents d JOIN det USING (doc_id)
         |  WHERE det.detected_lang = 'en'
         |), m AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS nw,
         |    length(regexp_replace(text, '\\s+', '', 'g')) /
         |      greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0) AS al,
         |    1.0 - len(list_distinct(string_split_regex(trim(text), '\\s+'))) /
         |      greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0) AS wr,
         |    CAST(len(regexp_extract_all(text, '[^\\p{L}0-9\\s]')) AS DOUBLE) /
         |      greatest(CAST(length(text) AS DOUBLE), 1.0) AS pr
         |  FROM en
         |), f AS (
         |  SELECT e.doc_id, e.text FROM en e JOIN m USING (doc_id)
         |  WHERE NOT (m.nw < 40 OR m.nw > 100000 OR m.al < 3.0 OR m.al > 10.0
         |    OR m.wr > 0.6 OR m.pr > 0.3)
         |), ded AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, row_number() OVER (
         |      PARTITION BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn
         |    FROM f) WHERE rn = 1
         |), aug AS (
         |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@mail.example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)
         |    || '.0.1 or call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    AS text
         |  FROM ded
         |), scr AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
         |    CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$email', '<EMAIL>', 'g'),
         |      '$ip', '<IP>', 'g'),
         |      '$phone', '<PHONE>', 'g') AS text
         |  FROM aug
         |)
         |SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok,
         |  n_emails + n_ips + n_phones AS n_pii,
         |  md5(text) AS scrubbed_md5
         |FROM scr
         |ORDER BY doc_id""".stripMargin
    },

    "q_pipeline_pretrain" -> {
      val hk0 = SketchOracleSql.splitmixBigintSql("doc_id")
      val hk17 = SketchOracleSql.splitmixBigintSql("xor(doc_id, 17::BIGINT)")
      val d = 1L << 61
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS nw,
         |    length(regexp_replace(text, '\\s+', '', 'g')) /
         |      greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0) AS al,
         |    1.0 - len(list_distinct(string_split_regex(trim(text), '\\s+'))) /
         |      greatest(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 1.0) AS wr,
         |    CAST(len(regexp_extract_all(text, '[^\\p{L}0-9\\s]')) AS DOUBLE) /
         |      greatest(CAST(length(text) AS DOUBLE), 1.0) AS pr
         |  FROM documents
         |), f AS (
         |  SELECT d.doc_id, d.text FROM documents d JOIN m USING (doc_id)
         |  WHERE NOT (m.nw < 40 OR m.nw > 100000 OR m.al < 3.0 OR m.al > 10.0
         |    OR m.wr > 0.6 OR m.pr > 0.3)
         |), ded AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, row_number() OVER (
         |      PARTITION BY lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn
         |    FROM f) WHERE rn = 1
         |), tb AS (
         |  SELECT doc_id, n_tok, cum_tokens FROM (
         |    SELECT doc_id, n_tok,
         |      CAST(sum(n_tok) OVER (ORDER BY hk, doc_id ROWS UNBOUNDED PRECEDING)
         |        AS BIGINT) AS cum_tokens
         |    FROM (SELECT doc_id,
         |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |      ($hk0) AS hk FROM ded))
         |  WHERE cum_tokens <= 15000
         |), sh AS (
         |  SELECT doc_id, hk17,
         |    CAST((CASE WHEN hk17 >= 0 THEN hk17 // ${d}
         |      ELSE ((hk17::HUGEINT - ${d - 1}::HUGEINT) // ${d}::HUGEINT)::BIGINT END)
         |      + 4 AS INT) AS shard
         |  FROM (SELECT doc_id, ($hk17) AS hk17 FROM tb)
         |), p AS (
         |  SELECT doc_id, shard,
         |    CAST(row_number() OVER (PARTITION BY shard ORDER BY hk17, doc_id) - 1
         |      AS BIGINT) AS pos,
         |    CAST(row_number() OVER (ORDER BY shard, hk17, doc_id) - 1
         |      AS BIGINT) AS global_pos
         |  FROM sh
         |)
         |SELECT t.doc_id, t.n_tok, t.cum_tokens, p.shard, p.pos, p.global_pos
         |FROM tb t JOIN p USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    },

    "q_pipeline_curation" ->
      """WITH quality AS (
        |  SELECT *, floor((
        |    least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 64.0, 1.0) * 0.3 +
        |    least((CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        w -> w IN ('the','a','an','of','and','in','to','is','le','la','de','et',
        |                   'der','die','das','und','el','los','y','que'))) AS DOUBLE) /
        |      greatest(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE), 1.0)) * 4.0, 1.0) * 0.3 +
        |    CAST((length(regexp_replace(text, '\s+', '', 'g')) /
        |        greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0))
        |      BETWEEN 2.0 AND 12.0 AS DOUBLE) * 0.2 +
        |    CAST((CAST(len(regexp_extract_all(text, '[^\p{L}0-9\s]')) AS DOUBLE) /
        |      greatest(CAST(length(text) AS DOUBLE), 1.0)) <= 0.2 AS DOUBLE) * 0.2
        |    ) * 10000.0) / 10000.0 AS q FROM documents
        |), gated AS (
        |  SELECT * FROM quality WHERE q >= 0.5
        |), deduped AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY lower(regexp_replace(trim(text), '\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rn
        |    FROM gated) WHERE rn = 1
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens
        |FROM deduped
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_doc_dedup_spans" ->
      """WITH aug AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' subscribe to our newsletter today full terms of service apply'
        |    ELSE text END AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM aug
        |), wins AS (
        |  SELECT doc_id, i AS pos,
        |    lower(array_to_string(w[(i + 1)::INT : (i + 8)::INT], ' ')) AS key
        |  FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS i FROM t WHERE len(w) >= 8)
        |), hot AS (
        |  SELECT key, min(doc_id) AS keeper FROM wins
        |  GROUP BY key HAVING count(DISTINCT doc_id) > 1
        |), cov AS (
        |  SELECT DISTINCT wi.doc_id, wi.pos + o.o AS cp
        |  FROM wins wi JOIN hot h USING (key)
        |  CROSS JOIN (SELECT unnest(range(8)) AS o) o
        |  WHERE wi.doc_id <> h.keeper
        |), toks AS (
        |  SELECT doc_id, unnest(w) AS tok, unnest(range(len(w))) AS p FROM t
        |), rebuilt AS (
        |  SELECT tk.doc_id, array_to_string(list(tk.tok ORDER BY tk.p), ' ') AS text
        |  FROM toks tk LEFT JOIN cov c ON tk.doc_id = c.doc_id AND tk.p = c.cp
        |  WHERE c.cp IS NULL GROUP BY tk.doc_id
        |)
        |SELECT t.doc_id,
        |  CAST(coalesce(dr.n, 0) AS BIGINT) AS n_tokens_dropped,
        |  md5(coalesce(r.text, '')) AS text_md5
        |FROM t
        |LEFT JOIN rebuilt r USING (doc_id)
        |LEFT JOIN (SELECT doc_id, count(*) AS n FROM cov GROUP BY doc_id) dr USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q_corpus_dup_token_fraction" ->
      """WITH aug AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' subscribe to our newsletter today full terms of service apply'
        |    ELSE text END AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM aug
        |), wins AS (
        |  SELECT doc_id, i AS pos,
        |    lower(array_to_string(w[(i + 1)::INT : (i + 8)::INT], ' ')) AS key
        |  FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS i FROM t WHERE len(w) >= 8)
        |), hot AS (
        |  SELECT key, min(doc_id) AS keeper FROM wins
        |  GROUP BY key HAVING count(DISTINCT doc_id) > 1
        |), cov AS (
        |  SELECT DISTINCT wi.doc_id, wi.pos + o.o AS cp
        |  FROM wins wi JOIN hot h USING (key)
        |  CROSS JOIN (SELECT unnest(range(8)) AS o) o
        |  WHERE wi.doc_id <> h.keeper
        |), tot AS (
        |  SELECT sum(len(list_filter(w, t -> len(t) > 0)))::HUGEINT AS total FROM t
        |), drp AS (SELECT count(*)::HUGEINT AS dropped FROM cov)
        |SELECT CAST(total AS BIGINT) AS n_tokens_total,
        |  CAST(dropped AS BIGINT) AS n_tokens_dup,
        |  CAST((1000000 * dropped) // total AS BIGINT) AS dup_fraction_micro
        |FROM tot, drp""".stripMargin,

    "q_doc_dedup_lines" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
        |), lines AS (
        |  SELECT doc_id, ln,
        |    array_to_string(words[(8*ln + 1)::INT : (least(8*ln + 8, len(words)))::INT], ' ') AS line
        |  FROM (SELECT doc_id, words, unnest(range((len(words) - 1) // 8 + 1)) AS ln FROM w)
        |), hot AS (
        |  SELECT lower(trim(line)) AS n FROM lines
        |  WHERE lower(trim(line)) <> ''
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
        |), kept AS (
        |  SELECT doc_id, ln, line FROM lines
        |  WHERE lower(trim(line)) = '' OR lower(trim(line)) NOT IN (SELECT n FROM hot)
        |)
        |SELECT d.doc_id, coalesce(r.text, '') AS text
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, array_to_string(list(line ORDER BY ln), chr(10)) AS text
        |  FROM kept GROUP BY doc_id) r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id, 'png' AS format,
        |  CAST(doc_id % 64 + 1 AS INT) AS width,
        |  CAST(doc_id % 48 + 1 AS INT) AS height
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // replays the PNG generator formula in pure SQL: the decoded pixels
    // must reproduce it bit-exactly through encode → ImageIO decode
    "q_multimodal_pixels" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(doc_id % 64 + 1 AS BIGINT) AS w,
        |    CAST(doc_id % 48 + 1 AS BIGINT) AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, ((doc_id * 31 + y) * 31 + x) % 16777216 AS v
        |  FROM dims, unnest(generate_series(0, h - 1)) AS ty(y),
        |    unnest(generate_series(0, w - 1)) AS tx(x)
        |), lum AS (
        |  SELECT doc_id, w * h AS n,
        |    ((v // 65536) * 299 + ((v // 256) % 256) * 587 + (v % 256) * 114) // 1000 AS luma
        |  FROM px
        |), agg AS (
        |  SELECT doc_id, max(n) AS n_pixels, sum(luma) AS sum_luma FROM lum GROUP BY 1
        |)
        |SELECT a.doc_id, a.n_pixels, CAST(a.sum_luma AS BIGINT) AS sum_luma,
        |  CAST(sum(CASE WHEN l.luma * a.n_pixels > a.sum_luma THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bright
        |FROM agg a JOIN lum l USING (doc_id)
        |GROUP BY 1, 2, 3
        |ORDER BY a.doc_id""".stripMargin,

    // aHash replay: same generator-formula pixels, same integer luma,
    // same 8×8 cell assignment and cross-multiplied mean compare; the
    // u64 bit sum converts to the signed BIGINT image for the compare
    "q_multimodal_phash" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(doc_id % 64 + 1 AS BIGINT) AS w,
        |    CAST(doc_id % 48 + 1 AS BIGINT) AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id,
        |    (y * 8 // h) * 8 + (x * 8 // w) AS cell,
        |    ((((doc_id * 31 + y) * 31 + x) % 16777216 // 65536) * 299 +
        |     ((((doc_id * 31 + y) * 31 + x) % 16777216 // 256) % 256) * 587 +
        |     (((doc_id * 31 + y) * 31 + x) % 16777216 % 256) * 114) // 1000 AS luma
        |  FROM dims, unnest(generate_series(0, h - 1)) AS ty(y),
        |    unnest(generate_series(0, w - 1)) AS tx(x)
        |), cells AS (
        |  SELECT doc_id, cell, sum(luma) // count(*) AS m FROM px GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, sum(m) AS tot, count(*) AS n_occ FROM cells GROUP BY 1
        |), hashes AS (
        |  SELECT c.doc_id,
        |    CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
        |      THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS ahash64
        |  FROM (
        |    SELECT c.doc_id,
        |      sum(CASE WHEN c.m * t.n_occ > t.tot
        |        THEN (1::HUGEINT << c.cell::INT) ELSE 0::HUGEINT END) AS hu
        |    FROM cells c JOIN tot t USING (doc_id)
        |    GROUP BY 1) c
        |)
        |SELECT a.doc_id, a.ahash64,
        |  CAST(bit_count(xor(a.ahash64, b.ahash64)) AS INT) AS dist_next
        |FROM hashes a LEFT JOIN hashes b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin,

    // independent formulation: brute-force ALL pairs over the replayed
    // aHash chain (no banding) — candidate generation is not trusted
    "q_multimodal_img_dedup" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(doc_id % 64 + 1 AS BIGINT) AS w,
        |    CAST(doc_id % 48 + 1 AS BIGINT) AS h
        |  FROM documents
        |  WHERE doc_id % 64 >= 7 AND doc_id % 48 >= 7
        |), px AS (
        |  SELECT doc_id,
        |    (y * 8 // h) * 8 + (x * 8 // w) AS cell,
        |    ((((doc_id * 31 + y) * 31 + x) % 16777216 // 65536) * 299 +
        |     ((((doc_id * 31 + y) * 31 + x) % 16777216 // 256) % 256) * 587 +
        |     (((doc_id * 31 + y) * 31 + x) % 16777216 % 256) * 114) // 1000 AS luma
        |  FROM dims, unnest(generate_series(0, h - 1)) AS ty(y),
        |    unnest(generate_series(0, w - 1)) AS tx(x)
        |), cells AS (
        |  SELECT doc_id, cell, sum(luma) // count(*) AS m FROM px GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, sum(m) AS tot, count(*) AS n_occ FROM cells GROUP BY 1
        |), hashes AS (
        |  SELECT c.doc_id,
        |    CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
        |      THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS ah
        |  FROM (
        |    SELECT c.doc_id,
        |      sum(CASE WHEN c.m * t.n_occ > t.tot
        |        THEN (1::HUGEINT << c.cell::INT) ELSE 0::HUGEINT END) AS hu
        |    FROM cells c JOIN tot t USING (doc_id)
        |    GROUP BY 1) c
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.ah, b.ah)) AS INT) AS hamming
        |FROM hashes a JOIN hashes b
        |  ON a.doc_id < b.doc_id AND bit_count(xor(a.ah, b.ah)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // even docs: real GFV walk → min(n, 4) frames whose PNG headers probe
    // to the generator dims; odd docs: unknown container → one error row
    "q_multimodal_frames" ->
      """WITH even AS (
        |  SELECT doc_id, CAST(doc_id % 4 + 2 AS INT) AS nf,
        |    CAST(doc_id % 16 + 1 AS INT) AS w, CAST(doc_id % 12 + 1 AS INT) AS h
        |  FROM documents WHERE doc_id % 2 = 0
        |), fr AS (
        |  SELECT doc_id, unnest(generate_series(0, least(nf, 4) - 1)) AS fi, w, h
        |  FROM even
        |)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx, w, h,
        |  CAST(NULL AS VARCHAR) AS decode_error
        |FROM fr
        |UNION ALL
        |SELECT doc_id, NULL, NULL, NULL, 'unsupported container'
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id, frame_idx NULLS FIRST""".stripMargin,

    // AVI/MJPEG structural truth: n = id%4+2 real JPEG frames each
    // decoding to (id%16+1) × (id%12+1) pixels
    "q_multimodal_video_avi" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 4 + 2 AS INT) AS nf,
        |    CAST(doc_id % 16 + 1 AS BIGINT) * CAST(doc_id % 12 + 1 AS BIGINT) AS px
        |  FROM documents
        |)
        |SELECT doc_id, CAST(unnest(generate_series(0, nf - 1)) AS INT) AS frame_idx,
        |  px AS n_pixels
        |FROM d
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // mp4 structural truth, replayed from the fixture formulas: the box
    // walk must read back exactly what the encoder's mvhd/trak/stsd/
    // stsz/stco boxes declare; non-containers error. Sample-table
    // replay: video track nv = id%7+2 per-sample sizes 100+((id+i)%50),
    // audio track (id%3=0) na = id%5+1 uniform size 40+id%20; one stco
    // chunk per track; bitrate = bytes*8000 / duration_ms floor.
    "q_multimodal_mp4_meta" ->
      """SELECT d.doc_id, 'mp4' AS container, 'isom' AS major_brand,
        |  CAST(600 AS BIGINT) AS timescale,
        |  CAST((d.doc_id % 97 + 3) * 600 AS BIGINT) AS duration_units,
        |  CAST((d.doc_id % 97 + 3) * 1000 AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN d.doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS n_tracks,
        |  CASE WHEN d.doc_id % 3 = 0 THEN 'avc1,mp4a' ELSE 'avc1' END AS codecs,
        |  CAST(d.doc_id % 7 + 2
        |    + CASE WHEN d.doc_id % 3 = 0 THEN d.doc_id % 5 + 1 ELSE 0 END
        |    AS BIGINT) AS n_samples,
        |  CAST(v.vbytes
        |    + CASE WHEN d.doc_id % 3 = 0
        |        THEN (d.doc_id % 5 + 1) * (40 + d.doc_id % 20) ELSE 0 END
        |    AS BIGINT) AS sample_bytes,
        |  CAST(CASE WHEN d.doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_chunks,
        |  CAST((v.vbytes
        |    + CASE WHEN d.doc_id % 3 = 0
        |        THEN (d.doc_id % 5 + 1) * (40 + d.doc_id % 20) ELSE 0 END) * 8000
        |    // ((d.doc_id % 97 + 3) * 1000) AS BIGINT) AS bitrate_bps,
        |  CAST(NULL AS VARCHAR) AS decode_error
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d,
        |  LATERAL (SELECT CAST(list_sum(list_transform(
        |    range(0, CAST(d.doc_id % 7 + 2 AS INT)),
        |    i -> 100 + (d.doc_id + i) % 50)) AS BIGINT) AS vbytes) v
        |UNION ALL
        |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |  NULL, NULL, NULL, NULL, 'unsupported container'
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin,

    "q_doc_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[\p{L}]+|[0-9]+|[^\p{L}0-9\s]')) AS BIGINT) AS n_bpe,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_doc_quality_score" ->
      """SELECT doc_id, floor((
        |  least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 64.0, 1.0) * 0.3 +
        |  least((CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      w -> w IN ('the','a','an','of','and','in','to','is','le','la','de','et',
        |                 'der','die','das','und','el','los','y','que'))) AS DOUBLE) /
        |    greatest(CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE), 1.0)) * 4.0, 1.0) * 0.3 +
        |  CAST((length(regexp_replace(text, '\s+', '', 'g')) /
        |      greatest(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 1.0))
        |    BETWEEN 2.0 AND 12.0 AS DOUBLE) * 0.2 +
        |  CAST((CAST(len(regexp_extract_all(text, '[^\p{L}0-9\s]')) AS DOUBLE) /
        |    greatest(CAST(length(text) AS DOUBLE), 1.0)) <= 0.2 AS DOUBLE) * 0.2
        |  ) * 10000.0) / 10000.0 AS quality
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
  )
}
