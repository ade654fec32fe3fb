package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.sources.ParquetIO

/** Training-data-pipeline text operators over the `documents` table —
  * oracle-checkable subset (exact dedup, token stats, quality scoring,
  * fingerprinting, n-gram Jaccard similarity). The sketch-based variants
  * (MinHash-LSH, SimHash) live in [[graft.operators.Dedup]] and are gated
  * rows-only (not expressible in ANSI SQL).
  *
  * Scale stance: everything here is a hash-partitioned groupBy/join on a
  * derived key (text digest, shingle) — the canonical 100 TB shape. The
  * pairwise-join Jaccard is the *exact* oracle; at scale you run the
  * MinHash-LSH variant first and only exact-check candidate pairs.
  */
object TextQueries {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BPE-style merge training: 6 rounds of count-adjacent-pairs →
    // merge-the-global-argmax; the oracle replays every round with a
    // sentinel-string greedy replace (leftmost non-overlapping — the
    // same semantics as the operator's token fold).
    "q_tokenizer_merges" -> ((s, dir) => {
      graft.operators.TokenizerTraining.trainMerges(
        Tables.load(s, dir, "documents"), "text", rounds = 6)
        .orderBy(col("round"))
    }),

    // Edit-distance fuzzy self-join (record linkage): all unordered
    // customer-name pairs within Levenshtein distance 1, found via
    // PassJoin segment blocking + exact verify — the oracle brute-forces
    // the same predicate.
    // Bounded input (custkey < 300): TPC-H names share the 9-char
    // "Customer#" prefix, which concentrates one segment key into an
    // all-pairs bucket — the operator verifies through it correctly, but
    // the gate pins cost across scale factors the way the ANN gates pin
    // their query sets.
    "q_fuzzy_join" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer").filter(col("c_custkey") < 300)
      graft.operators.FuzzyJoin.editDistanceJoin(
        c, c, "c_custkey", "c_name", "c_custkey", "c_name", maxDist = 1)
        .where(col("lid") < col("rid"))
        .orderBy(col("lid"), col("rid"))
    }),

    // RAG-prep composition: token-window chunking feeding BM25 retrieval
    // over the CHUNKS, with (doc, chunk) provenance — one Catalyst plan
    // from raw documents to ranked passages; the oracle replays chunking
    // and the full retrieval chain.
    "q_pipeline_rag" -> ((s, dir) => {
      import s.implicits._
      val chunks = graft.operators.Curation.chunkDocuments(
        Tables.load(s, dir, "documents"), "text", "doc_id", chunk = 64, stride = 48)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("cid"),
          col("chunk_text"))
      val qs = Seq((1, "hash join"), (2, "stream window agg"),
        (3, "vector data slow")).toDF("qid", "qtext")
      graft.operators.TextRetrieval.bm25TopK(
        chunks, qs, "chunk_text", "cid", "qid", "qtext", k = 5)
        .select(col("qid"), expr("doc_id DIV 1000").as("doc_id"),
          (col("doc_id") % 1000).cast("int").as("chunk_idx"),
          col("score_micro"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),

    // Retrieve-then-rerank cascade: BM25 recalls a 20-wide lexical
    // shortlist per query, the shortlist rescores with EXACT cosine over
    // the embedding table (vec_id = doc_id), top-5 by true similarity —
    // the two-stage production retrieval head; both stages and the
    // shortlist cut replay in the oracle.
    "q_pipeline_rerank" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1, "hash join"), (2, "stream window agg"),
        (3, "vector data slow")).toDF("qid", "qtext")
      val lexical = graft.operators.TextRetrieval.bm25TopK(
        Tables.load(s, dir, "documents"), qs, "text", "doc_id", "qid", "qtext",
        k = 20)
        .select(col("qid"), col("doc_id").as("nid"))
      val emb = Tables.load(s, dir, "embeddings")
      graft.operators.SimilaritySearch.denseRerank(
        lexical, emb.filter(col("vec_id").isin(1, 2, 3)), emb,
        "embedding", "vec_id", k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Hybrid retrieval: BM25 lexical top-10 fused with dense cosine
    // top-10 by reciprocal-rank fusion (integer micro-unit
    // contributions) — the modern RAG retrieval head; both chains and
    // the fusion replay in the oracle.
    "q_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1, "hash join"), (2, "stream window agg"),
        (3, "vector data slow")).toDF("qid", "qtext")
      val lexical = graft.operators.TextRetrieval.bm25TopK(
        Tables.load(s, dir, "documents"), qs, "text", "doc_id", "qid", "qtext", k = 10)
        .select(col("qid"), col("doc_id"), col("rnk"))
      val emb = Tables.load(s, dir, "embeddings")
      val dense = graft.operators.SimilaritySearch.bruteForceKnn(
        emb, emb.filter(col("vec_id").isin(1, 2, 3)), "embedding", "vec_id", k = 10)
        .select(col("qid").cast("int").as("qid"), col("nid").as("doc_id"), col("rnk"))
      graft.operators.TextRetrieval.rrfFuse(Seq(lexical, dense), k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // The persisted-index BM25 path: build the term-bucketized inverted
    // index once in-gate, search against it — must answer IDENTICALLY
    // to q_doc_bm25, so it shares that gate's oracle.
    "q_doc_bm25_indexed" -> ((s, dir) => {
      import s.implicits._
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val idx = s"/tmp/graft_bm25$safe"
      ParquetIO.deletePath(idx)
      graft.operators.TextRetrieval.buildBm25Index(
        Tables.load(s, dir, "documents"), "text", "doc_id", idx)
      val qs = Seq((1, "hash join"), (2, "stream window agg"),
        (3, "vector data slow")).toDF("qid", "qtext")
      graft.operators.TextRetrieval.bm25TopKIndexed(
        s, idx, qs, "qid", "qtext", k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // BM25 keyword retrieval (Lucene idf variant): per-(term,doc)
    // contributions integer-quantized before the per-(query,doc) sum, so
    // the oracle replays the exact micro-unit scores; top-5 per query via
    // the bounded-heap aggregate.
    "q_doc_bm25" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1, "hash join"), (2, "stream window agg"),
        (3, "vector data slow")).toDF("qid", "qtext")
      graft.operators.TextRetrieval.bm25TopK(
        Tables.load(s, dir, "documents"), qs,
        "text", "doc_id", "qid", "qtext", k = 5)
        .orderBy(col("qid"), col("rnk"))
    }),

    // Exact dedup: hash-groupBy on content digest. At 100 TB this is one
    // shuffle on a 16-byte key, with map-side partial aggregation.
    "q_doc_dedup_exact" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("text_hash"))
    }),

    // URL-keyed crawl dedup over deterministically synthesized messy URLs
    // (the fixture corpus has no url column — the augmentation is part of
    // the query, replayed identically by the oracle): four raw variants
    // per target (case, default port, www, trailing slash, tracking
    // params, fragment) collapse onto per-scheme canonical keys.
    "q_doc_url_dedup" -> ((s, dir) => {
      val n = (col("doc_id") % 25).cast("string")
      val v = col("doc_id") % 4
      val url = when(v === 0, concat(lit("http://www.site"), n,
          lit(".example.com/articles/"), n, lit("?b=2&a=1")))
        .when(v === 1, concat(lit("HTTP://Site"), n,
          lit(".EXAMPLE.com:80/articles/"), n, lit("/?a=1&utm_source=feed&b=2")))
        .when(v === 2, concat(lit("http://site"), n,
          lit(".example.com/articles/"), n, lit("?utm_campaign=x&a=1&b=2#frag")))
        .otherwise(concat(lit("https://site"), n,
          lit(".example.com:443/articles/"), n))
      graft.operators.Dedup.byUrl(
        Tables.load(s, dir, "documents").select(col("doc_id"), url.as("url")),
        "url", "doc_id")
        .orderBy(col("url_canon"))
    }),

    // Intra-document repeated-line removal over boilerplate-augmented
    // docs (nav/footer lines injected twice, case-varied): first
    // occurrence survives, blank lines survive, repeats drop — all
    // row-local, replayed by the oracle with the same index-lambda.
    "q_doc_dedup_lines_indoc" -> ((s, dir) => {
      val aug = Tables.load(s, dir, "documents").select(col("doc_id"),
        concat(lit("Nav Menu\n"), col("text"),
          lit("\nnav menu\n\nFooter Text\nfooter text\n\nFooter Text")).as("text"))
      graft.operators.Dedup.dedupLinesInDoc(aug, "text", "doc_id")
        .select(col("doc_id"), col("n_lines_dropped"), md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // Token counting (whitespace tokenization; the BPE-ish regex variant is
    // in graft.functions.TextFunctions with its own spec).
    "q_doc_token_count" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: stopword ratio + mean token length + a combined
    // score — pure codegen'd column expressions, no UDFs.
    "q_doc_quality" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks).cast("double")
      val stops = size(filter(toks, w => w.isin("the", "a"))).cast("double")
      val wordChars = length(regexp_replace(col("text"), " ", "")).cast("double")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          nTok.cast("long").as("n_tokens"),
          round(stops / nTok, 4).as("stop_ratio"),
          round(wordChars / nTok, 4).as("avg_word_len"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprint: digest of whitespace-normalized lowercase text
    // (content-defined identity for dedup joins across snapshots).
    "q_doc_fingerprint" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Exact n-gram (3-word shingle) Jaccard near-dup pairs: shingle →
    // explode → self-join on shingle → |A∩B| / (|A|+|B|−|A∩B|). Shingles
    // with document frequency > 100 are dropped as boilerplate stopwords
    // BEFORE the self-join (bounds per-shingle fan-out at df² — the raw
    // all-pairs-per-shingle join is quadratic in hot-shingle frequency
    // and dies on a boilerplate-heavy corpus); the oracle mirrors the cap
    // exactly. Dedup.minHashLsh approximates the same measure with
    // bounded shuffle when even df-capped exactness is too much.
    // Eval-set decontamination (the GPT-3-style n-gram collision filter
    // as a first-class operator): corpus docs sharing any word-3-gram
    // with the benchmark subset (doc_id % 37 == 0) are flagged with
    // overlap counts — benchmark shingles broadcast, corpus df-capped.
    "q_doc_decontaminate" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Dedup.decontaminate(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0),
        "text", "doc_id", n = 3, minOverlap = 1, maxShingleDf = 100)
        .orderBy(col("id"))
    }),

    // Incremental ingest dedup: batch 1 (even doc ids) is "already
    // ingested" — its fingerprints are written to a real kv store table
    // in-gate; batch 2 re-delivers the whole corpus and must keep only
    // never-seen content, deduped within the batch (min-id keeper).
    "q_dedup_incremental" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val store = s"/tmp/graft_fpstore$safe"
      val docs = Tables.load(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(TextFunctions.fingerprint64(col("text")).as("fp"))
        .distinct()
        .write.format("kv").option("path", store).mode("overwrite").save()
      // production store shape: fp-bucketized layout + catalog read, so
      // the batch-vs-store anti-join shuffles ONLY the batch side
      // (storage-partitioned join — KvBuckets; spec-pinned in
      // KvBucketedJoinSpec)
      graft.operators.KvMerge.bucketize(s, store, 8, Seq("fp"))
      graft.operators.Dedup.dropSeenDuplicates(
          docs, s.read.table(s"kvcat.`$store`"), "text", "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Streaming ingest dedup: the whole corpus streams through the log
    // source in rate-limited micro-batches; each batch anti-joins the
    // persisted fp store, appends survivors + fps with the epoch-file +
    // commit-marker exactly-once discipline. Fixture rows are doc_id-
    // monotone, so the first-delivery keeper == the global min-id keeper
    // and the oracle replays it without modeling batch boundaries.
    "q_dedup_stream_ingest" -> ((s, dir) => {
      // stage ONE file with originals followed by id-shifted re-deliveries
      // of the even docs (single sorted partition → the stream's batches
      // are row prefixes, so first-delivery keeper == min-id keeper and
      // the oracle needs no batch-boundary model)
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val staged = s"/tmp/graft_ingeststage$safe"
      Tables.stageOnce(staged) {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        docs.unionByName(
            docs.filter(col("doc_id") % 2 === 0)
              .withColumn("doc_id", col("doc_id") + 100000L))
          .coalesce(1).sortWithinPartitions(col("doc_id"))
          .write.mode("overwrite").parquet(staged)
      }
      val total = ParquetIO.listFiles(staged).map(ParquetIO.footer(_).rowCount).sum
      // fixed per-sf paths CLEARED up front, not UUID-fresh ones: each
      // invocation previously stranded a full deduped-corpus copy plus
      // checkpoint in /tmp, and a bench sweep invokes this gate dozens
      // of times
      val store = s"/tmp/graft_ingest_store$safe"
      val out = s"/tmp/graft_ingest_out$safe"
      val ck = s"/tmp/graft_ingest_ck$safe"
      Seq(store, out, ck).foreach(ParquetIO.deletePath)
      val stream = s.readStream.format("log")
        .option("path", staged)
        .option("maxOffsetsPerTrigger", math.max(total / 4L, 1L).toString).load()
        .select(col("doc_id"), col("text"), col("source"))
      val q = graft.operators.Dedup.ingestStream(
        stream, store, out, "text", "doc_id", ck)
      q.awaitTermination()
      s.read.format("kv").option("path", out).load()
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF weighted-cosine near-dup (the weighted-lexical tier):
    // pairs clearing cosine 0.6 over df-pruned tf-idf vectors; the
    // threshold is a cross-multiplied exact integer compare, and every
    // pair carries its exact (dot, na, nb) integers for the oracle.
    "q_dedup_tfidf" -> ((s, dir) => {
      graft.operators.Dedup.tfidfCosine(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        minCosPermille = 600, maxTermDf = 100)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Incremental NEAR-dup ingest: odd docs seed the persisted MinHash
    // signature index in-gate, then the even-doc batch is screened
    // against it (est Jaccard >= 0.2) — survivors out, their signatures
    // appended. The oracle replays the signature math, banding, and the
    // batch-vs-store candidate screen exactly.
    "q_dedup_near_ingest" -> ((s, dir) => {
      val safe = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val idx = s"/tmp/graft_neardup$safe"
      ParquetIO.deletePath(idx)
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      // batch 1: odd docs into the empty index (all survive, all append)
      graft.operators.Dedup.nearDupIngest(
        docs.filter(col("doc_id") % 2 === 1), idx, "text", "doc_id",
        numHashes = 64, bands = 16, minJaccard = 0.2)
      // batch 2: even docs screened against the persisted odd signatures
      graft.operators.Dedup.nearDupIngest(
        docs.filter(col("doc_id") % 2 === 0), idx, "text", "doc_id",
        numHashes = 64, bands = 16, minJaccard = 0.2)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // The same decontamination through the Bloom-prefilter path (compact
    // broadcast + exact verify join): numBits is deliberately small here
    // (4096 bits for ~700 benchmark shingles ⇒ a few % false positives)
    // so the gate PROVES fp survivors die in the exact join — the result
    // must be bit-identical to q_doc_decontaminate's oracle.
    "q_doc_decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0),
        "text", "doc_id", n = 3, minOverlap = 1, maxShingleDf = 100,
        numBits = 4096, numHashes = 5)
        .orderBy(col("id"))
    }),

    // Fuzzy decontamination: a lightly-edited benchmark copy shares MOST
    // shingles — the near-dup leak an overlap-count filter under-weighs.
    // The fixture's cross-split near-dup signal is thin (one true pair at
    // J>=0.5), so the gate lowers the bar to 0.01 to drive a rich result
    // set (156 docs at sf0.01) through the whole pair/aggregate path;
    // DedupSpec's randomized brute-force covers the high-threshold
    // semantics. Same broadcast + df-cap scale shape as the exact gate;
    // per-doc set sizes are row-local.
    "q_doc_decontaminate_fuzzy" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      graft.operators.Dedup.decontaminateFuzzy(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0),
        "text", "doc_id", n = 3, minJaccard = 0.01, maxShingleDf = 100)
        .orderBy(col("id"))
    }),

    "q_doc_ngram_jaccard" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .filter(size(col("words")) >= 3)
      val shinglesRaw = docs.select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("words")) - 3),
          i => concat_ws(" ", slice(col("words"), i + 1, lit(3))))).as("shingle"))
        .distinct()
      val rare = shinglesRaw.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= 100).select("shingle")
      val shingles = shinglesRaw.join(rare, Seq("shingle"), "left_semi")
      val sizes = shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val common = shingles.as("a")
        .join(shingles.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      common
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(col("n_common").cast("double") /
            (col("na") + col("nb") - col("n_common")), 4).as("jaccard"))
        .filter(col("jaccard") >= 0.2)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // LSH quality audit — precision/recall accounting of the deployed
    // MinHash-LSH detector against the deployed exact-Jaccard detector
    // at the same threshold: one row (n_pred, n_truth, tp, fp, fn). The
    // knob choice (hashes/bands) becomes a measured tradeoff; the
    // oracle composes the two detectors' full replays and joins them.
    "q_dedup_lsh_audit" -> ((s, dir) => {
      val docsRaw = Tables.load(s, dir, "documents")
      val pred = graft.operators.Dedup.minHashLsh(docsRaw, "text", "doc_id",
          numHashes = 64, bands = 16, minJaccard = 0.2)
        .select(col("id_a"), col("id_b"), lit(1).as("p"))
      // exact truth: the q_doc_ngram_jaccard pipeline verbatim
      val docs = docsRaw
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .filter(size(col("words")) >= 3)
      val shinglesRaw = docs.select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("words")) - 3),
          i => concat_ws(" ", slice(col("words"), i + 1, lit(3))))).as("shingle"))
        .distinct()
      val rare = shinglesRaw.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df")).filter(col("df") <= 100).select("shingle")
      val shingles = shinglesRaw.join(rare, Seq("shingle"), "left_semi")
      val sizes = shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val truth = shingles.as("a")
        .join(shingles.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("nb")), "id_b")
        .where(round(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")), 4) >= 0.2)
        .select(col("id_a"), col("id_b"), lit(1).as("t"))
      pred.join(truth, Seq("id_a", "id_b"), "full_outer")
        .agg(count(col("p")).as("n_pred"), count(col("t")).as("n_truth"),
          sum(when(col("p").isNotNull && col("t").isNotNull, 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("p").isNotNull && col("t").isNull, 1L).otherwise(0L))
            .as("fp"),
          sum(when(col("p").isNull && col("t").isNotNull, 1L).otherwise(0L))
            .as("fn"))
    }),

    // TF-IDF: classic sparse text-feature pipeline — explode tokens,
    // tf per (doc, term), df per term over the corpus, smoothed idf,
    // top-scoring term per doc. Two shuffles (term, doc) regardless of
    // corpus size; df table is broadcast-sized for any real vocabulary.
    "q_doc_tfidf_top" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val nDocs = docs.count()
      val tokens = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = tokens.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(broadcast(dfreq), "term")
        .withColumn("score", round(col("tf") *
          (log((lit(nDocs) + 1.0) / (col("df") + 1.0)) + 1.0), 4))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("term").as("top_term"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // Per-language corpus stats (groupBy over a low-cardinality key).
    "q_doc_lang_stats" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    }),
  )

  // shingle construction mirrors TextFunctions.shingles exactly
  // (trim + \s+ split, end-clipped windows, per-doc distinct) — the
  // same replica the q_dedup_ngram_lsh oracle uses. Shared by the exact
  // and Bloom-prefilter decontamination gates: the Bloom path is
  // bit-identical by construction (no false negatives; fp survivors die
  // in the exact verify join).
  private val decontaminateOracle: String =
    """WITH sets AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(greatest(len(words) - 3, 0) + 1), si ->
      |      array_to_string(words[(si + 1)::INT : (least(si + 3, len(words)))::INT], ' '))) AS ss
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
      |        FROM documents)
      |), sh AS (
      |  SELECT doc_id, unnest(ss) AS shingle FROM sets
      |), corpus AS (SELECT * FROM sh WHERE doc_id % 37 <> 0),
      |bench AS (SELECT doc_id AS bid, shingle FROM sh WHERE doc_id % 37 = 0),
      |rare AS (SELECT shingle FROM corpus GROUP BY shingle HAVING count(*) <= 100),
      |c AS (SELECT corpus.doc_id, corpus.shingle
      |      FROM corpus JOIN rare USING (shingle))
      |SELECT c.doc_id AS id, count(DISTINCT c.shingle) AS n_bad,
      |  count(DISTINCT bench.bid) AS n_bench
      |FROM c JOIN bench USING (shingle)
      |GROUP BY 1
      |HAVING count(DISTINCT c.shingle) >= 1
      |ORDER BY id""".stripMargin

  /** Unrolled BPE-round replay: documents as chr(1)-sentinel strings
    * (each token owns one sentinel on each side, so a pair pattern is
    * `~l~~r~` and a global `replace` is exactly the greedy leftmost
    * non-overlapping merge), one (pairs → argmax → replace) stage per
    * round.
    */
  private def bpeMergesOracle(rounds: Int): String = {
    val S = "chr(1)"
    val stages = (1 to rounds).map { t =>
      val next =
        if (t == rounds) ""
        else
          s""", s${t + 1} AS (
             |  SELECT replace(s, $S || l || $S || $S || r || $S,
             |                 $S || l || ' ' || r || $S) AS s
             |  FROM s$t CROSS JOIN a$t
             |)""".stripMargin
      s"""p$t AS (
         |  SELECT p.l AS l, p.r AS r, count(*) AS c FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(lst) - 1),
         |      i -> {'l': lst[i], 'r': lst[i + 1]})) AS p
         |    FROM (SELECT string_split(substr(s, 2, len(s) - 2), $S || $S) AS lst
         |          FROM s$t)
         |  ) GROUP BY 1, 2
         |), a$t AS (
         |  SELECT $t AS round, l, r, c FROM p$t ORDER BY c DESC, l, r LIMIT 1
         |)$next""".stripMargin
    }.mkString(", ")
    val unioned = (1 to rounds).map(t => s"SELECT * FROM a$t").mkString(" UNION ALL ")
    s"""WITH s1 AS (
       |  SELECT $S || array_to_string(string_split(text, ' '), $S || $S) || $S AS s
       |  FROM documents
       |), $stages
       |SELECT round, l AS "left", r AS "right", CAST(c AS BIGINT) AS pair_count
       |FROM ($unioned)
       |ORDER BY round""".stripMargin
  }

  /** The exact n-gram-Jaccard replay (no trailing ORDER BY) — shared by
    * the standalone gate and the LSH-audit truth side.
    */
  private val ngramJaccardOracleBody: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    words[i + 1] || ' ' || words[i + 2] || ' ' || words[i + 3] AS shingle
      |  FROM w, unnest(generate_series(0, len(words) - 3)) AS t(i)
      |), rare AS (
      |  SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100
      |), sh AS (
      |  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
      |), common AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b,
      |  round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
      |FROM common
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.2""".stripMargin

  /** The BM25 replay CTE chain shared by the bm25 gates and the cascade:
    * ends at ranked `r` (qid, doc_id, score_micro, rnk).
    */
  private val bm25Cte: String =
    """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS terms,
        |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS nd, sum(dl) AS sdl FROM d
        |), q AS (
        |  SELECT * FROM (VALUES (1, 'hash join'), (2, 'stream window agg'),
        |    (3, 'vector data slow')) t(qid, qtext)
        |), qt AS (
        |  SELECT qid, unnest(list_distinct(string_split(lower(qtext), ' '))) AS term
        |  FROM q
        |), qterms AS (SELECT DISTINCT term FROM qt
        |), m AS (
        |  SELECT doc_id, dl, unnest(terms) AS term FROM d
        |), mt AS (
        |  SELECT m.doc_id, m.dl, m.term FROM m JOIN qterms USING (term)
        |), tf AS (
        |  SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf
        |  FROM mt GROUP BY 1, 2, 3
        |), dfreq AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS dfq FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT tf.term, tf.doc_id,
        |    CAST(floor(
        |      ln(1.0 + (stats.nd - dfreq.dfq + 0.5) / (dfreq.dfq + 0.5)) *
        |      (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (stats.sdl / stats.nd)))) *
        |      1000000.0 + 0.5) AS BIGINT) AS c
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        |), per AS (
        |  SELECT qt.qid, s.doc_id, CAST(sum(s.c) AS BIGINT) AS score_micro
        |  FROM qt JOIN scored s USING (term)
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT qid, doc_id, score_micro,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY CAST(score_micro AS DOUBLE) DESC, doc_id) AS INT) AS rnk
        |  FROM per
        |)""".stripMargin

  private val bm25OracleSql: String =
    s"""$bm25Cte
       |SELECT qid, doc_id, score_micro, rnk FROM r WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  /** q_pipeline_rerank: the BM25 chain cut at rnk <= 20 feeding an exact
    * cosine re-rank over embeddings (vec_id = doc_id), top-5 by true
    * similarity (sim desc, nid asc — the bounded-heap tie rule).
    */
  private val bm25RerankOracle: String =
    s"""$bm25Cte, cand AS (
       |  SELECT qid, doc_id FROM r WHERE rnk <= 20
       |), nv AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
       |  FROM embeddings
       |), ex AS (
       |  SELECT c.qid, c.doc_id AS nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * v.e[i]))
       |      / (q.nrm * v.nrm) AS sim
       |  FROM cand c
       |  JOIN nv q ON q.vec_id = c.qid
       |  JOIN nv v ON v.vec_id = c.doc_id
       |), rr AS (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM ex
       |)
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM rr WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_tokenizer_merges" -> bpeMergesOracle(6),
    "q_dedup_near_ingest" -> SketchOracleSql.nearIngestOracle,

    // tf-idf cosine: weights quantized once per (doc, term), exact
    // integer dots/norms, HUGEINT cross-multiplied threshold (600² = 360000)
    "q_dedup_tfidf" ->
      """WITH d AS (
        |  SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT id, term, count(*)::BIGINT AS tf FROM d GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*)::BIGINT AS dfq FROM tf GROUP BY 1
        |  HAVING count(*) <= 100
        |), nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
        |w AS (
        |  SELECT id, term,
        |    CAST(floor(CAST(tf AS DOUBLE) *
        |      (ln((nd.nd + 1.0) / (CAST(dfq AS DOUBLE) + 1.0)) + 1.0) *
        |      1000.0 + 0.5) AS BIGINT) AS wq
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
        |), norms AS (
        |  SELECT id, CAST(sum(wq * wq) AS BIGINT) AS n2 FROM w GROUP BY 1
        |), dots AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(sum(a.wq * b.wq) AS BIGINT) AS dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, dot, na.n2 AS na, nb.n2 AS nb
        |FROM dots
        |JOIN norms na ON na.id = dots.id_a
        |JOIN norms nb ON nb.id = dots.id_b
        |WHERE 1000000::HUGEINT * dot::HUGEINT * dot::HUGEINT >=
        |      360000::HUGEINT * na.n2::HUGEINT * nb.n2::HUGEINT
        |ORDER BY id_a, id_b""".stripMargin,

    "q_fuzzy_join" ->
      """SELECT a.c_custkey AS lid, b.c_custkey AS rid,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND levenshtein(a.c_name, b.c_name) <= 1
        |WHERE a.c_custkey < 300 AND b.c_custkey < 300
        |ORDER BY lid, rid""".stripMargin,

    // BM25: identical left-assoc double op order, contributions quantized
    // to BIGINT micro-units before summation (order-free integer sum);
    // sum cast back to BIGINT (DuckDB sum(BIGINT) is HUGEINT).
    // RAG composition: q_doc_chunks' replay builds the chunk table, the
    // bm25 chain runs over it with chunk ids doc_id·1000 + k, provenance
    // derived back at the end
    "q_pipeline_rag" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
        |), chunks AS (
        |  SELECT doc_id * 1000 + k AS cid,
        |    array_to_string(ws[k * 48 + 1 : k * 48 + least(64, len(ws) - k * 48)],
        |      ' ') AS text
        |  FROM w, unnest(generate_series(0, (len(ws) - 1) // 48)) AS t(k)
        |  WHERE len(ws) > 1 OR ws[1] <> ''
        |), d AS (
        |  SELECT cid, string_split(lower(text), ' ') AS terms,
        |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
        |  FROM chunks
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS nd, sum(dl) AS sdl FROM d
        |), q AS (
        |  SELECT * FROM (VALUES (1, 'hash join'), (2, 'stream window agg'),
        |    (3, 'vector data slow')) t(qid, qtext)
        |), qt AS (
        |  SELECT qid, unnest(list_distinct(string_split(lower(qtext), ' '))) AS term
        |  FROM q
        |), qterms AS (SELECT DISTINCT term FROM qt
        |), m AS (
        |  SELECT cid, dl, unnest(terms) AS term FROM d
        |), mt AS (
        |  SELECT m.cid, m.dl, m.term FROM m JOIN qterms USING (term)
        |), tf AS (
        |  SELECT term, cid, dl, CAST(count(*) AS DOUBLE) AS tf
        |  FROM mt GROUP BY 1, 2, 3
        |), dfreq AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS dfq FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT tf.term, tf.cid,
        |    CAST(floor(
        |      ln(1.0 + (stats.nd - dfreq.dfq + 0.5) / (dfreq.dfq + 0.5)) *
        |      (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (stats.sdl / stats.nd)))) *
        |      1000000.0 + 0.5) AS BIGINT) AS c
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        |), per AS (
        |  SELECT qt.qid, s.cid, CAST(sum(s.c) AS BIGINT) AS score_micro
        |  FROM qt JOIN scored s USING (term)
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT qid, cid, score_micro,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY CAST(score_micro AS DOUBLE) DESC, cid) AS INT) AS rnk
        |  FROM per
        |)
        |SELECT qid, cid // 1000 AS doc_id, CAST(cid % 1000 AS INT) AS chunk_idx,
        |  score_micro, rnk
        |FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,

    // hybrid fusion: both retrieval chains (bm25 k=10, cosine k=10) +
    // the integer RRF combiner, replayed end to end
    "q_hybrid_rrf" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS terms,
        |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS nd, sum(dl) AS sdl FROM d
        |), q AS (
        |  SELECT * FROM (VALUES (1, 'hash join'), (2, 'stream window agg'),
        |    (3, 'vector data slow')) t(qid, qtext)
        |), qt AS (
        |  SELECT qid, unnest(list_distinct(string_split(lower(qtext), ' '))) AS term
        |  FROM q
        |), qterms AS (SELECT DISTINCT term FROM qt
        |), m AS (
        |  SELECT doc_id, dl, unnest(terms) AS term FROM d
        |), mt AS (
        |  SELECT m.doc_id, m.dl, m.term FROM m JOIN qterms USING (term)
        |), tf AS (
        |  SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS tf
        |  FROM mt GROUP BY 1, 2, 3
        |), dfreq AS (
        |  SELECT term, CAST(count(*) AS DOUBLE) AS dfq FROM tf GROUP BY 1
        |), scored AS (
        |  SELECT tf.term, tf.doc_id,
        |    CAST(floor(
        |      ln(1.0 + (stats.nd - dfreq.dfq + 0.5) / (dfreq.dfq + 0.5)) *
        |      (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / (stats.sdl / stats.nd)))) *
        |      1000000.0 + 0.5) AS BIGINT) AS c
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        |), per AS (
        |  SELECT qt.qid, s.doc_id, CAST(sum(s.c) AS BIGINT) AS score_micro
        |  FROM qt JOIN scored s USING (term)
        |  GROUP BY 1, 2
        |), lex AS (
        |  SELECT qid, doc_id, rnk FROM (
        |    SELECT qid, doc_id,
        |      CAST(row_number() OVER (PARTITION BY qid
        |        ORDER BY CAST(score_micro AS DOUBLE) DESC, doc_id) AS INT) AS rnk
        |    FROM per
        |  ) WHERE rnk <= 10
        |), n AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
        |  FROM embeddings
        |), p AS (
        |  SELECT CAST(qv.vec_id AS INT) AS qid, c2.vec_id AS doc_id,
        |    list_sum(list_transform(generate_series(1, len(qv.e)),
        |      i -> qv.e[i] * c2.e[i])) / (qv.nrm * c2.nrm) AS sim
        |  FROM n qv JOIN n c2 ON qv.vec_id IN (1, 2, 3) AND c2.vec_id <> qv.vec_id
        |), den AS (
        |  SELECT qid, doc_id, rnk FROM (
        |    SELECT qid, doc_id,
        |      CAST(row_number() OVER (PARTITION BY qid
        |        ORDER BY sim DESC, doc_id) AS INT) AS rnk
        |    FROM p
        |  ) WHERE rnk <= 10
        |), fused AS (
        |  SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro FROM (
        |    SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM lex
        |    UNION ALL
        |    SELECT qid, doc_id, 1000000 // (60 + rnk) AS c FROM den
        |  ) GROUP BY 1, 2
        |), ranked AS (
        |  SELECT qid, doc_id, score_micro,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY CAST(score_micro AS DOUBLE) DESC, doc_id) AS INT) AS rnk
        |  FROM fused
        |)
        |SELECT qid, doc_id, score_micro, rnk FROM ranked WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin,

    "q_doc_bm25" -> bm25OracleSql,
    "q_pipeline_rerank" -> bm25RerankOracle,
    // identical answers required from the persisted-index path
    "q_doc_bm25_indexed" -> bm25OracleSql,

    "q_doc_decontaminate_bloom" -> decontaminateOracle,
    "q_doc_decontaminate" -> decontaminateOracle,

    // full-set sizes with the capped intersection, exactly as the
    // operator computes them; the df cap (rare) is over the whole corpus
    // — identical per-shingle counts to the operator's matched-stream
    // cap, because filtering by shingle membership cannot change another
    // shingle's count
    "q_doc_decontaminate_fuzzy" ->
      """WITH sets AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(greatest(len(words) - 3, 0) + 1), si ->
        |      array_to_string(words[(si + 1)::INT : (least(si + 3, len(words)))::INT], ' '))) AS ss
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |        FROM documents)
        |), sh AS (
        |  SELECT doc_id, len(ss) AS n_sh, unnest(ss) AS shingle FROM sets
        |), corpus AS (SELECT * FROM sh WHERE doc_id % 37 <> 0),
        |bench AS (SELECT doc_id AS bid, n_sh AS nb, shingle FROM sh WHERE doc_id % 37 = 0),
        |rare AS (SELECT shingle FROM corpus GROUP BY shingle HAVING count(*) <= 100),
        |c AS (SELECT corpus.doc_id, corpus.n_sh AS na, corpus.shingle
        |      FROM corpus JOIN rare USING (shingle)),
        |pairs AS (
        |  SELECT c.doc_id, bench.bid,
        |    count(*) AS n_common, max(c.na) AS na, max(bench.nb) AS nb
        |  FROM c JOIN bench USING (shingle)
        |  GROUP BY 1, 2
        |), jpairs AS (
        |  SELECT doc_id,
        |    CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jac
        |  FROM pairs
        |  WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= 0.01
        |)
        |SELECT doc_id AS id, round(max(jac), 4) AS max_jaccard,
        |  CAST(count(*) AS BIGINT) AS n_bench_hits
        |FROM jpairs GROUP BY 1 ORDER BY id""".stripMargin,

    // content identity = the normalized text itself (the fingerprint is
    // an engine detail; equality of fingerprints == equality of
    // normalized strings, collisions aside)
    "q_dedup_incremental" ->
      """WITH norm AS (
        |  SELECT doc_id, source,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents
        |), b1 AS (SELECT DISTINCT t FROM norm WHERE doc_id % 2 = 0),
        |cand AS (
        |  SELECT doc_id, source, t FROM norm
        |  WHERE t NOT IN (SELECT t FROM b1)
        |), keep AS (SELECT t, min(doc_id) AS doc_id FROM cand GROUP BY t)
        |SELECT c.doc_id, c.source FROM cand c
        |JOIN keep k ON c.t = k.t AND c.doc_id = k.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    "q_doc_dedup_exact" ->
      """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM documents
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // first-delivery keeper == global min-id keeper (the staged file is
    // doc_id-sorted, batches are row prefixes; re-delivered even docs
    // carry +100000 ids and always lose)
    "q_dedup_stream_ingest" ->
      """WITH all_docs AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, source, text FROM documents WHERE doc_id % 2 = 0
        |), norm AS (
        |  SELECT doc_id, source,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM all_docs
        |), keep AS (SELECT t, min(doc_id) AS doc_id FROM norm GROUP BY t)
        |SELECT n.doc_id, n.source FROM norm n
        |JOIN keep k ON n.t = k.t AND n.doc_id = k.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    "q_doc_dedup_lines_indoc" ->
      """WITH aug AS (
        |  SELECT doc_id, 'Nav Menu' || chr(10) || text || chr(10) || 'nav menu' ||
        |    chr(10) || chr(10) || 'Footer Text' || chr(10) || 'footer text' ||
        |    chr(10) || chr(10) || 'Footer Text' AS text
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls,
        |    list_transform(string_split(text, chr(10)), x -> lower(trim(x))) AS ns
        |  FROM aug
        |), k AS (
        |  SELECT doc_id, ls,
        |    list_filter(ls, (x, i) -> ns[i] = '' OR list_position(ns, ns[i]) = i) AS kept
        |  FROM d
        |)
        |SELECT doc_id, CAST(len(ls) - len(kept) AS BIGINT) AS n_lines_dropped,
        |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS text_md5
        |FROM k ORDER BY doc_id""".stripMargin,

    "q_doc_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'http://www.site' || (doc_id % 25)::VARCHAR ||
        |        '.example.com/articles/' || (doc_id % 25)::VARCHAR || '?b=2&a=1'
        |      WHEN 1 THEN 'HTTP://Site' || (doc_id % 25)::VARCHAR ||
        |        '.EXAMPLE.com:80/articles/' || (doc_id % 25)::VARCHAR ||
        |        '/?a=1&utm_source=feed&b=2'
        |      WHEN 2 THEN 'http://site' || (doc_id % 25)::VARCHAR ||
        |        '.example.com/articles/' || (doc_id % 25)::VARCHAR ||
        |        '?utm_campaign=x&a=1&b=2#frag'
        |      ELSE 'https://site' || (doc_id % 25)::VARCHAR ||
        |        '.example.com:443/articles/' || (doc_id % 25)::VARCHAR
        |    END AS url
        |  FROM documents
        |), p1 AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u
        |), p2 AS (
        |  SELECT doc_id, nf,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(nf, '^[^:/?#]+://([^/?#]*)', 1)),
        |      '^www\.', '') AS nw,
        |    regexp_replace(regexp_extract(nf, '^[^:/?#]+://[^/?#]*(/[^?#]*)?', 1),
        |      '/+$', '') AS path,
        |    regexp_extract(nf, '\?([^#]*)', 1) AS query
        |  FROM p1
        |), p3 AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(nw, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(nw, ':443$', '')
        |         ELSE nw END AS host,
        |    path,
        |    coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=|$)'))),
        |      '&'), '') AS canonq
        |  FROM p2
        |), c AS (
        |  SELECT doc_id, scheme || '://' || host || path ||
        |    CASE WHEN canonq = '' THEN '' ELSE '?' || canonq END AS url_canon
        |  FROM p3
        |)
        |SELECT url_canon, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_doc_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_doc_quality" ->
      """SELECT doc_id, lang,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  round(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the', 'a'))) /
        |    CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS stop_ratio,
        |  round(length(replace(text, ' ', '')) /
        |    CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS avg_word_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_doc_ngram_jaccard" ->
      s"""$ngramJaccardOracleBody
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the two detectors' replays, full-outer joined into one
    // confusion-count row
    "q_dedup_lsh_audit" ->
      s"""SELECT count(p.id_a)::BIGINT AS n_pred, count(t.doc_a)::BIGINT AS n_truth,
         |  CAST(sum(CASE WHEN p.id_a IS NOT NULL AND t.doc_a IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN p.id_a IS NOT NULL AND t.doc_a IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN p.id_a IS NULL AND t.doc_a IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |FROM (${SketchOracleSql.minhashLshOracle}) p
         |FULL OUTER JOIN ($ngramJaccardOracleBody) t
         |  ON p.id_a = t.doc_a AND p.id_b = t.doc_b""".stripMargin,

    "q_doc_tfidf_top" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 4) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |)
        |SELECT doc_id, term AS top_term, score FROM (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "q_doc_lang_stats" ->
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
        |  count(DISTINCT source) AS n_sources
        |FROM documents
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
  )
}
