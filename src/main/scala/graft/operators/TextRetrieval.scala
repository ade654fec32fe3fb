package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.BoundedTopK

/** Sparse (keyword) retrieval over the document corpus — the lexical half
  * of a retrieval stack next to the dense ANN tiers in
  * [[SimilaritySearch]]. BM25 is the classic probabilistic ranking
  * function (Robertson & Zaragoza 2009, "The Probabilistic Relevance
  * Framework: BM25 and Beyond"); the idf spelling here is Lucene's
  * non-negative variant `ln(1 + (N - df + 0.5)/(df + 0.5))`.
  */
object TextRetrieval {

  /** BM25 top-k documents per query.
    *
    * Determinism contract (the codebase convention): every per-(term,doc)
    * contribution `idf(term) · tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl))`
    * is computed in a FIXED left-associative double op order and
    * integer-quantized (`floor(x·1e6 + 0.5)`) BEFORE the per-(query,doc)
    * sum — so the score is an order-free integer sum of micro-units that
    * any engine replays exactly (a float Σ over terms would fold in
    * partition order). Output is `(qid, doc_id, score_micro, rnk)` with
    * ties broken doc_id-asc inside the same bounded-heap sort.
    *
    * Scale shape (the inverted-index plan without materializing one):
    * the corpus term stream is cut down to query terms by a BROADCAST
    * semi-join BEFORE any shuffle, so the only corpus-keyed aggregation
    * (`tf`) shuffles matched (term, doc) pairs only; document frequency
    * and corpus stats are ≤|terms| and 1-row broadcast frames; per-query
    * top-k is the bounded-heap aggregate (k-row map-side partials, never
    * a window over all matches). Nothing corpus-sized crosses the wire —
    * at 1000 executors the full-corpus work is two row-local passes
    * (length stats + term match).
    *
    * Tokenization is the corpus convention: lowercase, single-space
    * split (`q_doc_token_count` parity). Query terms are deduplicated
    * (set semantics — standard for short keyword queries).
    */
  def bm25TopK(
      docs: DataFrame, queries: DataFrame,
      textCol: String, idCol: String,
      queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 > 0.0 && b >= 0.0 && b <= 1.0, s"bad BM25 params k1=$k1 b=$b")

    val d = docs.select(col(idCol).as("doc_id"),
        split(lower(col(textCol)), " ").as("terms"))
      .withColumn("dl", size(col("terms")).cast("double"))
    // 1-row corpus stats frame: doc count + total length
    val stats = d.agg(count(lit(1)).cast("double").as("nd"),
      sum(col("dl")).as("sdl"))
    // (qid, term) pairs, distinct per query — tiny, broadcast
    val qt = queries.select(col(queryIdCol).as("qid"),
      explode(array_distinct(split(lower(col(queryTextCol)), " "))).as("term"))
    val qTerms = qt.select(col("term")).distinct()

    // corpus term stream restricted to query terms BEFORE the tf shuffle
    val matched = d.select(col("doc_id"), col("dl"), explode(col("terms")).as("term"))
      .join(broadcast(qTerms), Seq("term"))
    val tf = matched.groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // document frequency per query term (≤ |query terms| rows)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("dfq"))

    val scored = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sdl") / col("nd"))
      .withColumn("idf",
        log(lit(1.0) + (col("nd") - col("dfq") + lit(0.5)) / (col("dfq") + lit(0.5))))
      .withColumn("tfp", col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .withColumn("c", floor(col("idf") * col("tfp") * lit(1e6) + lit(0.5)))

    val perQuery = broadcast(qt).join(scored, Seq("term"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("c")).as("score_micro"))
    topKDocs(perQuery, k)
  }

  private def topKDocs(perQuery: DataFrame, k: Int): DataFrame =
    perQuery.groupBy(col("qid"))
      .agg(BoundedTopK.topK(
        struct(col("score_micro").cast("double").as("sm"), col("doc_id")), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.doc_id").as("doc_id"),
        col("s.sm").cast("long").as("score_micro"),
        (col("pos") + 1).cast("int").as("rnk"))

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
    * standard hybrid-retrieval combiner: given per-query rankings from
    * heterogeneous retrievers (BM25, dense ANN, …), score each candidate
    * `Σ_r 1/(k0 + rank_r)` and re-rank. Scores are integer-quantized
    * micro-units per (retriever, rank) — `floor(1e6 / (k0 + rank))` —
    * so the fused ordering is an order-free integer sum any engine
    * replays exactly. Inputs are (qid, doc_id, rnk) frames (the shape
    * every retriever here emits); a document absent from one ranking
    * simply contributes nothing from it.
    *
    * Scale shape: rankings are already top-k frames (|Q|·k rows each) —
    * the fusion is a union + one partial-aggregable groupBy on
    * (qid, doc_id) + bounded-heap top-k. Nothing corpus-sized.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    // integer division (a plain `/` on longs is double division in Spark)
    val normalized = rankings.map(_.select(col("qid"), col("doc_id"),
      expr(s"CAST(1000000 AS BIGINT) DIV ($k0 + CAST(rnk AS BIGINT))").as("contrib")))
    val unioned = normalized.reduce(_ unionByName _)
    topKDocs(
      unioned.groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("contrib")).as("score_micro")),
      k)
  }

  /** Build the persisted BM25 index — "index once, search many", the
    * [[SimilaritySearch.buildIvfIndex]] stance for lexical retrieval:
    *
    *  - `<dir>/postings`: (term, doc_id, tf, dl) — the inverted index,
    *    hash-BUCKETIZED on `term` ([[graft.operators.KvMerge.bucketize]])
    *    so searches read only matching buckets' files and a co-keyed
    *    join never reshuffles the postings;
    *  - `<dir>/terms`: (term, dfq) — document frequencies;
    *  - `<dir>/stats`: one row (nd, sdl) — corpus size + total length.
    *
    * Building costs one corpus pass (explode + two aggregations); after
    * that every query batch touches index tables only — the corpus
    * itself is never rescanned.
    */
  def buildBm25Index(
      docs: DataFrame, textCol: String, idCol: String, dir: String,
      numBuckets: Int = 16): Unit = {
    val s = docs.sparkSession
    clearStatsMarker(dir)
    val d = docs.select(col(idCol).as("doc_id"),
        split(lower(col(textCol)), " ").as("terms"))
      .withColumn("dl", size(col("terms")).cast("double"))
    d.agg(count(lit(1)).cast("double").as("nd"), sum(col("dl")).as("sdl"))
      .write.format("kv").option("path", s"$dir/stats").mode("overwrite").save()
    val postings = d.select(col("doc_id"), col("dl"), explode(col("terms")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    postings.write.format("kv").option("path", s"$dir/postings")
      .mode("overwrite").save()
    postings.groupBy(col("term")).agg(count(lit(1)).cast("double").as("dfq"))
      .write.format("kv").option("path", s"$dir/terms").mode("overwrite").save()
    postings.unpersist()
    KvMerge.bucketize(s, s"$dir/postings", numBuckets, Seq("term"))
    // Per-file term Blooms: the search-side postings ⋈ query-terms join
    // runtime-filters the scan by term (SupportsRuntimeFiltering), and
    // with hash-bucketized files the min/max zones span the whole term
    // domain — the Bloom sidecar is what turns that runtime filter into
    // whole-FILE pruning, so a k-term query reads ≤k buckets' files.
    // (Later kv appends join it at their write commit, and a maintenance
    // bucketize carries it through the swap — KvMerge.writeAndSwap.)
    graft.sources.kv.KvBloom.build(s, s"$dir/postings", Seq("term"))
    writeStatsMarker(dir)
  }

  /** Consistency marker for the derived terms/stats tables: present only
    * when they were rebuilt from the CURRENT postings table. Any
    * maintenance op drops it first and re-creates it last, so a crash
    * anywhere in between leaves the marker absent and
    * [[bm25TopKIndexed]] falls back to deriving df/stats from the
    * postings table directly (postings are the source of truth; the
    * derived tables are a read-time optimization, never a correctness
    * dependency).
    */
  private def statsMarker(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_stats_consistent")
  private def fs(dir: String) =
    statsMarker(dir).getFileSystem(graft.sources.ParquetIO.hadoopConf)
  private def clearStatsMarker(dir: String): Unit = {
    fs(dir).delete(statsMarker(dir), false); ()
  }
  private def writeStatsMarker(dir: String): Unit = {
    val f = fs(dir)
    f.mkdirs(statsMarker(dir).getParent)
    f.create(statsMarker(dir), true).close()
  }
  private def statsConsistent(dir: String): Boolean =
    scala.util.Try(fs(dir).exists(statsMarker(dir))).getOrElse(false)

  /** Incremental index maintenance — absorb NEW documents without
    * rescanning the corpus (the [[SimilaritySearch.ivfIndexAppend]]
    * stance for lexical retrieval): the new docs' postings append to the
    * postings table, then the document-frequency and corpus-stats tables
    * are REBUILT from the postings table alone (df/stats are global
    * aggregates — unlike ANN centroids they must reflect every document,
    * and the postings table is the index-sized source of truth for
    * both). Cost: one pass over the new docs plus one index-sized
    * aggregation — the corpus itself is never re-read.
    *
    * Note: appending de-bucketizes the postings layout; re-run
    * [[graft.operators.KvMerge.bucketize]] on `<dir>/postings` at the
    * next maintenance window to restore bucket pruning (exactly the
    * seen-store maintenance cycle of the dedup ingest pipeline).
    * Contract: `newDocs` carries NEW doc ids only (the
    * [[SimilaritySearch.ivfIndexAppend]] / [[Dedup.nearDupIngest]]
    * convention). A RETRIED identical append is absorbed — the search
    * path dedups (term, doc_id) after the query cut and df/stats count
    * distinct postings — but appending a MODIFIED existing doc leaves
    * both versions' postings live: dedup upstream or rebuild.
    */
  def bm25IndexAppend(
      newDocs: DataFrame, textCol: String, idCol: String, dir: String): Unit = {
    val s = newDocs.sparkSession
    // Crash safety: drop the consistency marker BEFORE touching anything.
    // A crash after the postings append but mid-rebuild leaves terms/stats
    // inconsistent with postings — with the marker absent,
    // [[bm25TopKIndexed]] derives both from postings until the next
    // successful maintenance run restores them (and the marker).
    clearStatsMarker(dir)
    val d = newDocs.select(col(idCol).as("doc_id"),
        split(lower(col(textCol)), " ").as("terms"))
      .withColumn("dl", size(col("terms")).cast("double"))
    d.select(col("doc_id"), col("dl"), explode(col("terms")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .write.format("kv").option("path", s"$dir/postings").mode("append").save()
    val postings = s.read.format("kv").option("path", s"$dir/postings").load()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // df counts DISTINCT (term, doc_id): a crash-retried append leaves
    // identical postings rows twice, and a raw count would double those
    // docs' df (stats already distincts on (doc_id, dl) for the same
    // reason) — the ivfKnnIndexed retry-dedup discipline
    val dfreq = postings.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("dfq"))
    val stats = postings.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).cast("double").as("nd"), sum(col("dl")).as("sdl"))
    // the rebuild reads postings, not terms/stats — and each overwrite is
    // the crash-safe backup-aside swap (a committed state exists on disk
    // at every instant; recovery is the marker fallback above)
    KvMerge.writeAndSwap(dfreq, s"$dir/terms")
    KvMerge.writeAndSwap(stats, s"$dir/stats")
    postings.unpersist()
    writeStatsMarker(dir)
  }

  /** BM25 top-k against a persisted index — must answer IDENTICALLY to
    * [[bm25TopK]] over the same corpus (the gate shares the oracle).
    * Scale shape: query terms broadcast into the postings scan (the
    * term-bucketized layout prunes whole buckets); the df/stats frames
    * are index-table reads; nothing corpus-sized moves.
    */
  def bm25TopKIndexed(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val postings = spark.read.table(s"kvcat.`$dir/postings`")
    // marker absent ⇒ a maintenance op crashed mid-rebuild: derive
    // df/stats from postings (source of truth) instead of reading the
    // possibly-stale derived tables — silently-wrong scores are the one
    // unacceptable outcome
    val (dfreq, stats) =
      if (statsConsistent(dir)) (
        spark.read.format("kv").option("path", s"$dir/terms").load(),
        spark.read.format("kv").option("path", s"$dir/stats").load())
      else (
        postings.select(col("term"), col("doc_id")).distinct()
          .groupBy(col("term")).agg(count(lit(1)).cast("double").as("dfq")),
        postings.select(col("doc_id"), col("dl")).distinct()
          .agg(count(lit(1)).cast("double").as("nd"), sum(col("dl")).as("sdl")))
    val qt = queries.select(col(queryIdCol).as("qid"),
      explode(array_distinct(split(lower(col(queryTextCol)), " "))).as("term"))
    // dedup by (term, doc_id) AFTER the query-term cut (bounded by the
    // matched terms' postings — the full postings table never
    // reshuffles): a crash-retried bm25IndexAppend leaves identical
    // postings rows twice, which would double those docs' per-term
    // contributions
    val matched = postings.join(broadcast(qt.select("term").distinct()), Seq("term"))
      .dropDuplicates("term", "doc_id")
    val scored = matched
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sdl") / col("nd"))
      .withColumn("idf",
        log(lit(1.0) + (col("nd") - col("dfq") + lit(0.5)) / (col("dfq") + lit(0.5))))
      .withColumn("tfp", col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .withColumn("c", floor(col("idf") * col("tfp") * lit(1e6) + lit(0.5)))
    val perQuery = broadcast(qt).join(scored, Seq("term"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("c")).as("score_micro"))
    topKDocs(perQuery, k)
  }
}
