package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Sketches, TextFunctions}
import graft.functions.VectorExpressions.{arrayDot, l2Norm}

/** Corpus deduplication operators for training-data pipelines.
  *
  * Five strategies, all shaped for 100 TB:
  *  - exact:        one shuffle on a 64-bit content digest
  *  - minHashLsh:   shingle → signature (narrow) → explode bands →
  *                  shuffle on band key → per-bucket pairs → verify
  *  - simHash:      narrow sketch → shuffle on 16-bit chunk keys →
  *                  Hamming verify (pigeonhole guarantees recall ≤3 bits)
  *  - ngramJaccard: exact shingle self-join (the oracle / small-N path)
  *  - embeddingCosine: hyperplane sketch → band join → exact cosine verify
  *
  * Every sketch is deterministic (seeded), so retried tasks regenerate
  * identical keys — a correctness requirement for shuffle-heavy dedup;
  * it also means the banded intermediates are safe to recompute instead
  * of caching (measured faster here: a persist() barrier costs more than
  * recompute and blocks AQE; at corpus scale checkpoint the banded set
  * instead).
  * Candidate generation never materializes O(N²): pairs only form inside
  * a bucket, and `maxBucket` caps pathological buckets (boilerplate spam)
  * the way production dedup pipelines do.
  */
object Dedup {

  /** Drop rows of pathological buckets (> maxBucket members) before
    * pairing. Partial-aggregable groupBy + semi-join: the hot bucket's
    * count folds map-side and the bucket never materializes inside one
    * task — unlike a `count().over(Window)` which buffers the entire
    * bucket in the window operator, precisely the skew it exists to drop.
    * The semi-join shuffles on the same keys as the subsequent pair join,
    * so the partitioning is reused.
    */
  private def capBuckets(df: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val small = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .where(col("__n") <= maxBucket)
      .select(keys.map(col): _*)
    df.join(small, keys, "left_semi")
  }

  /** Exact duplicates by normalized content fingerprint. Returns
    * (fingerprint, n_copies, keep_id, ids) — one row per duplicate group
    * with the canonical keeper (min id) and the group's first `maxIds`
    * ids ascending. `n_copies` is always exact; the id list is BOUNDED:
    * a pathological fingerprint (an empty/boilerplate doc with 10⁸
    * copies at corpus scale) must not put the whole group's ids into one
    * aggregation buffer, so the list rides the bounded heap (constant
    * score, id-ascending tiebreak ⇒ exactly the min-`maxIds` ids) — k
    * rows of state per group per partition, map-side partials, never a
    * `collect_list` of the group.
    */
  def exact(df: DataFrame, textCol: String, idCol: String,
      maxIds: Int = 1000): DataFrame =
    df.select(TextFunctions.fingerprint64(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"),
        graft.functions.BoundedTopK.topK(
          struct(lit(0.0).as("s"), col(idCol).as("id")), maxIds).as("__top"))
      .where(col("n_copies") > 1)
      .select(col("fp"), col("n_copies"), col("keep_id"),
        transform(col("__top"), x => x.getField("id")).as("ids"))

  /** URL-keyed crawl dedup: group documents by their canonical URL
    * ([[TextFunctions.canonicalUrl]] — case/port/tracking-param/fragment
    * variants collapse) and return one row per canonical key with the
    * min-id keeper and the variant count. The cheapest first pass of a
    * web-crawl pipeline (URL identity before any content hashing).
    *
    * Scale shape: canonicalization is row-local codegen'd built-ins; the
    * only shuffle is the groupBy on the canonical key with
    * partial-aggregable min/count — nothing buffers a group.
    */
  def byUrl(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    df.select(TextFunctions.canonicalUrl(col(urlCol)).as("url_canon"), col(idCol))
      .groupBy(col("url_canon"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Remove exact duplicates, keeping the min-id row per content group.
    * Window-free formulation: a semi-join against the keeper set (cheaper
    * than a row_number window over the full corpus at scale).
    */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = df.withColumn("__fp", TextFunctions.fingerprint64(col(textCol)))
    val keepers = withFp.groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
    withFp.join(keepers, Seq("__fp", idCol), "left_semi").drop("__fp")
  }

  /** Incremental ingest dedup — the steady-state shape of a continuously
    * ingesting pipeline: drop batch rows whose normalized content
    * fingerprint already exists in the `seen` store (the fingerprints of
    * everything ingested so far), then drop exact duplicates WITHIN the
    * batch (min-`idCol` keeper). Returns the surviving rows with their
    * `fp` so the caller appends exactly those fingerprints back to the
    * store — a kv table hash-bucketized on `fp`
    * ([[graft.operators.KvMerge.bucketize]]) and read through
    * [[graft.sources.kv.KvCatalog]]: the scan reports
    * `KeyGroupedPartitioning(bucket(n, fp))` and Spark's
    * storage-partitioned join shuffles ONLY the batch side to the
    * store's existing layout (`v2.bucketing.shuffle.enabled`) — the
    * store never reshuffles per batch. KvBucketedJoinSpec pins the
    * one-exchange plan; q_dedup_incremental runs this exact shape.
    * Both joins key on the 64-bit fingerprint.
    */
  def dropSeenDuplicates(
      batch: DataFrame, seenFps: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = batch.withColumn("fp", TextFunctions.fingerprint64(col(textCol)))
    val unseen = withFp.join(seenFps.select(col("fp")), Seq("fp"), "left_anti")
    val keepers = unseen.groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    unseen.join(keepers, Seq("fp", idCol), "left_semi")
  }

  /** Streaming ingest dedup — [[dropSeenDuplicates]] as a restartable
    * Structured Streaming pipeline: every micro-batch anti-joins against
    * the PERSISTED fingerprint store (a kv table), appends its surviving
    * rows to `outDir` and their fingerprints back to the store, all with
    * exactly-once visibility. Unlike `dropDuplicates` stream state, the
    * seen set lives in a TABLE: unbounded without executor state growth,
    * inspectable with any reader, compactable / fp-bucketizable offline
    * ([[graft.operators.KvMerge.bucketize]] turns the per-batch
    * anti-join into the storage-partitioned one-exchange plan), and the
    * pipeline restarts from its checkpoint with no state migration.
    *
    * Exactly-once: each epoch's files land under the kv streaming
    * sink's OWN naming + commit-marker discipline
    * (`epoch-<id>-part…parquet`, visible only once `_commits/<id>`
    * exists — `ParquetIO.listFilesStatus`): a replayed batch first
    * deletes its epoch's files and rewrites them, so a crash between
    * the two sinks or before the checkpoint commit re-executes into the
    * SAME names and readers never observe duplicates or torn epochs.
    *
    * Scale shape per batch: the store side is a plain kv scan (broadcast
    * at small store sizes, storage-partitioned once bucketized — the
    * batch side shuffles, the store never does), the in-batch keeper
    * groupBy is partial-aggregable on the 64-bit fp, and the kept frame
    * is persisted for its two consumers (docs out + fp append).
    */
  def ingestStream(
      stream: DataFrame, storeDir: String, outDir: String,
      textCol: String, idCol: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processIngestBatch(batch.toDF(), storeDir, outDir, textCol, idCol, batchId)
        ()
      }
      .start()
  }

  /** One ingest micro-batch, idempotent under foreachBatch replay: the
    * crashed attempt's OWN epoch is retracted from both tables FIRST
    * (marker, then files — so no reader ever sees a committed-but-torn
    * epoch), which also keeps the replayed batch from deduplicating
    * against its own previously committed fingerprints and erasing its
    * output.
    */
  private[operators] def processIngestBatch(
      batch: DataFrame, storeDir: String, outDir: String,
      textCol: String, idCol: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    clearEpoch(outDir, batchId)
    clearEpoch(storeDir, batchId)
    // read the store THROUGH the kv catalog: a path-based `format("kv")`
    // read has no FunctionCatalog, so Catalyst could never resolve the
    // bucket transform and a bucketized store would reshuffle every
    // batch — the catalog read reports KeyGroupedPartitioning once the
    // store is bucketized, which is the documented SPJ maintenance payoff
    val seen =
      if (graft.sources.ParquetIO.listFilesStatus(storeDir).nonEmpty) {
        s.read.table(s"kvcat.`$storeDir`").select(col("fp"))
      } else s.range(0).select(col("id").as("fp"))
    val kept = dropSeenDuplicates(batch, seen, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      writeEpoch(kept.drop("fp"), outDir, batchId)
      writeEpoch(kept.select(col("fp")).distinct(), storeDir, batchId)
    } finally { kept.unpersist(); () }
  }

  /** Retract one epoch: commit marker FIRST (readers stop seeing the
    * epoch atomically), then its files. Used before a replay rewrite.
    */
  private[operators] def clearEpoch(dir: String, epoch: Long): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.sources.ParquetIO
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(ParquetIO.hadoopConf)
    if (!fs.exists(dirPath)) return
    val marker = new Path(dir, s"_commits/$epoch")
    if (fs.exists(marker)) fs.delete(marker, false)
    fs.listStatus(dirPath)
      .filter(st => st.isFile && st.getPath.getName.startsWith(s"epoch-$epoch-"))
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** Write one epoch's rows into `dir` under the kv streaming sink's
    * epoch-file + commit-marker convention, idempotently: a replay
    * retracts the epoch (marker first — [[clearEpoch]]) and rewrites the
    * same names before re-marking the epoch committed, so readers only
    * ever see the epoch fully absent or fully present.
    */
  private[operators] def writeEpoch(df: DataFrame, dir: String, epoch: Long): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.sources.ParquetIO
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(ParquetIO.hadoopConf)
    fs.mkdirs(dirPath)
    clearEpoch(dir, epoch)
    val tmp = new Path(dir, s".epoch-$epoch-inprogress")
    ParquetIO.deletePath(tmp.toString)
    df.write.format("kv").option("path", tmp.toString).mode("append").save()
    ParquetIO.listFiles(tmp.toString).zipWithIndex.foreach { case (f, i) =>
      fs.rename(f, new Path(dir, s"epoch-$epoch-part%05d.parquet".format(i)))
    }
    ParquetIO.deletePath(tmp.toString)
    val commits = new Path(dir, "_commits")
    fs.mkdirs(commits)
    fs.create(new Path(commits, epoch.toString), true).close()
  }

  /** MinHash + LSH banding near-dup candidate pairs with verified
    * signature-estimated Jaccard.
    *
    * numHashes = bands * rowsPerBand; the (bands, rows) choice sets the
    * S-curve threshold ≈ (1/bands)^(1/rows). Defaults (16 bands × 8 rows)
    * put the knee near J ≈ 0.7.
    */
  def minHashLsh(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 128,
      bands: Int = 16,
      shingleSize: Int = 3,
      minJaccard: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sigs = df.select(col(idCol).as("id"),
      Sketches.minhashSignature(col(textCol), numHashes, shingleSize).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(Sketches.minhashBands(col("sig"), bands)).as(Seq("band", "key")))
    // Cap pathological buckets (all-identical boilerplate) before pairing.
    val bucketed = capBuckets(banded, Seq("band", "key"), maxBucket)
    val pairs = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .withColumn("est_jaccard",
        round(Sketches.minhashJaccard(col("sig_a"), col("sig_b")), 4))
      .where(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Incremental NEAR-dup ingest — the fuzzy sibling of
    * [[dropSeenDuplicates]]: drop batch documents whose estimated
    * MinHash Jaccard against ANY document already in the persisted
    * signature index clears `minJaccard`, then append the survivors'
    * signatures so later batches dedup against them. The index is ONE kv
    * table of (id, sig): unbounded without executor state, restartable,
    * compactable like the exact-fp store; band keys derive row-locally
    * from the signature at read time, so there is no second table to
    * keep consistent. Within-batch near-dups are the caller's
    * composition ([[minHashLsh]] + [[dropNearDuplicates]] before the
    * ingest call) — this operator's contract is batch-vs-index.
    *
    * Scale shape per batch: the index side is scanned ONCE and never
    * shuffles — the batch's band keys broadcast into the index scan
    * (restricting the banded stream to matching buckets), candidate
    * pairs and the verify join are batch-sized, and the bucket cap runs
    * over the already-restricted matches only. Returns the surviving
    * batch rows.
    */
  def nearDupIngest(
      batch: DataFrame, indexDir: String, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      minJaccard: Double = 0.5, maxBucket: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val s = batch.sparkSession
    val sigs = batch.select(col(idCol).as("__bid"),
        Sketches.minhashSignature(col(textCol), numHashes, shingleSize).as("__bsig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandedBatch = sigs.select(col("__bid"),
      posexplode(Sketches.minhashBands(col("__bsig"), bands)).as(Seq("band", "key")))
    val dropIds: DataFrame =
      if (graft.sources.ParquetIO.listFilesStatus(indexDir).isEmpty)
        sigs.select(col("__bid")).limit(0)
      else {
        val store = s.read.table(s"kvcat.`$indexDir`")
        val bandedStore = store.select(col("id"),
          posexplode(Sketches.minhashBands(col("sig"), bands)).as(Seq("band", "key")))
        // broadcast the batch's band keys INTO the index scan, then cap
        // hot buckets over the restricted stream only
        val matched = bandedStore.join(
          broadcast(bandedBatch.select("band", "key").distinct()), Seq("band", "key"))
        val capped = capBuckets(matched, Seq("band", "key"), maxBucket)
        val cands = capped.join(broadcast(bandedBatch), Seq("band", "key"))
          .select(col("__bid"), col("id").as("__sid")).distinct()
        cands
          .join(broadcast(sigs), "__bid")
          .join(store.select(col("id").as("__sid"), col("sig").as("__ssig")), "__sid")
          .where(Sketches.minhashJaccard(col("__bsig"), col("__ssig")) >= minJaccard)
          .select(col("__bid")).distinct()
      }
    // PIN the drop set before appending: the returned survivors frame is
    // lazy, and a post-append re-evaluation of dropIds would re-scan the
    // index WITH the batch's own just-appended signatures — every
    // survivor would self-match (est = 1.0) and vanish. The eager
    // localCheckpoint truncates the lineage at the pre-append store
    // state.
    val pinned = dropIds.localCheckpoint(true)
    val survivors = batch
      .join(broadcast(pinned), batch(idCol) === pinned("__bid"), "left_anti")
    // append the survivors' signatures for the next batch
    sigs.join(broadcast(pinned.select(col("__bid").as("__d"))),
        col("__bid") === col("__d"), "left_anti")
      .select(col("__bid").as("id"), col("__bsig").as("sig"))
      .write.format("kv").option("path", indexDir).mode("append").save()
    sigs.unpersist()
    survivors
  }

  /** TF-IDF weighted-cosine near-dup pairs — the weighted-lexical tier
    * between set-based n-gram Jaccard (which ignores term weights) and
    * embedding cosine (which needs vectors): two documents pair iff the
    * cosine of their tf-idf vectors clears `minCosPermille/1000`.
    *
    * Exactness contract: per-(doc,term) weights are quantized ONCE
    * (`floor(tf·(ln((N+1)/(df+1)) + 1)·1000 + 0.5)` — the corpus tf-idf
    * convention, one ln per term type), dots and norms are exact integer
    * sums over those weights, and the threshold test is the
    * cross-multiplied integer compare
    * `1e6·dot² ≥ p²·‖a‖²·‖b‖²` in 38-digit decimals (both engines carry
    * ≥128-bit exact integers at this width) — no float cosine, no sqrt,
    * nothing order-dependent.
    *
    * Scale shape: terms with document frequency above `maxTermDf` are
    * pruned from the vector space entirely (ubiquitous terms carry no
    * discriminative weight — the stopword-pruning standard, and the same
    * df-cap stance as [[ngramJaccard]]); candidates then come from a
    * term-keyed equi-join over the pruned postings, norms are one
    * partial-aggregable groupBy, and every returned pair carries its
    * exact (dot, na, nb) integers.
    */
  def tfidfCosine(
      df: DataFrame, textCol: String, idCol: String,
      minCosPermille: Int, maxTermDf: Int = 100): DataFrame = {
    require(minCosPermille >= 1 && minCosPermille <= 1000,
      s"minCosPermille must be in [1, 1000], got $minCosPermille")
    require(maxTermDf >= 1, s"maxTermDf must be >= 1, got $maxTermDf")
    val d = df.select(col(idCol).as("id"),
      explode(split(lower(col(textCol)), " ")).as("term"))
    val tf = SessionCaches.register(
      d.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfq"))
      .where(col("dfq") <= maxTermDf) // prune ubiquitous terms
    val nd = df.select(col(idCol)).agg(count(lit(1)).cast("double").as("nd"))
    val w0 = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nd))
      .select(col("id"), col("term"),
        floor(col("tf").cast("double") *
          (log((col("nd") + 1.0) / (col("dfq").cast("double") + 1.0)) + 1.0) *
          1000.0 + 0.5).cast("long").as("wq"))
    val w = SessionCaches.register(w0)
    val norms = w.groupBy(col("id")).agg(sum(col("wq") * col("wq")).as("n2"))
    val dots = w.as("a").join(w.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.wq") * col("b.wq")).as("dot"))
    val dec = "decimal(38,0)"
    val p2 = minCosPermille.toLong * minCosPermille
    dots
      .join(norms.select(col("id").as("id_a"), col("n2").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("n2").as("nb")), "id_b")
      .where(lit(1000000L).cast(dec) * col("dot").cast(dec) * col("dot").cast(dec) >=
        lit(p2).cast(dec) * col("na").cast(dec) * col("nb").cast(dec))
      .select(col("id_a"), col("id_b"), col("dot"), col("na"), col("nb"))
  }

  /** SimHash near-dup pairs: 64-bit sketch, candidates banded into
    * maxHamming + 1 chunks — the pigeonhole guarantees FULL recall at the
    * requested radius (two sketches within Hamming distance maxHamming
    * agree on at least one chunk) — then exact Hamming verify. The chunk
    * count adapts to the radius, so the recall contract holds for any
    * maxHamming in [0, 63]; more chunks mean shorter keys and more
    * candidates, bounded per bucket by `maxBucket`.
    */
  def simHash(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame =
    simHashFromSigs(
      df.select(col(idCol).as("id"), Sketches.simhash64(col(textCol)).as("sim")),
      maxHamming, maxBucket)

  /** Candidate generation + exact verify from precomputed sketches
    * (`id`, `sim` 64-bit). Split out so recall can be proven on crafted
    * sketches with known Hamming distances.
    */
  def simHashFromSigs(
      sigs: DataFrame,
      maxHamming: Int,
      maxBucket: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val nChunks = maxHamming + 1
    val chunked = sigs.select(col("id"), col("sim"),
      posexplode(Sketches.simhashChunks(col("sim"), nChunks)).as(Seq("chunk", "key")))
    val bucketed = capBuckets(chunked, Seq("chunk", "key"), maxBucket)
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", Sketches.hammingDistance(col("sim_a"), col("sim_b")))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
  }

  /** Exact word-n-gram Jaccard pairs over non-boilerplate shingles.
    *
    * A raw shingle self-join emits a row per shared shingle per pair —
    * quadratic in hot-shingle document frequency, the classic
    * boilerplate blowup. Shingles with document frequency above
    * `maxShingleDf` are treated as stopwords (excluded from both the
    * intersection and the per-doc sizes — well-defined "stopword
    * shingle" semantics, mirrored exactly by the gate oracle), which
    * bounds per-shingle join fan-out at maxShingleDf² — the same
    * discipline as `maxBucket` in the LSH paths.
    */
  def ngramJaccard(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      minJaccard: Double = 0.2,
      maxShingleDf: Int = 10000): DataFrame = {
    val shRaw = df.select(col(idCol).as("id"),
      explode(TextFunctions.shingles(col(textCol), n)).as("shingle"))
    val sh = capBuckets(shRaw, Seq("shingle"), maxShingleDf)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")), 4).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minOverlap` distinct word-n-gram shingles with the benchmark set —
    * the eval-set leakage filter of a training pipeline (n-gram
    * collision flagging). The benchmark side is eval-set sized, so its
    * distinct shingles ride a broadcast join: the corpus never shuffles
    * for candidate generation, and the corpus-side df cap bounds
    * boilerplate fan-out exactly like the other candidate generators.
    *
    * Returns one row per contaminated corpus doc: (id, n_bad = distinct
    * shingles shared with the benchmark union, n_bench = distinct
    * benchmark docs sharing at least one shingle).
    */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3, minOverlap: Int = 1,
      maxShingleDf: Int = 10000): DataFrame = {
    def sh(df: DataFrame) = df.select(col(idCol).as("id"),
      explode(TextFunctions.shingles(col(textCol), n)).as("shingle"))
    val benchSh = sh(benchmark).select(col("id").as("bid"), col("shingle")).distinct()
    // Restrict to benchmark-colliding shingles BEFORE the df cap: a
    // shingle's corpus document frequency is invariant under filtering
    // by shingle membership (only other shingles' rows are removed), so
    // the stopword-cap semantics are EXACTLY unchanged — but the
    // groupBy-count shuffle now carries only matched shingles instead
    // of the whole corpus shingle stream (at 100 TB the corpus never
    // shuffles for decontamination at all: broadcast filter + bounded
    // cap + broadcast join).
    // The benchmark-colliding working set is consumed twice (df-cap
    // counts, then the capped join probe) — persist it so the corpus
    // scan + shingle pipeline run ONCE, not once per consumer (the DSIR
    // histogram-frame precedent). Bounded: ≤ Σ_bench-shingles df(s)
    // rows, spill-safe under MEMORY_AND_DISK. Lifecycle: the result is
    // lazy, so the operator cannot unpersist; CacheManager keys entries
    // on the canonicalized plan (re-invocations over the same inputs
    // REUSE one entry, they don't accumulate) — a session cycling many
    // distinct corpora should `spark.catalog.clearCache()` between them.
    val matched = SessionCaches.register(sh(corpus)
      .join(broadcast(benchSh.select(col("shingle")).distinct()), Seq("shingle"), "left_semi"))
    val corpusSh = capBuckets(matched, Seq("shingle"), maxShingleDf)
    corpusSh.join(broadcast(benchSh), "shingle")
      .groupBy(col("id"))
      .agg(countDistinct(col("shingle")).as("n_bad"),
        countDistinct(col("bid")).as("n_bench"))
      .where(col("n_bad") >= minOverlap)
  }

  /** [[decontaminate]] with a Bloom-filter prefilter in place of the
    * exact-set broadcast semi-join — the 100 TB shape: the benchmark's
    * distinct shingles collapse into a `numBits`-bit filter (ONE binary
    * row, ~numBits/8 bytes — ~8× smaller than the exact hash-set
    * broadcast at 10 bits/element), the corpus shingle stream is
    * prefiltered row-locally against that broadcast, and only the tiny
    * surviving stream reaches the exact benchmark join, where Bloom
    * false positives die (no false negatives ⇒ a Bloom miss is a true
    * miss). The df cap is per-shingle and every row of a surviving
    * shingle survives the prefilter, so cap semantics are EXACTLY those
    * of [[decontaminate]] — the result is bit-identical for any
    * `numBits`/`numHashes`, only the broadcast size and the exact-join
    * input volume change.
    */
  def decontaminateBloom(
      corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3, minOverlap: Int = 1,
      maxShingleDf: Int = 10000,
      numBits: Int = 1 << 22, numHashes: Int = 5,
      seed: Long = 0x61b0f11e5eedL): DataFrame = {
    import graft.functions.{BloomFilterSketch, Sketches}
    def sh(df: DataFrame) = df.select(col(idCol).as("id"),
      explode(TextFunctions.shingles(col(textCol), n)).as("shingle"))
    val benchSh = sh(benchmark).select(col("id").as("bid"), col("shingle")).distinct()
    // build from the shingle-distinct set: re-inserting a shared shingle
    // once per benchmark doc is idempotent (OR) but wasted hashing
    val bloomRow = benchSh.select(col("shingle")).distinct()
      .select(BloomFilterSketch.bloomAgg(
        Sketches.stringHash64(col("shingle"), seed), numBits, numHashes).as("bloom"))
    // array-level probe BEFORE the explode: one imperative eval per doc
    // filters its whole shingle array against the broadcast bitset
    // persisted for the same two-consumer reason as [[decontaminate]];
    // gate-scoped (SessionCaches) so the entry doesn't outlive the gate
    val matched = SessionCaches.register(corpus
      .select(col(idCol).as("id"), TextFunctions.shingles(col(textCol), n).as("ss"))
      .crossJoin(broadcast(bloomRow))
      .select(col("id"), explode(BloomFilterSketch.keepStrings(
        col("bloom"), col("ss"), numBits, numHashes, seed)).as("shingle")))
    val corpusSh = capBuckets(matched, Seq("shingle"), maxShingleDf)
    corpusSh.join(broadcast(benchSh), "shingle")
      .groupBy(col("id"))
      .agg(countDistinct(col("shingle")).as("n_bad"),
        countDistinct(col("bid")).as("n_bench"))
      .where(col("n_bad") >= minOverlap)
  }

  /** Jaccard-threshold (fuzzy) decontamination — the near-duplicate
    * complement of [[decontaminate]]'s any-overlap filter: flag corpus
    * docs whose word-`n`-gram SET Jaccard with ANY benchmark doc is at
    * least `minJaccard` — a lightly-edited copy of an eval document (a
    * rephrased question, a re-wrapped passage) shares most but not all
    * shingles, so it clears an overlap-count filter's radar while
    * leaking the benchmark. Returns one row per flagged corpus doc:
    * `(id, max_jaccard, n_bench_hits)` — the strongest benchmark match
    * and how many benchmark docs clear the bar.
    *
    * Scale shape (identical to [[decontaminate]]): per-doc shingle-set
    * SIZES are row-local (`size(shingles(text))` — the corpus never
    * shuffles to learn its own set sizes); the benchmark's shingle set
    * broadcasts; only benchmark-colliding corpus shingles reach the
    * df-capped groupBy; intersections aggregate per (corpus doc,
    * benchmark doc) over that bounded stream. Jaccard uses the FULL set
    * sizes with the capped intersection — the cap can only lower a hot
    * pair's score, same conservatism as [[decontaminate]]'s cap.
    */
  def decontaminateFuzzy(
      corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3, minJaccard: Double = 0.5,
      maxShingleDf: Int = 10000): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    def withSets(df: DataFrame) = df.select(col(idCol).as("id"),
      TextFunctions.shingles(col(textCol), n).as("ss"))
    val benchSh = withSets(benchmark)
      .select(col("id").as("bid"), size(col("ss")).as("nb"),
        explode(col("ss")).as("shingle"))
    val corpusSh = withSets(corpus)
      .select(col("id"), size(col("ss")).as("na"),
        explode(col("ss")).as("shingle"))
    // persisted for the same two-consumer reason as [[decontaminate]];
    // gate-scoped (SessionCaches) so the entry doesn't outlive the gate
    val matched = SessionCaches.register(corpusSh
      .join(broadcast(benchSh.select(col("shingle")).distinct()), Seq("shingle"), "left_semi"))
    val capped = capBuckets(matched, Seq("shingle"), maxShingleDf)
    val pairs = capped.join(broadcast(benchSh), "shingle")
      .groupBy(col("id"), col("bid"))
      .agg(count(lit(1)).as("n_common"), max(col("na")).as("na"), max(col("nb")).as("nb"))
      .withColumn("jac", col("n_common").cast("double") /
        (col("na") + col("nb") - col("n_common")))
      .where(col("jac") >= minJaccard)
    pairs.groupBy(col("id"))
      .agg(round(max(col("jac")), 4).as("max_jaccard"),
        count(lit(1)).as("n_bench_hits"))
  }

  /** Word-level containment dedup: pairs (id_inner, id_outer) where the
    * inner document's normalized word sequence appears verbatim
    * (contiguous, word-aligned) inside the outer document — the "quoted
    * inclusion" pass of a training-data pipeline: a fully-contained
    * document adds no content the outer one lacks.
    *
    * Exact without O(N²): if inner ⊆ outer then EVERY word-k-gram of the
    * inner doc is one of the outer doc's k-grams, so joining on the inner
    * doc's single RAREST shingle (min (document frequency, shingle) —
    * deterministic) cannot miss a true pair, and the fan-out per inner
    * doc is that shingle's document frequency — the smallest bound any
    * of its shingles offers. No df cap is needed for correctness; the
    * rarest-shingle choice IS the skew defense (a doc made entirely of
    * boilerplate shingles is the only bad case, and its fan-out is the
    * df of its least-common boilerplate). Documents shorter than k words
    * are out of contract (no k-gram to anchor on).
    */
  /** (docs, shingle set, rarest-shingle frame) shared by [[containment]]
    * and [[containmentAudit]]. `rarest` carries the rarest shingle's df
    * as `rdf` — the per-inner-doc candidate fan-out bound.
    */
  private def containmentParts(df: DataFrame, textCol: String, idCol: String,
      k: Int): (DataFrame, DataFrame, DataFrame) = {
    // Byte-scanning tokenizer, not regexp_replace+split: wsTokens
    // replicates split(trim(c), "\s+") bit-for-bit (incl. the edge empty
    // tokens), and rejoining with single spaces reproduces the old
    // normalized string exactly — same semantics, no regex in the hot
    // path (the same halving the tokenizer bought the shingle family).
    val docs = df.select(col(idCol).as("id"),
        graft.functions.WhitespaceTokens.wsTokens(lower(col(textCol))).as("w"))
      .withColumn("t", array_join(col("w"), " "))
      .where(size(col("w")) >= k)
    val sh = docs.select(col("id"),
        explode(transform(sequence(lit(0), size(col("w")) - k),
          i => array_join(slice(col("w"), i + 1, lit(k)), " "))).as("shingle"))
      .distinct()
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val rarest = sh.join(dfreq, "shingle")
      .groupBy(col("id"))
      .agg(min(struct(col("df"), col("shingle"))).as("m"))
      .select(col("id").as("id_inner"), col("m.shingle").as("shingle"),
        col("m.df").as("rdf"))
    (docs, sh, rarest)
  }

  /** `maxShingleDf` (off by default) is the skew cap the rest of the
    * banded family carries ([[capBuckets]]): an inner doc whose RAREST
    * shingle is still common (df > cap — the every-doc-is-boilerplate
    * corpus) has an unbounded candidate fan-out, and with the cap set
    * such docs are SKIPPED as containment-inner candidates (they can
    * still appear as outer docs). That is a measured recall trade —
    * [[containmentAudit]] reports exactly what the cap costs.
    */
  /** Candidate-join + exact verify over prepared parts — shared by
    * [[containment]] (one pass) and [[containmentAudit]] (which runs it
    * twice over ONE persisted parts set).
    */
  private def containmentPairs(docs: DataFrame, sh: DataFrame,
      rarest: DataFrame, maxShingleDf: Int): DataFrame = {
    val candidates = rarest.where(col("rdf") <= maxShingleDf)
      .join(sh.select(col("id").as("id_outer"), col("shingle")), "shingle")
      .where(col("id_inner") =!= col("id_outer"))
      .select(col("id_inner"), col("id_outer"))
    // word-aligned verify: with single-space normalization, word-sequence
    // containment is exactly space-padded string containment
    candidates
      .join(docs.select(col("id").as("id_inner"), col("t").as("t_in")), Seq("id_inner"))
      .join(docs.select(col("id").as("id_outer"), col("t").as("t_out")), Seq("id_outer"))
      .where(contains(concat(lit(" "), col("t_out"), lit(" ")),
        concat(lit(" "), col("t_in"), lit(" "))))
      .select(col("id_inner"), col("id_outer"))
  }

  def containment(df: DataFrame, textCol: String, idCol: String, k: Int = 4,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxShingleDf >= 1, s"maxShingleDf must be >= 1, got $maxShingleDf")
    val (docs, sh, rarest) = containmentParts(df, textCol, idCol, k)
    containmentPairs(docs, sh, rarest, maxShingleDf)
  }

  /** Measured precision/recall audit of the capped containment pass (the
    * `q_dedup_lsh_audit` discipline): runs the exact (uncapped) and the
    * `maxShingleDf`-capped detectors end to end and reports one row —
    * pair counts, how many inner docs the cap skipped, and recall in
    * milli-units (`capped·1000 div exact`; precision is 1.0 by
    * construction — the capped path only ever drops candidates, its
    * verify is exact). This is the number a production pipeline needs
    * before turning the cap on over a boilerplate-heavy corpus.
    */
  def containmentAudit(df: DataFrame, textCol: String, idCol: String,
      k: Int = 4, maxShingleDf: Int = 100): DataFrame = {
    val spark = df.sparkSession
    // ONE tokenize/shingle/df chain persisted for both detectors and the
    // skip count (3× recompute otherwise — measured 4.0 → ~2 s at sf0.1)
    val (docs0, sh0, rarest0) = containmentParts(df, textCol, idCol, k)
    val docs = docs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rarest = rarest0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nExact = containmentPairs(docs, sh, rarest, Int.MaxValue).count()
      val nCapped = containmentPairs(docs, sh, rarest, maxShingleDf).count()
      val nSkipped = rarest.where(col("rdf") > maxShingleDf).count()
      val recallMilli = if (nExact == 0) 1000L else nCapped * 1000L / nExact
      spark.range(1).select(
        lit(nExact).as("n_pairs_exact"), lit(nCapped).as("n_pairs_capped"),
        lit(nSkipped).as("n_docs_skipped"), lit(recallMilli).as("recall_milli"))
    } finally { docs.unpersist(); sh.unpersist(); rarest.unpersist(); () }
  }

  /** Line-level (CCNet-style) dedup: drop every line whose normalized
    * form (lower + trim) occurs in more than `maxDocFreq` distinct
    * documents — boilerplate headers/footers/navigation — and rebuild
    * each document from its surviving lines in order. Blank lines are
    * structure, not content, and always survive.
    *
    * Shape at scale: explode to (doc, line) rows, one partial-aggregable
    * groupBy on the normalized line for document frequency, one
    * anti-join, one groupBy(doc) rebuild — no windows, no self-joins.
    * Grouping keys are the normalized line strings (exact; swap in
    * `TextFunctions.fingerprint64` keys when line text is too wide to
    * shuffle at corpus scale).
    */
  def dedupLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDocFreq: Int = 1,
      delimiter: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delimiter)))
        .as(Seq("__ln", "__line")))
      .withColumn("__norm", lower(trim(col("__line"))))
    val hot = lines.where(col("__norm") =!= "")
      .groupBy(col("__norm"))
      .agg(countDistinct(col("__id")).as("__df"))
      .where(col("__df") > maxDocFreq)
      .select(col("__norm"))
    val rebuilt = lines.join(hot, Seq("__norm"), "left_anti")
      .groupBy(col("__id"))
      .agg(concat_ws(delimiter,
        transform(sort_array(collect_list(struct(col("__ln"), col("__line")))),
          x => x.getField("__line"))).as("__text"))
    df.join(rebuilt, df(idCol) === rebuilt("__id"), "left_outer")
      .select(df.columns.map { c =>
        if (c == textCol) coalesce(col("__text"), lit("")).as(textCol) else df(c)
      }: _*)
  }

  /** Intra-document repeated-line removal — the row-local complement of
    * [[dedupLines]] (which drops lines repeated ACROSS documents): within
    * each document keep only the FIRST occurrence of every normalized
    * (lowercased, trimmed) line, preserving order and all empty/blank
    * lines (formatting). Kills per-document boilerplate — repeated nav
    * bars, cookie banners, signature blocks — before any cross-document
    * pass.
    *
    * Scale shape: a pure row-local array transform (no explode, no
    * shuffle, no window — the document never leaves its row). First-
    * occurrence lookup is `array_position` per line, O(lines²) per doc
    * worst case but constant memory and fully parallel; documents with
    * millions of lines should be split upstream anyway.
    */
  def dedupLinesInDoc(
      df: DataFrame, textCol: String, idCol: String,
      delimiter: String = "\n"): DataFrame = {
    val lines = split(col(textCol), java.util.regex.Pattern.quote(delimiter))
    df.withColumn("__lines", lines)
      .withColumn("__norms", transform(col("__lines"), l => lower(trim(l))))
      .withColumn("__kept", filter(col("__lines"), (_, i) =>
        element_at(col("__norms"), i + 1) === "" ||
          array_position(col("__norms"), element_at(col("__norms"), i + 1)) === (i + 1).cast("long")))
      .withColumn("n_lines_dropped",
        (size(col("__lines")) - size(col("__kept"))).cast("long"))
      .withColumn(textCol, array_join(col("__kept"), delimiter))
      .drop("__lines", "__norms", "__kept")
  }

  /** Cross-document repeated-SPAN removal — the sub-document complement
    * of [[exact]] (whole docs) and [[dedupLines]] (whole lines): every
    * word-aligned `n`-token window whose lowercased form appears in more
    * than `maxDocFreq` distinct documents is treated as duplicated
    * boilerplate, and all token positions it covers are removed from
    * every document EXCEPT the window's keeper (the minimum id among the
    * documents containing it) — the "deduplicating training data"
    * pass that drops repeated licenses, navigation chrome, and quoted
    * chunks while keeping exactly one copy in the corpus. Overlapping
    * flagged windows union their coverage; repeats WITHIN a single
    * document are not flagged (that is [[dedupLinesInDoc]] /
    * repetition-signal territory). Output text is the space-join of the
    * surviving original-case tokens (whitespace-normalized), plus an
    * exact `n_tokens_dropped` count.
    *
    * Scale shape: the window stream is one row per token position (the
    * canonical shingle pipeline shape); duplicated-window detection is a
    * partial-aggregable groupBy on the window key (countDistinct +
    * min — no window functions); flagging is a join against the
    * one-row-per-key hot set (no fan-out); coverage shuffles ONE
    * interval row per flagged window (fixed length n, so just the begin
    * position — n× less volume than a per-position explode), and the
    * overlap union resolves row-locally at rebuild (token i covered iff
    * a flagged window begins in (i-n, i]). Per-document state stays
    * ≤ doc length. Nothing is all-pairs and nothing buffers more than
    * one document.
    *
    * `hashKeys = true` is the 100 TB knob: window keys shuffle as 64-bit
    * `stringHash64` digests (8 bytes) instead of the literal `n`-token
    * strings (~6·n bytes) — same plan shape, ~6× less key volume through
    * both shuffles. A digest collision would merge two unrelated windows
    * (one extra span wrongly removed) — the standard fingerprint-dedup
    * trade, identical to [[exact]]'s 64-bit content digest; the
    * string-key default is the exact/oracle path and the spec pins the
    * two paths equal on collision-free corpora.
    */
  def dedupSpans(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 8, maxDocFreq: Int = 1,
      hashKeys: Boolean = false): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = df.select(col(idCol).as("__id"),
      graft.functions.WhitespaceTokens.wsTokens(col(textCol)).as("__toks"))
    val keyOf = (c: Column) =>
      if (hashKeys) Sketches.stringHash64(c, 0x5fa75L) else c
    val wins = toks.where(size(col("__toks")) >= n)
      .select(col("__id"), posexplode(transform(
        sequence(lit(0), size(col("__toks")) - n),
        i => keyOf(lower(concat_ws(" ", slice(col("__toks"), i + 1, lit(n))))))
      ).as(Seq("__pos", "__key")))
    val hot = wins.groupBy(col("__key"))
      .agg(countDistinct(col("__id")).as("__df"), min(col("__id")).as("__keeper"))
      .where(col("__df") > maxDocFreq)
      .select(col("__key"), col("__keeper"))
    // One interval row per flagged window (its begin position; every
    // interval has fixed length n) — NOT one row per covered position.
    // The per-position explode shuffled n× this volume; the union of
    // overlapping windows is instead resolved at rebuild time: token i
    // is covered iff some flagged window begins in (i-n, i].
    val covered = wins.join(hot, "__key")
      .where(col("__id") =!= col("__keeper"))
      .groupBy(col("__id")).agg(collect_set(col("__pos")).as("__begins"))
    val rebuilt = toks.join(covered, Seq("__id"), "left_outer")
      .withColumn("__begins",
        coalesce(col("__begins"), array().cast("array<int>")))
      .withColumn("__keep", filter(col("__toks"), (_, i) =>
        !exists(col("__begins"), b => b <= i && i < b + n)))
      .select(col("__id"),
        array_join(col("__keep"), " ").as("__text"),
        (size(col("__toks")) - size(col("__keep"))).cast("long")
          .as("n_tokens_dropped"))
    // left_outer (matching dedupLines): a null-id row can never win a
    // keeper election or match the rebuild key, so it passes through
    // with its original text instead of being silently dropped.
    df.join(rebuilt, df(idCol) === rebuilt("__id"), "left_outer")
      .select(df.columns.map { c =>
        if (c == textCol) coalesce(col("__text"), df(textCol)).as(textCol)
        else df(c)
      } :+ coalesce(col("n_tokens_dropped"), lit(0L)).as("n_tokens_dropped"): _*)
  }

  /** The scale form of exact n-gram Jaccard: MinHash-LSH banding proposes
    * candidate pairs (bounded shuffle, `maxBucket`-capped — never the
    * all-pairs-per-shingle join), exact shingle-SET Jaccard verifies each
    * candidate. Same decision function as [[ngramJaccard]] restricted to
    * the LSH candidate set; recall is the banding S-curve
    * ((1/bands)^(1/rows) knee).
    */
  def ngramJaccardViaLsh(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.2,
      maxBucket: Int = 10000): DataFrame = {
    val cands = minHashLsh(df, textCol, idCol, numHashes, bands, n,
      minJaccard = 0.0, maxBucket = maxBucket)
      .select(col("id_a"), col("id_b"))
    val sets = df.select(col(idCol).as("id"),
      TextFunctions.shingles(col(textCol), n).as("ss"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    cands
      .join(sets.select(col("id").as("id_a"), col("ss").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("ss").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(inter.cast("double") /
          (size(col("sa")) + size(col("sb")) - inter), 4).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Connected components over near-duplicate pairs: turns pairwise
    * matches (from minHashLsh / simHash / embeddingCosine) into dedup
    * groups via iterative min-label propagation (the large-star/small-star
    * family — Kiveris et al., "Connected components in MapReduce and
    * beyond", SoCC'14). Converges in O(log diameter) rounds; each round is
    * one join + one aggregation, state = one (id, label) pair per vertex.
    *
    * Returns (id, component) with component = min id of the group.
    *
    * Durability: each round's materialization uses RELIABLE
    * checkpointing (files under `sparkContext.setCheckpointDir`)
    * whenever a checkpoint dir is configured — on a real cluster,
    * `localCheckpoint` stores blocks on executors with truncated
    * lineage, so ONE lost executor kills the whole job mid-iteration
    * (Spark cannot recompute past the truncation). Set a checkpoint dir
    * in production; without one (local mode, specs) the rounds fall
    * back to `localCheckpoint`, which is faster and lossless in a
    * single JVM.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 20): DataFrame = {
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // Materialize the edge set once: every round joins against it, and
    // the checkpoint truncates its lineage back to the pair-generation
    // plan (which may itself be a multi-stage LSH pipeline).
    val edges = materialize(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    componentsLoop(edges, materialize, maxIter)
  }

  /** Connected components with the edge set materialized ONCE as a
    * `dst`-bucketized kv table under `workDir` — the storage-partitioned
    * layout for the iteration's dominant join: each round's
    * edges⋈labels join on `dst` reads the (corpus-sized) edge side IN
    * PLACE (`KeyGroupedPartitioning(bucket(n, dst))`) and shuffles only
    * the node-sized label frame to match (`v2.bucketing.shuffle`) — at
    * 100 TB the edge list never crosses the wire after its one-time
    * layout write, vs one full edge shuffle per round in the
    * checkpoint-backed variant. Labels are the same pointer-jumping
    * rounds, so the fixpoint is identical to [[connectedComponents]]
    * (one shared oracle).
    */
  def connectedComponentsBucketed(
      spark: org.apache.spark.sql.SparkSession, pairs: DataFrame,
      workDir: String, numBuckets: Int = 16, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 20): DataFrame = {
    graft.sources.ParquetIO.deletePath(workDir)
    pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .write.format("kv").option("path", workDir).mode("overwrite").save()
    KvMerge.bucketize(spark, workDir, numBuckets, Seq("dst"))
    val edges = spark.read.table(s"kvcat.`$workDir`")
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def materialize(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    componentsLoop(edges, materialize, maxIter)
  }

  /** The shared pointer-jumping rounds: `edges` must be the symmetric,
    * deduplicated (src, dst) set, already materialized (checkpointed or
    * table-backed).
    */
  private def componentsLoop(edges: DataFrame,
      materialize: DataFrame => DataFrame, maxIter: Int): DataFrame = {
    var labels = materialize(
      edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // each vertex takes the min of its own and its neighbors' labels
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("n_comp"))
      // checkpoint per round: the eager job materializes the result and
      // truncates lineage to the checkpoint, so round k costs its own
      // joins — not a re-execution of rounds 1..k-1 — and plan depth
      // stays constant across rounds.
      val stepped = materialize(
        labels.join(neighborMin, Seq("id"), "left_outer")
          .select(col("id"), col("component").as("__old"),
            least(col("component"), coalesce(col("n_comp"), col("component")))
              .as("component")))
      // pointer jump (path halving): follow component → that vertex's
      // component. Neighbor-min alone moves a label one hop per round
      // (O(diameter) rounds — a 10⁶-long chain would need 10⁶ rounds);
      // with the jump labels shortcut through already-relabeled vertices
      // and convergence is O(log diameter). Label values are always
      // vertex ids (mins over id sets), so the jump join is total.
      val next = materialize(stepped.as("x")
        .join(stepped.select(col("id").as("__cid"), col("component").as("__cc")),
          col("x.component") === col("__cid"), "left_outer")
        .select(col("x.id").as("id"),
          least(col("x.component"), coalesce(col("__cc"), col("x.component")))
            .as("component"),
          (least(col("x.component"), coalesce(col("__cc"), col("x.component")))
            < col("x.__old")).cast("long").as("__chg")))
      // the convergence test reads the just-materialized blocks — no
      // second pass over the iteration's plan
      changed = next.agg(coalesce(sum(col("__chg")), lit(0L))).head().getLong(0)
      labels = next.drop("__chg")
      iter += 1
    }
    labels
  }

  /** Drop near-duplicates: keep the min-id representative of each
    * connected component of `pairs`; rows not in any pair pass through.
    */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Drop near-duplicates keeping the BEST-scoring member of each
    * connected component (ties → smallest id); rows not in any pair
    * pass through. The production variant of [[dropNearDuplicates]]: a
    * real pipeline keeps the highest-quality copy of a duplicate
    * cluster (longest, best quality score), not an arbitrary one.
    * Shape: the component labels (bounded iterative state) plus two
    * partial-aggregable groupBys on `component` — no windows.
    */
  def dropNearDuplicatesBest(df: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val comps = connectedComponents(pairs)
    val scored = comps.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("__s")), "id")
    val best = scored.groupBy(col("component")).agg(max(col("__s")).as("__best"))
    val keepers = scored.join(best, "component")
      .where(col("__s") === col("__best"))
      .groupBy(col("component")).agg(min(col("id")).as("id"))
      .select(col("id").as(idCol))
    val losers = comps.select(col("id").as(idCol))
      .join(keepers, Seq(idCol), "left_anti")
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicate pairs: hyperplane-sketch band join for
    * candidates, exact double-precision cosine for the verdict.
    */
  def embeddingCosine(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      minCosine: Double = 0.95,
      numPlanes: Int = 64,
      bands: Int = 8,
      maxBucket: Int = 10000): DataFrame = {
    val dot: (Column, Column) => Column = (a, b) => arrayDot(a, b)
    val sk = df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("e"))
      .withColumn("nrm", l2Norm(col("e")))
      .withColumn("sk", Sketches.hyperplaneSketch(col("e"), numPlanes))
    val banded = sk.select(col("id"), col("e"), col("nrm"),
      posexplode(Sketches.sketchBands(col("sk"), bands, numPlanes))
        .as(Seq("band", "key")))
    val bucketed = capBuckets(banded, Seq("band", "key"), maxBucket)
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.e").as("ea"), col("b.e").as("eb"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): k-means-cluster
    * the embedding space, then compare pairs ONLY within a cluster —
    * cosine above `minCosine` marks the higher id a semantic duplicate of
    * the lower. Returns (id_a, id_b, cell, cosine) pairs, id_a < id_b.
    *
    * Clustering reuses [[SimilaritySearch.trainCentroids]] (deterministic
    * init + bounded per-cell training sample, bit-replayable in the
    * oracle); assignment broadcasts the centroids so the corpus never
    * shuffles for it. The pairwise stage shuffles once on `cell` —
    * candidate count is Σ |cell|² instead of N², which is the entire
    * point of SemDeDup at 100 TB: nCells grows with the corpus so cells
    * stay bounded (pathological mega-cells are additionally capped by
    * `maxBucket`, same safety net as every banded join here).
    */
  def semantic(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      minCosine: Double = 0.95,
      nCells: Int = 64,
      iterations: Int = 2,
      maxTrainPerCell: Int = 16384,
      maxBucket: Int = 100000): DataFrame = {
    val cents = SimilaritySearch.trainCentroids(
      df, vecCol, idCol, nCells, iterations, maxTrainPerCell)
    val prepped = df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("e"))
      .withColumn("nrm", l2Norm(col("e")))
    val assigned = capBuckets(
      SimilaritySearch.assignCells(prepped, cents), Seq("cell"), maxBucket)
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.cell").as("cell"),
        round(arrayDot(col("a.e"), col("b.e")) / (col("a.nrm") * col("b.nrm")), 6)
          .as("cosine"))
      .where(col("cosine") >= minCosine)
  }
}
