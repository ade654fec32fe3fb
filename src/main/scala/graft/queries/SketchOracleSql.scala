package graft.queries

/** DuckDB re-implementations of the engine's sketch math, as generated
  * single-statement SQL — exact oracles for the gate queries whose output
  * depends on splitmix64-seeded sketches (MinHash LSH, SimHash,
  * hyperplane LSH, winnowing, language-ID, KMV).
  *
  * Mechanics: all 64-bit hash state is carried as HUGEINT in [0, 2^64)
  * (DuckDB BIGINT overflow is strict, but uint64×uint64 decomposes into
  * 32-bit halves inside HUGEINT). XOR routes through the signed BIGINT
  * bit pattern. Multi-step scrambles (splitmix64's three rounds) are
  * expressed as a `list_transform` pipeline over a single-element list so
  * each intermediate is named once — the generated SQL stays linear in
  * the number of rounds instead of exponential.
  *
  * Everything here mirrors `graft.functions.Sketches` / `LangId` /
  * `KmvDistinct` bit for bit; specs + the driver gate enforce the match.
  */
object SketchOracleSql {

  // ---- u64 arithmetic on HUGEINT in [0, 2^64) ----
  private val M = "18446744073709551616::HUGEINT" // 2^64
  private val H = "9223372036854775808::HUGEINT" // 2^63

  private def u(l: Long): String = java.lang.Long.toUnsignedString(l) + "::HUGEINT"

  /** u64 → the signed 64-bit value with the same bits. */
  private def sx(e: String) = s"(CASE WHEN ($e) >= $H THEN (($e) - $M)::BIGINT ELSE ($e)::BIGINT END)"

  /** signed BIGINT → u64 with the same bits. */
  private def ux(e: String) = s"(CASE WHEN ($e) < 0 THEN ($e)::HUGEINT + $M ELSE ($e)::HUGEINT END)"

  private def xor64(a: String, b: String) = ux(s"xor(${sx(a)}, ${sx(b)})")

  /** logical right shift on the unsigned representation. */
  private def shr(e: String, n: Int) = s"(($e) // ${(BigInt(1) << n).toString}::HUGEINT)"

  /** (a * b) mod 2^64 via 32-bit halves (stays inside HUGEINT range). */
  private def mulu(a: String, b: String): String = {
    val T = "4294967296::HUGEINT"
    s"(((((($a) // $T) * (($b) % $T) + (($a) % $T) * (($b) // $T)) % $T) * $T" +
      s" + (($a) % $T) * (($b) % $T)) % $M)"
  }

  /** single-element-list pipeline: each stage sees the prior value as `v`. */
  private def pipe(x: String, v: String, stages: String*): String =
    stages.foldLeft(s"[($x)]") { (acc, s) => s"list_transform($acc, $v -> ($s))" } + "[1]"

  /** splitmix64 of a u64 expression (Sketches.splitmix64). */
  private def splitmix(x: String): String = pipe(x, "sv",
    s"((sv + ${u(0x9e3779b97f4a7c15L)}) % $M)",
    mulu(xor64("sv", shr("sv", 30)), u(0xbf58476d1ce4e5b9L)),
    mulu(xor64("sv", shr("sv", 27)), u(0x94d049bb133111ebL)),
    xor64("sv", shr("sv", 31)))

  /** UTF-8 bytes of a string expression, as an INT list (via hex). */
  private def bytesOf(s: String): String = pipe(s"lower(hex(encode($s)))", "hx",
    "list_transform(range(length(hx) // 2), bi -> " +
      "(strpos('0123456789abcdef', substr(hx, (2*bi + 1)::INT, 1)) - 1) * 16" +
      " + (strpos('0123456789abcdef', substr(hx, (2*bi + 2)::INT, 1)) - 1))")

  /** Sketches.hashBytes over a byte-list expression; returns u64. */
  private def hashBytesU(bytesExpr: String, seed: Long): String = {
    val h0 = splitmix(xor64(u(seed), "len(bl)::HUGEINT"))
    val blocks = "list_transform(range(len(bl) // 8), bj -> " +
      "list_reduce(list_transform(range(8), bq -> bl[(8*bj + bq + 1)::INT]::HUGEINT), " +
      "(ba, bb) -> ba * 256::HUGEINT + bb))"
    val tail = "(CASE WHEN len(bl) % 8 = 0 THEN 0::HUGEINT ELSE " +
      "list_reduce(list_transform(range(len(bl) % 8), bq -> " +
      "bl[((len(bl) // 8) * 8 + bq + 1)::INT]::HUGEINT), (ba, bb) -> ba * 256::HUGEINT + bb) END)"
    pipe(bytesExpr, "bl",
      s"{'h': list_reduce(list_concat([$h0], $blocks), (ra, rb) -> ${splitmix(xor64("ra", "rb"))}), 't': $tail}",
      splitmix(xor64("bl.h", "bl.t")))
  }

  /** Sketches.hashString (u64). */
  private def hashStrU(sExpr: String, seed: Long): String = hashBytesU(bytesOf(sExpr), seed)

  /** [2^0 .. 2^63] literal (HUGEINT). */
  private val pows: String =
    "[" + (0 until 64).map(i => (BigInt(1) << i).toString + "::HUGEINT").mkString(",") + "]"

  /** Vectorized splitmix64 of column expression `x` over the rows of
    * `inner` (a SELECT): four chained subqueries each adding one scramble
    * round as a plain column — no lambdas in the hot path, so DuckDB
    * executes it vectorized. The result column is named `out`; `pfx`
    * de-collides intermediates when chained more than once.
    */
  private def smCols(inner: String, x: String, out: String, pfx: String): String = {
    // every composite lands in its own column: a column reference is a
    // vector reference, so nothing in the scramble is evaluated twice
    // (naive nesting re-evaluates the xor tree inside each of mulu's six
    // operand occurrences — measured 20× slower)
    def w(acc: String, col: String, expr: String) = s"SELECT *, $expr AS $col FROM ($acc)"
    def round(acc: String, in: String, k: Int, n: Int, konst: Long): String = {
      val a = w(acc, s"${pfx}x$k", s"xor(${sx(in)}, ${sx(shr(in, n))})")
      val b = w(a, s"${pfx}u$k", ux(s"${pfx}x$k"))
      w(b, s"${pfx}c$k", mulu(s"${pfx}u$k", u(konst)))
    }
    var acc = w(inner, s"${pfx}c0", s"(($x) + ${u(0x9e3779b97f4a7c15L)}) % $M")
    acc = round(acc, s"${pfx}c0", 1, 30, 0xbf58476d1ce4e5b9L)
    acc = round(acc, s"${pfx}c1", 2, 27, 0x94d049bb133111ebL)
    val f = w(acc, s"${pfx}x3", s"xor(${sx(s"${pfx}c2")}, ${sx(shr(s"${pfx}c2", 31))})")
    w(f, out, ux(s"${pfx}x3"))
  }

  /** whitespace tokens of trim(e), empties dropped (Sketches tokenization). */
  private def toks(e: String): String =
    s"list_filter(string_split_regex(trim($e), '\\s+'), tw -> tw <> '')"

  /** Vectorized Sketches.hashString over the rows of `inner`: the
    * variable-length block fold is unrolled to `maxB` 8-byte levels (a
    * level beyond the string's block count passes the state through), so
    * the whole hash is plain columns — no per-row lambda interpretation.
    * Emits NULL (fail-loud in the gate compare) if a string exceeds
    * maxB*8 bytes. Result column `out` (u64); `keep` columns are
    * projected alongside it.
    */
  private def hashStrCols(inner: String, strExpr: String, seed: Long, maxB: Int,
      out: String, pfx: String, keep: Seq[String]): String = {
    val hexd = "'0123456789abcdef'"
    def byteAt(j: String) =
      s"(greatest(strpos($hexd, substr(${pfx}hx, (2*($j) + 1)::INT, 1)) - 1, 0)::HUGEINT * 16" +
        s" + greatest(strpos($hexd, substr(${pfx}hx, (2*($j) + 2)::INT, 1)) - 1, 0)::HUGEINT)"
    val base =
      s"SELECT *, lower(hex(encode($strExpr))) AS ${pfx}hx, " +
        s"octet_length(encode($strExpr))::HUGEINT AS ${pfx}n FROM ($inner)"
    val init = smCols(base, xor64(u(seed), s"${pfx}n"), s"${pfx}h0", s"${pfx}i")
    val afterBlocks = (0 until maxB).foldLeft(init) { (acc, k) =>
      val block = (0 until 8).map { q =>
        s"${byteAt((8 * k + q).toString)} * ${(BigInt(256).pow(7 - q)).toString}::HUGEINT"
      }.mkString("(", " + ", ")")
      val withBlock = s"SELECT *, $block AS ${pfx}b$k FROM ($acc)"
      val scrambled = smCols(withBlock, xor64(s"${pfx}h$k", s"${pfx}b$k"), s"${pfx}t$k", s"${pfx}s$k")
      s"SELECT *, CASE WHEN $k < ${pfx}n // 8 THEN ${pfx}t$k ELSE ${pfx}h$k END AS ${pfx}h${k + 1} FROM ($scrambled)"
    }
    val tailTerms = (0 until 7).map { q =>
      s"(CASE WHEN $q < ${pfx}n % 8 THEN ${byteAt(s"(${pfx}n // 8) * 8 + $q")}" +
        s" * power(256.0, (${pfx}n % 8 - 1 - $q)::INT)::HUGEINT ELSE 0::HUGEINT END)"
    }.mkString("(", " + ", ")")
    val withTail = s"SELECT *, $tailTerms AS ${pfx}tl FROM ($afterBlocks)"
    val fin = smCols(withTail, xor64(s"${pfx}h$maxB", s"${pfx}tl"), s"${pfx}f", s"${pfx}z")
    val keepCols = if (keep.isEmpty) "" else keep.mkString(", ") + ", "
    s"SELECT $keepCols" +
      s"CASE WHEN ${pfx}n > ${maxB * 8} THEN NULL ELSE ${pfx}f END AS $out FROM ($fin)"
  }

  /** DuckDB 1.x parallelizes by source morsels, so a pipeline rooted at a
    * 500-row scan runs single-threaded no matter how wide the unnest
    * blows it up (MATERIALIZED CTE hints don't re-chunk either — measured
    * 13×). Sharding the per-row chain into a UNION ALL over `n` disjoint
    * id slices lets the union children execute in parallel — same rows,
    * one statement.
    */
  private def shardUnion(n: Int, branch: String => String): String =
    (0 until n).map(k => branch(s"% $n = $k")).mkString("(", " UNION ALL ", ")")

  private val Shards = 8

  /** Nested (CTE-free) pipeline: simhash per doc for one shard of
    * documents → (doc_id, sim u64). Docs with no tokens are absent.
    */
  private def simhashShard(pred: String): String = {
    val tokRows = s"SELECT doc_id, unnest(${toks("text")}) AS tok FROM documents WHERE doc_id $pred"
    val hashed = hashStrCols(tokRows, "tok", 0x5bd1e995L, 4, "h", "sth", Seq("doc_id"))
    s"""SELECT doc_id, sum(CASE WHEN c > 0 THEN power(2.0, b)::HUGEINT ELSE 0::HUGEINT END) AS sim
       |FROM (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h // power(2.0, b)::HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS c
       |  FROM (SELECT doc_id, h, unnest(range(64)) AS b FROM ($hashed))
       |  GROUP BY doc_id, b
       |) GROUP BY doc_id""".stripMargin
  }

  /** CTE ending in `simhash_res(doc_id, sim)` — SimHash64 of every row. */
  private def simhashCtes: String =
    s"""simhash_res AS MATERIALIZED (
       |  SELECT d.doc_id, coalesce(s.sim, 0::HUGEINT) AS sim
       |  FROM documents d LEFT JOIN ${shardUnion(Shards, simhashShard)} s
       |    ON d.doc_id = s.doc_id
       |)""".stripMargin

  /** Nested pipeline: MinHash signature (64 lanes, 3-word shingles) for
    * one shard → (id, sig BIGINT[64]). Docs with no shingles absent.
    */
  private def minhashShard(pred: String): String = {
    val shingles = pipe(toks("text"), "ws",
      "CASE WHEN len(ws) = 0 THEN []::VARCHAR[] " +
        "WHEN len(ws) <= 3 THEN [array_to_string(ws, ' ')] " +
        "ELSE list_transform(range(len(ws) - 2), si -> " +
        "concat_ws(' ', ws[(si+1)::INT], ws[(si+2)::INT], ws[(si+3)::INT])) END")
    // lane constants i * 0xc2b2ae3d27d4eb4f mod 2^64, precomputed here —
    // no per-row 64-bit multiply in the (shingle × lane) hot loop
    val laneConsts = (0 until 64)
      .map(i => java.lang.Long.toUnsignedString(i * 0xc2b2ae3d27d4eb4fL) + "::HUGEINT")
      .mkString("[", ",", "]")
    val shingleRows = s"SELECT doc_id AS id, unnest($shingles) AS s FROM documents WHERE doc_id $pred"
    val based = hashStrCols(shingleRows, "s", 0L, 6, "base", "mhb", Seq("id"))
    val laneRows = s"SELECT id, li, ${ux(s"xor(${sx("base")}, ${sx("lc")})")} AS lx " +
      s"FROM (SELECT id, base, unnest(range(64)) AS li, unnest($laneConsts) AS lc FROM ($based))"
    val lanes = smCols(laneRows, "lx", "lh", "mhs")
    s"""SELECT id, list(m ORDER BY li) AS sig FROM (
       |  SELECT id, li, min(${sx("lh")}) AS m FROM ($lanes) GROUP BY id, li
       |) GROUP BY id""".stripMargin
  }

  /** CTE ending in `mh_sigs(id, sig)` for every documents row. */
  private def minhashCtes: String = {
    val maxSig = "[" + Seq.fill(64)("9223372036854775807").mkString(",") + "]"
    s"""mh_sigs AS MATERIALIZED (
       |  SELECT d.doc_id AS id, coalesce(s.sig, $maxSig) AS sig
       |  FROM documents d LEFT JOIN ${shardUnion(Shards, minhashShard)} s
       |    ON d.doc_id = s.id
       |)""".stripMargin
  }

  /** Nested pipeline: hyperplane sketch (64 planes, seed 42) + norm for
    * one shard of embeddings → (id, e, nrm, sku). The per-plane dot is an
    * ordered left fold (bit-equal with the Scala ascending-dim loop).
    */
  private def hyperplaneShard(pred: String): String =
    hyperplaneShardImpl(pred, withMargins = false)

  /** The same sketch derivation, also emitting the per-plane
    * integer-micro margins `mgs` (floor(|dot|·10⁶ + 0.5), plane order)
    * — `Sketches.hyperplaneMargins`' multi-probe flip priorities.
    */
  private def hyperplaneMarginShard(pred: String): String =
    hyperplaneShardImpl(pred, withMargins = true)

  private def hyperplaneShardImpl(pred: String, withMargins: Boolean): String = {
    // plane-seed constants 42 ^ (p << 32), precomputed per plane
    val planeConsts = (0 until 64)
      .map(p => (42L ^ (p.toLong << 32)).toString + "::BIGINT")
      .mkString("[", ",", "]")
    val prep = s"SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id $pred"
    val pdi = s"SELECT id, p, pk, unnest(range(len(e))) AS i, unnest(e) AS ev " +
      s"FROM (SELECT id, e, unnest(range(64)) AS p, unnest($planeConsts) AS pk FROM ($prep))"
    // i < 2^31 so the signed image of i::HUGEINT is i itself: the sign key
    // (42 ^ (p<<32) ^ i) is one native BIGINT xor per row
    val sgn = smCols(s"SELECT id, p, i, ev, ${ux("xor(pk, i)")} AS kx FROM ($pdi)", "kx", "sh", "hps")
    val mgsSel = if (withMargins)
      ", list(CAST(floor(abs(dot) * 1000000.0 + 0.5) AS BIGINT) ORDER BY p) AS mgs"
    else ""
    val mgsOut = if (withMargins) ", s.mgs" else ""
    s"""SELECT p2.id, p2.e, sqrt(list_sum(list_transform(p2.e, x -> x * x))) AS nrm, s.sku$mgsOut
       |FROM ($prep) p2 JOIN (
       |  SELECT id, sum(CASE WHEN dot > 0 THEN power(2.0, p)::HUGEINT ELSE 0::HUGEINT END) AS sku$mgsSel
       |  FROM (
       |    SELECT id, p, list_sum(list(term ORDER BY i)) AS dot FROM (
       |      SELECT id, p, i, ev * (CASE WHEN sh % 2 = 1 THEN 1.0 ELSE -1.0 END) AS term
       |      FROM ($sgn)
       |    ) GROUP BY id, p
       |  ) GROUP BY id
       |) s ON p2.id = s.id""".stripMargin
  }

  /** CTE ending in `hp_sk(id, e, nrm, sku)` for every embeddings row. */
  private def hyperplaneCtes: String =
    s"""hp_sk AS MATERIALIZED (
       |  SELECT id, e, nrm, sku FROM ${shardUnion(Shards, hyperplaneShard)}
       |)""".stripMargin

  // -------------------------------------------------------------------
  // Oracles
  // -------------------------------------------------------------------

  /** q_doc_winnow: (doc_id, n_fingerprints, simhash). */
  def winnowOracle: String = {
    def gramShard(pred: String): String = {
      val gramRows =
        "SELECT doc_id, gi, substr(nt, (gi + 1)::INT, 8) AS gram FROM (" +
          "SELECT doc_id, nt, unnest(range(greatest(length(nt) - 7, 0))) AS gi FROM (" +
          s"SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS nt " +
          s"FROM documents WHERE doc_id $pred))"
      val hashed = hashStrCols(gramRows, "gram", 0x27d4eb2fL, 4, "hu", "wng", Seq("doc_id", "gi"))
      s"SELECT doc_id, list(${sx("hu")} ORDER BY gi) AS grams FROM ($hashed) GROUP BY doc_id"
    }
    s"""WITH wn_ga AS MATERIALIZED (
       |  SELECT doc_id, grams FROM ${shardUnion(Shards, gramShard)}
       |), $simhashCtes
       |SELECT d.doc_id,
       |  CAST(CASE WHEN g.grams IS NULL THEN 0 ELSE
       |    len(list_distinct(list_transform(range(greatest(len(g.grams) - 4, 0) + 1), w ->
       |      list_min(g.grams[(w + 1)::INT : (least(w + 4, len(g.grams)))::INT])))) END AS INT)
       |    AS n_fingerprints,
       |  ${sx("s.sim")} AS simhash
       |FROM documents d
       |LEFT JOIN wn_ga g ON d.doc_id = g.doc_id
       |JOIN simhash_res s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Per-document LangId.detect replay: a SELECT producing
    * (doc_id, detected_lang) over `src` — shared by the langid gate's
    * histogram and the fineweb pipeline's language stage.
    */
  def langidDetectSql(src: String): String = {
    val profiles = Seq(
      "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "as", "his", "on", "be"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von", "sich", "auf", "für"),
      "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "un", "des", "du", "que", "qui", "dans", "pour", "avec"),
      "es" -> Seq("el", "la", "los", "las", "es", "y", "no", "una", "del", "que", "por", "con", "para", "su", "como"),
      "it" -> Seq("il", "la", "che", "di", "e", "un", "una", "per", "non", "sono", "con", "del", "della", "questo"),
      "pt" -> Seq("o", "a", "os", "as", "que", "não", "um", "uma", "do", "da", "em", "para", "com", "por", "mais"),
      "nl" -> Seq("de", "het", "een", "van", "en", "is", "dat", "niet", "op", "te", "zijn", "met", "voor", "aan"))
    val scoreStructs = profiles.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"{'h': len(list_filter(words, pw -> pw IN ($set))), 'l': '$lang'}"
    }.mkString(", ")
    val wordScore = pipe(s"list_sort([$scoreStructs], 'DESC')", "sl",
      "CASE WHEN sl[1].h = 0 THEN 'und' ELSE sl[1].l END")
    s"""SELECT doc_id, CASE
       |    WHEN t = '' THEN 'und'
       |    WHEN bsc > 0 AND 2 * bsc >= lat THEN bs
       |    WHEN cjk > 0 AND 2 * cjk >= lat THEN 'zh'
       |    WHEN lat = 0 THEN 'und'
       |    WHEN len(words) = 0 THEN 'und'
       |    ELSE $wordScore
       |  END AS detected_lang
       |FROM (
       |  SELECT doc_id, t, cjk, lat,
       |    greatest(hkat, hang, cyr, arb, dev) AS bsc,
       |    CASE WHEN hkat = greatest(hkat, hang, cyr, arb, dev) THEN 'ja'
       |         WHEN hang = greatest(hkat, hang, cyr, arb, dev) THEN 'ko'
       |         WHEN cyr = greatest(hkat, hang, cyr, arb, dev) THEN 'ru'
       |         WHEN arb = greatest(hkat, hang, cyr, arb, dev) THEN 'ar'
       |         ELSE 'hi' END AS bs,
       |    list_filter(string_split_regex(lower(t), '[^\\p{L}]+'), fw -> fw <> '') AS words
       |  FROM (
       |    SELECT doc_id, t,
       |      len(regexp_extract_all(t, '\\p{Han}')) AS cjk,
       |      len(regexp_extract_all(t, '[\\p{Hiragana}\\p{Katakana}]')) AS hkat,
       |      len(regexp_extract_all(t, '\\p{Hangul}')) AS hang,
       |      len(regexp_extract_all(t, '\\p{Cyrillic}')) AS cyr,
       |      len(regexp_extract_all(t, '\\p{Arabic}')) AS arb,
       |      len(regexp_extract_all(t, '\\p{Devanagari}')) AS dev,
       |      len(regexp_extract_all(t, '\\p{Latin}')) AS lat
       |    FROM (SELECT doc_id, coalesce(trim(text), '') AS t FROM $src)
       |  )
       |)""".stripMargin
  }

  /** q_doc_langid: (detected_lang, n_docs) — LangId.detect in SQL. */
  def langidOracle: String =
    s"""WITH det AS (
       |${langidDetectSql("documents")}
       |)
       |SELECT detected_lang, count(*) AS n_docs
       |FROM det GROUP BY detected_lang ORDER BY detected_lang""".stripMargin

  /** q_dedup_simhash: (id_a, id_b, hamming ≤ 3) — replays the adaptive
    * banding at maxHamming = 3: 4 chunks × 16 bits (simhashChunks with
    * nChunks = 4; 64 divides evenly so all widths are 16).
    */
  def simhashDedupOracle: String =
    s"""WITH $simhashCtes, sims AS (
       |  SELECT doc_id AS id, sim FROM simhash_res
       |), chunked AS (
       |  SELECT id, sim, ci, (sim // power(2.0, 16 * ci)::HUGEINT) % 65536::HUGEINT AS key
       |  FROM sims CROSS JOIN (SELECT unnest(range(4)) AS ci) u
       |), pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
       |    CAST(bit_count(xor(${sx("a.sim")}, ${sx("b2.sim")})) AS INT) AS hamming
       |  FROM chunked a JOIN chunked b2
       |    ON a.ci = b2.ci AND a.key = b2.key AND a.id < b2.id
       |)
       |SELECT id_a, id_b, hamming FROM pairs
       |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  /** q_dedup_minhash_lsh: (id_a, id_b, est_jaccard ≥ 0.2); 16 bands × 4 rows. */
  def minhashLshOracle: String =
    s"""WITH $minhashCtes, sigs AS (
       |  SELECT id, sig FROM mh_sigs
       |), banded AS (
       |  SELECT id, sig, b, sig[(4 * b + 1)::INT : (4 * b + 4)::INT] AS key
       |  FROM sigs CROSS JOIN (SELECT unnest(range(16)) AS b) u
       |), pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b, a.sig AS sa, b2.sig AS sb
       |  FROM banded a JOIN banded b2
       |    ON a.b = b2.b AND a.key = b2.key AND a.id < b2.id
       |), est AS (
       |  SELECT id_a, id_b,
       |    floor((len(list_filter(range(64), i -> sa[(i + 1)::INT] = sb[(i + 1)::INT]))::DOUBLE
       |      / 64.0) * 10000 + 0.5) / 10000 AS est_jaccard
       |  FROM pairs
       |)
       |SELECT id_a, id_b, est_jaccard FROM est
       |WHERE est_jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin

  /** q_dedup_near_ingest: even docs surviving a batch-vs-index MinHash
    * screen against the odd docs' persisted signatures (64 lanes,
    * 16 bands × 4, est ≥ 0.2 — the incremental near-dup ingest gate).
    */
  def nearIngestOracle: String = {
    def banded(parity: Int, nm: String) =
      s"""$nm AS (
         |  SELECT id, sig, b, sig[(4 * b + 1)::INT : (4 * b + 4)::INT] AS key
         |  FROM mh_sigs CROSS JOIN (SELECT unnest(range(16)) AS b) u
         |  WHERE id % 2 = $parity
         |)""".stripMargin
    s"""WITH $minhashCtes, ${banded(1, "sb")}, ${banded(0, "bb")}, cand AS (
       |  SELECT DISTINCT bb.id AS bid, sb.id AS sid, bb.sig AS sa, sb.sig AS sb2
       |  FROM bb JOIN sb ON bb.b = sb.b AND bb.key = sb.key
       |), dropped AS (
       |  SELECT DISTINCT bid FROM cand
       |  WHERE (len(list_filter(range(64),
       |      i -> sa[(i + 1)::INT] = sb2[(i + 1)::INT]))::DOUBLE / 64.0) >= 0.2
       |)
       |SELECT id AS doc_id FROM mh_sigs
       |WHERE id % 2 = 0 AND id NOT IN (SELECT bid FROM dropped)
       |ORDER BY doc_id""".stripMargin
  }

  /** q_dedup_groups: (id, component) — connected components of the
    * MinHash-LSH pair graph (same parameters as q_dedup_minhash_lsh).
    * The operator's iterative min-label propagation is replayed as a
    * recursive transitive closure: component = min reachable id. Two
    * entirely different algorithms (pointer-jumping rounds vs recursive
    * closure) must land on the identical fixpoint.
    */
  private def componentsCtes: String =
    s"""$minhashCtes, sigs AS (
       |  SELECT id, sig FROM mh_sigs
       |), banded AS (
       |  SELECT id, sig, b, sig[(4 * b + 1)::INT : (4 * b + 4)::INT] AS key
       |  FROM sigs CROSS JOIN (SELECT unnest(range(16)) AS b) u
       |), cpairs AS (
       |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b, a.sig AS sa, b2.sig AS sb
       |  FROM banded a JOIN banded b2
       |    ON a.b = b2.b AND a.key = b2.key AND a.id < b2.id
       |), lsh AS (
       |  SELECT id_a, id_b FROM cpairs
       |  WHERE floor((len(list_filter(range(64), i -> sa[(i + 1)::INT] = sb[(i + 1)::INT]))::DOUBLE
       |    / 64.0) * 10000 + 0.5) / 10000 >= 0.2
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM lsh
       |  UNION SELECT id_b, id_a FROM lsh
       |), reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
       |)""".stripMargin

  def componentsOracle: String =
    s"""WITH RECURSIVE $componentsCtes
       |SELECT id, min(r) AS component FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_dedup_cluster_sizes: the duplicate-cluster size histogram over
    * the same recursive closure — (cluster_size, n_clusters).
    */
  def clusterSizesOracle: String =
    s"""SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters FROM (
       |  SELECT component, count(*)::BIGINT AS sz FROM (
       |    $componentsOracle
       |  ) g GROUP BY 1
       |) GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_dedup_drop_best: doc_ids surviving best-keeper near-dup drop —
    * per component keep the max-n_chars member (ties → min id); docs in
    * no pair pass through. Same pair graph as q_dedup_groups.
    */
  def dropBestOracle: String =
    s"""WITH RECURSIVE $componentsCtes, comps AS (
       |  SELECT id, min(r) AS component FROM reach GROUP BY 1
       |), scored AS (
       |  SELECT c.id, c.component, d.n_chars
       |  FROM comps c JOIN documents d ON d.doc_id = c.id
       |), best AS (
       |  SELECT component, max(n_chars) AS b FROM scored GROUP BY 1
       |), keepers AS (
       |  SELECT s.component, min(s.id) AS kid
       |  FROM scored s JOIN best ON s.component = best.component
       |  WHERE s.n_chars = best.b GROUP BY 1
       |), losers AS (
       |  SELECT id FROM scored
       |  WHERE id NOT IN (SELECT kid FROM keepers)
       |)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM losers)
       |ORDER BY doc_id""".stripMargin

  /** q_dedup_embedding: (id_a, id_b, cosine ≥ 0.25); 8 bands × 8 bits. */
  def embeddingDedupOracle: String =
    s"""WITH $hyperplaneCtes, banded AS (
       |  SELECT id, e, nrm, bi, (sku // power(2.0, 8 * bi)::HUGEINT) % 256::HUGEINT AS key
       |  FROM hp_sk CROSS JOIN (SELECT unnest(range(8)) AS bi) u
       |), pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b, a.e AS ea, b2.e AS eb,
       |    a.nrm AS na, b2.nrm AS nb
       |  FROM banded a JOIN banded b2
       |    ON a.bi = b2.bi AND a.key = b2.key AND a.id < b2.id
       |), scored AS (
       |  SELECT id_a, id_b,
       |    round(list_sum(list_transform(generate_series(1, len(ea)), i -> ea[i] * eb[i]))
       |      / (na * nb), 6) AS cosine
       |  FROM pairs
       |)
       |SELECT id_a, id_b, cosine FROM scored
       |WHERE cosine >= 0.25 ORDER BY id_a, id_b""".stripMargin

  /** q_ann_lsh: (qid, nid, sim, rnk) — 16 bands × 4 bits, exact rescore, top-3. */
  def annLshOracle: String =
    s"""WITH $hyperplaneCtes, banded AS (
       |  SELECT id, e, nrm, bi, (sku // power(2.0, 4 * bi)::HUGEINT) % 16::HUGEINT AS key
       |  FROM hp_sk CROSS JOIN (SELECT unnest(range(16)) AS bi) u
       |), cands AS (
       |  SELECT DISTINCT q.id AS qid, c.id AS nid, q.e AS qe, c.e AS ce,
       |    q.nrm AS qn, c.nrm AS cn
       |  FROM banded q JOIN banded c
       |    ON q.bi = c.bi AND q.key = c.key AND q.id < 5 AND q.id <> c.id
       |), scored AS (
       |  SELECT qid, nid,
       |    list_sum(list_transform(generate_series(1, len(qe)), i -> qe[i] * ce[i]))
       |      / (qn * cn) AS sim
       |  FROM cands
       |), ranked AS (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM scored
       |)
       |SELECT qid, nid, round(sim, 6) AS sim, rnk
       |FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** Multi-probe LSH replay (q_ann_lsh_multiprobe): 8 bands × 8 bits,
    * per query each band probes its own key plus the keys with the
    * 1st..5th lowest-margin bit flipped (margin asc, plane asc — the
    * integer micro-unit priorities of `Sketches.hyperplaneMargins`),
    * exact rescore, top-3.
    */
  private def lshMultiProbeCtes(bands: Int, probes: Int, qMax: Int): String = {
    val w = 64 / bands
    s"""mp_sk AS MATERIALIZED (
       |  SELECT id, e, nrm, sku, mgs FROM ${shardUnion(Shards, hyperplaneMarginShard)}
       |), mp_banded AS MATERIALIZED (
       |  SELECT id, e, nrm, bi,
       |    CAST((sku // power(2.0, $w * bi)::HUGEINT) % ${1L << w}::HUGEINT AS BIGINT) AS key
       |  FROM mp_sk CROSS JOIN (SELECT unnest(range($bands)) AS bi) u
       |), mp_flip AS (
       |  SELECT id, bi, j, rnk FROM (
       |    SELECT id, p // $w AS bi, p % $w AS j,
       |      row_number() OVER (PARTITION BY id, p // $w ORDER BY mg, p) AS rnk
       |    FROM (SELECT id, unnest(range(64)) AS p, unnest(mgs) AS mg
       |          FROM mp_sk WHERE id < $qMax)
       |  ) WHERE rnk <= ${probes - 1}
       |), mp_qkeys AS (
       |  SELECT id, bi, key FROM mp_banded WHERE id < $qMax
       |  UNION ALL
       |  SELECT f.id, f.bi, xor(b.key, CAST(power(2.0, f.j) AS BIGINT)) AS key
       |  FROM mp_flip f JOIN mp_banded b ON b.id = f.id AND b.bi = f.bi
       |), mp_cands AS (
       |  SELECT DISTINCT q.id AS qid, c.id AS nid
       |  FROM mp_qkeys q JOIN mp_banded c
       |    ON q.bi = c.bi AND q.key = c.key AND q.id <> c.id
       |), mp_scored AS (
       |  SELECT cd.qid, cd.nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * c.e[i]))
       |      / (q.nrm * c.nrm) AS sim
       |  FROM mp_cands cd JOIN mp_sk q ON q.id = cd.qid
       |  JOIN mp_sk c ON c.id = cd.nid
       |)""".stripMargin
  }

  def annLshMultiProbeOracle: String =
    s"""WITH ${lshMultiProbeCtes(8, 6, 5)}
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM mp_scored
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_lsh_multiprobe_audit: single-probe vs multi-probe recall at
    * EQUAL band budget (8 bands × 8 bits — deliberately collision-poor,
    * so the flipped probes have something to buy), both vs brute force.
    */
  def annLshMultiProbeAuditOracle: String =
    s"""WITH ${lshMultiProbeCtes(8, 6, 5)}, ms_cands AS (
       |  SELECT DISTINCT q.id AS qid, c.id AS nid
       |  FROM (SELECT id, bi, key FROM mp_banded WHERE id < 5) q
       |  JOIN mp_banded c ON q.bi = c.bi AND q.key = c.key AND q.id <> c.id
       |), ms_top AS (
       |  SELECT qid, nid FROM (
       |    SELECT cd.qid, cd.nid, row_number() OVER (PARTITION BY cd.qid ORDER BY
       |      list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * c.e[i]))
       |        / (q.nrm * c.nrm) DESC, cd.nid) AS rn
       |    FROM ms_cands cd JOIN mp_sk q ON q.id = cd.qid
       |    JOIN mp_sk c ON c.id = cd.nid
       |  ) WHERE rn <= 3
       |), mm_top AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |    FROM mp_scored
       |  ) WHERE rn <= 3
       |), mx_br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM mp_sk WHERE id < 5) q
       |    JOIN mp_sk a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), hs AS (SELECT count(*)::BIGINT AS h FROM ms_top JOIN mx_br USING (qid, nid)),
       |hm AS (SELECT count(*)::BIGINT AS h FROM mm_top JOIN mx_br USING (qid, nid)),
       |nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM mx_br)
       |SELECT nq.n AS n_queries, CAST(3 AS INT) AS k,
       |  hs.h AS hits_single,
       |  CAST(hs.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_single_milli,
       |  hm.h AS hits_multi,
       |  CAST(hm.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_multi_milli
       |FROM hs, hm, nq""".stripMargin

  /** The PAIR probe-set sequence (q_ann_lsh_multiprobe2): perturbations
    * are single bits ∪ bit pairs, ranked per (query, band) by (summed
    * micro-unit margin asc, XOR mask asc) — the engine's array_sort
    * struct order as a row_number. `flips` selects the first
    * probes−1 sets; probe keys are the band key XORed with each mask.
    */
  private def lshMultiProbePairCtes(bands: Int, probes: Int, qMax: Int): String = {
    val w = 64 / bands
    s"""m2_sk AS MATERIALIZED (
       |  SELECT id, e, nrm, sku, mgs FROM ${shardUnion(Shards, hyperplaneMarginShard)}
       |), m2_banded AS MATERIALIZED (
       |  SELECT id, e, nrm, bi,
       |    CAST((sku // power(2.0, $w * bi)::HUGEINT) % ${1L << w}::HUGEINT AS BIGINT) AS key
       |  FROM m2_sk CROSS JOIN (SELECT unnest(range($bands)) AS bi) u
       |), m2_pl AS (
       |  SELECT id, p // $w AS bi, p % $w AS j, mg
       |  FROM (SELECT id, unnest(range(64)) AS p, unnest(mgs) AS mg
       |        FROM m2_sk WHERE id < $qMax)
       |), m2_pert AS (
       |  SELECT id, bi, mg AS ms, CAST(power(2.0, j) AS BIGINT) AS mask FROM m2_pl
       |  UNION ALL
       |  SELECT a.id, a.bi, a.mg + b.mg AS ms,
       |    CAST(power(2.0, a.j) + power(2.0, b.j) AS BIGINT) AS mask
       |  FROM m2_pl a JOIN m2_pl b
       |    ON a.id = b.id AND a.bi = b.bi AND a.j < b.j
       |), m2_flip AS (
       |  SELECT id, bi, mask FROM (
       |    SELECT id, bi, mask,
       |      row_number() OVER (PARTITION BY id, bi ORDER BY ms, mask) AS rnk
       |    FROM m2_pert
       |  ) WHERE rnk <= ${probes - 1}
       |), m2_qkeys AS (
       |  SELECT id, bi, key FROM m2_banded WHERE id < $qMax
       |  UNION ALL
       |  SELECT f.id, f.bi, xor(b.key, f.mask) AS key
       |  FROM m2_flip f JOIN m2_banded b ON b.id = f.id AND b.bi = f.bi
       |), m2_cands AS (
       |  SELECT DISTINCT q.id AS qid, c.id AS nid
       |  FROM m2_qkeys q JOIN m2_banded c
       |    ON q.bi = c.bi AND q.key = c.key AND q.id <> c.id
       |), m2_scored AS (
       |  SELECT cd.qid, cd.nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * c.e[i]))
       |      / (q.nrm * c.nrm) AS sim
       |  FROM m2_cands cd JOIN m2_sk q ON q.id = cd.qid
       |  JOIN m2_sk c ON c.id = cd.nid
       |)""".stripMargin
  }

  /** Joint probe ordering (q_ann_lsh_multiprobe_joint): the SAME pair
    * perturbation sets, ranked GLOBALLY per query — row_number over
    * (ms, band, mask) across all bands — with `bands·(probes−1)` sets
    * taken in total; also materializes the per-band selection (rank
    * within each band ≤ probes−1) so the audit compares both at equal
    * TOTAL budget against brute force.
    */
  private def lshMultiProbeJointCtes(bands: Int, probes: Int, qMax: Int): String = {
    val w = 64 / bands
    val extra = bands * (probes - 1)
    s"""m3_sk AS MATERIALIZED (
       |  SELECT id, e, nrm, sku, mgs FROM ${shardUnion(Shards, hyperplaneMarginShard)}
       |), m3_banded AS MATERIALIZED (
       |  SELECT id, e, nrm, bi,
       |    CAST((sku // power(2.0, $w * bi)::HUGEINT) % ${1L << w}::HUGEINT AS BIGINT) AS key
       |  FROM m3_sk CROSS JOIN (SELECT unnest(range($bands)) AS bi) u
       |), m3_pl AS (
       |  SELECT id, p // $w AS bi, p % $w AS j, mg
       |  FROM (SELECT id, unnest(range(64)) AS p, unnest(mgs) AS mg
       |        FROM m3_sk WHERE id < $qMax)
       |), m3_pert AS MATERIALIZED (
       |  SELECT id, bi, mg AS ms, CAST(power(2.0, j) AS BIGINT) AS mask FROM m3_pl
       |  UNION ALL
       |  SELECT a.id, a.bi, a.mg + b.mg AS ms,
       |    CAST(power(2.0, a.j) + power(2.0, b.j) AS BIGINT) AS mask
       |  FROM m3_pl a JOIN m3_pl b
       |    ON a.id = b.id AND a.bi = b.bi AND a.j < b.j
       |), m3_jflip AS (
       |  SELECT id, bi, mask FROM (
       |    SELECT id, bi, mask,
       |      row_number() OVER (PARTITION BY id ORDER BY ms, bi, mask) AS rnk
       |    FROM m3_pert
       |  ) WHERE rnk <= $extra
       |), m3_bflip AS (
       |  SELECT id, bi, mask FROM (
       |    SELECT id, bi, mask,
       |      row_number() OVER (PARTITION BY id, bi ORDER BY ms, mask) AS rnk
       |    FROM m3_pert
       |  ) WHERE rnk <= ${probes - 1}
       |), m3_jqkeys AS (
       |  SELECT id, bi, key FROM m3_banded WHERE id < $qMax
       |  UNION ALL
       |  SELECT f.id, f.bi, xor(b.key, f.mask) AS key
       |  FROM m3_jflip f JOIN m3_banded b ON b.id = f.id AND b.bi = f.bi
       |), m3_bqkeys AS (
       |  SELECT id, bi, key FROM m3_banded WHERE id < $qMax
       |  UNION ALL
       |  SELECT f.id, f.bi, xor(b.key, f.mask) AS key
       |  FROM m3_bflip f JOIN m3_banded b ON b.id = f.id AND b.bi = f.bi
       |), m3_jscored AS (
       |  SELECT cd.qid, cd.nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * c.e[i]))
       |      / (q.nrm * c.nrm) AS sim
       |  FROM (
       |    SELECT DISTINCT q.id AS qid, c.id AS nid
       |    FROM m3_jqkeys q JOIN m3_banded c
       |      ON q.bi = c.bi AND q.key = c.key AND q.id <> c.id
       |  ) cd JOIN m3_sk q ON q.id = cd.qid
       |  JOIN m3_sk c ON c.id = cd.nid
       |), m3_bscored AS (
       |  SELECT cd.qid, cd.nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * c.e[i]))
       |      / (q.nrm * c.nrm) AS sim
       |  FROM (
       |    SELECT DISTINCT q.id AS qid, c.id AS nid
       |    FROM m3_bqkeys q JOIN m3_banded c
       |      ON q.bi = c.bi AND q.key = c.key AND q.id <> c.id
       |  ) cd JOIN m3_sk q ON q.id = cd.qid
       |  JOIN m3_sk c ON c.id = cd.nid
       |)""".stripMargin
  }

  def annLshMultiProbeJointOracle: String =
    s"""WITH ${lshMultiProbeJointCtes(8, 6, 5)}
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM m3_jscored
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_lsh_multiprobe_joint_audit: per-band vs joint selection at
    * equal TOTAL budget (bands·(probes−1) extra keys), both vs brute
    * force.
    */
  def annLshMultiProbeJointAuditOracle: String =
    s"""WITH ${lshMultiProbeJointCtes(8, 6, 5)},
       |m3b_top AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |    FROM m3_bscored
       |  ) WHERE rn <= 3
       |), m3j_top AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |    FROM m3_jscored
       |  ) WHERE rn <= 3
       |), m3_br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM m3_sk WHERE id < 5) q
       |    JOIN m3_sk a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), h3b AS (SELECT count(*)::BIGINT AS h FROM m3b_top JOIN m3_br USING (qid, nid)),
       |h3j AS (SELECT count(*)::BIGINT AS h FROM m3j_top JOIN m3_br USING (qid, nid)),
       |nq3 AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM m3_br)
       |SELECT nq3.n AS n_queries, CAST(3 AS INT) AS k,
       |  h3b.h AS hits_per_band,
       |  CAST(h3b.h * 1000 // (3 * nq3.n) AS BIGINT) AS recall_per_band_milli,
       |  h3j.h AS hits_joint,
       |  CAST(h3j.h * 1000 // (3 * nq3.n) AS BIGINT) AS recall_joint_milli
       |FROM h3b, h3j, nq3""".stripMargin

  def annLshMultiProbe2Oracle: String =
    s"""WITH ${lshMultiProbePairCtes(8, 12, 5)}
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM m2_scored
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_lsh_multiprobe2_audit: the r12 single-bit sequence (6
    * probes) vs the pair sequence (12 probes) at the SAME corpus-side
    * banded table, both vs brute force.
    */
  def annLshMultiProbe2AuditOracle: String =
    s"""WITH ${lshMultiProbeCtes(8, 6, 5)}, ${lshMultiProbePairCtes(8, 12, 5)},
       |m1_top AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |    FROM mp_scored
       |  ) WHERE rn <= 3
       |), m2_top AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |    FROM m2_scored
       |  ) WHERE rn <= 3
       |), m2_br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM m2_sk WHERE id < 5) q
       |    JOIN m2_sk a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), h1 AS (SELECT count(*)::BIGINT AS h FROM m1_top JOIN m2_br USING (qid, nid)),
       |h2 AS (SELECT count(*)::BIGINT AS h FROM m2_top JOIN m2_br USING (qid, nid)),
       |nq2 AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM m2_br)
       |SELECT nq2.n AS n_queries, CAST(3 AS INT) AS k,
       |  h1.h AS hits_single_bit,
       |  CAST(h1.h * 1000 // (3 * nq2.n) AS BIGINT) AS recall_single_bit_milli,
       |  h2.h AS hits_pair,
       |  CAST(h2.h * 1000 // (3 * nq2.n) AS BIGINT) AS recall_pair_milli
       |FROM h1, h2, nq2""".stripMargin

  /** q_dedup_ngram_lsh: LSH candidates verified by exact shingle-set
    * Jaccard — candidate pairs from the MinHash bands, exact measure from
    * TextFunctions.shingles sets (trim-split windows incl. short tails,
    * distinct).
    */
  def ngramViaLshOracle: String = {
    // TextFunctions.shingles: windows i in 0..max(len-3, 0), each up to 3
    // words joined by ' ', clipped at the end; distinct
    val ss = "list_distinct(list_transform(range(greatest(len(words) - 3, 0) + 1), si -> " +
      "array_to_string(words[(si + 1)::INT : (least(si + 3, len(words)))::INT], ' ')))"
    s"""WITH $minhashCtes, banded AS (
       |  SELECT id, b, sig[(4 * b + 1)::INT : (4 * b + 4)::INT] AS key
       |  FROM mh_sigs CROSS JOIN (SELECT unnest(range(16)) AS b) u
       |), cpairs AS (
       |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
       |  FROM banded a JOIN banded b2
       |    ON a.b = b2.b AND a.key = b2.key AND a.id < b2.id
       |), sets AS MATERIALIZED (
       |  SELECT doc_id, $ss AS ss
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents)
       |), scored AS (
       |  SELECT id_a, id_b,
       |    round(len(list_intersect(sa.ss, sb.ss))::DOUBLE /
       |      (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss))), 4) AS jaccard
       |  FROM cpairs
       |  JOIN sets sa ON id_a = sa.doc_id
       |  JOIN sets sb ON id_b = sb.doc_id
       |)
       |SELECT id_a, id_b, jaccard FROM scored
       |WHERE jaccard >= 0.2 ORDER BY id_a, id_b""".stripMargin
  }

  /** q_ann_ivf: (qid, nid, sim, rnk) — full IVF-Flat replication: init
    * centroids = 8 smallest splitmix64(id), two Lloyd iterations with
    * id-ordered mean folds over a deterministic per-cell training sample
    * (the 32 members with the largest splitmix64(id) cast to double, ties
    * on id asc — replaying SimilaritySearch.trainCentroids'
    * maxTrainPerCell BoundedTopK selection), nearest-cell assignment by
    * (d2, cell), 3 probed cells per query (vec_id < 5), exact cosine
    * top-3. Every double on both sides is an identically-ordered fold, so
    * the whole training loop is bit-reproducible across engines.
    */
  /** Squared L2 distance between two DOUBLE[] exprs (index-ordered fold). */
  private def kmD2(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, len($a)), di -> (($a)[di] - ($b)[di]) * (($a)[di] - ($b)[di])))"
  /** Nearest-cell assignment replay (ties on cell asc, like min(struct)). */
  private def kmAssign(src: String, cent: String) =
    s"""SELECT id, e, cell FROM (
       |  SELECT p.id, p.e, c.cell,
       |    row_number() OVER (PARTITION BY p.id ORDER BY ${kmD2("p.e", "c.ce")}, c.cell) AS rn
       |  FROM $src p CROSS JOIN $cent c
       |) WHERE rn = 1""".stripMargin
  // trainCentroids' per-cell sample: top maxTrainPerCell by
  // CAST(splitmix64(id) AS DOUBLE) desc, id asc (the BoundedTopK order)
  private def kmSample(a: String, cap: Int) =
    s"""SELECT id, e, cell FROM (
       |  SELECT id, e, cell,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY CAST(${sx(splitmix(ux("id")))} AS DOUBLE) DESC, id) AS srn
       |  FROM $a
       |) WHERE srn <= $cap""".stripMargin
  private def kmMeans(a: String) =
    s"""SELECT cell, list(m ORDER BY dim) AS ce FROM (
       |  SELECT cell, dim, list_sum(list(v ORDER BY id)) / count(*) AS m FROM (
       |    SELECT cell, id, unnest(range(1, len(e) + 1)) AS dim, unnest(e) AS v FROM $a
       |  ) GROUP BY cell, dim
       |) GROUP BY cell""".stripMargin

  /** The full SimilaritySearch.trainCentroids replay as a WITH-clause
    * fragment: `<p>prep` must already exist (id, e DOUBLE[]); defines
    * `<p>cent2` (final centroids) and `<p>af` (final assignment). Two
    * Lloyd iterations, `cap`-bounded deterministic per-cell samples.
    */
  private def kmChain(p: String, nCells: Int, cap: Int): String =
    s"""${p}cent0 AS (
       |  SELECT row_number() OVER (ORDER BY hk) - 1 AS cell, e AS ce FROM (
       |    SELECT ${sx(splitmix(ux("id")))} AS hk, e FROM ${p}prep ORDER BY hk LIMIT $nCells)
       |), ${p}a1 AS (${kmAssign(s"${p}prep", s"${p}cent0")}
       |), ${p}s1 AS (${kmSample(s"${p}a1", cap)}
       |), ${p}cent1 AS (${kmMeans(s"${p}s1")}
       |), ${p}a2 AS (${kmAssign(s"${p}prep", s"${p}cent1")}
       |), ${p}s2 AS (${kmSample(s"${p}a2", cap)}
       |), ${p}cent2 AS MATERIALIZED (${kmMeans(s"${p}s2")}
       |), ${p}af AS (${kmAssign(s"${p}prep", s"${p}cent2")}
       |)""".stripMargin

  /** The shared IVF replay CTE chain (prep → trained centroids → probes
    * → scored → ranked), reused by the q_ann_ivf gate oracle and the
    * recall audit.
    */
  private def annIvfCtes: String = {
    def d2(a: String, b: String) = kmD2(a, b)
    s"""iv_prep AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
       |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
       |  FROM embeddings
       |), ${kmChain("iv_", 8, 32)}, iv_probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id ORDER BY ${d2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT id, e FROM iv_prep WHERE id < 5) q CROSS JOIN iv_cent2 c
       |  ) WHERE rn <= 3
       |), iv_scored AS (
       |  SELECT p.qid, a.id AS nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |      / (q.nrm * a.nrm) AS sim
       |  FROM iv_probes p
       |  JOIN (SELECT af.id, af.e, af.cell, pr.nrm FROM iv_af af JOIN iv_prep pr ON af.id = pr.id) a
       |    ON p.cell = a.cell
       |  JOIN iv_prep q ON p.qid = q.id
       |  WHERE p.qid <> a.id
       |), iv_ranked AS (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM iv_scored
       |)""".stripMargin
  }

  def annIvfOracle: String =
    s"""WITH $annIvfCtes
       |SELECT qid, nid, round(sim, 6) AS sim, rnk
       |FROM iv_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** The IVF-Flat chain over an arbitrary (id, e DOUBLE[]) CTE `base` —
    * [[annIvfCtes]] generalized the way [[ivfPqChainOver]] generalizes
    * the PQ chain; defines `<px>prep/<px>cent2/<px>af/<px>ranked`.
    */
  private def annIvfChainOver(px: String, base: String, nCells: Int,
      cap: Int, qMax: Int, nProbe: Int): String =
    s"""${px}prep AS MATERIALIZED (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM $base
       |), ${kmChain(px, nCells, cap)}, ${px}probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT id, e FROM ${px}prep WHERE id < $qMax) q CROSS JOIN ${px}cent2 c
       |  ) WHERE rn <= $nProbe
       |), ${px}scored AS (
       |  SELECT p.qid, a.id AS nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |      / (q.nrm * a.nrm) AS sim
       |  FROM ${px}probes p
       |  JOIN (SELECT af.id, af.e, af.cell, pr.nrm FROM ${px}af af JOIN ${px}prep pr ON af.id = pr.id) a
       |    ON p.cell = a.cell
       |  JOIN ${px}prep q ON p.qid = q.id
       |  WHERE p.qid <> a.id
       |), ${px}ranked AS (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM ${px}scored
       |)""".stripMargin

  /** The 1-bit sign packing over a DOUBLE[] expression: two 32-bit
    * words, distinct powers of two summed (exact integers).
    */
  private def signWordsSql(src: String): String =
    s"""list_transform(range(2), w ->
       |    list_sum(list_transform(range(32), b ->
       |      CASE WHEN ($src)[(w * 32 + b + 1)::INT] > 0.0
       |        THEN (1::BIGINT << b) ELSE 0::BIGINT END)))""".stripMargin

  /** The binary×IVF replay: trained cells, query probes, sign codes
    * within probed cells, Hamming shortlist, exact cosine rescore —
    * ends in `vb_re (qid, nid, sim)`.
    */
  private def binaryIvfCtes(nProbe: Int, refine: Int, qMax: Int): String =
    s"""vb_base AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), vb_prep AS MATERIALIZED (
       |  SELECT id, e FROM vb_base
       |), ${kmChain("vb_", 8, 32)},
       |vb_enc AS (
       |  SELECT id, cell, ${signWordsSql("e")} AS bw FROM vb_af
       |), vb_probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT * FROM vb_prep WHERE id < $qMax) q CROSS JOIN vb_cent2 c
       |  ) WHERE rn <= $nProbe
       |), vb_qenc AS (
       |  SELECT id AS qid, ${signWordsSql("e")} AS bw
       |  FROM vb_prep WHERE id < $qMax
       |), vb_ham AS (
       |  SELECT p.qid, a.id AS nid,
       |    (bit_count(xor(qe.bw[1], a.bw[1]))
       |      + bit_count(xor(qe.bw[2], a.bw[2])))::BIGINT AS ham
       |  FROM vb_probes p
       |  JOIN vb_enc a ON a.cell = p.cell
       |  JOIN vb_qenc qe ON qe.qid = p.qid
       |  WHERE p.qid <> a.id
       |), vb_sl AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
       |    FROM vb_ham
       |  ) WHERE rn <= $refine
       |), vb_n AS (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM vb_base
       |), vb_re AS (
       |  SELECT s.qid, s.nid,
       |    list_sum(list_transform(generate_series(1, 64),
       |      i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) AS sim
       |  FROM vb_sl s JOIN vb_n q ON q.id = s.qid JOIN vb_n a ON a.id = s.nid
       |)""".stripMargin

  /** [[binaryIvfCtes]] with the asymmetric within-cell score: queries
    * take the SQ8 grid (unit norm → ±127 integers), candidates stay
    * packed sign words, `asym = Σ qq_i·(bit_i ? +1 : −1)` exact — ends
    * in `va_re (qid, nid, sim)` plus the symmetric `va_ham` ladder for
    * the audit.
    */
  private def binaryAsymIvfCtes(nProbe: Int, refine: Int, qMax: Int): String =
    s"""va_base AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), va_prep AS MATERIALIZED (
       |  SELECT id, e FROM va_base
       |), ${kmChain("va_", 8, 32)},
       |va_enc AS (
       |  SELECT id, cell, ${signWordsSql("e")} AS bw FROM va_af
       |), va_probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT * FROM va_prep WHERE id < $qMax) q CROSS JOIN va_cent2 c
       |  ) WHERE rn <= $nProbe
       |), va_qq AS (
       |  SELECT id AS qid, list_transform(u, x -> CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT)) AS qq
       |  FROM (
       |    SELECT id, u, list_max(list_transform(u, x -> abs(x))) AS mx
       |    FROM (
       |      SELECT id, list_transform(e, x -> x / nrm) AS u
       |      FROM (SELECT id, e,
       |        sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |        FROM va_prep WHERE id < $qMax)
       |    )
       |  )
       |), va_asc AS (
       |  SELECT p.qid, a.id AS nid,
       |    list_sum(list_transform(generate_series(0, 63),
       |      i -> qe.qq[i + 1] * (CASE WHEN ((a.bw[(i // 32) + 1] >> (i % 32)) & 1) = 1
       |        THEN 1 ELSE -1 END)))::BIGINT AS asym
       |  FROM va_probes p
       |  JOIN va_enc a ON a.cell = p.cell
       |  JOIN va_qq qe ON qe.qid = p.qid
       |  WHERE p.qid <> a.id
       |), va_sl AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY asym DESC, nid) AS rn
       |    FROM va_asc
       |  ) WHERE rn <= $refine
       |), va_n AS (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM va_base
       |), va_re AS (
       |  SELECT s.qid, s.nid,
       |    list_sum(list_transform(generate_series(1, 64),
       |      i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) AS sim
       |  FROM va_sl s JOIN va_n q ON q.id = s.qid JOIN va_n a ON a.id = s.nid
       |)""".stripMargin

  def annBinaryAsymIvfOracle: String =
    s"""WITH ${binaryAsymIvfCtes(nProbe = 2, refine = 10, qMax = 20)}
       |SELECT qid, nid, round(sim, 6) AS sim, CAST(rn AS INT) AS rnk FROM (
       |  SELECT qid, nid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |  FROM va_re
       |) WHERE rn <= 3 ORDER BY qid, rnk""".stripMargin

  def annBinaryAsymIvfAuditOracle: String =
    s"""WITH ${binaryAsymIvfCtes(nProbe = 2, refine = 10, qMax = 20)},
       |vaq_enc AS (
       |  SELECT id AS qid, ${signWordsSql("e")} AS bw
       |  FROM va_prep WHERE id < 20
       |), va_ham AS (
       |  SELECT p.qid, a.id AS nid,
       |    (bit_count(xor(qe.bw[1], a.bw[1]))
       |      + bit_count(xor(qe.bw[2], a.bw[2])))::BIGINT AS ham
       |  FROM va_probes p
       |  JOIN va_enc a ON a.cell = p.cell
       |  JOIN vaq_enc qe ON qe.qid = p.qid
       |  WHERE p.qid <> a.id
       |), va_ssl AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY ham, nid) AS rn
       |    FROM va_ham
       |  ) WHERE rn <= 10
       |), va_sk AS (
       |  SELECT qid, nid FROM (
       |    SELECT s.qid, s.nid,
       |      row_number() OVER (PARTITION BY s.qid ORDER BY
       |        list_sum(list_transform(generate_series(1, 64),
       |          i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) DESC, s.nid) AS rn
       |    FROM va_ssl s JOIN va_n q ON q.id = s.qid JOIN va_n a ON a.id = s.nid
       |  ) WHERE rn <= 3
       |), va_ak AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |    FROM va_re
       |  ) WHERE rn <= 3
       |), va_br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, 64),
       |          i -> q.e[i] * a.e[i])) / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM va_n WHERE id < 20) q
       |    JOIN va_n a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), vhs AS (SELECT count(*)::BIGINT AS h FROM va_sk JOIN va_br USING (qid, nid)),
       |vha AS (SELECT count(*)::BIGINT AS h FROM va_ak JOIN va_br USING (qid, nid)),
       |vnq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM va_br)
       |SELECT vnq.n AS n_queries, CAST(3 AS INT) AS k,
       |  vhs.h AS hits_ivf_sym,
       |  CAST(vhs.h * 1000 // (3 * vnq.n) AS BIGINT) AS recall_ivf_sym_milli,
       |  vha.h AS hits_ivf_asym,
       |  CAST(vha.h * 1000 // (3 * vnq.n) AS BIGINT) AS recall_ivf_asym_milli
       |FROM vhs, vha, vnq""".stripMargin

  def annBinaryIvfOracle: String =
    s"""WITH ${binaryIvfCtes(nProbe = 2, refine = 10, qMax = 20)}
       |SELECT qid, nid, round(sim, 6) AS sim, CAST(rn AS INT) AS rnk FROM (
       |  SELECT qid, nid, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |  FROM vb_re
       |) WHERE rn <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_binary_ivf_audit: exact-within-cell IVF vs binary-within-cell
    * (+rescore) at the same probe budget, both vs exact cosine truth.
    */
  def annBinaryIvfAuditOracle: String =
    s"""WITH ${binaryIvfCtes(nProbe = 2, refine = 10, qMax = 20)},
       |${annIvfChainOver("ve_", "vb_base", nCells = 8, cap = 32,
          qMax = 20, nProbe = 2)},
       |vb_rk AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |    FROM vb_re
       |  ) WHERE rn <= 3
       |),
       |${cosineBruteCte("vb_br", "vb_base", "vbr_")},
       |vhe AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM ve_ranked WHERE rnk <= 3) JOIN vb_br USING (qid, nid)),
       |vhb AS (SELECT count(*)::BIGINT AS h FROM vb_rk JOIN vb_br USING (qid, nid)),
       |vnq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM vb_br)
       |SELECT vnq.n AS n_queries, CAST(3 AS INT) AS k,
       |  vhe.h AS hits_ivf_exact,
       |  CAST(vhe.h * 1000 // (3 * vnq.n) AS BIGINT) AS recall_ivf_exact_milli,
       |  vhb.h AS hits_ivf_binary,
       |  CAST(vhb.h * 1000 // (3 * vnq.n) AS BIGINT) AS recall_ivf_binary_milli
       |FROM vhe, vhb, vnq""".stripMargin

  /** q_tokenizer_unigram: the hard-EM unigram-LM trainer replay —
    * word-type counts (long words chunked), count-weighted substring
    * seed frequencies, Laplace-smoothed micro-nat scores, the Viterbi
    * DP unrolled position by position (per position the best last token
    * minimizes (cost asc, k DESC) — `row_number ORDER BY cost, k DESC`),
    * a recursive backtrack walk collecting the segmentation, token
    * re-counts, char-preserving prune, final scores. Literals must
    * match `TokenizerTraining.trainUnigram`'s gate knobs.
    */
  /** The per-position Viterbi DP unroll + recursive backtrack over a
    * words CTE and a (tok, s) score CTE — shared by the trainer oracle
    * (seed scores) and the encode oracle (final trained scores).
    * Produces `<p>walk (w, toks)`.
    */
  private def ugViterbiCtes(p: String, scoreCte: String,
      maxTok: Int, maxWord: Int): String = {
    val dpStages = (1 to maxWord).map { i =>
      val cands = (1 to maxTok).filter(_ <= i).map { k =>
        s"""SELECT wd.w AS w, $i AS i, $k AS k,
           |          d${i - k}.cost + sc.s AS cost
           |        FROM ug_words wd JOIN ${p}dp${i - k} d${i - k} ON d${i - k}.w = wd.w
           |        JOIN $scoreCte sc ON sc.tok = substr(wd.w, ${i - k + 1}, $k)
           |        WHERE len(wd.w) >= $i""".stripMargin
      }.mkString(" UNION ALL ")
      s"""${p}dp$i AS MATERIALIZED (
         |  SELECT w, i, cost, k FROM (
         |    SELECT w, i, cost, k,
         |      row_number() OVER (PARTITION BY w ORDER BY cost, k DESC) AS rn
         |    FROM ($cands)
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val bkUnion = (1 to maxWord)
      .map(i => s"SELECT w, i, k FROM ${p}dp$i").mkString(" UNION ALL ")
    s"""${p}dp0 AS MATERIALIZED (
       |  SELECT w, 0 AS i, CAST(0 AS BIGINT) AS cost, 0 AS k FROM ug_words
       |),
       |$dpStages,
       |${p}bk AS MATERIALIZED ($bkUnion),
       |${p}walk AS MATERIALIZED (
       |  WITH RECURSIVE r(w, pos, toks) AS (
       |    SELECT w, len(w), CAST([] AS VARCHAR[]) FROM ug_words
       |    UNION ALL
       |    SELECT r.w, r.pos - b.k,
       |      list_prepend(substr(r.w, r.pos - b.k + 1, b.k), r.toks)
       |    FROM r JOIN ${p}bk b ON b.w = r.w AND b.i = r.pos
       |    WHERE r.pos > 0
       |  )
       |  SELECT w, toks FROM r WHERE pos = 0
       |)""".stripMargin
  }

  /** The training chain CTE body (words → seed → per-round: scores →
    * Viterbi → re-count → prune — the final round's vocabulary lands as
    * ug_vocab2 + ug_tot2) — shared by the trainer and encode oracles.
    * Literals must match `trainUnigram`'s gate knobs; the per-round
    * prune budgets embed `TokenizerTraining.unigramBudgets`' integers.
    */
  private def ugTrainCtes(seedMulti: Int, vocabMulti: Int,
      maxTok: Int, maxWord: Int, rounds: Int = 1): String = {
    val budgets = graft.operators.TokenizerTraining
      .unigramBudgets(seedMulti, vocabMulti, rounds)
    val roundCtes = (1 to rounds).map { r =>
      val src = if (r == 1) "ug_seedv"
        else s"SELECT tok, cnt AS freq FROM ug_vocab_${r - 1}"
      val srcRef = if (r == 1) src else s"($src)"
      val vocabName = if (r == rounds) "ug_vocab2" else s"ug_vocab_$r"
      s"""ug_tot_$r AS (
         |  SELECT sum(freq)::BIGINT AS t, count(*)::BIGINT AS v FROM $srcRef
         |), ug_sc_$r AS MATERIALIZED (
         |  SELECT tok, CAST(floor(1000000.0 * ln((t + v) / (freq + 1.0)) + 0.5) AS BIGINT) AS s
         |  FROM $srcRef, ug_tot_$r
         |), ${ugViterbiCtes(s"ug_e${r}_", s"ug_sc_$r", maxTok, maxWord)},
         |ug_newcnt_$r AS MATERIALIZED (
         |  SELECT tok, sum(wd.cnt)::BIGINT AS cnt
         |  FROM ug_e${r}_walk JOIN ug_words wd USING (w),
         |    LATERAL (SELECT unnest(ug_e${r}_walk.toks) AS tok)
         |  GROUP BY tok
         |), $vocabName AS (
         |  SELECT c.tok, coalesce(n.cnt, 0)::BIGINT AS cnt
         |  FROM ug_chars c LEFT JOIN ug_newcnt_$r n ON n.tok = c.tok
         |  UNION ALL
         |  SELECT tok, cnt FROM (
         |    SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn
         |    FROM ug_newcnt_$r WHERE len(tok) > 1
         |  ) WHERE rn <= ${budgets(r - 1)}
         |)""".stripMargin
    }.mkString(",\n")
    s"""${ugSeedCtes(seedMulti, maxTok, maxWord)},
       |$roundCtes, ug_tot2 AS (
       |  SELECT sum(cnt)::BIGINT AS t, count(*)::BIGINT AS v FROM ug_vocab2
       |)""".stripMargin
  }

  /** The shared unigram-trainer seed: chunked word types, substring
    * frequencies, the single-char coverage tier and the top-`seedMulti`
    * multi-char seed vocabulary.
    */
  private def ugSeedCtes(seedMulti: Int, maxTok: Int, maxWord: Int): String =
    s"""ug_wraw AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS w0 FROM documents
       |), ug_words AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT substr(w0, 1 + $maxWord * g, $maxWord) AS w
       |    FROM (SELECT w0, unnest(range(CAST(ceil(len(w0) / $maxWord.0) AS BIGINT))) AS g
       |          FROM ug_wraw WHERE len(w0) > 0)
       |  ) GROUP BY w
       |), ug_subs AS MATERIALIZED (
       |  SELECT substr(w, i + 1, k) AS tok, sum(cnt)::BIGINT AS freq
       |  FROM ug_words,
       |    LATERAL (SELECT unnest(range(len(w))) AS i),
       |    LATERAL (SELECT unnest(range(1, ${maxTok + 1})) AS k)
       |  WHERE i + k <= len(w)
       |  GROUP BY 1
       |), ug_chars AS (
       |  SELECT tok, freq FROM ug_subs WHERE len(tok) = 1
       |), ug_seedv AS (
       |  SELECT tok, freq FROM ug_chars
       |  UNION ALL
       |  SELECT tok, freq FROM (
       |    SELECT tok, freq, row_number() OVER (ORDER BY freq DESC, tok) AS rn
       |    FROM ug_subs WHERE len(tok) > 1
       |  ) WHERE rn <= $seedMulti
       |)""".stripMargin

  private def tokenizerUnigramSql(rounds: Int, seedMulti: Int = 256,
      vocabMulti: Int = 128): String =
    s"""WITH ${ugTrainCtes(seedMulti, vocabMulti, 4, 16, rounds)}
       |SELECT tok, cnt,
       |  CAST(floor(1000000.0 * ln((t + v) / (cnt + 1.0)) + 0.5) AS BIGINT) AS score
       |FROM ug_vocab2, ug_tot2
       |ORDER BY cnt DESC, tok LIMIT 64""".stripMargin

  def tokenizerUnigramOracle: String = tokenizerUnigramSql(1)

  /** q_tokenizer_unigram_loss: loss-delta pruning — the round-1
    * training CTEs (words/seed/scores/Viterbi walk/re-counts) are
    * reused; per (word, multi-char token of its best segmentation) the
    * MASKED DP re-runs the same unrolled stages with `sc.tok <> t`, the
    * delta is Σ cnt·(masked − base) in exact integer micro-nats, and
    * the multi tier keeps the top-`vocabMulti` by (delta desc, tok).
    */
  /** ONE loss-criterion EM round: scores from `src` (tok, freq), a full
    * Viterbi walk + re-count, the masked DP per (word type, multi-char
    * token of its best segmentation) under THIS round's scores, loss
    * deltas, and the chars ∪ top-`budget`-by-delta vocabulary — all
    * CTEs prefixed `ul$r` so rounds chain.
    */
  private def ugLossRound(r: Int, src: String, budget: Int,
      maxTok: Int, maxWord: Int): String = {
    val p = s"ul$r"
    val dpStages = (1 to maxWord).map { i =>
      val cands = (1 to maxTok).filter(_ <= i).map { k =>
        s"""SELECT wt.w AS w, wt.t AS t, $i AS i, $k AS k,
           |          d${i - k}.cost + sc.s AS cost
           |        FROM ${p}_wt wt JOIN ${p}_dp${i - k} d${i - k}
           |          ON d${i - k}.w = wt.w AND d${i - k}.t = wt.t
           |        JOIN ${p}_sc sc
           |          ON sc.tok = substr(wt.w, ${i - k + 1}, $k) AND sc.tok <> wt.t
           |        WHERE len(wt.w) >= $i""".stripMargin
      }.mkString(" UNION ALL ")
      s"""${p}_dp$i AS MATERIALIZED (
         |  SELECT w, t, i, cost, k FROM (
         |    SELECT w, t, i, cost, k,
         |      row_number() OVER (PARTITION BY w, t ORDER BY cost, k DESC) AS rn
         |    FROM ($cands)
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val mUnion = (1 to maxWord)
      .map(i => s"SELECT w, t, cost FROM ${p}_dp$i WHERE len(w) = $i")
      .mkString(" UNION ALL ")
    val bUnion = (1 to maxWord)
      .map(i => s"SELECT w, cost FROM ${p}e_dp$i WHERE len(w) = $i")
      .mkString(" UNION ALL ")
    s"""${p}_tot AS (
       |  SELECT sum(freq)::BIGINT AS t, count(*)::BIGINT AS v FROM ($src)
       |), ${p}_sc AS MATERIALIZED (
       |  SELECT tok, CAST(floor(1000000.0 * ln((t + v) / (freq + 1.0)) + 0.5) AS BIGINT) AS s
       |  FROM ($src), ${p}_tot
       |), ${ugViterbiCtes(s"${p}e_", s"${p}_sc", maxTok, maxWord)},
       |${p}_newcnt AS MATERIALIZED (
       |  SELECT tok, sum(wd.cnt)::BIGINT AS cnt
       |  FROM ${p}e_walk JOIN ug_words wd USING (w),
       |    LATERAL (SELECT unnest(${p}e_walk.toks) AS tok)
       |  GROUP BY tok
       |), ${p}_wt AS MATERIALIZED (
       |  SELECT DISTINCT w, t FROM (
       |    SELECT w, unnest(toks) AS t FROM ${p}e_walk) WHERE len(t) > 1
       |), ${p}_dp0 AS MATERIALIZED (
       |  SELECT w, t, 0 AS i, CAST(0 AS BIGINT) AS cost, 0 AS k FROM ${p}_wt
       |),
       |$dpStages,
       |${p}_mcost AS MATERIALIZED ($mUnion),
       |${p}_bcost AS MATERIALIZED ($bUnion),
       |${p}_delta AS MATERIALIZED (
       |  SELECT m.t AS tok, sum(wd.cnt * (m.cost - b.cost))::BIGINT AS delta
       |  FROM ${p}_mcost m JOIN ${p}_bcost b ON b.w = m.w
       |  JOIN ug_words wd ON wd.w = m.w
       |  GROUP BY m.t
       |), ${p}_vocab AS MATERIALIZED (
       |  SELECT c.tok, coalesce(n.cnt, 0)::BIGINT AS cnt, CAST(0 AS BIGINT) AS delta
       |  FROM ug_chars c LEFT JOIN ${p}_newcnt n ON n.tok = c.tok
       |  UNION ALL
       |  SELECT tok, cnt, delta FROM (
       |    SELECT d.tok, n.cnt, d.delta,
       |      row_number() OVER (ORDER BY d.delta DESC, d.tok) AS rn
       |    FROM ${p}_delta d JOIN ${p}_newcnt n ON n.tok = d.tok
       |  ) WHERE rn <= $budget
       |)""".stripMargin
  }

  /** ONE count-criterion EM round in the `ul$r` chaining convention:
    * scores from `src`, a full Viterbi walk + re-count, and the chars ∪
    * top-`budget`-by-(count desc, tok) vocabulary — no masked DPs, so
    * every kept multi carries delta 0 (exactly
    * `TokenizerTraining.trainUnigramSchedule`'s count branch).
    */
  private def ugCountRound(r: Int, src: String, budget: Int,
      maxTok: Int, maxWord: Int): String = {
    val p = s"ul$r"
    s"""${p}_tot AS (
       |  SELECT sum(freq)::BIGINT AS t, count(*)::BIGINT AS v FROM ($src)
       |), ${p}_sc AS MATERIALIZED (
       |  SELECT tok, CAST(floor(1000000.0 * ln((t + v) / (freq + 1.0)) + 0.5) AS BIGINT) AS s
       |  FROM ($src), ${p}_tot
       |), ${ugViterbiCtes(s"${p}e_", s"${p}_sc", maxTok, maxWord)},
       |${p}_newcnt AS MATERIALIZED (
       |  SELECT tok, sum(wd.cnt)::BIGINT AS cnt
       |  FROM ${p}e_walk JOIN ug_words wd USING (w),
       |    LATERAL (SELECT unnest(${p}e_walk.toks) AS tok)
       |  GROUP BY tok
       |), ${p}_vocab AS MATERIALIZED (
       |  SELECT c.tok, coalesce(n.cnt, 0)::BIGINT AS cnt, CAST(0 AS BIGINT) AS delta
       |  FROM ug_chars c LEFT JOIN ${p}_newcnt n ON n.tok = c.tok
       |  UNION ALL
       |  SELECT tok, cnt, CAST(0 AS BIGINT) AS delta FROM (
       |    SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn
       |    FROM ${p}_newcnt WHERE len(tok) > 1
       |  ) WHERE rn <= $budget
       |)""".stripMargin
  }

  /** The schedule trainer over arbitrary per-round criteria at the
    * shared [[graft.operators.TokenizerTraining.unigramBudgets]]
    * schedule — every round's scores, Viterbi walk, (masked DPs +
    * deltas on loss rounds) and budget replayed; round r's scores come
    * from round r−1's PRUNED vocabulary (its Viterbi re-counts),
    * exactly the Scala loop. An all-"loss" schedule is the
    * loss-criterion trainer.
    */
  private def ugScheduleEmCtes(seedMulti: Int, vocabMulti: Int,
      maxTok: Int, maxWord: Int, criteria: Seq[String]): String = {
    val budgets = graft.operators.TokenizerTraining
      .unigramBudgets(seedMulti, vocabMulti, criteria.size)
    val roundCtes = criteria.zipWithIndex.map { case (crit, idx) =>
      val r = idx + 1
      val src = if (r == 1) "SELECT tok, freq FROM ug_seedv"
        else s"SELECT tok, cnt AS freq FROM ul${r - 1}_vocab"
      if (crit == "count") ugCountRound(r, src, budgets(idx), maxTok, maxWord)
      else ugLossRound(r, src, budgets(idx), maxTok, maxWord)
    }.mkString(",\n")
    s"""${ugSeedCtes(seedMulti, maxTok, maxWord)},
       |$roundCtes, ul_ftot AS (
       |  SELECT sum(cnt)::BIGINT AS t, count(*)::BIGINT AS v
       |  FROM ul${criteria.size}_vocab
       |)""".stripMargin
  }

  private def ugLossEmCtes(seedMulti: Int, vocabMulti: Int,
      maxTok: Int, maxWord: Int, rounds: Int): String =
    ugScheduleEmCtes(seedMulti, vocabMulti, maxTok, maxWord,
      Seq.fill(rounds)("loss"))

  private def tokenizerUnigramLossSql(rounds: Int, seedMulti: Int = 64,
      vocabMulti: Int = 8): String =
    tokenizerUnigramScheduleSql(Seq.fill(rounds)("loss"), seedMulti,
      vocabMulti)

  def tokenizerUnigramScheduleSql(criteria: Seq[String],
      seedMulti: Int = 64, vocabMulti: Int = 8): String =
    s"""WITH ${ugScheduleEmCtes(seedMulti, vocabMulti, 4, 16, criteria)}
       |SELECT tok, cnt, delta,
       |  CAST(floor(1000000.0 * ln((t + v) / (cnt + 1.0)) + 0.5) AS BIGINT) AS score
       |FROM ul${criteria.size}_vocab, ul_ftot
       |ORDER BY cnt DESC, tok LIMIT 64""".stripMargin

  /** q_tokenizer_unigram_mixed: SentencePiece's practical schedule —
    * count criterion round 1 (budget 48, one Viterbi pass), loss
    * criterion round 2 (budget 8, masked DPs under round 1's scores).
    */
  def tokenizerUnigramMixedOracle: String =
    tokenizerUnigramScheduleSql(Seq("count", "loss"), seedMulti = 32)

  def tokenizerUnigramLossOracle: String = tokenizerUnigramLossSql(1)

  /** q_tokenizer_unigram_loss_em2: the loss criterion INSIDE the EM
    * loop — two rounds at budgets 48→8; round 2's masked DPs run under
    * the scores of round 1's PRUNED vocabulary.
    */
  def tokenizerUnigramLossEm2Oracle: String = tokenizerUnigramLossSql(2)

  /** q_tokenizer_unigram_em2: the trainer with TWO EM rounds at tight
    * budgets (64→48→8) — round 1 prunes to the geometric interim
    * budget, round 2 re-scores, re-segments under the fresh scores
    * (routing around the evicted tokens — the output DIFFERS from the
    * single-round trainer's on this corpus), and prunes to the final
    * 8 — every round's DP, backtrack, re-count and budget replayed
    * stage by stage.
    */
  def tokenizerUnigramEm2Oracle: String = tokenizerUnigramSql(2, 64, 8)

  /** q_doc_unigram_tokens: the encode side — re-derive the trained
    * vocabulary's FINAL scores, run a SECOND Viterbi unroll over the
    * word types under them, and roll per-document token counts up from
    * each document's (chunked) word occurrences. Documents with no
    * words drop on both engines (the groupBy sees no rows).
    */
  def docUnigramTokensOracle: String =
    s"""WITH ${ugTrainCtes(256, 128, 4, 16)},
       |ug_finsc AS MATERIALIZED (
       |  SELECT tok, CAST(floor(1000000.0 * ln((t + v) / (cnt + 1.0)) + 0.5) AS BIGINT) AS s
       |  FROM ug_vocab2, ug_tot2
       |), ${ugViterbiCtes("ugf_", "ug_finsc", 4, 16)},
       |ug_docw AS (
       |  SELECT doc_id, substr(w0, 1 + 16 * g, 16) AS w FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w0 FROM documents
       |  ), LATERAL (SELECT unnest(range(CAST(ceil(len(w0) / 16.0) AS BIGINT))) AS g)
       |  WHERE len(w0) > 0
       |)
       |SELECT d.doc_id, CAST(sum(len(wk.toks)) AS INT) AS n_tokens
       |FROM ug_docw d JOIN ugf_walk wk USING (w)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** q_doc_unigram_ppl_buckets: the CCNet-style perplexity tertiles
    * under the repo's own unigram LM — the tight-budget trainer
    * (64→8), final scores, a second Viterbi unroll, per-doc integer
    * micro-nats (word-occurrence cost rollup), exact floor division by
    * token count, exact rank tertiles, bucket rollups.
    */
  def docUnigramPplBucketsOracle: String =
    s"""WITH ${ugTrainCtes(64, 8, 4, 16)},
       |up_finsc AS MATERIALIZED (
       |  SELECT tok, CAST(floor(1000000.0 * ln((t + v) / (cnt + 1.0)) + 0.5) AS BIGINT) AS s
       |  FROM ug_vocab2, ug_tot2
       |), ${ugViterbiCtes("upf_", "up_finsc", 4, 16)},
       |up_wcost AS MATERIALIZED (
       |  SELECT w, sum(sc.s)::BIGINT AS wc, count(*)::BIGINT AS wt
       |  FROM (SELECT w, unnest(toks) AS tok FROM upf_walk)
       |  JOIN up_finsc sc USING (tok)
       |  GROUP BY w
       |), up_docw AS (
       |  SELECT doc_id, substr(w0, 1 + 16 * g, 16) AS w FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w0 FROM documents
       |  ), LATERAL (SELECT unnest(range(CAST(ceil(len(w0) / 16.0) AS BIGINT))) AS g)
       |  WHERE len(w0) > 0
       |), up_doc AS (
       |  SELECT d.doc_id, sum(c.wc)::BIGINT AS cost_micro,
       |    sum(c.wt)::BIGINT AS n_tokens
       |  FROM up_docw d JOIN up_wcost c USING (w)
       |  GROUP BY d.doc_id
       |), up_rn AS (
       |  SELECT doc_id, n_tokens, cost_micro // n_tokens AS mnpt,
       |    row_number() OVER (ORDER BY cost_micro // n_tokens, doc_id) AS rn,
       |    count(*) OVER () AS nd
       |  FROM up_doc WHERE n_tokens > 0
       |)
       |SELECT bucket, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
       |  min(mnpt)::BIGINT AS min_mnpt, max(mnpt)::BIGINT AS max_mnpt
       |FROM (
       |  SELECT CASE WHEN (rn - 1) * 3 < nd THEN 'head'
       |    WHEN (rn - 1) * 3 < nd * 2 THEN 'middle' ELSE 'tail' END AS bucket,
       |    n_tokens, mnpt
       |  FROM up_rn
       |)
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q_corpus_bootstrap_ci: the deterministic Poisson bootstrap —
    * per-(doc, replica) truncated-Poisson(1) weights from integer
    * threshold comparisons on the splitmix 53-bit lattice (thresholds
    * shared with `CorpusStats.poissonThresholds` as literals), HUGEINT
    * replica sums, exact floor-division means, exact-rank CI band.
    */
  def corpusBootstrapCiOracle: String = {
    val replicas = 64
    val thresholds = graft.operators.CorpusStats.poissonThresholds
    val loIdx = math.max(1, (replicas * 25 + 999) / 1000)
    val hiIdx = replicas + 1 - loIdx
    val h1 = sx(splitmix(ux("xor(id, 7)")))
    val h2 = sx(splitmix(ux(s"xor(($h1), r)")))
    val wExpr = thresholds
      .map(t => s"(CASE WHEN hu >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH bs_v AS MATERIALIZED (
       |  SELECT doc_id AS id,
       |    len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0))::BIGINT AS x
       |  FROM documents
       |), bs_h AS (
       |  SELECT r, x, (${ux(h2)} // 2048) AS hu
       |  FROM bs_v, LATERAL (SELECT unnest(range($replicas)) AS r)
       |), bs_rep AS (
       |  SELECT r, sum($wExpr)::HUGEINT AS sw,
       |    sum(($wExpr) * x)::HUGEINT AS swx
       |  FROM bs_h GROUP BY r
       |), bs_rank AS (
       |  SELECT (1000000 * swx) // sw AS mm,
       |    row_number() OVER (ORDER BY (1000000 * swx) // sw) AS rn
       |  FROM bs_rep
       |), bs_full AS (
       |  SELECT count(*)::BIGINT AS n, sum(x)::HUGEINT AS sx FROM bs_v
       |)
       |SELECT n AS n_docs, CAST($replicas AS INT) AS replicas,
       |  CAST((1000000 * sx) // n AS BIGINT) AS mean_micro,
       |  (SELECT CAST(mm AS BIGINT) FROM bs_rank WHERE rn = $loIdx) AS ci_lo_micro,
       |  (SELECT CAST(mm AS BIGINT) FROM bs_rank WHERE rn = $hiIdx) AS ci_hi_micro
       |FROM bs_full""".stripMargin
  }

  /** q_corpus_bootstrap_ratio: the paired-ratio bootstrap — same
    * weights machinery, numerator Σw·kept_tokens and denominator
    * Σw·n_tokens move together per replica.
    */
  def corpusBootstrapRatioOracle: String = {
    val replicas = 64
    val thresholds = graft.operators.CorpusStats.poissonThresholds
    val loIdx = math.max(1, (replicas * 25 + 999) / 1000)
    val hiIdx = replicas + 1 - loIdx
    val h1 = sx(splitmix(ux("xor(id, 7)")))
    val h2 = sx(splitmix(ux(s"xor(($h1), r)")))
    val wExpr = thresholds
      .map(t => s"(CASE WHEN hu >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH br_v AS MATERIALIZED (
       |  SELECT doc_id AS id,
       |    (CASE WHEN nt >= 50 THEN nt ELSE 0 END) AS num, nt AS den
       |  FROM (
       |    SELECT doc_id,
       |      len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0))::BIGINT AS nt
       |    FROM documents)
       |), br_h AS (
       |  SELECT r, num, den, (${ux(h2)} // 2048) AS hu
       |  FROM br_v, LATERAL (SELECT unnest(range($replicas)) AS r)
       |), br_rep AS (
       |  SELECT r, sum(($wExpr) * num)::HUGEINT AS swn,
       |    sum(($wExpr) * den)::HUGEINT AS swd
       |  FROM br_h GROUP BY r
       |), br_rank AS (
       |  SELECT (1000000 * swn) // swd AS mm,
       |    row_number() OVER (ORDER BY (1000000 * swn) // swd) AS rn
       |  FROM br_rep
       |), br_full AS (
       |  SELECT count(*)::BIGINT AS n, sum(num)::HUGEINT AS sn,
       |    sum(den)::HUGEINT AS sd
       |  FROM br_v
       |)
       |SELECT n AS n_docs, CAST($replicas AS INT) AS replicas,
       |  CAST((1000000 * sn) // sd AS BIGINT) AS ratio_micro,
       |  (SELECT CAST(mm AS BIGINT) FROM br_rank WHERE rn = $loIdx) AS ci_lo_micro,
       |  (SELECT CAST(mm AS BIGINT) FROM br_rank WHERE rn = $hiIdx) AS ci_hi_micro
       |FROM br_full""".stripMargin
  }

  /** q_corpus_bootstrap_groups: the shared-replica-plan per-group
    * bootstrap — same weights machinery, grouped by language, one
    * rank band per group.
    */
  def corpusBootstrapGroupsOracle: String = {
    val replicas = 64
    val thresholds = graft.operators.CorpusStats.poissonThresholds
    val loIdx = math.max(1, (replicas * 25 + 999) / 1000)
    val hiIdx = replicas + 1 - loIdx
    val h1 = sx(splitmix(ux("xor(id, 7)")))
    val h2 = sx(splitmix(ux(s"xor(($h1), r)")))
    val wExpr = thresholds
      .map(t => s"(CASE WHEN hu >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH bg_v AS MATERIALIZED (
       |  SELECT lang AS g, doc_id AS id,
       |    len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0))::BIGINT AS x
       |  FROM documents
       |), bg_h AS (
       |  SELECT g, r, x, (${ux(h2)} // 2048) AS hu
       |  FROM bg_v, LATERAL (SELECT unnest(range($replicas)) AS r)
       |), bg_rep AS (
       |  SELECT g, r, sum($wExpr)::HUGEINT AS sw,
       |    sum(($wExpr) * x)::HUGEINT AS swx
       |  FROM bg_h GROUP BY g, r
       |), bg_rank AS (
       |  SELECT g, (1000000 * swx) // sw AS mm,
       |    row_number() OVER (PARTITION BY g ORDER BY (1000000 * swx) // sw) AS rn
       |  FROM bg_rep
       |), bg_full AS (
       |  SELECT g, count(*)::BIGINT AS n, sum(x)::HUGEINT AS sx
       |  FROM bg_v GROUP BY g
       |)
       |SELECT f.g AS grp, f.n AS n_docs,
       |  CAST((1000000 * f.sx) // f.n AS BIGINT) AS mean_micro,
       |  CAST(lo.mm AS BIGINT) AS ci_lo_micro,
       |  CAST(hi.mm AS BIGINT) AS ci_hi_micro
       |FROM bg_full f
       |JOIN bg_rank lo ON lo.g = f.g AND lo.rn = $loIdx
       |JOIN bg_rank hi ON hi.g = f.g AND hi.rn = $hiIdx
       |ORDER BY f.g""".stripMargin
  }

  /** The linear-probe replay (q_probe_linear / _scores): features and
    * label per doc, ONE moments pass (quantized products, HUGEINT
    * sums, truncating mean by n), ridge diagonal, the literal 24-term
    * 4×4 cofactor determinants (Cramer), and the sign-aware quantized
    * division — every stage exact integer arithmetic, matching
    * [[graft.operators.LinearProbe]] bit for bit.
    */
  private def probeCtes: String = {
    val dim = 4
    // permutations of 0..3 with parity — the cofactor expansion terms
    val perms = (0 until dim).permutations.toSeq.map { p =>
      val inv = (for (i <- 0 until dim; j <- i + 1 until dim
        if p(i) > p(j)) yield 1).sum
      (p, if (inv % 2 == 0) 1 else -1)
    }
    def det4(a: (Int, Int) => String): String =
      perms.map { case (p, s) =>
        s"($s) * " + (0 until dim).map(r => a(r, p(r))).mkString(" * ")
      }.mkString(" + ")
    val upper = for (i <- 0 until dim; j <- i until dim) yield (i, j)
    val sums = (upper.map { case (i, j) =>
      s"sum(CAST(floor(f[${i + 1}] * f[${j + 1}] * 1000000.0 + 0.5) AS BIGINT)) AS s_${i}_$j"
    } ++ (0 until dim).map(i =>
      s"sum(CAST(floor(f[${i + 1}] * y * 1000000.0 + 0.5) AS BIGINT)) AS sb_$i")
    ).mkString(",\n    ")
    val means = (upper.map { case (i, j) => s"s_${i}_$j // n AS m_${i}_$j" } ++
      (0 until dim).map(i => s"sb_$i // n AS b$i")).mkString(", ")
    val amat = (for (i <- 0 until dim; j <- 0 until dim) yield {
      val m = s"m_${math.min(i, j)}_${math.max(i, j)}"
      if (i == j) s"$m + 10000 AS a$i$j" else s"$m AS a$i$j"
    }).mkString(", ")
    val dets = (s"${det4((r, c) => s"a$r$c")} AS dt" +:
      (0 until dim).map(j =>
        s"${det4((r, c) => if (c == j) s"b$r" else s"a$r$c")} AS d$j"))
      .mkString(",\n    ")
    def wExpr(j: Int): String =
      s"""CASE WHEN d$j >= 0 THEN (1000000 * d$j) // dt
         |      ELSE -((-(1000000 * d$j)) // dt) END""".stripMargin
    val wRows = (0 until dim).map(j =>
      s"SELECT CAST($j AS BIGINT) AS slot, ${wExpr(j)} AS w_micro FROM pb_d")
      .mkString(" UNION ALL ")
    s"""pb_f AS MATERIALIZED (
       |  SELECT doc_id,
       |    [1.0,
       |     len(toks) / 100.0,
       |     len(list_filter(toks, t -> t = 'the')) / 10.0,
       |     len(replace(text, ' ', '')) / greatest(CAST(len(toks) AS DOUBLE), 1.0) / 10.0] AS f,
       |    CASE WHEN list_contains(toks, 'join') THEN 1.0 ELSE 0.0 END AS y
       |  FROM (SELECT doc_id, text,
       |      list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS toks
       |    FROM documents)
       |), pb_s AS (
       |  SELECT
       |    $sums,
       |    count(*)::BIGINT AS n
       |  FROM pb_f
       |), pb_m AS (
       |  SELECT $means FROM pb_s
       |), pb_a AS (
       |  SELECT $amat, b0, b1, b2, b3 FROM pb_m
       |), pb_d AS (
       |  SELECT
       |    $dets
       |  FROM pb_a
       |), pb_w AS ($wRows)""".stripMargin
  }

  def probeLinearOracle: String =
    s"""WITH $probeCtes
       |SELECT slot, CAST(w_micro AS BIGINT) AS w_micro
       |FROM pb_w ORDER BY slot""".stripMargin

  def probeLinearScoresOracle: String = {
    val score = (0 until 4)
      .map(j => s"f[${j + 1}] * (CAST(w$j AS DOUBLE) / 1000000.0)")
      .mkString(" + ")
    s"""WITH $probeCtes, pb_wrow AS (
       |  SELECT
       |    max(CASE WHEN slot = 0 THEN w_micro END) AS w0,
       |    max(CASE WHEN slot = 1 THEN w_micro END) AS w1,
       |    max(CASE WHEN slot = 2 THEN w_micro END) AS w2,
       |    max(CASE WHEN slot = 3 THEN w_micro END) AS w3
       |  FROM pb_w
       |)
       |SELECT doc_id, round($score, 6) AS score
       |FROM pb_f, pb_wrow
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }

  /** q_pipeline_probe_filter: the train → score → threshold → account
    * loop — the probe CTEs' trained weights, every document scored,
    * the ≥ 0.5 cut (scores are the same doubles on both engines), and
    * per-survivor whitespace token counts.
    */
  def probeFilterOracle: String = {
    val score = (0 until 4)
      .map(j => s"f[${j + 1}] * (CAST(w$j AS DOUBLE) / 1000000.0)")
      .mkString(" + ")
    s"""WITH $probeCtes, pb_wrow AS (
       |  SELECT
       |    max(CASE WHEN slot = 0 THEN w_micro END) AS w0,
       |    max(CASE WHEN slot = 1 THEN w_micro END) AS w1,
       |    max(CASE WHEN slot = 2 THEN w_micro END) AS w2,
       |    max(CASE WHEN slot = 3 THEN w_micro END) AS w3
       |  FROM pb_w
       |), pf_t AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split(lower(text), ' '), t -> len(t) > 0))::BIGINT AS n_tokens
       |  FROM documents
       |)
       |SELECT s.doc_id, round(s.score, 6) AS score, t.n_tokens
       |FROM (SELECT doc_id, $score AS score FROM pb_f, pb_wrow) s
       |JOIN pf_t t ON t.doc_id = s.doc_id
       |WHERE s.score >= 0.5
       |ORDER BY s.doc_id""".stripMargin
  }

  /** q_ann_stream_index: the streaming-maintained IVF index — centroids
    * trained on the base slice only (vec_id < 250, the build input),
    * EVERY vector assigned against those fixed centroids (streamed
    * appends are per-row assignments, so the final index content is
    * batching-independent), probe search replayed over the union.
    */
  def annStreamIndexOracle: String = {
    def nrmOf(src: String) =
      s"""SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
         |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
         |  FROM $src""".stripMargin
    s"""WITH st_prep AS MATERIALIZED (
       |  ${nrmOf("embeddings WHERE vec_id < 250")}
       |), ${kmChain("st_", 8, 32)},
       |stf_prep AS MATERIALIZED (
       |  ${nrmOf("embeddings")}
       |), st_afall AS (${kmAssign("stf_prep", "st_cent2")}
       |), st_probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT id, e FROM stf_prep WHERE id < 5) q CROSS JOIN st_cent2 c
       |  ) WHERE rn <= 3
       |), st_scored AS (
       |  SELECT p.qid, a.id AS nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |      / (q.nrm * a.nrm) AS sim
       |  FROM st_probes p
       |  JOIN (SELECT af.id, af.e, af.cell, pr.nrm
       |        FROM st_afall af JOIN stf_prep pr ON af.id = pr.id) a
       |    ON p.cell = a.cell
       |  JOIN stf_prep q ON p.qid = q.id
       |  WHERE p.qid <> a.id
       |)
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM st_scored
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  /** q_ann_ivf_audit: one row — the IVF tier's measured recall vs exact
    * brute force over the SAME corpus/queries/parameters as q_ann_ivf
    * (k=3, 8 cells, 3 probes). Both detectors replayed end to end; the
    * hit count is the per-query top-k intersection.
    */
  def annIvfAuditOracle: String =
    s"""WITH $annIvfCtes, ivf AS (
       |  SELECT qid, nid FROM iv_ranked WHERE rnk <= 3
       |), br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM iv_prep WHERE id < 5) q
       |    JOIN iv_prep a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), hits AS (SELECT count(*)::BIGINT AS h FROM ivf JOIN br USING (qid, nid)),
       |nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM br)
       |SELECT nq.n AS n_queries, CAST(3 AS INT) AS k, hits.h AS n_hits,
       |  CAST(hits.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_milli
       |FROM hits, nq""".stripMargin

  /** Shared replay chain of the filtered-ANN family: ONE full-corpus IVF
    * training pass (kmChain — filters arrive at query time, so the index
    * is predicate-agnostic), 3 probed cells per query (vec_id < 5), and
    * the probed cells' candidates with BOTH attributes (query's and
    * candidate's label) joined through. Ends in
    * `fv_cand (qid, qattr, nid, attr, sim)` — the in-cell strategy
    * prunes it on attr = qattr before ranking; post-filter ranks first.
    */
  private def annFilteredCtes: String =
    s"""fv_prep AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
       |    CAST(label AS BIGINT) AS attr,
       |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
       |  FROM embeddings
       |), ${kmChain("fv_", 8, 32)}, fv_probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT id, e FROM fv_prep WHERE id < 5) q CROSS JOIN fv_cent2 c
       |  ) WHERE rn <= 3
       |), fv_cand AS MATERIALIZED (
       |  SELECT p.qid, q.attr AS qattr, a.id AS nid, a.attr,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |      / (q.nrm * a.nrm) AS sim
       |  FROM fv_probes p
       |  JOIN (SELECT af.id, af.e, af.cell, pr.nrm, pr.attr
       |        FROM fv_af af JOIN fv_prep pr ON af.id = pr.id) a
       |    ON p.cell = a.cell
       |  JOIN fv_prep q ON p.qid = q.id
       |  WHERE p.qid <> a.id
       |)""".stripMargin

  /** q_ann_filtered: exact pre-filter top-3 within the query's own label
    * stratum — sim desc, nid asc, rounded at output like every ANN gate.
    */
  def annFilteredOracle: String =
    s"""WITH n AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
       |    CAST(label AS BIGINT) AS attr,
       |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.id AS qid, a.id AS nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |      / (q.nrm * a.nrm) AS sim
       |  FROM (SELECT * FROM n WHERE id < 5) q
       |  JOIN n a ON a.attr = q.attr AND a.id <> q.id
       |)
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM scored
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_filtered_ivf: the in-cell predicate pushdown — probed-cell
    * candidates pruned on attr = qattr BEFORE ranking.
    */
  def annFilteredIvfOracle: String =
    s"""WITH $annFilteredCtes
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM fv_cand WHERE attr = qattr
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_filtered_post: post-filter with 4× oversampling — top-12
    * shortlist by RAW sim (the engine's bounded heap ranks unrounded),
    * label filter via the metadata join, then re-rank survivors on the
    * 6dp-ROUNDED sim (the engine re-ranks the heap's rounded output;
    * rounding is monotone so the order is the shortlist's, renumbered).
    */
  def annFilteredPostOracle: String =
    s"""WITH $annFilteredCtes, fv_short AS (
       |  SELECT qid, qattr, nid, attr, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |  FROM fv_cand
       |)
       |SELECT qid, nid, sim, rnk FROM (
       |  SELECT qid, nid, round(sim, 6) AS sim,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY round(sim, 6) DESC, nid) AS INT) AS rnk
       |  FROM fv_short WHERE rn <= 12 AND attr = qattr
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_filtered_audit: recall of each filtered-search strategy vs
    * the exact pre-filter truth — 'incell' plus post-filter at
    * oversample 2/8/16, one row each.
    */
  def annFilteredAuditOracle: String = {
    def postHits(ov: Int): String =
      s"""SELECT count(*)::BIGINT AS h FROM (
         |    SELECT qid, nid FROM (
         |      SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |        ORDER BY round(sim, 6) DESC, nid) AS rn2
         |      FROM fv_short WHERE rn <= ${3 * ov} AND attr = qattr
         |    ) WHERE rn2 <= 3) p JOIN fv_truth USING (qid, nid)""".stripMargin
    def row(label: String, hits: String): String =
      s"""SELECT '$label' AS strategy, nq.n AS n_queries, CAST(3 AS INT) AS k,
         |  h.h AS n_hits, CAST(h.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_milli
         |FROM ($hits) h, nq""".stripMargin
    s"""WITH $annFilteredCtes, fv_truth AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM fv_prep WHERE id < 5) q
       |    JOIN fv_prep a ON a.attr = q.attr AND a.id <> q.id
       |  ) WHERE rn <= 3
       |), fv_in AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |    FROM fv_cand WHERE attr = qattr
       |  ) WHERE rn <= 3
       |), fv_short AS MATERIALIZED (
       |  SELECT qid, qattr, nid, attr, sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |  FROM fv_cand
       |), nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM fv_truth)
       |SELECT * FROM (
       |  ${row("incell",
             "SELECT count(*)::BIGINT AS h FROM fv_in JOIN fv_truth USING (qid, nid)")}
       |  UNION ALL ${row("post_ov02", postHits(2))}
       |  UNION ALL ${row("post_ov08", postHits(8))}
       |  UNION ALL ${row("post_ov16", postHits(16))}
       |) ORDER BY strategy""".stripMargin
  }

  /** q_corpus_stats: per-column (column, n_rows, n_nulls, approx_ndv,
    * min_str, max_str) over orders (o_totalprice projected to
    * DECIMAL(18,2) by the gate query). approx_ndv mirrors KmvDistinct:
    * k=1024 smallest distinct hashes in UNSIGNED order, exact below k,
    * else round(1023 / u(kth)).
    */
  /** q_corpus_hll: the HyperLogLog registers replayed per group —
    * splitmix64 item hashes, bucket = top-8 bits, rank = 57 − bit
    * length of the low-56 field (= leading zeros + 1, capped), max per
    * register, the EXACT integer harmonic sum Σ 2^(57−M_j) (absent
    * registers contribute 2^57), then `HllDistinct.eval`'s literal
    * float expression — raw estimator and the ≤2.5m linear-counting
    * branch — alongside the exact distinct count.
    */
  /** The p=8 HyperLogLog register→estimate replay over an arbitrary
    * `(grp, v)` SELECT — ends in `${px}out (grp, $out)`. m = 256
    * registers, cap = 57, bucket divisor 2^56; mirrors
    * `HllDistinct.eval` term for term.
    */
  private[queries] def hllChainSql(px: String, inner: String,
      out: String): String =
    s"""${px}hh AS (
       |  ${smCols(inner, ux("v"), "h", s"${px}l")}
       |), ${hllRegChain(px, out)}""".stripMargin

  /** [[hllChainSql]] for PRE-HASHED items — `inner` yields `(grp, v)`
    * with `v` already the canonical u64 item hash (string inputs go
    * through `hashStrCols`, mirroring `Sketches.hashValue`'s byte
    * chain; longs take the splitmix variant above).
    */
  private[queries] def hllChainSqlU(px: String, inner: String,
      out: String): String =
    s"""${px}hh AS (
       |  SELECT grp, v AS h FROM ($inner)
       |), ${hllRegChain(px, out)}""".stripMargin

  private def hllRegChain(px: String, out: String): String = {
    val d56 = (BigInt(1) << 56).toString
    s"""${px}reg AS (
       |  SELECT grp, (h // $d56::HUGEINT) AS bucket,
       |    max(CASE WHEN (h % $d56::HUGEINT) = 0 THEN 57
       |      ELSE 57 - length(bin((h % $d56::HUGEINT)::BIGINT)) END) AS mj
       |  FROM ${px}hh GROUP BY grp, (h // $d56::HUGEINT)
       |), ${px}est AS (
       |  SELECT grp,
       |    (sum(($pows)[(58 - mj)::INT]) + (256 - count(*)) * ($pows)[58])::HUGEINT AS s_int,
       |    (256 - count(*))::BIGINT AS zeros
       |  FROM ${px}reg GROUP BY grp
       |), ${px}out AS (
       |  SELECT grp,
       |    CAST(CASE WHEN e_raw <= 2.5 * 256.0 AND zeros > 0
       |      THEN floor(256.0 * ln(256.0 / zeros::DOUBLE) + 0.5)
       |      ELSE floor(e_raw + 0.5) END AS BIGINT) AS $out
       |  FROM (
       |    SELECT grp, zeros,
       |      0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0
       |        * power(2.0, 57.0) / s_int::DOUBLE AS e_raw
       |    FROM ${px}est
       |  )
       |)""".stripMargin
  }

  def corpusHllOracle: String = {
    def chain(px: String, valueCol: String, out: String): String =
      hllChainSql(px,
        s"SELECT event_type AS grp, $valueCol AS v FROM events WHERE $valueCol IS NOT NULL",
        out)
    s"""WITH ${chain("hu", "user_id", "hll_ndv")},
       |${chain("he", "event_id", "hll_events")},
       |ex AS (
       |  SELECT event_type AS grp,
       |    count(DISTINCT user_id)::BIGINT AS exact_ndv,
       |    count(DISTINCT event_id)::BIGINT AS exact_events
       |  FROM events GROUP BY event_type
       |)
       |SELECT ex.grp AS event_type,
       |  coalesce(hu.hll_ndv, 0)::BIGINT AS hll_ndv, ex.exact_ndv,
       |  coalesce(he.hll_events, 0)::BIGINT AS hll_events, ex.exact_events
       |FROM ex LEFT JOIN huout hu USING (grp) LEFT JOIN heout he USING (grp)
       |ORDER BY event_type""".stripMargin
  }

  /** q_doc_cms_tokens: the Count-Min counter table replayed — distinct
    * terms hash once (`hashStrCols`), each of the 4 rows re-scrambles
    * with its literal seed and masks to 256 buckets, counters are
    * exact integer sums of term counts (occurrence-increments grouped
    * by term — same totals), estimates are the min over the 4 counters
    * for the top-12 exact terms.
    */
  def docCmsTokensOracle: String = {
    val depth = 4
    val seeds = (0 until depth).map(graft.functions.CmsSketch.rowSeed)
    val freq =
      """SELECT term, count(*)::BIGINT AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS term
        |  FROM documents) GROUP BY term""".stripMargin
    val rows = (0 until depth).map { r =>
      s"""cr$r AS MATERIALIZED (
         |  SELECT term, n, (rh % 256::HUGEINT) AS b
         |  FROM (${smCols("SELECT term, n, h FROM cbh",
              xor64("h", u(seeds(r))), "rh", s"c${r}x")})
         |), cc$r AS (
         |  SELECT b, sum(n)::BIGINT AS c FROM cr$r GROUP BY b
         |)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until depth).map { r =>
      s"JOIN cr$r b$r ON b$r.term = t.term JOIN cc$r m$r ON m$r.b = b$r.b"
    }.mkString("\n  ")
    val mins = (0 until depth).map(r => s"m$r.c").mkString(", ")
    s"""WITH cbh AS MATERIALIZED (
       |  ${hashStrCols(freq, "term", 0x9747b28cL, 4, "h", "cbx",
            Seq("term", "n"))}
       |),
       |$rows,
       |ctop AS (
       |  SELECT term, n FROM (
       |    SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rn
       |    FROM cbh
       |  ) WHERE rn <= 12
       |)
       |SELECT t.term, least($mins) AS cms_n, t.n AS exact_n
       |FROM ctop t
       |  $joins
       |ORDER BY exact_n DESC, t.term""".stripMargin
  }

  /** q_doc_cms_matrix: the (source × lang) counter cell grid replayed
    * per axis — grouped term counts, the four per-depth bucket-sum
    * chains per marginalization, probe buckets hashed once globally,
    * estimates as the min over depths (empty cells read 0), exact
    * per-slice counts LEFT-joined (absent probe term pins at 0).
    */
  def docCmsMatrixOracle: String = {
    val depth = 4
    val seeds = (0 until depth).map(graft.functions.CmsSketch.rowSeed)
    val tokBase =
      """SELECT source, lang,
        |  unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS term
        |FROM documents""".stripMargin
    val probeBuckets = (0 until depth).map { r =>
      s"""pb$r AS (
         |  SELECT term, (rh % 256::HUGEINT) AS b
         |  FROM (${smCols(
              "SELECT c.term, c.h FROM cmterm c JOIN cmtop USING (term)",
              xor64("h", u(seeds(r))), "rh", s"pbx$r")})
         |)""".stripMargin
    }.mkString(",\n")
    def axisCtes(px: String, grpExpr: String): String = {
      val rows = (0 until depth).map { r =>
        s"""${px}r$r AS (
           |  SELECT grp, n, (rh % 256::HUGEINT) AS b
           |  FROM (${smCols(s"SELECT grp, term, n, h FROM ${px}h",
                xor64("h", u(seeds(r))), "rh", s"${px}x$r")})
           |), ${px}c$r AS (
           |  SELECT grp, b, sum(n)::BIGINT AS c FROM ${px}r$r
           |  GROUP BY grp, b
           |)""".stripMargin
      }.mkString(",\n")
      s"""${px}f AS MATERIALIZED (
         |  SELECT $grpExpr AS grp, term, count(*)::BIGINT AS n
         |  FROM cmtok GROUP BY 1, 2
         |), ${px}h AS MATERIALIZED (
         |  SELECT f.grp, f.term, f.n, c.h
         |  FROM ${px}f f JOIN cmterm c USING (term)
         |),
         |$rows,
         |${px}s AS (SELECT DISTINCT grp FROM ${px}f)""".stripMargin
    }
    def axisSel(px: String, axis: String): String = {
      val joins = (0 until depth).map { r =>
        s"JOIN pb$r q$r ON q$r.term = p.term " +
          s"LEFT JOIN ${px}c$r m$r ON m$r.grp = s.grp AND m$r.b = q$r.b"
      }.mkString("\n  ")
      val mins = (0 until depth).map(r => s"coalesce(m$r.c, 0)").mkString(", ")
      s"""SELECT '$axis' AS axis, s.grp, p.term,
         |  least($mins)::BIGINT AS cms_n,
         |  coalesce(e.n, 0)::BIGINT AS exact_n
         |FROM ${px}s s CROSS JOIN cmtop p
         |  $joins
         |  LEFT JOIN ${px}f e ON e.grp = s.grp AND e.term = p.term""".stripMargin
    }
    s"""WITH cmtok AS MATERIALIZED ($tokBase),
       |cmterm AS MATERIALIZED (
       |  ${hashStrCols("SELECT DISTINCT term FROM cmtok", "term",
            0x9747b28cL, 4, "h", "cmtx", Seq("term"))}
       |),
       |cmtop AS (
       |  SELECT term FROM (
       |    SELECT term, count(*)::BIGINT AS n,
       |      row_number() OVER (ORDER BY count(*) DESC, term) AS rn
       |    FROM cmtok GROUP BY term
       |  ) WHERE rn <= 8
       |),
       |$probeBuckets,
       |${axisCtes("cml", "lang")},
       |${axisCtes("cms", "source")},
       |${axisCtes("cmg", "'*'")}
       |SELECT * FROM (
       |  ${axisSel("cml", "lang")}
       |  UNION ALL
       |  ${axisSel("cms", "source")}
       |  UNION ALL
       |  ${axisSel("cmg", "global")}
       |)
       |ORDER BY axis, grp, term""".stripMargin
  }

  /** q_doc_cms_heavy: heavy-hitter enumeration from the persisted
    * synopsis replayed end to end — per-source top-24 candidate tables
    * (n desc, term asc), candidate union, corpus-wide counters (the
    * rolled-up per-source sketches: counter add is associative, the
    * same basis q_doc_cms_merge shares its oracle on), min-of-depth
    * estimates, top-15 by (estimate desc, term asc), exact counts
    * joined for the never-undercount pin.
    */
  def docCmsHeavyOracle: String = {
    val depth = 4
    val seeds = (0 until depth).map(graft.functions.CmsSketch.rowSeed)
    val srcFreq =
      """SELECT source, term, count(*)::BIGINT AS n FROM (
        |  SELECT source, unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS term
        |  FROM documents) GROUP BY source, term""".stripMargin
    val freq = "SELECT term, sum(n)::BIGINT AS n FROM hsfreq GROUP BY term"
    val rows = (0 until depth).map { r =>
      s"""hcr$r AS MATERIALIZED (
         |  SELECT term, n, (rh % 256::HUGEINT) AS b
         |  FROM (${smCols("SELECT term, n, h FROM hcbh",
              xor64("h", u(seeds(r))), "rh", s"h${r}x")})
         |), hcc$r AS (
         |  SELECT b, sum(n)::BIGINT AS c FROM hcr$r GROUP BY b
         |)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until depth).map { r =>
      s"JOIN hcr$r b$r ON b$r.term = t.term JOIN hcc$r m$r ON m$r.b = b$r.b"
    }.mkString("\n  ")
    val mins = (0 until depth).map(r => s"m$r.c").mkString(", ")
    s"""WITH hsfreq AS MATERIALIZED ($srcFreq),
       |hcbh AS MATERIALIZED (
       |  ${hashStrCols(freq, "term", 0x9747b28cL, 4, "h", "hcbx",
            Seq("term", "n"))}
       |),
       |$rows,
       |hcands AS (
       |  SELECT DISTINCT term FROM (
       |    SELECT term, row_number() OVER (PARTITION BY source
       |      ORDER BY n DESC, term) AS rn
       |    FROM hsfreq
       |  ) WHERE rn <= 24
       |), hest AS (
       |  SELECT t.term, least($mins) AS cms_n
       |  FROM hcands t
       |  $joins
       |), htop AS (
       |  SELECT term, cms_n,
       |    CAST(row_number() OVER (ORDER BY cms_n DESC, term) AS INT) AS rnk
       |  FROM hest
       |)
       |SELECT h.term, h.cms_n, f.n AS exact_n, h.rnk
       |FROM htop h JOIN hcbh f ON f.term = h.term
       |WHERE h.rnk <= 15
       |ORDER BY rnk""".stripMargin
  }

  /** q_corpus_hll_merge: the persisted-sketch rollup must equal the
    * DIRECT register chain over the raw union bit for bit (register
    * max is associative/commutative, the estimator a pure function of
    * the merged registers) — so the oracle replays ONE direct chain
    * and pins BOTH the merged and the direct column to it; any merge
    * divergence fails the compare.
    */
  def corpusHllMergeOracle: String =
    s"""WITH ${hllChainSql("hm",
          "SELECT event_type AS grp, user_id AS v FROM events WHERE user_id IS NOT NULL",
          "hll_ndv")},
       |hmex AS (
       |  SELECT event_type AS grp, count(DISTINCT user_id)::BIGINT AS exact_ndv
       |  FROM events GROUP BY event_type
       |)
       |SELECT o.grp AS event_type, o.hll_ndv, o.hll_ndv AS hll_direct,
       |  hmex.exact_ndv
       |FROM hmout o JOIN hmex USING (grp)
       |ORDER BY event_type""".stripMargin

  /** The KMV estimate replayed over an arbitrary `(grp, v BIGINT)`
    * SELECT — distinct splitmix hashes in unsigned order, the k
    * smallest, then `KmvDistinct.eval`'s exact arithmetic: the size
    * when under capacity, else `floor((k−1)/u(kth) + 0.5)` with the
    * `>>>11 / 2^53` normalization. Ends in `{px}out (grp, kmv_ndv)`.
    */
  private[queries] def kmvChainSql(px: String, inner: String,
      k: Int): String =
    s"""${px}hh AS MATERIALIZED (
       |  SELECT DISTINCT grp, h FROM (${smCols(inner, ux("v"), "h", s"${px}l")})
       |), ${px}rk AS (
       |  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
       |  FROM ${px}hh
       |), ${px}out AS (
       |  SELECT grp,
       |    CASE WHEN count(*) < $k THEN count(*)::BIGINT
       |    ELSE CAST(floor(${k - 1}.0 / greatest(
       |      (max(CASE WHEN rn = $k THEN h END) // 2048)::DOUBLE
       |        / 9007199254740992.0,
       |      4.9e-324) + 0.5) AS BIGINT) END AS kmv_ndv
       |  FROM ${px}rk WHERE rn <= $k GROUP BY grp
       |)""".stripMargin

  /** q_corpus_kmv_merge: the persisted minima rollup equals the direct
    * chain bit for bit (k-min of a union of k-min sets = k-min of the
    * union), so one replayed chain pins both columns.
    */
  def corpusKmvMergeOracle: String =
    s"""WITH ${kmvChainSql("km2",
          "SELECT event_type AS grp, user_id AS v FROM events WHERE user_id IS NOT NULL",
          128)},
       |km2ex AS (
       |  SELECT event_type AS grp, count(DISTINCT user_id)::BIGINT AS exact_ndv
       |  FROM events GROUP BY event_type
       |)
       |SELECT e.grp AS event_type,
       |  coalesce(o.kmv_ndv, 0)::BIGINT AS kmv_ndv,
       |  coalesce(o.kmv_ndv, 0)::BIGINT AS kmv_direct,
       |  e.exact_ndv
       |FROM km2ex e LEFT JOIN km2out o USING (grp)
       |ORDER BY event_type""".stripMargin

  /** q_stream_kmv_window: the sealed-window emission rule + the
    * per-window KMV chain + per-window counts.
    */
  def streamKmvWindowOracle: String = {
    val sealedBase =
      """SELECT (epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600 AS grp,
        |  user_id AS v
        |FROM events,
        |  (SELECT (epoch_ms(max(ts)) - 600000) * 1000 AS wm_us FROM events) wm
        |WHERE user_id IS NOT NULL
        |  AND ((epoch_us(date_trunc('microseconds', ts)) // 21600000000)
        |    * 21600 + 21600) * 1000000 <= wm.wm_us""".stripMargin
    s"""WITH ${kmvChainSql("ks2", sealedBase, 128)},
       |ks2cnt AS (
       |  SELECT (epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600 AS grp,
       |    count(*)::BIGINT AS n_events
       |  FROM events,
       |    (SELECT (epoch_ms(max(ts)) - 600000) * 1000 AS wm_us FROM events) wm
       |  WHERE ((epoch_us(date_trunc('microseconds', ts)) // 21600000000)
       |    * 21600 + 21600) * 1000000 <= wm.wm_us
       |  GROUP BY 1
       |)
       |SELECT c.grp AS w_start,
       |  coalesce(o.kmv_ndv, 0)::BIGINT AS kmv_users, c.n_events
       |FROM ks2cnt c LEFT JOIN ks2out o USING (grp)
       |ORDER BY w_start""".stripMargin
  }

  /** q_corpus_hll_overlap: inclusion–exclusion over replayed register
    * chains — per-type estimates from the shared p=8 chain, pair-union
    * estimates from the SAME chain over the pair's multiset union
    * (register max of A and B IS the sketch of A∪B, so replaying the
    * union chain replays `hll_union(ra, rb)` exactly), and the exact
    * intersection as the accuracy pin. Every join from the pair frame
    * is LEFT with a coalesced empty-sketch estimate (0), mirroring the
    * engine's all-null-group behavior.
    */
  /** Per-(source, bigram) rows of the six-source slice — the overlap
    * oracles' shared corpus: tokens are the empties-dropped whitespace
    * split, bigrams the adjacent pairs — exactly the engine's
    * `SourceBigrams` transform/element_at chain. Ends in
    * `ovgr (source, gram)`.
    */
  private def overlapGramCtes: String =
    s"""ovtk AS (
       |  SELECT source, ${toks("text")} AS ts FROM documents
       |  WHERE source IN ('src0','src1','src2','src3','src4','src5')
       |), ovgr AS MATERIALIZED (
       |  SELECT source, unnest(CASE WHEN len(ts) >= 2
       |    THEN list_transform(generate_series(1, len(ts) - 1),
       |      bi -> ts[bi] || ' ' || ts[bi + 1])
       |    ELSE [] END) AS gram
       |  FROM ovtk
       |)""".stripMargin

  /** The bigram strings hashed through the engine's canonical seeded
    * byte chain — `(grp, v)` with `v` the u64 item hash.
    */
  private def overlapHashedGrams(grpExpr: String, px: String): String =
    s"""SELECT grp, h AS v FROM (
       |  ${hashStrCols(s"SELECT $grpExpr AS grp, gram FROM ovgr",
            "gram", 0x9747b28cL, 5, "h", px, Seq("grp"))}
       |)""".stripMargin

  def corpusHllOverlapOracle: String = {
    def hashedGrams(grpExpr: String, px: String) =
      overlapHashedGrams(grpExpr, px)
    s"""WITH $overlapGramCtes,
       |${hllChainSqlU("ho", hashedGrams("source", "ovha"), "hll_one")},
       |${hllChainSqlU("hp",
          "SELECT p.ta || '|' || p.tb AS grp, g.v AS v FROM " +
            "(SELECT a.source AS ta, b.source AS tb FROM " +
            "(SELECT DISTINCT source FROM ovgr) a JOIN " +
            "(SELECT DISTINCT source FROM ovgr) b ON a.source < b.source) p " +
            s"JOIN (${hashedGrams("source", "ovhb")}) g ON g.grp IN (p.ta, p.tb)",
          "hll_u")},
       |ovprs AS (
       |  SELECT a.source AS ta, b.source AS tb
       |  FROM (SELECT DISTINCT source FROM ovgr) a
       |  JOIN (SELECT DISTINCT source FROM ovgr) b ON a.source < b.source
       |),
       |ovdu AS (SELECT DISTINCT source, gram FROM ovgr),
       |ovex AS (
       |  SELECT x.source AS ta, y.source AS tb, count(*)::BIGINT AS c
       |  FROM ovdu x JOIN ovdu y
       |    ON x.gram = y.gram AND x.source < y.source
       |  GROUP BY 1, 2
       |)
       |SELECT p.ta AS source_a, p.tb AS source_b,
       |  coalesce(a.hll_one, 0)::BIGINT AS hll_a,
       |  coalesce(b.hll_one, 0)::BIGINT AS hll_b,
       |  coalesce(u.hll_u, 0)::BIGINT AS hll_union,
       |  (coalesce(a.hll_one, 0) + coalesce(b.hll_one, 0)
       |    - coalesce(u.hll_u, 0))::BIGINT AS hll_overlap,
       |  coalesce(e.c, 0)::BIGINT AS exact_overlap
       |FROM ovprs p
       |LEFT JOIN hoout a ON a.grp = p.ta
       |LEFT JOIN hoout b ON b.grp = p.tb
       |LEFT JOIN hpout u ON u.grp = (p.ta || '|' || p.tb)
       |LEFT JOIN ovex e ON e.ta = p.ta AND e.tb = p.tb
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** q_corpus_kmv_overlap: the Beyer et al. estimator replayed — per
    * source the 256 smallest distinct gram hashes (unsigned order),
    * per pair L = the 256 smallest of the two minima sets, K∩ = hashes
    * of L present in BOTH sides, then the engine's exact arithmetic:
    * K∩ itself when L is under capacity (complete synopses), else
    * `floor(K∩·(255/u(kth))/256 + 0.5)` with the `>>>11 / 2^53`
    * normalization KmvDistinct uses.
    */
  def corpusKmvOverlapOracle: String =
    s"""WITH $overlapGramCtes,
       |kvh AS MATERIALIZED (
       |  SELECT DISTINCT grp, v AS h
       |  FROM (${overlapHashedGrams("source", "kvhx")})
       |),
       |kvmin AS MATERIALIZED (
       |  SELECT grp, h FROM (
       |    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
       |    FROM kvh
       |  ) WHERE rn <= 256
       |),
       |kvprs AS (
       |  SELECT a.source AS ta, b.source AS tb
       |  FROM (SELECT DISTINCT source FROM ovgr) a
       |  JOIN (SELECT DISTINCT source FROM ovgr) b ON a.source < b.source
       |),
       |kvu AS (
       |  SELECT DISTINCT p.ta, p.tb, m.h
       |  FROM kvprs p JOIN kvmin m ON m.grp IN (p.ta, p.tb)
       |),
       |kvl AS (
       |  SELECT ta, tb, h, rn FROM (
       |    SELECT ta, tb, h,
       |      row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
       |    FROM kvu
       |  ) WHERE rn <= 256
       |),
       |kvagg AS (
       |  SELECT l.ta, l.tb, count(*)::BIGINT AS lsz,
       |    max(CASE WHEN l.rn = 256 THEN l.h END) AS kth,
       |    sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
       |      THEN 1 ELSE 0 END)::BIGINT AS kboth
       |  FROM kvl l
       |  LEFT JOIN kvmin a ON a.grp = l.ta AND a.h = l.h
       |  LEFT JOIN kvmin b ON b.grp = l.tb AND b.h = l.h
       |  GROUP BY l.ta, l.tb
       |),
       |kvdu AS (SELECT DISTINCT source, gram FROM ovgr),
       |kvex AS (
       |  SELECT x.source AS ta, y.source AS tb, count(*)::BIGINT AS c
       |  FROM kvdu x JOIN kvdu y
       |    ON x.gram = y.gram AND x.source < y.source
       |  GROUP BY 1, 2
       |)
       |SELECT p.ta AS source_a, p.tb AS source_b,
       |  coalesce(CASE WHEN g.lsz < 256 THEN g.kboth
       |    ELSE CAST(floor(g.kboth::DOUBLE
       |      * (255.0 / greatest((g.kth // 2048)::DOUBLE / 9007199254740992.0,
       |          4.9e-324)) / 256.0 + 0.5) AS BIGINT)
       |    END, 0)::BIGINT AS kmv_overlap,
       |  coalesce(e.c, 0)::BIGINT AS exact_overlap
       |FROM kvprs p
       |LEFT JOIN kvagg g ON g.ta = p.ta AND g.tb = p.tb
       |LEFT JOIN kvex e ON e.ta = p.ta AND e.tb = p.tb
       |ORDER BY source_a, source_b""".stripMargin

  /** q_stream_cms_ingest: the drained per-window CMS table rolled up —
    * counter adds are order-free, so the merged sketch equals one CMS
    * over every event in a SEALED window (the q_sql_q102 emission
    * rule); the oracle replays sealing, per-type counts, the 4 row
    * scrambles, bucket sums, and the min-of-depth estimates for the
    * five event types.
    */
  def streamCmsIngestOracle: String = {
    val depth = 4
    val seeds = (0 until depth).map(graft.functions.CmsSketch.rowSeed)
    val freq =
      """SELECT term, count(*)::BIGINT AS n FROM (
        |  SELECT event_type AS term FROM events,
        |    (SELECT (epoch_ms(max(ts)) - 600000) * 1000 AS wm_us FROM events) w
        |  WHERE ((epoch_us(date_trunc('microseconds', ts)) // 21600000000)
        |    * 21600 + 21600) * 1000000 <= w.wm_us
        |) GROUP BY term""".stripMargin
    val rows = (0 until depth).map { r =>
      s"""sr$r AS MATERIALIZED (
         |  SELECT term, n, (rh % 256::HUGEINT) AS b
         |  FROM (${smCols("SELECT term, n, h FROM sbh",
              xor64("h", u(seeds(r))), "rh", s"s${r}x")})
         |), sc$r AS (
         |  SELECT b, sum(n)::BIGINT AS c FROM sr$r GROUP BY b
         |)""".stripMargin
    }.mkString(",\n")
    // probe keys hash INDEPENDENTLY of the sealed-window term table and
    // LEFT JOIN the counter sums (coalesced to 0): the engine estimates
    // every distinct event_type via the bucket lookup, including a type
    // whose events all fall in the unsealed final window — an inner join
    // through the sealed-term relation would drop that probe row and
    // fail the compare on such fixtures
    val probeBuckets = (0 until depth).map { r =>
      s"""sp$r AS (
         |  SELECT event_type, (rh % 256::HUGEINT) AS b
         |  FROM (${smCols("SELECT event_type, h FROM sph",
              xor64("h", u(seeds(r))), "rh", s"p${r}x")})
         |)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until depth).map { r =>
      s"""JOIN sp$r b$r ON b$r.event_type = t.event_type
         |  LEFT JOIN sc$r m$r ON m$r.b = b$r.b""".stripMargin
    }.mkString("\n  ")
    val mins = (0 until depth).map(r => s"coalesce(m$r.c, 0)").mkString(", ")
    s"""WITH sbh AS MATERIALIZED (
       |  ${hashStrCols(freq, "term", 0x9747b28cL, 4, "h", "sbx",
            Seq("term", "n"))}
       |),
       |$rows,
       |sph AS MATERIALIZED (
       |  ${hashStrCols("SELECT DISTINCT event_type FROM events",
            "event_type", 0x9747b28cL, 4, "h", "spx", Seq("event_type"))}
       |),
       |$probeBuckets,
       |stypes AS (SELECT DISTINCT event_type FROM events)
       |SELECT t.event_type, least($mins) AS cms_n
       |FROM stypes t
       |  $joins
       |ORDER BY t.event_type""".stripMargin
  }

  /** The KLL-style quantile sketch replayed over an arbitrary
    * `(grp, v BIGINT)` SELECT — mirrors `KllSketch`'s pure-function
    * state: per-value splitmix64 hash coins, the escalation-minimal
    * level `lvl = min {l : |{v : h % 2^l = 0}| <= k}` (survivor counts
    * are monotone in `l`, so `min` over eligible levels IS the
    * escalation fixpoint), survivors weighted `c·2^lvl`, and the
    * value-ordered cumulative weights the integer rank rule reads.
    * Ends in `{px}q (grp, v, cum, w)` + `{px}n (grp, n)`; callers
    * select `min(CASE WHEN cum*100 >= pct*w THEN v END)` per pct.
    * Levels are tabulated to 2^33 — far above any fixture's distinct
    * count (the engine escalates unboundedly; the oracle's table just
    * needs to cover the data it replays).
    */
  private[queries] def kllChainSql(px: String, inner: String,
      k: Int): String = {
    val p2vals = (0 to 33)
      .map(l => s"($l, ${(BigInt(1) << l).toString}::HUGEINT)")
      .mkString(", ")
    s"""${px}cnt AS MATERIALIZED (
       |  SELECT grp, v, count(*)::BIGINT AS c FROM ($inner) GROUP BY grp, v
       |), ${px}hh AS MATERIALIZED (
       |  ${smCols(s"SELECT grp, v, c FROM ${px}cnt", ux("v"), "h", s"${px}s")}
       |), ${px}p2(l, p2) AS (VALUES $p2vals),
       |${px}lvl AS (
       |  SELECT grp, min(l) AS lvl FROM (
       |    SELECT g.grp, p.l, count(t.v) AS sc
       |    FROM (SELECT DISTINCT grp FROM ${px}cnt) g
       |    CROSS JOIN ${px}p2 p
       |    LEFT JOIN ${px}hh t ON t.grp = g.grp AND (t.h % p.p2) = 0::HUGEINT
       |    GROUP BY g.grp, p.l
       |  ) WHERE sc <= $k GROUP BY grp
       |), ${px}srv AS (
       |  SELECT t.grp, t.v, t.c, p.p2 AS wmul
       |  FROM ${px}hh t
       |  JOIN ${px}lvl lv ON lv.grp = t.grp
       |  JOIN ${px}p2 p ON p.l = lv.lvl
       |  WHERE (t.h % p.p2) = 0::HUGEINT
       |), ${px}q AS (
       |  SELECT grp, v,
       |    sum(c::HUGEINT * wmul) OVER (PARTITION BY grp ORDER BY v) AS cum,
       |    sum(c::HUGEINT * wmul) OVER (PARTITION BY grp) AS w
       |  FROM ${px}srv
       |), ${px}n AS (
       |  SELECT grp, sum(c)::BIGINT AS n FROM ${px}cnt GROUP BY grp
       |)""".stripMargin
  }

  /** Integer-cents projection of `events.value` shared by the KLL
    * gates — the sketch domain is longs, the fixture column a double.
    */
  private def kllEventsBase: String =
    """SELECT event_type AS grp,
      |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |FROM events WHERE value IS NOT NULL""".stripMargin

  private def kllPcts(col: String => String): String =
    Seq(25, 50, 90, 99).map { p =>
      s"min(CASE WHEN cum * 100 >= $p * w THEN v END) AS ${col(p.toString)}"
    }.mkString(",\n    ")

  /** q_events_kll_quantiles: the sketch estimates AND the exact
    * integer-rank quantiles per event_type, both replayed — the
    * estimate columns pin the sketch bit-for-bit, the exact columns
    * pin the accuracy comparison the gate exists to show.
    */
  def kllQuantilesOracle: String =
    s"""WITH ${kllChainSql("kq", kllEventsBase, 256)},
       |kqest AS (
       |  SELECT grp, ${kllPcts(p => s"kll_q$p")}
       |  FROM kqq GROUP BY grp
       |), kqex AS (
       |  SELECT grp, v,
       |    sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
       |    sum(c) OVER (PARTITION BY grp) AS w
       |  FROM kqcnt
       |), kqexq AS (
       |  SELECT grp, ${kllPcts(p => s"exact_q$p")}
       |  FROM kqex GROUP BY grp
       |)
       |SELECT n.grp AS event_type, n.n,
       |  e.kll_q25, e.kll_q50, e.kll_q90, e.kll_q99,
       |  x.exact_q25, x.exact_q50, x.exact_q90, x.exact_q99
       |FROM kqn n JOIN kqest e USING (grp) JOIN kqexq x USING (grp)
       |ORDER BY event_type""".stripMargin

  /** q_events_kll_merge: the persisted per-(type, 6h window) sketch
    * table rolled up per type must equal the direct sketch over the raw
    * union bit for bit (the scaladoc'd sub-multiset level-monotonicity
    * argument) — one replayed chain pins BOTH the merged and the direct
    * column; any divergence fails the compare.
    */
  def kllMergeOracle: String =
    s"""WITH ${kllChainSql("km", kllEventsBase, 256)}
       |SELECT q.grp AS event_type,
       |  min(CASE WHEN q.cum * 100 >= 50 * q.w THEN q.v END) AS kll_q50,
       |  min(CASE WHEN q.cum * 100 >= 50 * q.w THEN q.v END) AS direct_q50,
       |  max(n.n) AS n
       |FROM kmq q JOIN kmn n USING (grp)
       |GROUP BY q.grp
       |ORDER BY event_type""".stripMargin

  /** q_events_hll_matrix: every axis of the (type × window) HLL cell
    * grid replayed — one register chain per marginalization
    * (register-max rollup is canonical, so rolled ≡ direct and one
    * chain pins both estimate columns), plus exact NDV per axis.
    */
  def hllMatrixOracle: String = {
    val wgrp = "((epoch_us(date_trunc('microseconds', ts)) // 21600000000)" +
      " * 21600)::VARCHAR"
    def base(grpExpr: String) =
      s"SELECT $grpExpr AS grp, user_id AS v FROM events"
    def axisSel(px: String, axis: String, exGrp: String): String =
      s"""SELECT '$axis' AS axis, o.grp,
         |  coalesce(o.ndv, 0)::BIGINT AS hll_ndv,
         |  coalesce(o.ndv, 0)::BIGINT AS hll_direct,
         |  x.exact_ndv
         |FROM ${px}out o JOIN (
         |  SELECT $exGrp AS grp, count(DISTINCT user_id)::BIGINT
         |    AS exact_ndv
         |  FROM events GROUP BY 1
         |) x USING (grp)""".stripMargin
    s"""WITH ${hllChainSql("hxw", base(wgrp), "ndv")},
       |${hllChainSql("hxt", base("event_type"), "ndv")},
       |${hllChainSql("hxg", base("'*'"), "ndv")}
       |SELECT * FROM (
       |  ${axisSel("hxw", "window", wgrp)}
       |  UNION ALL
       |  ${axisSel("hxt", "type", "event_type")}
       |  UNION ALL
       |  ${axisSel("hxg", "global", "'*'")}
       |)
       |ORDER BY axis, grp""".stripMargin
  }

  /** q_events_kll_matrix: every axis of the (type × window) KLL cell
    * grid replayed — one direct chain per marginalization (bit-identity
    * of the rollup pins the rolled and direct columns together).
    */
  def kllMatrixOracle: String = {
    val winBase =
      """SELECT ((epoch_us(date_trunc('microseconds', ts)) // 21600000000)
        |  * 21600)::VARCHAR AS grp,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |FROM events WHERE value IS NOT NULL""".stripMargin
    val typBase =
      """SELECT event_type AS grp,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |FROM events WHERE value IS NOT NULL""".stripMargin
    val gloBase =
      """SELECT '*' AS grp,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |FROM events WHERE value IS NOT NULL""".stripMargin
    def axisSel(px: String, axis: String): String =
      s"""SELECT '$axis' AS axis, q.grp,
         |  min(CASE WHEN q.cum * 100 >= 50 * q.w THEN q.v END) AS q50,
         |  min(CASE WHEN q.cum * 100 >= 50 * q.w THEN q.v END)
         |    AS direct_q50,
         |  min(CASE WHEN q.cum * 100 >= 90 * q.w THEN q.v END) AS q90,
         |  max(n.n) AS n
         |FROM ${px}q q JOIN ${px}n n USING (grp)
         |GROUP BY q.grp""".stripMargin
    s"""WITH ${kllChainSql("kxw", winBase, 256)},
       |${kllChainSql("kxt", typBase, 256)},
       |${kllChainSql("kxg", gloBase, 256)}
       |SELECT * FROM (
       |  ${axisSel("kxw", "window")}
       |  UNION ALL
       |  ${axisSel("kxt", "type")}
       |  UNION ALL
       |  ${axisSel("kxg", "global")}
       |)
       |ORDER BY axis, grp""".stripMargin
  }

  /** q_events_kll_drift: the per-window chain's medians located in the
    * corpus chain by the exact integer rank rule
    * `floor(1000·cum(<= q50)/W)` — both sketches and the readout
    * replayed.
    */
  def kllDriftOracle: String = {
    val windowBase =
      """SELECT (epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600 AS grp,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |FROM events WHERE value IS NOT NULL""".stripMargin
    val corpusBase =
      """SELECT 0 AS grp, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |FROM events WHERE value IS NOT NULL""".stripMargin
    s"""WITH ${kllChainSql("kw", windowBase, 256)},
       |${kllChainSql("kc", corpusBase, 256)},
       |kwq50 AS (
       |  SELECT grp AS w_start,
       |    min(CASE WHEN cum * 100 >= 50 * w THEN v END) AS win_q50
       |  FROM kwq GROUP BY grp
       |), kwr AS (
       |  SELECT q.w_start, q.win_q50,
       |    coalesce(max(CASE WHEN c.v <= q.win_q50 THEN c.cum END),
       |      0::HUGEINT) AS cumv,
       |    max(c.w) AS wtot
       |  FROM kwq50 q, kcq c
       |  GROUP BY q.w_start, q.win_q50
       |)
       |SELECT r.w_start, r.win_q50, n.n AS n_vals,
       |  (r.cumv * 1000 // r.wtot)::BIGINT AS corp_rank_milli
       |FROM kwr r JOIN kwn n ON n.grp = r.w_start
       |ORDER BY w_start""".stripMargin
  }

  /** q_stream_kll_window: per-6h-window sketch blobs drained in APPEND
    * mode (the q_sql_q102 emission rule — only watermark-sealed windows
    * emit), quantiles read from the drained table alone; the oracle
    * replays sealing, the per-window chain, and the rank rule.
    */
  def streamKllWindowOracle: String = {
    val sealedBase =
      """SELECT (epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600 AS grp,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |FROM events,
        |  (SELECT (epoch_ms(max(ts)) - 600000) * 1000 AS wm_us FROM events) wm
        |WHERE value IS NOT NULL
        |  AND ((epoch_us(date_trunc('microseconds', ts)) // 21600000000)
        |    * 21600 + 21600) * 1000000 <= wm.wm_us""".stripMargin
    s"""WITH ${kllChainSql("ks", sealedBase, 256)}
       |SELECT q.grp AS w_start,
       |  min(CASE WHEN q.cum * 100 >= 50 * q.w THEN q.v END) AS kll_q50,
       |  min(CASE WHEN q.cum * 100 >= 99 * q.w THEN q.v END) AS kll_q99,
       |  max(n.n) AS n_vals
       |FROM ksq q JOIN ksn n USING (grp)
       |GROUP BY q.grp
       |ORDER BY w_start""".stripMargin
  }

  def corpusStatsOracle: String = {
    val kmvSeed = 0x9747b28cL
    // per column: a relation of DISTINCT hashes (u64) of non-null values
    def dhLong(c: String, v: String) =
      s"SELECT DISTINCT ${splitmix(ux(v))} AS h FROM orders WHERE $c IS NOT NULL"
    def dhStr(c: String, v: String, pfx: String) =
      s"SELECT DISTINCT h FROM (${hashStrCols(
        s"SELECT $v AS sval FROM orders WHERE $c IS NOT NULL", "sval", kmvSeed, 4, "h", pfx, Seq())})"
    val cols: Seq[(String, String)] = Seq(
      "o_orderkey" -> dhLong("o_orderkey", "o_orderkey"),
      "o_custkey" -> dhLong("o_custkey", "o_custkey"),
      "o_orderstatus" -> dhStr("o_orderstatus", "o_orderstatus", "kst"),
      "o_totalprice" -> dhStr("o_totalprice", "(o_totalprice::DECIMAL(18,2))::VARCHAR", "ktp"),
      "o_orderdate" -> dhLong("o_orderdate", "epoch_us(o_orderdate)"),
      "o_orderpriority" -> dhStr("o_orderpriority", "o_orderpriority", "kpr"))
    val ctes = cols.map { case (c, dh) => s"dh_$c AS ($dh)" }.mkString(", ")
    // math.round((k-1)/max(u, MinPositiveValue)) with u = (kth >>> 11)/2^53
    def ndv(c: String) =
      s"""(SELECT CASE WHEN (SELECT count(*) FROM dh_$c) < 1024
         |  THEN (SELECT count(*) FROM dh_$c)
         |  ELSE (SELECT CAST(floor(1023.0 / greatest((h // 2048::HUGEINT)::DOUBLE / 9007199254740992.0, 4.9e-324) + 0.5) AS BIGINT)
         |        FROM dh_$c ORDER BY h LIMIT 1 OFFSET 1023)
         |  END)""".stripMargin
    def minmax(c: String) = c match {
      case "o_totalprice" =>
        (s"(SELECT min(o_totalprice::DECIMAL(18,2))::VARCHAR FROM orders)",
          s"(SELECT max(o_totalprice::DECIMAL(18,2))::VARCHAR FROM orders)")
      case _ => (s"(SELECT min($c)::VARCHAR FROM orders)", s"(SELECT max($c)::VARCHAR FROM orders)")
    }
    val rows = cols.map { case (c, _) =>
      val (mn, mx) = minmax(c)
      s"""SELECT '$c' AS "column", (SELECT count(*) FROM orders) AS n_rows,
         |  (SELECT count(*) FROM orders WHERE $c IS NULL) AS n_nulls,
         |  ${ndv(c)} AS approx_ndv, $mn AS min_str, $mx AS max_str""".stripMargin
    }.mkString("\n(", ")\nUNION ALL\n(", ")")
    s"""WITH $ctes
       |SELECT * FROM ($rows) ORDER BY "column"""".stripMargin
  }

  /** q_ann_pq: full product-quantization replay — per-subspace k-means
    * chains (same deterministic machinery as IVF) over the two 32-dim
    * halves, corpus codes from the final assignments, and ADC scoring:
    * adist = Σ_sub d²(query_sub, centroid[code_sub]), ranked asc.
    */
  def annPqOracle: String = {
    def prepSub(p: String, lo: Int, hi: Int) =
      s"""${p}prep AS MATERIALIZED (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[])[$lo:$hi] AS e FROM embeddings
         |)""".stripMargin
    s"""WITH ${prepSub("pq0_", 1, 32)}, ${kmChain("pq0_", 4, 32)},
       |${prepSub("pq1_", 33, 64)}, ${kmChain("pq1_", 4, 32)},
       |pq_codes AS (
       |  SELECT a0.id, a0.cell AS c0, a1.cell AS c1
       |  FROM pq0_af a0 JOIN pq1_af a1 USING (id)
       |), pq_qd0 AS (
       |  SELECT q.id AS qid, c.cell, ${kmD2("q.e", "c.ce")} AS d
       |  FROM pq0_prep q CROSS JOIN pq0_cent2 c WHERE q.id < 5
       |), pq_qd1 AS (
       |  SELECT q.id AS qid, c.cell, ${kmD2("q.e", "c.ce")} AS d
       |  FROM pq1_prep q CROSS JOIN pq1_cent2 c WHERE q.id < 5
       |), pq_scored AS (
       |  SELECT q0.qid, k.id AS nid, q0.d + q1.d AS adist
       |  FROM pq_codes k
       |  JOIN pq_qd0 q0 ON q0.cell = k.c0
       |  JOIN pq_qd1 q1 ON q1.cell = k.c1 AND q1.qid = q0.qid
       |  WHERE q0.qid <> k.id
       |), pq_ranked AS (
       |  SELECT qid, nid, adist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rnk
       |  FROM pq_scored
       |)
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM pq_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  /** q_ann_ivfpq: the composed IVF-PQ replay — one coarse k-means chain
    * over the full vectors (inverted lists + 2-probe selection) and two
    * per-subspace PQ chains (codes + ADC), all on the shared
    * deterministic machinery.
    */
  def annIvfPqOracle: String = {
    def prepSub(p: String, lo: Int, hi: Int) =
      s"""${p}prep AS MATERIALIZED (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[])[$lo:$hi] AS e FROM embeddings
         |)""".stripMargin
    def qd(p: String, out: String) =
      s"""$out AS (
         |  SELECT q.id AS qid, c.cell, ${kmD2("q.e", "c.ce")} AS d
         |  FROM ${p}prep q CROSS JOIN ${p}cent2 c WHERE q.id < 5
         |)""".stripMargin
    s"""WITH ip_prep AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), ${kmChain("ip_", 4, 32)},
       |${prepSub("ipq0_", 1, 32)}, ${kmChain("ipq0_", 4, 32)},
       |${prepSub("ipq1_", 33, 64)}, ${kmChain("ipq1_", 4, 32)},
       |ip_codes AS (
       |  SELECT a0.id, l.cell AS ivf_cell, a0.cell AS c0, a1.cell AS c1
       |  FROM ipq0_af a0 JOIN ipq1_af a1 USING (id) JOIN ip_af l USING (id)
       |), ip_probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT id, e FROM ip_prep WHERE id < 5) q CROSS JOIN ip_cent2 c
       |  ) WHERE rn <= 2
       |), ${qd("ipq0_", "ip_qd0")}, ${qd("ipq1_", "ip_qd1")},
       |ip_scored AS (
       |  SELECT p.qid, k.id AS nid, q0.d + q1.d AS adist
       |  FROM ip_probes p
       |  JOIN ip_codes k ON k.ivf_cell = p.cell
       |  JOIN ip_qd0 q0 ON q0.qid = p.qid AND q0.cell = k.c0
       |  JOIN ip_qd1 q1 ON q1.qid = p.qid AND q1.cell = k.c1
       |  WHERE p.qid <> k.id
       |), ip_ranked AS (
       |  SELECT qid, nid, adist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rnk
       |  FROM ip_scored
       |)
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM ip_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  /** q_ann_ivfpq_refine: the IVF-PQ chain of [[annIvfPqOracle]] plus the
    * exact re-rank tail — ADC picks a 10-wide shortlist per query
    * (adist asc, nid asc at the cut), the shortlist rescored with exact
    * cosine over the raw vectors, final rank by true similarity.
    */
  def annIvfPqRefineOracle: String = {
    def prepSub(p: String, lo: Int, hi: Int) =
      s"""${p}prep AS MATERIALIZED (
         |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[])[$lo:$hi] AS e FROM embeddings
         |)""".stripMargin
    def qd(p: String, out: String) =
      s"""$out AS (
         |  SELECT q.id AS qid, c.cell, ${kmD2("q.e", "c.ce")} AS d
         |  FROM ${p}prep q CROSS JOIN ${p}cent2 c WHERE q.id < 5
         |)""".stripMargin
    s"""WITH ip_prep AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
       |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
       |  FROM embeddings
       |), ${kmChain("ip_", 4, 32)},
       |${prepSub("ipq0_", 1, 32)}, ${kmChain("ipq0_", 4, 32)},
       |${prepSub("ipq1_", 33, 64)}, ${kmChain("ipq1_", 4, 32)},
       |ip_codes AS (
       |  SELECT a0.id, l.cell AS ivf_cell, a0.cell AS c0, a1.cell AS c1
       |  FROM ipq0_af a0 JOIN ipq1_af a1 USING (id) JOIN ip_af l USING (id)
       |), ip_probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT id, e FROM ip_prep WHERE id < 5) q CROSS JOIN ip_cent2 c
       |  ) WHERE rn <= 2
       |), ${qd("ipq0_", "ip_qd0")}, ${qd("ipq1_", "ip_qd1")},
       |ip_scored AS (
       |  SELECT p.qid, k.id AS nid, q0.d + q1.d AS adist
       |  FROM ip_probes p
       |  JOIN ip_codes k ON k.ivf_cell = p.cell
       |  JOIN ip_qd0 q0 ON q0.qid = p.qid AND q0.cell = k.c0
       |  JOIN ip_qd1 q1 ON q1.qid = p.qid AND q1.cell = k.c1
       |  WHERE p.qid <> k.id
       |), ip_short AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
       |    FROM ip_scored
       |  ) WHERE rn <= 10
       |), ip_exact AS (
       |  SELECT s.qid, s.nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * c.e[i]))
       |      / (q.nrm * c.nrm) AS sim
       |  FROM ip_short s
       |  JOIN ip_prep q ON q.id = s.qid
       |  JOIN ip_prep c ON c.id = s.nid
       |), ip_rranked AS (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM ip_exact
       |)
       |SELECT qid, nid, round(sim, 6) AS sim, rnk
       |FROM ip_rranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  /** q_dedup_semantic: SemDeDup replay — the same deterministic k-means
    * chain as the IVF oracle (8 cells, cap-32 training samples), then
    * all within-cell pairs with round(cosine, 6) >= 0.25, id_a < id_b.
    */
  def semanticDedupOracle: String = {
    val cos =
      """round(list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i]))
        |    / (pa.nrm * pb.nrm), 6)""".stripMargin
    s"""WITH sd_prep AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
       |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
       |  FROM embeddings
       |), ${kmChain("sd_", 8, 32)}
       |SELECT id_a, id_b, cell, cosine FROM (
       |  SELECT a.id AS id_a, b.id AS id_b, a.cell AS cell, $cos AS cosine
       |  FROM sd_af a JOIN sd_af b ON a.cell = b.cell AND a.id < b.id
       |  JOIN sd_prep pa ON pa.id = a.id
       |  JOIN sd_prep pb ON pb.id = b.id
       |) WHERE cosine >= 0.25
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Signed-BIGINT DuckDB replay of `Sketches.splitmixLong` over a BIGINT
    * expression — for gates that sample by hash order outside this file.
    */
  def splitmixBigintSql(expr: String): String = sx(splitmix(ux(expr)))

  // ---------------------------------------------------------------
  // Mergeable bottom-k samples (SampleSynopsis) — hash-priority
  // sampling replayed: rank documents by the unsigned splitmix64 of
  // doc_id (the vectorized smCols chain), keep the k smallest.
  // ---------------------------------------------------------------

  /** Ranked bottom-k chain over documents: ends in `{px}rk` holding
    * (doc_id, source, n_chars, rnk) with rnk = unsigned-hash order.
    */
  private def docBottomKChain(px: String): String =
    s"""${px}hh AS MATERIALIZED (
       |  SELECT doc_id, source, n_chars, h
       |  FROM (${smCols("SELECT doc_id, source, n_chars FROM documents",
            ux("doc_id"), "h", s"${px}s")})
       |), ${px}rk AS (
       |  SELECT doc_id, source, n_chars,
       |    row_number() OVER (ORDER BY h) AS rnk
       |  FROM ${px}hh
       |)""".stripMargin

  /** q_sample_bottomk: the direct corpus sample — k docs of smallest
    * unsigned splitmix64(doc_id), ranked.
    */
  def sampleBottomKOracle(k: Int): String =
    s"""WITH ${docBottomKChain("sbk")}
       |SELECT rnk::INT AS rnk, doc_id, source, n_chars
       |FROM sbkrk WHERE rnk <= $k ORDER BY rnk""".stripMargin

  /** q_sample_bottomk_merge: the per-source persisted sample rows roll
    * up to the corpus sample BIT-IDENTICALLY (the bottom-k of a union
    * of per-source bottom-k sets is the union's bottom-k), so one
    * replayed chain pins both the merged and the direct column.
    */
  def sampleBottomKMergeOracle(k: Int): String =
    s"""WITH ${docBottomKChain("sbm")}
       |SELECT rnk::INT AS rnk, doc_id, doc_id AS doc_id_direct, n_chars
       |FROM sbmrk WHERE rnk <= $k ORDER BY rnk""".stripMargin

  /** q_sample_priority_weighted: DLT priority sampling replayed — the
    * priority q = ⌊w/u⌋ computed exactly as ⌊w·2^53/((h≫11)+1)⌋ in
    * HUGEINT (u lives on the 2^53 lattice), top-k by (q desc, doc_id),
    * τ = the (k+1)-th q (0 under capacity), Ŵ = Σ max(w, τ) — every
    * term an integer; the exact total rides along.
    */
  def samplePriorityWeightedOracle(k: Int): String = {
    val S = "9007199254740992::HUGEINT" // 2^53
    s"""WITH spwh AS MATERIALIZED (
       |  SELECT doc_id, n_chars, h
       |  FROM (${smCols("SELECT doc_id, n_chars FROM documents WHERE n_chars > 0",
            ux("doc_id"), "h", "spws")})
       |), spwq AS (
       |  SELECT doc_id, n_chars::BIGINT AS w,
       |    (n_chars::HUGEINT * $S) // ((h // 2048::HUGEINT) + 1::HUGEINT) AS q
       |  FROM spwh
       |), spwr AS (
       |  SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rnk FROM spwq
       |), spwt AS (
       |  SELECT coalesce(max(CASE WHEN rnk = ${k + 1} THEN q END),
       |    0::HUGEINT) AS tau
       |  FROM spwr
       |), spwe AS (
       |  SELECT sum(greatest(w::HUGEINT, tau))::BIGINT AS est_total
       |  FROM spwr, spwt WHERE rnk <= $k
       |), spwx AS (
       |  SELECT sum(n_chars)::BIGINT AS exact_total FROM documents
       |  WHERE n_chars > 0
       |)
       |SELECT rnk::INT AS rnk, doc_id, w AS n_chars, est_total, exact_total
       |FROM spwr, spwe, spwx WHERE rnk <= $k ORDER BY rnk""".stripMargin
  }

  /** q_sample_priority_merge: the persisted per-source DLT rows roll up
    * to the corpus-wide weighted sample BIT-IDENTICALLY (priorities are
    * a pure function of (id, w) — the subset-rank lemma in priority
    * order), and the τ-threshold estimate from rolled rows equals the
    * direct one, so one replayed chain pins every column twice over.
    */
  def samplePriorityMergeOracle(k: Int): String = {
    val S = "9007199254740992::HUGEINT" // 2^53
    s"""WITH spmh AS MATERIALIZED (
       |  SELECT doc_id, n_chars, h
       |  FROM (${smCols("SELECT doc_id, n_chars FROM documents WHERE n_chars > 0",
            ux("doc_id"), "h", "spms")})
       |), spmq AS (
       |  SELECT doc_id, n_chars::BIGINT AS w,
       |    (n_chars::HUGEINT * $S) // ((h // 2048::HUGEINT) + 1::HUGEINT) AS q
       |  FROM spmh
       |), spmr AS (
       |  SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rnk FROM spmq
       |), spmt AS (
       |  SELECT coalesce(max(CASE WHEN rnk = ${k + 1} THEN q END),
       |    0::HUGEINT) AS tau
       |  FROM spmr
       |), spme AS (
       |  SELECT sum(greatest(w::HUGEINT, tau))::BIGINT AS est_total
       |  FROM spmr, spmt WHERE rnk <= $k
       |), spmx AS (
       |  SELECT sum(n_chars)::BIGINT AS exact_total FROM documents
       |  WHERE n_chars > 0
       |)
       |SELECT rnk::INT AS rnk, doc_id, doc_id AS doc_id_direct,
       |  w AS n_chars, est_total, est_total AS est_total_direct,
       |  exact_total
       |FROM spmr, spme, spmx WHERE rnk <= $k ORDER BY rnk""".stripMargin
  }

  /** q_stream_priority_ingest: the sealed-window emission rule + the
    * per-window DLT priority chain (weights = the cents lattice) + the
    * per-window τ-threshold total-value estimate.
    */
  def streamPriorityIngestOracle(k: Int): String = {
    val S = "9007199254740992::HUGEINT" // 2^53
    val grp = "(epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600"
    val sealedBase =
      s"""SELECT $grp AS grp, event_id,
         |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |FROM events,
         |  (SELECT (epoch_ms(max(ts)) - 600000) * 1000 AS wm_us
         |   FROM events WHERE value > 0) wm
         |WHERE value > 0 AND ($grp + 21600) * 1000000 <= wm.wm_us""".stripMargin
    s"""WITH spih AS MATERIALIZED (
       |  SELECT grp, event_id, cents, h
       |  FROM (${smCols(sealedBase, ux("event_id"), "h", "spis")})
       |), spiq AS (
       |  SELECT grp, event_id, cents,
       |    (cents::HUGEINT * $S) // ((h // 2048::HUGEINT) + 1::HUGEINT) AS q
       |  FROM spih
       |), spir AS (
       |  SELECT *, row_number() OVER (PARTITION BY grp
       |    ORDER BY q DESC, event_id) AS rnk
       |  FROM spiq
       |), spit AS (
       |  SELECT grp, coalesce(max(CASE WHEN rnk = ${k + 1} THEN q END),
       |    0::HUGEINT) AS tau
       |  FROM spir GROUP BY grp
       |), spie AS (
       |  SELECT r.grp,
       |    sum(greatest(r.cents::HUGEINT, t.tau))::BIGINT AS est_cents
       |  FROM spir r JOIN spit t USING (grp)
       |  WHERE r.rnk <= $k GROUP BY r.grp
       |)
       |SELECT r.grp AS w_start, r.rnk::INT AS rnk, r.event_id, r.cents,
       |  e.est_cents
       |FROM spir r JOIN spie e USING (grp)
       |WHERE r.rnk <= $k
       |ORDER BY w_start, rnk""".stripMargin
  }

  /** q_sample_sketch_budget: the HLL-planned hash-gate sample replayed
    * — per-source n̂ from the register chain, threshold
    * ⌊quota·2^64/max(n̂,1)⌋ in HUGEINT, keep iff the unsigned
    * splitmix64(doc_id⊕11) is below the source's threshold.
    */
  def sampleSketchBudgetOracle(quota: Int): String =
    s"""WITH ${hllChainSql("skb",
          "SELECT source AS grp, doc_id AS v FROM documents", "n_hat")},
       |skbp AS (
       |  SELECT grp AS source, n_hat,
       |    (${quota}::HUGEINT * 18446744073709551616::HUGEINT)
       |      // greatest(n_hat, 1)::HUGEINT AS thr
       |  FROM skbout
       |), skbh AS (
       |  SELECT doc_id, source, hu
       |  FROM (${smCols("SELECT doc_id, source FROM documents",
            ux("xor(doc_id, 11::BIGINT)"), "hu", "skbs")})
       |)
       |SELECT d.source, d.doc_id, p.n_hat
       |FROM skbh d JOIN skbp p USING (source)
       |WHERE d.hu < p.thr
       |ORDER BY source, doc_id""".stripMargin

  /** q_events_winsorize_sketch: KLL-planned clip bounds (the p5/p95
    * integer-rank readout of the replayed sketch chain) + the exact
    * one-pass clipped sums on the cents lattice.
    */
  def eventsWinsorizeSketchOracle: String =
    s"""WITH ${kllChainSql("ws", kllEventsBase, 256)},
       |wsb AS (
       |  SELECT grp,
       |    min(CASE WHEN cum * 100 >= 5 * w THEN v END) AS lo_cents,
       |    min(CASE WHEN cum * 100 >= 95 * w THEN v END) AS hi_cents
       |  FROM wsq GROUP BY grp
       |)
       |SELECT e.grp AS event_type, b.lo_cents, b.hi_cents,
       |  count(*)::BIGINT AS n,
       |  sum(least(greatest(e.v, b.lo_cents), b.hi_cents))::BIGINT
       |    AS sum_clipped,
       |  sum(e.v)::BIGINT AS sum_raw
       |FROM ($kllEventsBase) e JOIN wsb b ON b.grp = e.grp
       |GROUP BY e.grp, b.lo_cents, b.hi_cents
       |ORDER BY event_type""".stripMargin

  /** q_probe_join_size: the coordinated-sampling join-size estimator
    * replayed — per-side (key, cnt) groups, bottom-k by unsigned
    * splitmix64(key), τ_side = 2^64 under capacity else the k-th
    * smallest stored hash, τ = min of the sides, J = Σ cntA·cntB over
    * joined synopsis keys under τ, est = ⌊J·2^64/τ⌋ in HUGEINT.
    */
  def probeJoinSizeOracle(k: Int): String = {
    def sideChain(px: String, typ: String): String =
      s"""${px}g AS MATERIALIZED (
         |  SELECT user_id AS key, count(*)::BIGINT AS cnt FROM events
         |  WHERE event_type = '$typ' GROUP BY 1
         |), ${px}h AS (
         |  SELECT key, cnt, hu
         |  FROM (${smCols(s"SELECT key, cnt FROM ${px}g", ux("key"), "hu",
              s"${px}x")})
         |), ${px}s AS (
         |  SELECT key, cnt, hu FROM (
         |    SELECT *, row_number() OVER (ORDER BY hu) AS rn FROM ${px}h
         |  ) WHERE rn <= $k
         |), ${px}t AS (
         |  SELECT CASE WHEN count(*) < $k THEN 18446744073709551616::HUGEINT
         |    ELSE max(hu) END AS tau FROM ${px}s
         |)""".stripMargin
    s"""WITH ${sideChain("ja", "view")},
       |${sideChain("jb", "purchase")},
       |jtau AS (SELECT least(a.tau, b.tau) AS tau FROM jat a, jbt b),
       |jj AS (
       |  SELECT coalesce(sum(a.cnt::HUGEINT * b.cnt::HUGEINT),
       |    0::HUGEINT) AS j
       |  FROM jas a JOIN jbs b ON a.key = b.key CROSS JOIN jtau t
       |  WHERE a.hu < t.tau
       |), jx AS (
       |  SELECT coalesce(sum(a.cnt * b.cnt), 0)::BIGINT AS exact_pairs
       |  FROM jag a JOIN jbg b ON a.key = b.key
       |)
       |SELECT $k AS k_cap,
       |  ((j.j * 18446744073709551616::HUGEINT) // t.tau)::BIGINT
       |    AS est_pairs,
       |  x.exact_pairs
       |FROM jj j, jtau t, jx x""".stripMargin
  }

  /** q_probe_join_size_filtered: the correlated-sampling estimator with
    * a predicate-conditioned count on the view side — the synopsis A
    * chain carries cnt_hi = per-key count of rows with value >= 50,
    * and the filtered estimate is ⌊(Σ cnt_hi_a·cnt_b under τ)·2^64/τ⌋;
    * the unfiltered estimate reads the SAME stored rows. Exact
    * filtered pairs ride along.
    */
  def probeJoinSizeFilteredOracle(k: Int): String = {
    val aBase = "SELECT user_id AS key, count(*)::BIGINT AS cnt, " +
      "count(CASE WHEN value >= 50 THEN 1 END)::BIGINT AS cnt_hi " +
      "FROM events WHERE event_type = 'view' GROUP BY 1"
    val bBase = "SELECT user_id AS key, count(*)::BIGINT AS cnt " +
      "FROM events WHERE event_type = 'purchase' GROUP BY 1"
    s"""WITH fag AS MATERIALIZED ($aBase),
       |fah AS (
       |  SELECT key, cnt, cnt_hi, hu
       |  FROM (${smCols("SELECT key, cnt, cnt_hi FROM fag", ux("key"),
            "hu", "fax")})
       |), fas AS (
       |  SELECT key, cnt, cnt_hi, hu FROM (
       |    SELECT *, row_number() OVER (ORDER BY hu) AS rn FROM fah
       |  ) WHERE rn <= $k
       |), fat AS (
       |  SELECT CASE WHEN count(*) < $k THEN 18446744073709551616::HUGEINT
       |    ELSE max(hu) END AS tau FROM fas
       |), fbg AS MATERIALIZED ($bBase),
       |fbh AS (
       |  SELECT key, cnt, hu
       |  FROM (${smCols("SELECT key, cnt FROM fbg", ux("key"), "hu",
            "fbx")})
       |), fbs AS (
       |  SELECT key, cnt, hu FROM (
       |    SELECT *, row_number() OVER (ORDER BY hu) AS rn FROM fbh
       |  ) WHERE rn <= $k
       |), fbt AS (
       |  SELECT CASE WHEN count(*) < $k THEN 18446744073709551616::HUGEINT
       |    ELSE max(hu) END AS tau FROM fbs
       |), ftau AS (SELECT least(a.tau, b.tau) AS tau FROM fat a, fbt b),
       |fjj AS (
       |  SELECT coalesce(sum(a.cnt_hi::HUGEINT * b.cnt::HUGEINT),
       |      0::HUGEINT) AS j_hi,
       |    coalesce(sum(a.cnt::HUGEINT * b.cnt::HUGEINT),
       |      0::HUGEINT) AS j_all
       |  FROM fas a JOIN fbs b ON a.key = b.key CROSS JOIN ftau t
       |  WHERE a.hu < t.tau
       |), fjx AS (
       |  SELECT coalesce(sum(a.cnt_hi * b.cnt), 0)::BIGINT
       |    AS exact_pairs_hi
       |  FROM fag a JOIN fbg b ON a.key = b.key
       |)
       |SELECT $k AS k_cap,
       |  ((j.j_hi * 18446744073709551616::HUGEINT) // t.tau)::BIGINT
       |    AS est_pairs_hi,
       |  ((j.j_all * 18446744073709551616::HUGEINT) // t.tau)::BIGINT
       |    AS est_pairs_all,
       |  x.exact_pairs_hi
       |FROM fjj j, ftau t, fjx x""".stripMargin
  }

  /** q_probe_join_size_incremental / q_stream_probe_ingest: the
    * maintenance gates' rolled-up estimate is BIT-IDENTICAL to the
    * direct build (ranks shrink on subsets, per-batch counts sum back
    * to the union count), so one replayed chain pins the rolled and
    * direct columns alike.
    */
  def probeJoinSizeMaintOracle(k: Int): String = {
    def sideChain(px: String, typ: String): String =
      s"""${px}g AS MATERIALIZED (
         |  SELECT user_id AS key, count(*)::BIGINT AS cnt FROM events
         |  WHERE event_type = '$typ' GROUP BY 1
         |), ${px}h AS (
         |  SELECT key, cnt, hu
         |  FROM (${smCols(s"SELECT key, cnt FROM ${px}g", ux("key"), "hu",
              s"${px}x")})
         |), ${px}s AS (
         |  SELECT key, cnt, hu FROM (
         |    SELECT *, row_number() OVER (ORDER BY hu) AS rn FROM ${px}h
         |  ) WHERE rn <= $k
         |), ${px}t AS (
         |  SELECT CASE WHEN count(*) < $k THEN 18446744073709551616::HUGEINT
         |    ELSE max(hu) END AS tau FROM ${px}s
         |)""".stripMargin
    s"""WITH ${sideChain("ma", "view")},
       |${sideChain("mb", "purchase")},
       |mtau AS (SELECT least(a.tau, b.tau) AS tau FROM mat a, mbt b),
       |mjj AS (
       |  SELECT coalesce(sum(a.cnt::HUGEINT * b.cnt::HUGEINT),
       |    0::HUGEINT) AS j
       |  FROM mas a JOIN mbs b ON a.key = b.key CROSS JOIN mtau t
       |  WHERE a.hu < t.tau
       |), mjx AS (
       |  SELECT coalesce(sum(a.cnt * b.cnt), 0)::BIGINT AS exact_pairs
       |  FROM mag a JOIN mbg b ON a.key = b.key
       |)
       |SELECT $k AS k_cap,
       |  ((j.j * 18446744073709551616::HUGEINT) // t.tau)::BIGINT
       |    AS est_pairs,
       |  ((j.j * 18446744073709551616::HUGEINT) // t.tau)::BIGINT
       |    AS est_pairs_direct,
       |  x.exact_pairs
       |FROM mjj j, mtau t, mjx x""".stripMargin
  }

  /** q_probe_join_size_windows: the per-window drift sheet replayed —
    * per (window, side) bottom-k key chains, per-window τ (2^64 under
    * capacity), per-window J and est; windows present in both sides;
    * exact per-window pairs ride along.
    */
  def probeJoinSizeWindowsOracle(k: Int): String = {
    val w = "(epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600"
    def sideChain(px: String, typ: String): String =
      s"""${px}g AS MATERIALIZED (
         |  SELECT $w AS w_start, user_id AS key, count(*)::BIGINT AS cnt
         |  FROM events WHERE event_type = '$typ' GROUP BY 1, 2
         |), ${px}h AS (
         |  SELECT w_start, key, cnt, hu
         |  FROM (${smCols(s"SELECT w_start, key, cnt FROM ${px}g",
              ux("key"), "hu", s"${px}x")})
         |), ${px}s AS (
         |  SELECT w_start, key, cnt, hu FROM (
         |    SELECT *, row_number() OVER (PARTITION BY w_start
         |      ORDER BY hu) AS rn FROM ${px}h
         |  ) WHERE rn <= $k
         |), ${px}t AS (
         |  SELECT w_start,
         |    CASE WHEN count(*) < $k THEN 18446744073709551616::HUGEINT
         |      ELSE max(hu) END AS tau
         |  FROM ${px}s GROUP BY w_start
         |)""".stripMargin
    s"""WITH ${sideChain("wa", "view")},
       |${sideChain("wb", "purchase")},
       |wtau AS (
       |  SELECT a.w_start, least(a.tau, b.tau) AS tau
       |  FROM wat a JOIN wbt b USING (w_start)
       |), wjj AS (
       |  SELECT t.w_start,
       |    sum(a.cnt::HUGEINT * b.cnt::HUGEINT) AS j
       |  FROM was a JOIN wbs b USING (w_start, key)
       |  JOIN wtau t ON t.w_start = a.w_start AND a.hu < t.tau
       |  GROUP BY t.w_start
       |), wjx AS (
       |  SELECT a.w_start, sum(a.cnt * b.cnt)::BIGINT AS exact_pairs
       |  FROM wag a JOIN wbg b USING (w_start, key)
       |  GROUP BY a.w_start
       |)
       |SELECT t.w_start,
       |  ((coalesce(j.j, 0::HUGEINT) * 18446744073709551616::HUGEINT)
       |    // t.tau)::BIGINT AS est_pairs,
       |  coalesce(x.exact_pairs, 0::BIGINT) AS exact_pairs
       |FROM wtau t
       |LEFT JOIN wjj j ON j.w_start = t.w_start
       |LEFT JOIN wjx x ON x.w_start = t.w_start
       |ORDER BY t.w_start""".stripMargin
  }

  /** q_probe_semijoin: the KMV direct-intersection estimator over the
    * view/purchase user-id minima — union, k-trim, two-sided
    * membership count, and the (k−1)/u normalization replayed exactly.
    */
  def probeSemijoinOracle(k: Int): String =
    s"""WITH sjh AS MATERIALIZED (
       |  SELECT DISTINCT grp, h
       |  FROM (${smCols("SELECT event_type AS grp, user_id AS v FROM events" +
            " WHERE event_type IN ('view', 'purchase')", ux("v"), "h",
            "sjx")})
       |), sjmin AS MATERIALIZED (
       |  SELECT grp, h FROM (
       |    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h)
       |      AS rn
       |    FROM sjh
       |  ) WHERE rn <= $k
       |), sjl AS (
       |  SELECT h, rn FROM (
       |    SELECT h, row_number() OVER (ORDER BY h) AS rn
       |    FROM (SELECT DISTINCT h FROM sjmin)
       |  ) WHERE rn <= $k
       |), sjagg AS (
       |  SELECT count(*)::BIGINT AS lsz,
       |    max(CASE WHEN l.rn = $k THEN l.h END) AS kth,
       |    sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
       |      THEN 1 ELSE 0 END)::BIGINT AS kboth
       |  FROM sjl l
       |  LEFT JOIN sjmin a ON a.grp = 'view' AND a.h = l.h
       |  LEFT JOIN sjmin b ON b.grp = 'purchase' AND b.h = l.h
       |), sjex AS (
       |  SELECT count(*)::BIGINT AS exact_shared FROM
       |    (SELECT DISTINCT user_id FROM events
       |     WHERE event_type = 'view') x
       |  JOIN (SELECT DISTINCT user_id FROM events
       |     WHERE event_type = 'purchase') y USING (user_id)
       |)
       |SELECT CASE WHEN g.lsz < $k THEN g.kboth
       |  ELSE CAST(floor(g.kboth::DOUBLE
       |    * (${k - 1}.0 / greatest((g.kth // 2048)::DOUBLE
       |        / 9007199254740992.0, 4.9e-324)) / $k.0 + 0.5) AS BIGINT)
       |  END AS shared_users_hat,
       |  x.exact_shared
       |FROM sjagg g, sjex x""".stripMargin

  /** q_probe_groupby_size: the composite-key HLL register chain
    * replayed (string items through the seeded byte-hash chain) plus
    * the exact distinct count.
    */
  def probeGroupbySizeOracle: String = {
    val keyed = "SELECT '*' AS grp, " +
      "event_type || '|' || user_id::VARCHAR AS keystr FROM events"
    s"""WITH ${hllChainSqlU("gb",
          s"""SELECT grp, h AS v FROM (
             |  ${hashStrCols(keyed, "keystr", 0x9747b28cL, 3, "h", "gbx",
                  Seq("grp"))}
             |)""".stripMargin, "n_groups_hat")},
       |gx AS (
       |  SELECT count(DISTINCT event_type || '|' || user_id::VARCHAR)::BIGINT
       |    AS exact_groups
       |  FROM events
       |)
       |SELECT coalesce(g.n_groups_hat, 0)::BIGINT AS n_groups_hat,
       |  x.exact_groups
       |FROM gbout g, gx x""".stripMargin
  }

  /** q_probe_join_plan: both candidate joins' correlated-sampling
    * estimates replayed from per-table (key, cnt) chains, plus the
    * exact pair counts and the est-ordered plan rank.
    */
  def probeJoinPlanOracle(k: Int): String = {
    def sideChain(px: String, table: String, key: String): String =
      s"""${px}g AS MATERIALIZED (
         |  SELECT $key AS key, count(*)::BIGINT AS cnt FROM $table
         |  GROUP BY 1
         |), ${px}h AS (
         |  SELECT key, cnt, hu
         |  FROM (${smCols(s"SELECT key, cnt FROM ${px}g", ux("key"), "hu",
              s"${px}x")})
         |), ${px}s AS (
         |  SELECT key, cnt, hu FROM (
         |    SELECT *, row_number() OVER (ORDER BY hu) AS rn FROM ${px}h
         |  ) WHERE rn <= $k
         |), ${px}t AS (
         |  SELECT CASE WHEN count(*) < $k THEN 18446744073709551616::HUGEINT
         |    ELSE max(hu) END AS tau FROM ${px}s
         |)""".stripMargin
    def pairChain(px: String, a: String, b: String, jn: String): String =
      s"""${px}tau AS (
         |  SELECT least(a.tau, b.tau) AS tau FROM ${a}t a, ${b}t b
         |), ${px}jj AS (
         |  SELECT coalesce(sum(x.cnt::HUGEINT * y.cnt::HUGEINT),
         |    0::HUGEINT) AS j
         |  FROM ${a}s x JOIN ${b}s y ON x.key = y.key
         |  CROSS JOIN ${px}tau t WHERE x.hu < t.tau
         |), ${px}x AS (
         |  SELECT coalesce(sum(x.cnt * y.cnt), 0)::BIGINT AS exact_pairs
         |  FROM ${a}g x JOIN ${b}g y ON x.key = y.key
         |), ${px}row AS (
         |  SELECT '$jn' AS join_name,
         |    ((j.j * 18446744073709551616::HUGEINT) // t.tau)::BIGINT
         |      AS est_pairs,
         |    x.exact_pairs
         |  FROM ${px}jj j, ${px}tau t, ${px}x x
         |)""".stripMargin
    s"""WITH ${sideChain("pca", "customer", "c_custkey")},
       |${sideChain("pcb", "orders", "o_custkey")},
       |${sideChain("pla", "orders", "o_orderkey")},
       |${sideChain("plb", "lineitem", "l_orderkey")},
       |${pairChain("p1", "pca", "pcb", "customer_orders")},
       |${pairChain("p2", "pla", "plb", "orders_lineitem")},
       |pall AS (
       |  SELECT * FROM p1row UNION ALL SELECT * FROM p2row
       |)
       |SELECT join_name, est_pairs, exact_pairs,
       |  row_number() OVER (ORDER BY est_pairs, join_name)::INT
       |    AS rank_by_est
       |FROM pall ORDER BY join_name""".stripMargin
  }

  /** q_stream_sample_matrix: the sealed-window emission rule + the
    * per-window bottom-k chain — cell-table bit-identity means the
    * rolled and direct columns pin to one replayed chain.
    */
  def streamSampleMatrixOracle(k: Int): String = {
    val grp = "(epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600"
    val sealedBase =
      s"""SELECT $grp AS grp, event_id
         |FROM events,
         |  (SELECT (epoch_ms(max(ts)) - 600000) * 1000 AS wm_us FROM events) wm
         |WHERE ($grp + 21600) * 1000000 <= wm.wm_us""".stripMargin
    s"""WITH ssmh AS MATERIALIZED (
       |  SELECT grp, event_id, h
       |  FROM (${smCols(sealedBase, ux("event_id"), "h", "ssms")})
       |), ssmr AS (
       |  SELECT grp, event_id,
       |    row_number() OVER (PARTITION BY grp ORDER BY h) AS rnk
       |  FROM ssmh
       |)
       |SELECT grp AS w_start, rnk::INT AS rnk, event_id,
       |  event_id AS event_id_direct
       |FROM ssmr WHERE rnk <= $k
       |ORDER BY w_start, rnk""".stripMargin
  }

  /** q_probe_join_size_windows_filtered: the per-window drift sheet
    * with a predicate-count leg — side A's chain carries cnt_hi, and
    * both the filtered and unfiltered estimates replay from the same
    * sampled key sets under the same per-window τ.
    */
  def probeJoinSizeWindowsFilteredOracle(k: Int): String = {
    val w = "(epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600"
    val aBase =
      s"""SELECT $w AS w_start, user_id AS key, count(*)::BIGINT AS cnt,
         |  count(CASE WHEN value >= 50 THEN 1 END)::BIGINT AS cnt_hi
         |FROM events WHERE event_type = 'view' GROUP BY 1, 2""".stripMargin
    val bBase =
      s"""SELECT $w AS w_start, user_id AS key, count(*)::BIGINT AS cnt
         |FROM events WHERE event_type = 'purchase' GROUP BY 1, 2""".stripMargin
    s"""WITH fwag AS MATERIALIZED ($aBase),
       |fwah AS (
       |  SELECT w_start, key, cnt, cnt_hi, hu
       |  FROM (${smCols("SELECT w_start, key, cnt, cnt_hi FROM fwag",
            ux("key"), "hu", "fwax")})
       |), fwas AS (
       |  SELECT w_start, key, cnt, cnt_hi, hu FROM (
       |    SELECT *, row_number() OVER (PARTITION BY w_start
       |      ORDER BY hu) AS rn FROM fwah
       |  ) WHERE rn <= $k
       |), fwat AS (
       |  SELECT w_start,
       |    CASE WHEN count(*) < $k THEN 18446744073709551616::HUGEINT
       |      ELSE max(hu) END AS tau
       |  FROM fwas GROUP BY w_start
       |), fwbg AS MATERIALIZED ($bBase),
       |fwbh AS (
       |  SELECT w_start, key, cnt, hu
       |  FROM (${smCols("SELECT w_start, key, cnt FROM fwbg",
            ux("key"), "hu", "fwbx")})
       |), fwbs AS (
       |  SELECT w_start, key, cnt, hu FROM (
       |    SELECT *, row_number() OVER (PARTITION BY w_start
       |      ORDER BY hu) AS rn FROM fwbh
       |  ) WHERE rn <= $k
       |), fwbt AS (
       |  SELECT w_start,
       |    CASE WHEN count(*) < $k THEN 18446744073709551616::HUGEINT
       |      ELSE max(hu) END AS tau
       |  FROM fwbs GROUP BY w_start
       |), fwtau AS (
       |  SELECT a.w_start, least(a.tau, b.tau) AS tau
       |  FROM fwat a JOIN fwbt b USING (w_start)
       |), fwjj AS (
       |  SELECT t.w_start,
       |    sum(a.cnt_hi::HUGEINT * b.cnt::HUGEINT) AS j_hi,
       |    sum(a.cnt::HUGEINT * b.cnt::HUGEINT) AS j_all
       |  FROM fwas a JOIN fwbs b USING (w_start, key)
       |  JOIN fwtau t ON t.w_start = a.w_start AND a.hu < t.tau
       |  GROUP BY t.w_start
       |), fwjx AS (
       |  SELECT a.w_start, sum(a.cnt_hi * b.cnt)::BIGINT AS exact_pairs_hi
       |  FROM fwag a JOIN fwbg b USING (w_start, key)
       |  GROUP BY a.w_start
       |)
       |SELECT t.w_start,
       |  ((coalesce(j.j_hi, 0::HUGEINT) * 18446744073709551616::HUGEINT)
       |    // t.tau)::BIGINT AS est_pairs_hi,
       |  ((coalesce(j.j_all, 0::HUGEINT) * 18446744073709551616::HUGEINT)
       |    // t.tau)::BIGINT AS est_pairs_all,
       |  coalesce(x.exact_pairs_hi, 0::BIGINT) AS exact_pairs_hi
       |FROM fwtau t
       |LEFT JOIN fwjj j ON j.w_start = t.w_start
       |LEFT JOIN fwjx x ON x.w_start = t.w_start
       |ORDER BY t.w_start""".stripMargin
  }

  /** q_sample_matrix: every axis of the (event_type × 6h-window) cell
    * table replayed from the raw events — per-window, per-type and
    * global bottom-k chains ranked by unsigned splitmix64(event_id);
    * bit-identity of the rolled-up sample means one chain per axis
    * pins both the rolled and the direct column.
    */
  def sampleMatrixOracle(k: Int): String = {
    val base = "SELECT event_type, " +
      "(epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600" +
      " AS w_start, event_id, user_id FROM events"
    s"""WITH smxb AS MATERIALIZED (
       |  SELECT event_type, w_start, event_id, user_id, h
       |  FROM (${smCols(base, ux("event_id"), "h", "smxs")})
       |), smxw AS (
       |  SELECT 'window' AS axis, w_start::VARCHAR AS grp,
       |    row_number() OVER (PARTITION BY w_start ORDER BY h) AS rnk,
       |    event_id, user_id
       |  FROM smxb
       |), smxt AS (
       |  SELECT 'type' AS axis, event_type AS grp,
       |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk,
       |    event_id, user_id
       |  FROM smxb
       |), smxg AS (
       |  SELECT 'global' AS axis, '*' AS grp,
       |    row_number() OVER (ORDER BY h) AS rnk, event_id, user_id
       |  FROM smxb
       |), smxu AS (
       |  SELECT * FROM smxw UNION ALL SELECT * FROM smxt
       |  UNION ALL SELECT * FROM smxg
       |)
       |SELECT axis, grp, rnk::INT AS rnk, event_id,
       |  event_id AS event_id_direct, user_id
       |FROM smxu WHERE rnk <= $k
       |ORDER BY axis, grp, rnk""".stripMargin
  }

  /** q_stream_sample_ingest: the sealed-window emission rule + the
    * per-window bottom-k event sample (rank by unsigned
    * splitmix64(event_id) within each 6h window) + per-window counts.
    */
  def streamSampleIngestOracle(k: Int): String = {
    val grp = "(epoch_us(date_trunc('microseconds', ts)) // 21600000000) * 21600"
    val sealedBase =
      s"""SELECT $grp AS grp, event_id, user_id
         |FROM events,
         |  (SELECT (epoch_ms(max(ts)) - 600000) * 1000 AS wm_us FROM events) wm
         |WHERE ($grp + 21600) * 1000000 <= wm.wm_us""".stripMargin
    s"""WITH ssih AS MATERIALIZED (
       |  SELECT grp, event_id, user_id, h
       |  FROM (${smCols(sealedBase, ux("event_id"), "h", "ssis")})
       |), ssir AS (
       |  SELECT grp, event_id, user_id,
       |    row_number() OVER (PARTITION BY grp ORDER BY h) AS rnk
       |  FROM ssih
       |), ssic AS (
       |  SELECT grp, count(*)::BIGINT AS n_events FROM ssih GROUP BY grp
       |)
       |SELECT c.grp AS w_start, r.rnk::INT AS rnk, r.event_id, r.user_id,
       |  c.n_events
       |FROM ssir r JOIN ssic c USING (grp)
       |WHERE r.rnk <= $k
       |ORDER BY w_start, rnk""".stripMargin
  }

  /** Signed-BIGINT DuckDB replay of `Sketches.stringHash64` — for gates
    * that hash STRING keys (group-keyed splits/sampling) outside this
    * file.
    */
  def stringHash64BigintSql(expr: String, seed: Long): String =
    sx(hashStrU(expr, seed))

  /** DuckDB replay of `Curation.importanceResample` over the documents
    * table (DSIR: hashed unigram+bigram buckets, integer-quantized
    * Laplace-smoothed log-likelihood-ratio weights, splitmix-Gumbel
    * top-k). `targetPred` selects the target-domain rows (a predicate
    * over the documents columns). Every float step mirrors the Spark
    * side's op order exactly; the only floats are the two `ln` calls per
    * BUCKET (not per row) and the per-doc Gumbel, all quantized to
    * integers with the same `floor(x·1e6 + 0.5)` before any comparison.
    */
  def dsirResampleOracle(k: Int, buckets: Int, seed: Long, targetPred: String): String = {
    val B = buckets
    def featShard(pred: String): String = {
      val bigrams = "CASE WHEN len(w) >= 2 THEN list_transform(range(len(w) - 1), " +
        "fb -> w[(fb+1)::INT] || ' ' || w[(fb+2)::INT]) ELSE []::VARCHAR[] END"
      val featRows =
        s"SELECT doc_id, source, unnest(list_concat(w, $bigrams)) AS f " +
          s"FROM (SELECT doc_id, source, ${toks("lower(text)")} AS w " +
          s"FROM documents WHERE doc_id $pred)"
      s"SELECT doc_id, source, ${sx("hu")} AS h " +
        s"FROM (${hashStrCols(featRows, "f", seed, 4, "hu", "dsf", Seq("doc_id", "source"))})"
    }
    val gumbel = smCols(
      "SELECT d.doc_id, coalesce(s.score, 0::BIGINT) AS score " +
        "FROM documents d LEFT JOIN dscore s ON d.doc_id = s.doc_id",
      ux(s"xor(doc_id, ${seed}::BIGINT)"), "gh", "dsg")
    s"""WITH bucketed AS MATERIALIZED (
       |  SELECT doc_id, source, CAST(((h % $B) + $B) % $B AS BIGINT) AS b
       |  FROM ${shardUnion(Shards, featShard)}
       |), per AS (
       |  SELECT coalesce(t.b, r.b) AS b, coalesce(t.ct, 0) AS ct, coalesce(r.cr, 0) AS cr
       |  FROM (SELECT b, count(*)::BIGINT AS ct FROM bucketed WHERE $targetPred GROUP BY b) t
       |  FULL OUTER JOIN (SELECT b, count(*)::BIGINT AS cr FROM bucketed GROUP BY b) r
       |    ON t.b = r.b
       |), tot AS (
       |  SELECT CAST(sum(ct) AS DOUBLE) AS tt, CAST(sum(cr) AS DOUBLE) AS tr FROM per
       |), lam AS (
       |  SELECT ab.b, CAST(floor(1000000.0 *
       |      (ln((coalesce(p.ct, 0) + 1.0) / (tot.tt + $B)) -
       |       ln((coalesce(p.cr, 0) + 1.0) / (tot.tr + $B))) + 0.5) AS BIGINT) AS lam
       |  FROM (SELECT unnest(range($B)) AS b) ab
       |  LEFT JOIN per p ON ab.b = p.b, tot
       |), dscore AS (
       |  SELECT doc_id, CAST(sum(l.lam) AS BIGINT) AS score
       |  FROM bucketed bk JOIN lam l ON bk.b = l.b GROUP BY doc_id
       |), keyed AS (
       |  SELECT doc_id, score,
       |    score + CAST(floor(1000000.0 * (-ln(-ln(
       |      ((gh // 2048::HUGEINT)::DOUBLE + 0.5) / 9007199254740992.0))) + 0.5) AS BIGINT)
       |      AS samp_key
       |  FROM ($gumbel)
       |)
       |SELECT doc_id, score, samp_key FROM (
       |  SELECT * FROM keyed ORDER BY samp_key DESC, doc_id LIMIT $k
       |) ORDER BY doc_id""".stripMargin
  }

  /** The OPQ structured-rotation replay (q_ann_opq): literal ±1 sign
    * diagonal (the SAME values `SimilaritySearch.opqSigns` computes —
    * splitmix64 parity, embedded at generation time), Sylvester
    * Hadamard sign via bit_count parity, identically-ordered inner fold
    * and the final /8 (= √64) division — bit-for-bit the Spark
    * `opqRotate` column.
    */
  private def opqRotCtes: String = {
    val signs = graft.operators.SimilaritySearch.opqSigns(64)
      .map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    s"""or_prep AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(0, 63), j ->
       |    list_sum(list_transform(generate_series(0, 63), i ->
       |      e0[(i + 1)::INT] * ($signs)[(i + 1)::INT] *
       |      (CASE WHEN (bit_count(i & j) & 1) = 0 THEN 1.0 ELSE -1.0 END)))
       |    / 8.0) AS e
       |  FROM (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e0 FROM embeddings)
       |)""".stripMargin
  }

  /** Parameterized IVF-PQ replay over a `(id, e DOUBLE[64])` CTE named
    * `base` — the [[annIvfPqOracle]] chain shape (two 32-dim PQ
    * subspaces; coarse cells / probes / PQ cells / sample cap / query
    * cutoff as given) with every CTE prefixed `px`, ending in
    * `<px>ranked (qid, nid, adist, rnk)`. Lets one oracle carry BOTH
    * the rotated and the plain chain.
    */
  private def ivfPqChainOver(px: String, base: String, nCells: Int = 4,
      nProbe: Int = 2, pqCells: Int = 4, cap: Int = 32, qMax: Int = 5,
      m: Int = 2): String = {
    require(64 % m == 0, s"m $m must divide 64")
    val w = 64 / m
    val subs = (0 until m).map { s =>
      s"""${px}s${s}_prep AS (SELECT id, e[${s * w + 1}:${(s + 1) * w}] AS e FROM $base),
         |${kmChain(s"${px}s${s}_", pqCells, cap)}""".stripMargin
    }.mkString(",\n")
    val codeCols = (0 until m).map(s => s"a$s.cell AS c$s").mkString(", ")
    val codeJoins = (1 until m)
      .map(s => s"JOIN ${px}s${s}_af a$s USING (id)").mkString(" ")
    val qds = (0 until m).map { s =>
      s"""${px}qd$s AS (
         |  SELECT q.id AS qid, c.cell, ${kmD2("q.e", "c.ce")} AS d
         |  FROM ${px}s${s}_prep q CROSS JOIN ${px}s${s}_cent2 c WHERE q.id < $qMax
         |)""".stripMargin
    }.mkString(", ")
    val dSum = (0 until m).map(s => s"q$s.d").mkString(" + ")
    val qdJoins = (0 until m)
      .map(s => s"JOIN ${px}qd$s q$s ON q$s.qid = p.qid AND q$s.cell = k.c$s")
      .mkString("\n  ")
    s"""${px}c_prep AS (SELECT id, e FROM $base),
       |${kmChain(s"${px}c_", nCells, cap)},
       |$subs,
       |${px}codes AS (
       |  SELECT a0.id, l.cell AS ivf_cell, $codeCols
       |  FROM ${px}s0_af a0 $codeJoins JOIN ${px}c_af l USING (id)
       |), ${px}probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT id, e FROM ${px}c_prep WHERE id < $qMax) q CROSS JOIN ${px}c_cent2 c
       |  ) WHERE rn <= $nProbe
       |), $qds, ${px}scored AS (
       |  SELECT p.qid, k.id AS nid, $dSum AS adist
       |  FROM ${px}probes p
       |  JOIN ${px}codes k ON k.ivf_cell = p.cell
       |  $qdJoins
       |  WHERE p.qid <> k.id
       |), ${px}ranked AS (
       |  SELECT qid, nid, adist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rnk
       |  FROM ${px}scored
       |)""".stripMargin
  }

  def annOpqOracle: String =
    s"""WITH $opqRotCtes, ${ivfPqChainOver("op_", "or_prep")}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM op_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** The RESIDUAL IVF-PQ (IVFADC) replay over a `(id, e DOUBLE[64])`
    * CTE `base`: the [[ivfPqChainOver]] shape with PQ trained on
    * x − centroid(cell(x)) and the query side computing a residual —
    * and so m distance tables — PER PROBED CELL. Ends in
    * `<px>ranked (qid, nid, adist, rnk)`.
    */
  private def ivfPqResidualChainOver(px: String, base: String,
      nCells: Int = 4, nProbe: Int = 2, pqCells: Int = 4, cap: Int = 32,
      qMax: Int = 5, m: Int = 2, encodeBase: Option[String] = None): String = {
    require(64 % m == 0, s"m $m must divide 64")
    val w = 64 / m
    // encodeBase: the streamed-maintenance shape — quantizers train on
    // `base` only, but EVERY row of `encodeBase` is encoded against
    // them (per-row, so the final index is batching-independent);
    // queries and probes come from the encode set too
    val enc = encodeBase.getOrElse(base)
    val subs = (0 until m).map { s =>
      s"""${px}s${s}_prep AS (SELECT id, e[${s * w + 1}:${(s + 1) * w}] AS e FROM ${px}tres),
         |${kmChain(s"${px}s${s}_", pqCells, cap)},
         |${px}s${s}_eprep AS (SELECT id, e[${s * w + 1}:${(s + 1) * w}] AS e FROM ${px}res),
         |${px}s${s}_eaf AS (${kmAssign(s"${px}s${s}_eprep", s"${px}s${s}_cent2")})""".stripMargin
    }.mkString(",\n")
    val codeCols = (0 until m).map(s => s"a$s.cell AS c$s").mkString(", ")
    val codeJoins = (1 until m)
      .map(s => s"JOIN ${px}s${s}_eaf a$s USING (id)").mkString(" ")
    val qds = (0 until m).map { s =>
      s"""${px}qd$s AS (
         |  SELECT r.qid, r.ivf_cell, c.cell, ${kmD2("r.e", "c.ce")} AS d
         |  FROM (SELECT qid, ivf_cell, e[${s * w + 1}:${(s + 1) * w}] AS e
         |        FROM ${px}qres) r
         |  CROSS JOIN ${px}s${s}_cent2 c
         |)""".stripMargin
    }.mkString(", ")
    val dSum = (0 until m).map(s => s"q$s.d").mkString(" + ")
    val qdJoins = (0 until m)
      .map(s => s"JOIN ${px}qd$s q$s ON q$s.qid = p.qid AND " +
        s"q$s.ivf_cell = p.cell AND q$s.cell = k.c$s")
      .mkString("\n  ")
    s"""${px}c_prep AS (SELECT id, e FROM $base),
       |${kmChain(s"${px}c_", nCells, cap)},
       |${px}e_prep AS (SELECT id, e FROM $enc),
       |${px}eaf AS (${kmAssign(s"${px}e_prep", s"${px}c_cent2")}),
       |${px}tres AS MATERIALIZED (
       |  SELECT af.id, af.cell AS ivf_cell,
       |    list_transform(generate_series(1, 64), i -> af.e[i::INT] - c.ce[i::INT]) AS e
       |  FROM ${px}c_af af JOIN ${px}c_cent2 c USING (cell)
       |),
       |${px}res AS MATERIALIZED (
       |  SELECT af.id, af.cell AS ivf_cell,
       |    list_transform(generate_series(1, 64), i -> af.e[i::INT] - c.ce[i::INT]) AS e
       |  FROM ${px}eaf af JOIN ${px}c_cent2 c USING (cell)
       |),
       |$subs,
       |${px}codes AS (
       |  SELECT a0.id, r.ivf_cell, $codeCols
       |  FROM ${px}s0_eaf a0 $codeJoins
       |  JOIN ${px}res r ON r.id = a0.id
       |), ${px}probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT id, e FROM ${px}e_prep WHERE id < $qMax) q CROSS JOIN ${px}c_cent2 c
       |  ) WHERE rn <= $nProbe
       |), ${px}qres AS (
       |  SELECT p.qid, p.cell AS ivf_cell,
       |    list_transform(generate_series(1, 64), i -> q.e[i::INT] - c.ce[i::INT]) AS e
       |  FROM ${px}probes p JOIN ${px}e_prep q ON q.id = p.qid
       |  JOIN ${px}c_cent2 c ON c.cell = p.cell
       |), $qds, ${px}scored AS (
       |  SELECT p.qid, k.id AS nid, $dSum AS adist
       |  FROM ${px}probes p
       |  JOIN ${px}codes k ON k.ivf_cell = p.cell
       |  $qdJoins
       |  WHERE p.qid <> k.id
       |), ${px}ranked AS (
       |  SELECT qid, nid, adist,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS INT) AS rnk
       |  FROM ${px}scored
       |)""".stripMargin
  }

  /** q_ann_ivfpq_residual: the residual chain's exact top-3 on the raw
    * embeddings at the q_ann_ivfpq budget.
    */
  def annIvfPqResidualOracle: String =
    s"""WITH rp_base AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), ${ivfPqResidualChainOver("rp_", "rp_base")}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM rp_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_ivfpq_residual_refine: the IVFADC + refine cascade — the
    * residual chain's 10-wide ADC shortlist, exact cosine rescore of
    * shortlist ids only, top-3 by true similarity.
    */
  def annIvfPqResidualRefineOracle: String =
    s"""WITH rf_base AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), ${ivfPqResidualChainOver("rf_", "rf_base")},
       |rf_n AS (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM rf_base
       |), rf_short AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
       |    FROM rf_scored
       |  ) WHERE rn <= 10
       |), rf_exact AS (
       |  SELECT s.qid, s.nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * c.e[i]))
       |      / (q.nrm * c.nrm) AS sim
       |  FROM rf_short s
       |  JOIN rf_n q ON q.id = s.qid
       |  JOIN rf_n c ON c.id = s.nid
       |)
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM rf_exact
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_matryoshka: prefix-cosine shortlist (first 16 of 64 dims,
    * refine = 12) + full-dim exact rescore, top-3.
    */
  private def matryoshkaCtes(prefixDim: Int, refine: Int,
      qMax: Int): String =
    s"""mk_full AS MATERIALIZED (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM (
       |    SELECT vec_id AS id, list_transform(generate_series(0, 63), i ->
       |      CAST(embedding AS DOUBLE[])[(i + 1)::INT] *
       |        (CASE WHEN i < 32 THEN 4.0 ELSE 0.25 END)) AS e
       |    FROM embeddings)
       |), mk_pre AS MATERIALIZED (
       |  SELECT id, pe AS e, sqrt(list_sum(list_transform(pe, x -> x * x))) AS nrm
       |  FROM (SELECT id, e[1:$prefixDim] AS pe FROM mk_full)
       |), mk_short AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM mk_pre WHERE id < $qMax) q
       |    JOIN mk_pre a ON a.id <> q.id
       |  ) WHERE rn <= $refine
       |), mk_exact AS (
       |  SELECT s.qid, s.nid,
       |    list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * c.e[i]))
       |      / (q.nrm * c.nrm) AS sim
       |  FROM mk_short s
       |  JOIN mk_full q ON q.id = s.qid
       |  JOIN mk_full c ON c.id = s.nid
       |), mk_ranked AS (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM mk_exact
       |)""".stripMargin

  def annMatryoshkaOracle: String =
    s"""WITH ${matryoshkaCtes(16, 12, 5)}
       |SELECT qid, nid, round(sim, 6) AS sim, rnk
       |FROM mk_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_matryoshka_audit: prefix-only vs rescored vs full brute. */
  def annMatryoshkaAuditOracle: String =
    s"""WITH ${matryoshkaCtes(16, 12, 20)},
       |mk_pretop AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM mk_pre WHERE id < 20) q
       |    JOIN mk_pre a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), mk_br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM mk_full WHERE id < 20) q
       |    JOIN mk_full a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), hp AS (SELECT count(*)::BIGINT AS h FROM mk_pretop JOIN mk_br USING (qid, nid)),
       |hr AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM mk_ranked WHERE rnk <= 3) JOIN mk_br USING (qid, nid)),
       |nqm AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM mk_br)
       |SELECT nqm.n AS n_queries, CAST(3 AS INT) AS k,
       |  CAST(16 AS INT) AS prefix_dim, CAST(12 AS INT) AS refine,
       |  hp.h AS hits_prefix,
       |  CAST(hp.h * 1000 // (3 * nqm.n) AS BIGINT) AS recall_prefix_milli,
       |  hr.h AS hits_rescored,
       |  CAST(hr.h * 1000 // (3 * nqm.n) AS BIGINT) AS recall_rescored_milli
       |FROM hp, hr, nqm""".stripMargin

  /** q_ann_ivfpq_stream_index: the streaming-maintained residual
    * index — coarse centroids AND residual codebooks trained on the
    * base slice only (vec_id < 250, the build input), EVERY vector
    * residual-encoded against those fixed quantizers (streamed appends
    * are per-row encodes, so the final index content is
    * batching-independent), ADC search replayed over the union.
    */
  def annResidualStreamIndexOracle: String =
    s"""WITH rs_train AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings WHERE vec_id < 250
       |), rs_all AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), ${ivfPqResidualChainOver("rs_", "rs_train", nCells = 8,
          nProbe = 3, pqCells = 4, cap = 32, qMax = 5, m = 2,
          encodeBase = Some("rs_all"))}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM rs_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_ivfpq_residual_cosine: the stored normalize knob through
    * the residual tier — the full residual chain over the
    * unit-normalized fixture (the gate's queries enter raw; the meta
    * flag applies the transform), exact top-3 by ADC.
    */
  def annIvfPqResidualCosineOracle: String =
    s"""WITH $p3BaseUnitCtes,
       |${ivfPqResidualChainOver("rc_", "p3_unit", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20, m = 4)}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM rc_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_ivfpq_residual_audit: residual vs absolute coding at the
    * SAME budget on the clustered norm-spread fixture, both vs exact
    * L2 brute force (the metric both ADC chains approximate).
    */
  def annIvfPqResidualAuditOracle: String =
    s"""WITH $p3BaseUnitCtes,
       |${ivfPqChainOver("ra_", "p3_base", nCells = 8, nProbe = 8,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${ivfPqResidualChainOver("rr_", "p3_base", nCells = 8, nProbe = 8,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |rb_top AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)),
       |          i -> (q.e[i] - a.e[i]) * (q.e[i] - a.e[i]))), a.id) AS rn
       |    FROM (SELECT * FROM p3_base WHERE id < 20) q
       |    JOIN p3_base a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |),
       |hp AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM ra_ranked WHERE rnk <= 3) JOIN rb_top USING (qid, nid)),
       |hs AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM rr_ranked WHERE rnk <= 3) JOIN rb_top USING (qid, nid)),
       |nqr AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM rb_top)
       |SELECT nqr.n AS n_queries, CAST(3 AS INT) AS k,
       |  hp.h AS hits_plain,
       |  CAST(hp.h * 1000 // (3 * nqr.n) AS BIGINT) AS recall_plain_milli,
       |  hs.h AS hits_residual,
       |  CAST(hs.h * 1000 // (3 * nqr.n) AS BIGINT) AS recall_residual_milli
       |FROM hp, hs, nqr""".stripMargin

  /** The variance-permutation (learned OPQ) replay: anisotropic fixture
    * (dims 0–31 ×4.0, 32–63 ×0.25 — exact powers of two, so the scaled
    * doubles are bit-identical on both engines), per-dim integer
    * variance proxies Σ floor(v²·10⁶+0.5), rank (q desc, pos asc),
    * serpentine allocation to the two 32-dim PQ subspaces (t = r//2,
    * s = r%2 flipped on odd rounds, slot j = s·32 + t), permuted
    * vectors — exactly `SimilaritySearch.variancePermutation`.
    */
  private def varPermCtes: String =
    s"""vx_prep AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(generate_series(0, 63), i ->
       |    CAST(embedding AS DOUBLE[])[(i + 1)::INT] *
       |      (CASE WHEN i < 32 THEN 4.0 ELSE 0.25 END)) AS e
       |  FROM embeddings
       |), vp_q AS (
       |  SELECT pos, sum(CAST(floor(v * v * 1000000.0 + 0.5) AS BIGINT)) AS q
       |  FROM (SELECT unnest(range(0, 64)) AS pos, unnest(e) AS v FROM vx_prep)
       |  GROUP BY pos
       |), vp_rank AS (
       |  SELECT pos, row_number() OVER (ORDER BY q DESC, pos) - 1 AS r FROM vp_q
       |), vp_map AS (
       |  SELECT (CASE WHEN (r // 2) % 2 = 0 THEN r % 2 ELSE 1 - (r % 2) END) * 32
       |    + (r // 2) AS j, pos
       |  FROM vp_rank
       |), vp_perm AS (SELECT list(pos ORDER BY j) AS p FROM vp_map),
       |vp_prep AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(1, 64), j ->
       |    e[(p[j] + 1)::INT]) AS e
       |  FROM vx_prep, vp_perm
       |)""".stripMargin

  /** [[varPermCtes]] generalized: the serpentine variance permutation
    * over an arbitrary `(id, e DOUBLE[64])` CTE at `m` subspaces —
    * produces `${px}prep` (the permuted base). Matches
    * `SimilaritySearch.variancePermutation`'s (q desc, pos) rank and
    * s·dsub+t slot formula for any m.
    */
  private def varPermCtesOver(px: String, base: String, m: Int): String = {
    val dsub = 64 / m
    s"""${px}q AS (
       |  SELECT pos, sum(CAST(floor(v * v * 1000000.0 + 0.5) AS BIGINT)) AS q
       |  FROM (SELECT unnest(range(0, 64)) AS pos, unnest(e) AS v FROM $base)
       |  GROUP BY pos
       |), ${px}rank AS (
       |  SELECT pos, row_number() OVER (ORDER BY q DESC, pos) - 1 AS r FROM ${px}q
       |), ${px}map AS (
       |  SELECT (CASE WHEN (r // $m) % 2 = 0 THEN r % $m ELSE ($m - 1) - (r % $m) END) * $dsub
       |    + (r // $m) AS j, pos
       |  FROM ${px}rank
       |), ${px}permv AS (SELECT list(pos ORDER BY j) AS p FROM ${px}map),
       |${px}prep AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(1, 64), j ->
       |    e[(p[j] + 1)::INT]) AS e
       |  FROM $base, ${px}permv
       |)""".stripMargin
  }

  /** The mixed-pathology fixture for the OPQ×IVFADC gates: the
    * three-oblique cluster structure SCALED anisotropically (dims 0–31
    * ×4.0, 32–63 ×0.25) — subspace-variance imbalance AND cluster
    * means in one corpus, so each fix has something real and
    * independent to repair.
    */
  private def opqResidualBaseCte: String =
    s"""mx_base AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(0, 63), i ->
       |    e0[(i + 1)::INT] * (CASE WHEN i < 32 THEN 4.0 ELSE 0.25 END)) AS e
       |  FROM (
       |    SELECT vec_id AS id, list_transform(generate_series(1, 64), j ->
       |      CAST(embedding AS DOUBLE[])[j::INT]
       |        + 8.0 * CAST(embedding AS DOUBLE[])[1]
       |        + (CASE WHEN (j - 1) % 2 = 0 THEN 4.0 ELSE -4.0 END)
       |            * CAST(embedding AS DOUBLE[])[2]
       |        + (CASE WHEN (j - 1) % 4 < 2 THEN 2.0 ELSE -2.0 END)
       |            * CAST(embedding AS DOUBLE[])[3]) AS e0
       |    FROM embeddings)
       |)""".stripMargin

  /** q_ann_opq_residual: rotate-then-residual-encode (FAISS's
    * OPQ,IVF,PQ factory) — the serpentine permutation over the mixed
    * fixture, then the full residual chain in the permuted basis.
    */
  def annOpqResidualOracle: String =
    s"""WITH $opqResidualBaseCte,
       |${varPermCtesOver("mo_", "mx_base", 4)},
       |${ivfPqResidualChainOver("mr_", "mo_prep", nCells = 8, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 5, m = 4)}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM mr_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_opq_residual_audit: the composition's four quadrants —
    * plain / permuted / residual / both at one budget, all vs exact
    * L2 brute force on the mixed fixture.
    */
  def annOpqResidualAuditOracle: String =
    s"""WITH $opqResidualBaseCte,
       |${varPermCtesOver("mo_", "mx_base", 4)},
       |${ivfPqChainOver("ma_", "mx_base", nCells = 8, nProbe = 8,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${ivfPqChainOver("mb_", "mo_prep", nCells = 8, nProbe = 8,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${ivfPqResidualChainOver("mc_", "mx_base", nCells = 8, nProbe = 8,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${ivfPqResidualChainOver("md_", "mo_prep", nCells = 8, nProbe = 8,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |mx_l2 AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)),
       |          i -> (q.e[i] - a.e[i]) * (q.e[i] - a.e[i]))), a.id) AS rn
       |    FROM (SELECT * FROM mx_base WHERE id < 20) q
       |    JOIN mx_base a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |),
       |ha AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM ma_ranked WHERE rnk <= 3) JOIN mx_l2 USING (qid, nid)),
       |hb AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM mb_ranked WHERE rnk <= 3) JOIN mx_l2 USING (qid, nid)),
       |hc AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM mc_ranked WHERE rnk <= 3) JOIN mx_l2 USING (qid, nid)),
       |hd AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM md_ranked WHERE rnk <= 3) JOIN mx_l2 USING (qid, nid)),
       |nqo AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM mx_l2)
       |SELECT nqo.n AS n_queries, CAST(3 AS INT) AS k,
       |  ha.h AS hits_plain,
       |  CAST(ha.h * 1000 // (3 * nqo.n) AS BIGINT) AS recall_plain_milli,
       |  hb.h AS hits_perm,
       |  CAST(hb.h * 1000 // (3 * nqo.n) AS BIGINT) AS recall_perm_milli,
       |  hc.h AS hits_residual,
       |  CAST(hc.h * 1000 // (3 * nqo.n) AS BIGINT) AS recall_residual_milli,
       |  hd.h AS hits_both,
       |  CAST(hd.h * 1000 // (3 * nqo.n) AS BIGINT) AS recall_both_milli
       |FROM ha, hb, hc, hd, nqo""".stripMargin

  def annVarPermOracle: String =
    s"""WITH $varPermCtes, ${ivfPqChainOver("vpp_", "vp_prep", nCells = 4,
          nProbe = 4, pqCells = 16, cap = 64, qMax = 20)}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM vpp_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** The mixed fixture's unit-normalized twin (`p3_unit` discipline
    * over `mx_base`) — shared by the permuted tiers' cosine oracles.
    */
  private def mxUnitCte: String =
    s"""mx_unit AS MATERIALIZED (
       |  SELECT id, list_transform(e, x ->
       |    x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
       |  FROM mx_base
       |)""".stripMargin

  /** q_ann_varperm_cosine: the perm_meta normalize knob's exact gate —
    * unit-normalize FIRST (original coordinate order), derive the
    * serpentine permutation from the UNIT vectors, then the standard
    * IVF-PQ chain in the permuted basis. The gate's queries enter raw;
    * `buildIvfPqIndex(normalize = true, rotation = Some(VarPerm(64)))`
    * records the flag and `ivfPqKnnIndexed` applies the identical
    * transform.
    */
  def annVarPermCosineOracle: String =
    s"""WITH $opqResidualBaseCte, $mxUnitCte,
       |${varPermCtesOver("vc_", "mx_unit", 4)},
       |${ivfPqChainOver("vcp_", "vc_prep", nCells = 8, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 5, m = 4)}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM vcp_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_varperm_cosine_audit: raw vs unit-normalized varperm chains
    * at the SAME budget (each derives its own permutation from the
    * vectors it codes), both vs exact cosine brute force on the mixed
    * fixture.
    */
  def annVarPermCosineAuditOracle: String =
    s"""WITH $opqResidualBaseCte, $mxUnitCte,
       |${varPermCtesOver("wr_", "mx_base", 4)},
       |${varPermCtesOver("wn_", "mx_unit", 4)},
       |${ivfPqChainOver("wra_", "wr_prep", nCells = 8, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${ivfPqChainOver("wna_", "wn_prep", nCells = 8, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${cosineBruteCte("mx_br", "mx_base", "mxb_")},
       |wh_r AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM wra_ranked WHERE rnk <= 3) JOIN mx_br USING (qid, nid)),
       |wh_n AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM wna_ranked WHERE rnk <= 3) JOIN mx_br USING (qid, nid)),
       |wnq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM mx_br)
       |SELECT wnq.n AS n_queries, CAST(3 AS INT) AS k,
       |  wh_r.h AS hits_raw,
       |  CAST(wh_r.h * 1000 // (3 * wnq.n) AS BIGINT) AS recall_raw_milli,
       |  wh_n.h AS hits_norm,
       |  CAST(wh_n.h * 1000 // (3 * wnq.n) AS BIGINT) AS recall_norm_milli
       |FROM wh_r, wh_n, wnq""".stripMargin

  /** q_ann_opq_residual_cosine: the composed OPQ×IVFADC tier under the
    * stored normalize knob — unit vectors, permutation derived from
    * them, residual coding in the permuted basis; raw queries enter
    * and the stored perm_meta drives the preprocessing.
    */
  def annOpqResidualCosineOracle: String =
    s"""WITH $opqResidualBaseCte, $mxUnitCte,
       |${varPermCtesOver("oc_", "mx_unit", 4)},
       |${ivfPqResidualChainOver("ocr_", "oc_prep", nCells = 8, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 5, m = 4)}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM ocr_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_varperm_audit: permuted and plain IVF-PQ chains at equal
    * budget over the anisotropic fixture, both scored against exact
    * brute-force top-3 in the same (scaled) space.
    */
  def annVarPermAuditOracle: String =
    s"""WITH $varPermCtes,
       |${ivfPqChainOver("vpl_", "vx_prep", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20)},
       |${ivfPqChainOver("vpp_", "vp_prep", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20)},
       |vx_n AS (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM vx_prep
       |), vx_br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM vx_n WHERE id < 20) q
       |    JOIN vx_n a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), hp AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM vpl_ranked WHERE rnk <= 3) JOIN vx_br USING (qid, nid)),
       |ho AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM vpp_ranked WHERE rnk <= 3) JOIN vx_br USING (qid, nid)),
       |nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM vx_br)
       |SELECT nq.n AS n_queries, CAST(3 AS INT) AS k,
       |  hp.h AS hits_plain,
       |  CAST(hp.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_plain_milli,
       |  ho.h AS hits_perm,
       |  CAST(ho.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_perm_milli
       |FROM hp, ho, nq""".stripMargin

  /** The PCA-rotation replay (q_ann_pca): oblique-anisotropy fixture
    * (every dim sheared by +4·dim1, so the dominant variance direction
    * is the all-ones diagonal and every AXIS variance is equal — the
    * permutation's blind spot), then `SimilaritySearch.powerDirection`'s
    * integer power iteration re-derived round by round (per-row double
    * fold x·v with the previous round's integer v, per-dim exact
    * integer sums of floor(x_d·(x·v)+0.5), truncating-division
    * renormalization), the Householder u (cancellation-safe sign,
    * integer √), the exact reflection, and the standard IVF-PQ chain
    * over the rotated basis.
    */
  private def pcaPowerCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { r =>
      val (from, vref) =
        if (r == 1) ("px_prep", "1000000.0")
        else (s"px_prep, pw_v${r - 1}", s"v[j]")
      s"""pw_s$r AS MATERIALIZED (
         |  SELECT pos, sum(CAST(floor(x * dt + 0.5) AS BIGINT)) AS s
         |  FROM (
         |    SELECT unnest(range(0, 64)) AS pos, unnest(e) AS x,
         |      list_sum(list_transform(generate_series(1, 64),
         |        j -> e[j::INT] * $vref)) AS dt
         |    FROM $from
         |  ) GROUP BY pos
         |), pw_v$r AS MATERIALIZED (
         |  SELECT list(CASE WHEN s >= 0 THEN s // g
         |    ELSE -((-s) // g) END ORDER BY pos) AS v
         |  FROM pw_s$r, (SELECT greatest(1, max(abs(s)) // 1000000) AS g
         |    FROM pw_s$r)
         |)""".stripMargin
    }.mkString(",\n")
    s"""px_prep AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(generate_series(1, 64), j ->
       |    CAST(embedding AS DOUBLE[])[j::INT] +
       |      4.0 * CAST(embedding AS DOUBLE[])[1]) AS e
       |  FROM embeddings
       |),
       |$iterCtes, pw_l AS (
       |  SELECT CAST(floor(sqrt(CAST(list_sum(list_transform(v, z -> z * z))
       |    AS DOUBLE))) AS BIGINT) AS l
       |  FROM pw_v$iters
       |), pw_u AS (
       |  SELECT list_transform(generate_series(1, 64), j ->
       |    CASE WHEN j = 1 THEN v[1] + (CASE WHEN v[1] >= 0 THEN l ELSE -l END)
       |    ELSE v[j::INT] END) AS u
       |  FROM pw_v$iters, pw_l
       |), pw_uu AS (
       |  SELECT CAST(list_sum(list_transform(u, z -> z * z)) AS DOUBLE) AS uu
       |  FROM pw_u
       |), pw_prep AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(1, 64), d ->
       |    e[d::INT] - (2.0 * ux / uu) * u[d::INT]) AS e
       |  FROM (
       |    SELECT id, e, u, list_sum(list_transform(generate_series(1, 64),
       |      j -> e[j::INT] * u[j::INT])) AS ux
       |    FROM px_prep, pw_u
       |  ), pw_uu
       |)""".stripMargin
  }

  /** The variance-permutation machinery over an arbitrary (id, e) CTE —
    * [[varPermCtes]] generalized for the PCA audit's perm-vs-pca
    * comparison on the sheared fixture.
    */
  private def varPermOver(p: String, src: String): String =
    s"""${p}q AS (
       |  SELECT pos, sum(CAST(floor(v * v * 1000000.0 + 0.5) AS BIGINT)) AS q
       |  FROM (SELECT unnest(range(0, 64)) AS pos, unnest(e) AS v FROM $src)
       |  GROUP BY pos
       |), ${p}rank AS (
       |  SELECT pos, row_number() OVER (ORDER BY q DESC, pos) - 1 AS r FROM ${p}q
       |), ${p}map AS (
       |  SELECT (CASE WHEN (r // 2) % 2 = 0 THEN r % 2 ELSE 1 - (r % 2) END) * 32
       |    + (r // 2) AS j, pos
       |  FROM ${p}rank
       |), ${p}perm AS (SELECT list(pos ORDER BY j) AS p FROM ${p}map),
       |${p}prep AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(1, 64), j ->
       |    e[(p[j] + 1)::INT]) AS e
       |  FROM $src, ${p}perm
       |)""".stripMargin

  def annPcaOracle: String =
    s"""WITH ${pcaPowerCtes(4)}, ${ivfPqChainOver("pc_", "pw_prep",
          nCells = 4, nProbe = 4, pqCells = 16, cap = 64, qMax = 20)}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM pc_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_pca_audit: PCA-rotated and variance-permuted IVF-PQ chains
    * at equal budget over the sheared fixture, both vs exact brute
    * force — the rotation must beat the permutation where the
    * anisotropy is oblique.
    */
  def annPcaAuditOracle: String =
    s"""WITH ${pcaPowerCtes(4)},
       |${ivfPqChainOver("pc_", "pw_prep", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20)},
       |${varPermOver("qp_", "px_prep")},
       |${ivfPqChainOver("qpp_", "qp_prep", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20)},
       |px_n AS (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM px_prep
       |), px_br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM px_n WHERE id < 20) q
       |    JOIN px_n a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), hq AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM qpp_ranked WHERE rnk <= 3) JOIN px_br USING (qid, nid)),
       |hc AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM pc_ranked WHERE rnk <= 3) JOIN px_br USING (qid, nid)),
       |nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM px_br)
       |SELECT nq.n AS n_queries, CAST(3 AS INT) AS k,
       |  hq.h AS hits_perm,
       |  CAST(hq.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_perm_milli,
       |  hc.h AS hits_pca,
       |  CAST(hc.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_pca_milli
       |FROM hq, hc, nq""".stripMargin

  /** One integer power chain over `src` with the Householder pinned at
    * `pivot` (1-indexed in SQL): `{p}s$r`/`{p}v$r` iteration rounds,
    * then `{p}l`/`{p}u`/`{p}uu` — [[pcaPowerCtes]]'s machinery
    * parameterized for the two-component composition (q_ann_pca2).
    */
  private def powerUCtes(p: String, src: String, iters: Int, pivot: Int): String = {
    val iterCtes = (1 to iters).map { r =>
      val (from, vref) =
        if (r == 1) (src, "1000000.0")
        else (s"$src, ${p}v${r - 1}", "v[j]")
      s"""${p}s$r AS MATERIALIZED (
         |  SELECT pos, sum(CAST(floor(x * dt + 0.5) AS BIGINT)) AS s
         |  FROM (
         |    SELECT unnest(range(0, 64)) AS pos, unnest(e) AS x,
         |      list_sum(list_transform(generate_series(1, 64),
         |        j -> e[j::INT] * $vref)) AS dt
         |    FROM $from
         |  ) GROUP BY pos
         |), ${p}v$r AS MATERIALIZED (
         |  SELECT list(CASE WHEN s >= 0 THEN s // g
         |    ELSE -((-s) // g) END ORDER BY pos) AS v
         |  FROM ${p}s$r, (SELECT greatest(1, max(abs(s)) // 1000000) AS g
         |    FROM ${p}s$r)
         |)""".stripMargin
    }.mkString(",\n")
    s"""$iterCtes, ${p}l AS (
       |  SELECT CAST(floor(sqrt(CAST(list_sum(list_transform(v, z -> z * z))
       |    AS DOUBLE))) AS BIGINT) AS l
       |  FROM ${p}v$iters
       |), ${p}u AS (
       |  SELECT list_transform(generate_series(1, 64), j ->
       |    CASE WHEN j = $pivot
       |      THEN v[$pivot] + (CASE WHEN v[$pivot] >= 0 THEN l ELSE -l END)
       |    ELSE v[j::INT] END) AS u
       |  FROM ${p}v$iters, ${p}l
       |), ${p}uu AS (
       |  SELECT CAST(list_sum(list_transform(u, z -> z * z)) AS DOUBLE) AS uu
       |  FROM ${p}u
       |)""".stripMargin
  }

  /** Apply `{uP}u`'s exact reflection to `src` as CTE `name`. */
  private def reflectCteOver(name: String, src: String, uP: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(1, 64), d ->
       |    e[d::INT] - (2.0 * ux / uu) * u[d::INT]) AS e
       |  FROM (
       |    SELECT id, e, u, list_sum(list_transform(generate_series(1, 64),
       |      j -> e[j::INT] * u[j::INT])) AS ux
       |    FROM $src, ${uP}u
       |  ), ${uP}uu
       |)""".stripMargin

  /** The two-component composition (q_ann_pca2): the TWO-oblique
    * fixture (+4·dim1 all-ones AND +2·dim2 alternating-sign), first
    * power chain + reflection onto e₁, dim-1 mask (SQL 1-indexed) so
    * the residual chain cannot see the isolated component, second
    * power chain + reflection onto e₂ applied to the UNMASKED
    * once-reflected vectors (u₂[1] = 0 ⇒ H₂ fixes e₁).
    */
  private def pca2Ctes: String =
    s"""p2_base AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(generate_series(1, 64), j ->
       |    CAST(embedding AS DOUBLE[])[j::INT]
       |      + 4.0 * CAST(embedding AS DOUBLE[])[1]
       |      + (CASE WHEN (j - 1) % 2 = 0 THEN 2.0 ELSE -2.0 END)
       |          * CAST(embedding AS DOUBLE[])[2]) AS e
       |  FROM embeddings
       |),
       |${powerUCtes("pa_", "p2_base", 4, 1)},
       |${reflectCteOver("pa_prep", "p2_base", "pa_")},
       |p2_mask AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(1, 64), d ->
       |    CASE WHEN d = 1 THEN 0.0 ELSE e[d::INT] END) AS e
       |  FROM pa_prep
       |),
       |${powerUCtes("pb_", "p2_mask", 4, 2)},
       |${reflectCteOver("p2_rot", "pa_prep", "pb_")}""".stripMargin

  def annPca2Oracle: String =
    s"""WITH $pca2Ctes, ${ivfPqChainOver("pd_", "p2_rot",
          nCells = 4, nProbe = 4, pqCells = 16, cap = 64, qMax = 20)}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM pd_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_pca2_audit: one- vs two-reflection chains at equal budget
    * over the two-direction fixture, both vs exact brute force —
    * recall_pca2 must exceed recall_pca1.
    */
  def annPca2AuditOracle: String =
    s"""WITH $pca2Ctes,
       |${ivfPqChainOver("pd_", "p2_rot", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20)},
       |${ivfPqChainOver("pe_", "pa_prep", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20)},
       |p2_n AS (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM p2_base
       |), p2_br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM p2_n WHERE id < 20) q
       |    JOIN p2_n a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), h1 AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM pe_ranked WHERE rnk <= 3) JOIN p2_br USING (qid, nid)),
       |h2 AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM pd_ranked WHERE rnk <= 3) JOIN p2_br USING (qid, nid)),
       |nqa AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM p2_br)
       |SELECT nqa.n AS n_queries, CAST(3 AS INT) AS k,
       |  h1.h AS hits_pca1,
       |  CAST(h1.h * 1000 // (3 * nqa.n) AS BIGINT) AS recall_pca1_milli,
       |  h2.h AS hits_pca2,
       |  CAST(h2.h * 1000 // (3 * nqa.n) AS BIGINT) AS recall_pca2_milli
       |FROM h1, h2, nqa""".stripMargin

  /** The three-component composition (q_ann_pca3): the THREE-oblique
    * norm-spread fixture (+8·dim1 all-ones, +4·dim2 alternating ±,
    * +2·dim3 period-4 ++−−), UNIT-NORMALIZED row-locally, then one
    * power chain + reflection per component with the already-isolated
    * PIVOT positions masked before each residual chain — the
    * [[pca2Ctes]] deflation with variance-BALANCED pivots 1/17/33
    * (SQL 1-indexed; one isolated component per 16-dim PQ subspace at
    * m = 4). H₃∘H₂∘H₁ is applied as three sequential exact
    * reflections, term-identical to the Scala side's single
    * HouseholderChain pass over the normalized vectors.
    */
  private def pca3Ctes: String =
    s"""p3_base AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(generate_series(1, 64), j ->
       |    CAST(embedding AS DOUBLE[])[j::INT]
       |      + 8.0 * CAST(embedding AS DOUBLE[])[1]
       |      + (CASE WHEN (j - 1) % 2 = 0 THEN 4.0 ELSE -4.0 END)
       |          * CAST(embedding AS DOUBLE[])[2]
       |      + (CASE WHEN (j - 1) % 4 < 2 THEN 2.0 ELSE -2.0 END)
       |          * CAST(embedding AS DOUBLE[])[3]) AS e
       |  FROM embeddings
       |),
       |p3_unit AS MATERIALIZED (
       |  SELECT id, list_transform(e, x ->
       |    x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
       |  FROM p3_base
       |),
       |${powerUCtes("ta_", "p3_unit", 4, 1)},
       |${reflectCteOver("ta_prep", "p3_unit", "ta_")},
       |p3_m1 AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(1, 64), d ->
       |    CASE WHEN d = 1 THEN 0.0 ELSE e[d::INT] END) AS e
       |  FROM ta_prep
       |),
       |${powerUCtes("tb_", "p3_m1", 4, 17)},
       |${reflectCteOver("tb_prep", "ta_prep", "tb_")},
       |p3_m2 AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(1, 64), d ->
       |    CASE WHEN d = 1 OR d = 17 THEN 0.0 ELSE e[d::INT] END) AS e
       |  FROM tb_prep
       |),
       |${powerUCtes("tc_", "p3_m2", 4, 33)},
       |${reflectCteOver("p3_rot", "tb_prep", "tc_")}""".stripMargin

  def annPca3Oracle: String =
    s"""WITH $pca3Ctes, ${ivfPqChainOver("pg_", "p3_rot",
          nCells = 4, nProbe = 4, pqCells = 16, cap = 64, qMax = 20, m = 4)}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM pg_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** The k-generic deflation chain over a `(id, e DOUBLE[64])` CTE
    * `unit`: per component — mask the already-isolated pivot
    * positions, one [[powerUCtes]] power chain at the component's
    * pivot (1-indexed), one exact reflection of the UNMASKED running
    * rotation — producing `${px}rot1` … `${px}rot<k>` (the corpus
    * after 1..k reflections; intermediate rotations are exactly the
    * shorter chains' outputs, so one derivation serves every k
    * prefix).
    */
  private def pcaChainKCtes(px: String, unit: String,
      pivots: Seq[Int]): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = unit
    for ((pv, i) <- pivots.zipWithIndex) {
      val chainP = s"${px}c${i}_"
      if (i == 0) parts += powerUCtes(chainP, cur, 4, pv)
      else {
        val maskName = s"${px}m$i"
        val isolated = pivots.take(i).map(p => s"d = $p").mkString(" OR ")
        parts += s"""$maskName AS MATERIALIZED (
           |  SELECT id, list_transform(generate_series(1, 64), d ->
           |    CASE WHEN $isolated THEN 0.0 ELSE e[d::INT] END) AS e
           |  FROM $cur
           |)""".stripMargin
        parts += powerUCtes(chainP, maskName, 4, pv)
      }
      val rotName = s"${px}rot${i + 1}"
      parts += reflectCteOver(rotName, cur, chainP)
      cur = rotName
    }
    parts.mkString(",\n")
  }

  /** q_ann_pca_saturation: recall at k = m−1 / m / m+1 balanced-pivot
    * components at a fixed codebook budget on the FOUR-oblique
    * norm-spread fixture (+8/+4/+2/+1 orthogonal sign diagonals),
    * unit-normalized; pivots 1/17/33/49/2 (SQL 1-indexed — one slot
    * per 16-dim subspace, then the first subspace's second slot). One
    * shared derivation serves all three chains (rot3/rot4/rot5 are
    * its prefixes), exactly the Scala per-k calls.
    */
  def annPcaSaturationOracle: String =
    s"""WITH p4_base AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(generate_series(1, 64), j ->
       |    CAST(embedding AS DOUBLE[])[j::INT]
       |      + 8.0 * CAST(embedding AS DOUBLE[])[1]
       |      + (CASE WHEN (j - 1) % 2 = 0 THEN 4.0 ELSE -4.0 END)
       |          * CAST(embedding AS DOUBLE[])[2]
       |      + (CASE WHEN (j - 1) % 4 < 2 THEN 2.0 ELSE -2.0 END)
       |          * CAST(embedding AS DOUBLE[])[3]
       |      + (CASE WHEN (j - 1) % 8 < 4 THEN 1.0 ELSE -1.0 END)
       |          * CAST(embedding AS DOUBLE[])[4]) AS e
       |  FROM embeddings
       |),
       |p4_unit AS MATERIALIZED (
       |  SELECT id, list_transform(e, x ->
       |    x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
       |  FROM p4_base
       |),
       |${pcaChainKCtes("ps_", "p4_unit", Seq(1, 17, 33, 49, 2))},
       |${ivfPqChainOver("s3_", "ps_rot3", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${ivfPqChainOver("s4_", "ps_rot4", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${ivfPqChainOver("s5_", "ps_rot5", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${cosineBruteCte("p4_br", "p4_base", "p4_")},
       |h3 AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM s3_ranked WHERE rnk <= 3) JOIN p4_br USING (qid, nid)),
       |h4 AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM s4_ranked WHERE rnk <= 3) JOIN p4_br USING (qid, nid)),
       |h5 AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM s5_ranked WHERE rnk <= 3) JOIN p4_br USING (qid, nid)),
       |nqs AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM p4_br)
       |SELECT nqs.n AS n_queries, CAST(3 AS INT) AS k, CAST(4 AS INT) AS m,
       |  h3.h AS hits_under,
       |  CAST(h3.h * 1000 // (3 * nqs.n) AS BIGINT) AS recall_under_milli,
       |  h4.h AS hits_full,
       |  CAST(h4.h * 1000 // (3 * nqs.n) AS BIGINT) AS recall_full_milli,
       |  h5.h AS hits_over,
       |  CAST(h5.h * 1000 // (3 * nqs.n) AS BIGINT) AS recall_over_milli
       |FROM h3, h4, h5, nqs""".stripMargin

  /** Exact cosine brute-force top-3 over `src` as CTE `name` (qid, nid)
    * — the ground truth for the pca3/cosine audits.
    */
  private def cosineBruteCte(name: String, src: String, p: String): String =
    s"""${p}n AS (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM $src
       |), $name AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM ${p}n WHERE id < 20) q
       |    JOIN ${p}n a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |)""".stripMargin

  /** q_ann_pca3_audit: two- vs three-reflection chains at equal budget
    * over the three-direction fixture (both normalized + balanced),
    * both vs exact cosine brute force — recall_pca3 must exceed
    * recall_pca2.
    */
  def annPca3AuditOracle: String =
    s"""WITH $pca3Ctes,
       |${ivfPqChainOver("pg_", "p3_rot", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${ivfPqChainOver("ph_", "tb_prep", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${cosineBruteCte("p3_br", "p3_base", "p3_")},
       |h2 AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM ph_ranked WHERE rnk <= 3) JOIN p3_br USING (qid, nid)),
       |h3 AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM pg_ranked WHERE rnk <= 3) JOIN p3_br USING (qid, nid)),
       |nqb AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM p3_br)
       |SELECT nqb.n AS n_queries, CAST(3 AS INT) AS k,
       |  h2.h AS hits_pca2,
       |  CAST(h2.h * 1000 // (3 * nqb.n) AS BIGINT) AS recall_pca2_milli,
       |  h3.h AS hits_pca3,
       |  CAST(h3.h * 1000 // (3 * nqb.n) AS BIGINT) AS recall_pca3_milli
       |FROM h2, h3, nqb""".stripMargin

  /** q_ann_cosine_audit: the SAME plain IVF-PQ chain over raw vs
    * unit-normalized vectors on the norm-spread fixture, both vs exact
    * cosine brute force, plus the L2↔cosine mismatch ceiling itself
    * (exact L2 top-k scored against the cosine top-k) — the raw
    * chain's recall is capped near that ceiling no matter how good
    * its quantizer is.
    */
  def annCosineAuditOracle: String =
    s"""WITH p3_base AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(generate_series(1, 64), j ->
       |    CAST(embedding AS DOUBLE[])[j::INT]
       |      + 8.0 * CAST(embedding AS DOUBLE[])[1]
       |      + (CASE WHEN (j - 1) % 2 = 0 THEN 4.0 ELSE -4.0 END)
       |          * CAST(embedding AS DOUBLE[])[2]
       |      + (CASE WHEN (j - 1) % 4 < 2 THEN 2.0 ELSE -2.0 END)
       |          * CAST(embedding AS DOUBLE[])[3]) AS e
       |  FROM embeddings
       |),
       |p3_unit AS MATERIALIZED (
       |  SELECT id, list_transform(e, x ->
       |    x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
       |  FROM p3_base
       |),
       |${ivfPqChainOver("cr_", "p3_base", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${ivfPqChainOver("cn_", "p3_unit", nCells = 4, nProbe = 4,
          pqCells = 16, cap = 64, qMax = 20, m = 4)},
       |${cosineBruteCte("p3_br", "p3_base", "p3_")},
       |l2_top AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)),
       |          i -> (q.e[i] - a.e[i]) * (q.e[i] - a.e[i]))), a.id) AS rn
       |    FROM (SELECT * FROM p3_base WHERE id < 20) q
       |    JOIN p3_base a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |),
       |hl AS (SELECT count(*)::BIGINT AS h FROM l2_top JOIN p3_br USING (qid, nid)),
       |hr AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM cr_ranked WHERE rnk <= 3) JOIN p3_br USING (qid, nid)),
       |hn AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM cn_ranked WHERE rnk <= 3) JOIN p3_br USING (qid, nid)),
       |nqc AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM p3_br)
       |SELECT nqc.n AS n_queries, CAST(3 AS INT) AS k,
       |  hl.h AS hits_exact_l2,
       |  CAST(hl.h * 1000 // (3 * nqc.n) AS BIGINT) AS recall_exact_l2_milli,
       |  hr.h AS hits_raw,
       |  CAST(hr.h * 1000 // (3 * nqc.n) AS BIGINT) AS recall_raw_milli,
       |  hn.h AS hits_norm,
       |  CAST(hn.h * 1000 // (3 * nqc.n) AS BIGINT) AS recall_norm_milli
       |FROM hl, hr, hn, nqc""".stripMargin

  /** The norm-spread fixture + its unit-normalized twin as WITH
    * fragments — shared by the per-tier cosine-consistency oracles
    * (`annCosineAuditOracle` pins the identical text for the ADC
    * tier).
    */
  private def p3BaseUnitCtes: String =
    s"""p3_base AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(generate_series(1, 64), j ->
       |    CAST(embedding AS DOUBLE[])[j::INT]
       |      + 8.0 * CAST(embedding AS DOUBLE[])[1]
       |      + (CASE WHEN (j - 1) % 2 = 0 THEN 4.0 ELSE -4.0 END)
       |          * CAST(embedding AS DOUBLE[])[2]
       |      + (CASE WHEN (j - 1) % 4 < 2 THEN 2.0 ELSE -2.0 END)
       |          * CAST(embedding AS DOUBLE[])[3]) AS e
       |  FROM embeddings
       |),
       |p3_unit AS MATERIALIZED (
       |  SELECT id, list_transform(e, x ->
       |    x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
       |  FROM p3_base
       |)""".stripMargin

  /** q_ann_ivf_cosine: the persisted normalize knob's exact gate — the
    * full IVF-Flat chain over the UNIT-NORMALIZED fixture (the gate's
    * queries enter raw; `buildIvfIndex(normalize=true)` records the
    * flag and `ivfKnnIndexed` applies the identical transform), top-3
    * cosine per query.
    */
  def annIvfCosineOracle: String =
    s"""WITH $p3BaseUnitCtes,
       |${annIvfChainOver("ic_", "p3_unit", nCells = 8, cap = 32,
          qMax = 20, nProbe = 2)}
       |SELECT qid, nid, round(sim, 6) AS sim, rnk
       |FROM ic_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** q_ann_ivf_cosine_audit: raw vs unit-normalized IVF-Flat at the
    * SAME probe budget, both vs exact cosine brute force — cell
    * routing is the only difference (rescoring is cosine either way).
    */
  def annIvfCosineAuditOracle: String =
    s"""WITH $p3BaseUnitCtes,
       |${annIvfChainOver("ir_", "p3_base", nCells = 8, cap = 32,
          qMax = 20, nProbe = 2)},
       |${annIvfChainOver("iu_", "p3_unit", nCells = 8, cap = 32,
          qMax = 20, nProbe = 2)},
       |${cosineBruteCte("p3_br", "p3_base", "p3_")},
       |hr AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM ir_ranked WHERE rnk <= 3) JOIN p3_br USING (qid, nid)),
       |hn AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM iu_ranked WHERE rnk <= 3) JOIN p3_br USING (qid, nid)),
       |nqi AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM p3_br)
       |SELECT nqi.n AS n_queries, CAST(3 AS INT) AS k,
       |  hr.h AS hits_raw,
       |  CAST(hr.h * 1000 // (3 * nqi.n) AS BIGINT) AS recall_raw_milli,
       |  hn.h AS hits_norm,
       |  CAST(hn.h * 1000 // (3 * nqi.n) AS BIGINT) AS recall_norm_milli
       |FROM hr, hn, nqi""".stripMargin

  /** q_ann_graph_cosine_audit: the graph walk at the same budget over
    * raw vs unit-normalized vectors (cells, edges, seeds and the walk
    * all re-derive per variant), both vs exact cosine brute force.
    */
  def annGraphCosineAuditOracle: String = {
    def prepFrom(base: String) =
      s"SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM $base"
    def chain(tag: String, base: String) = renameGraphPrefix(
      annGraphCtes(nCells = 8, cap = 32, qMax = 20, nProbe = 1,
        degree = 8, beamWidth = 16, hops = 3, seedsPerCell = 4,
        prepBody = Some(prepFrom(base))), tag)
    def walked(tag: String, src: String) =
      s"""$tag AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
         |    FROM $src WHERE qid <> nid
         |  ) WHERE rn <= 3
         |)""".stripMargin
    s"""WITH $p3BaseUnitCtes,
       |${chain("a", "p3_base")},
       |${chain("b", "p3_unit")},
       |${cosineBruteCte("p3_br", "p3_base", "p3_")},
       |${walked("ga", "gar_beam3")},
       |${walked("gb", "gbr_beam3")},
       |hr AS (SELECT count(*)::BIGINT AS h FROM ga JOIN p3_br USING (qid, nid)),
       |hn AS (SELECT count(*)::BIGINT AS h FROM gb JOIN p3_br USING (qid, nid)),
       |nqg AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM p3_br)
       |SELECT nqg.n AS n_queries, CAST(3 AS INT) AS k,
       |  hr.h AS hits_raw,
       |  CAST(hr.h * 1000 // (3 * nqg.n) AS BIGINT) AS recall_raw_milli,
       |  hn.h AS hits_norm,
       |  CAST(hn.h * 1000 // (3 * nqg.n) AS BIGINT) AS recall_norm_milli
       |FROM hr, hn, nqg""".stripMargin
  }

  /** Rename the [[annGraphCtes]] fragment's three CTE-name families so
    * two independent chains can share one WITH clause — the names are
    * generated (gr_/gt_/gc_ prefixes only), so a literal replace is a
    * faithful alpha-rename.
    */
  private def renameGraphPrefix(sql: String, tag: String): String =
    sql.replace("gr_", s"g${tag}r_")
      .replace("gt_", s"g${tag}t_")
      .replace("gc_", s"g${tag}c_")

  /** The FWHT execution of the same rotation (q_ann_opq_fwht): the
    * butterfly's stage/op order replayed literally — sign diagonal,
    * then for h = 1, 2, …, 32 each output j takes e[j] + e[j+h] when
    * bit h of j is clear and e[j−h] − e[j] when set (exactly what
    * `FwhtKernel.kernel`'s in-place (a+b, a−b) writes produce), then
    * one /8 (= √64, exact). Additions are the only rounding ops and
    * run in the same order on both engines → bit-identical doubles.
    */
  private def opqFwhtCtes: String = {
    val signs = graft.operators.SimilaritySearch.opqSigns(64)
      .map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    val stages = Seq(1, 2, 4, 8, 16, 32).zipWithIndex.map { case (h, s) =>
      s"""of_s${s + 1} AS (
         |  SELECT id, list_transform(generate_series(0, 63), j ->
         |    CASE WHEN (j & $h) = 0
         |      THEN e[(j + 1)::INT] + e[(j + $h + 1)::INT]
         |      ELSE e[(j - $h + 1)::INT] - e[(j + 1)::INT] END) AS e
         |  FROM of_s$s
         |)""".stripMargin
    }.mkString(",\n")
    s"""of_s0 AS MATERIALIZED (
       |  SELECT id, list_transform(generate_series(0, 63), i ->
       |    e0[(i + 1)::INT] * ($signs)[(i + 1)::INT]) AS e
       |  FROM (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e0 FROM embeddings)
       |),
       |$stages,
       |of_prep AS MATERIALIZED (
       |  SELECT id, list_transform(e, v -> v / 8.0) AS e FROM of_s6
       |)""".stripMargin
  }

  /** q_sample_prototypes: the SSL-prototypes prune — kmChain cells,
    * exact d2 to the assigned centroid, (d2 desc, id asc) rank, integer
    * per-cluster keep counts.
    */
  def samplePrototypesOracle: String =
    s"""WITH pp_prep AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), ${kmChain("pp_", 8, 32)}
       |SELECT id, cell, CAST(rnk AS INT) AS rnk, round(d2, 6) AS d2 FROM (
       |  SELECT a.id, a.cell, ${kmD2("a.e", "c.ce")} AS d2,
       |    row_number() OVER (PARTITION BY a.cell
       |      ORDER BY ${kmD2("a.e", "c.ce")} DESC, a.id) AS rnk,
       |    count(*) OVER (PARTITION BY a.cell) AS n
       |  FROM pp_af a JOIN pp_cent2 c USING (cell)
       |) WHERE rnk <= greatest(1, (n * 300) // 1000)
       |ORDER BY cell, rnk""".stripMargin

  def annOpqFwhtOracle: String =
    s"""WITH $opqFwhtCtes, ${ivfPqChainOver("of2_", "of_prep")}
       |SELECT qid, nid, round(adist, 6) AS adist, rnk
       |FROM of2_ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** Graph-walk ANN replay (q_ann_graph): the [[kmChain]] cells, then
    * per node the top-`degree` same-cell cosine edges (sim desc, id asc
    * — the bounded-heap order), per cell the `seedsPerCell` nodes
    * nearest the centroid, and `hops` unrolled beam rounds: candidates
    * = beam ∪ edge targets (DISTINCT), exact-cosine scored, top-
    * `beamWidth` per query. Self-matches survive the walk and drop only
    * at the final top-k — exactly `SimilaritySearch.graphKnn`.
    */
  private def annGraphCtes(nCells: Int = 8, cap: Int = 32, qMax: Int = 5,
      nProbe: Int = 2, degree: Int = 4, beamWidth: Int = 8, hops: Int = 2,
      seedsPerCell: Int = 2, edgeCap: Option[Int] = None,
      crossCells: Int = 0, degreeCross: Int = 0,
      hier: Option[(Int, Int, Int)] = None,
      hier2: Option[(Int, Int, Int)] = None,
      prepBody: Option[String] = None): String = {
    def cos(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a.e)), i -> $a.e[i] * $b.e[i])) / ($a.nrm * $b.nrm)"
    def beam(cand: String): String =
      s"""SELECT qid, nid, sim FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
         |  FROM (
         |    SELECT c.qid, c.nid, ${cos("q", "n")} AS sim
         |    FROM $cand c JOIN gr_n n ON n.id = c.nid
         |    JOIN gr_prep q ON q.id = c.qid
         |  )
         |) WHERE rn <= $beamWidth""".stripMargin
    // the walk's edge table: within-cell edges, plus cross-cell
    // long-range edges when enabled
    val edgesRef = if (degreeCross > 0) "gr_alledges" else "gr_edges"
    val hopCtes = (1 to hops).map { h =>
      s"""gr_cand$h AS (
         |  SELECT DISTINCT qid, nid FROM (
         |    SELECT qid, nid FROM gr_beam${h - 1}
         |    UNION ALL
         |    SELECT b.qid, e.dst AS nid
         |    FROM gr_beam${h - 1} b JOIN $edgesRef e ON e.src = b.nid
         |  )
         |), gr_beam$h AS (${beam(s"gr_cand$h")}
         |)""".stripMargin
    }.mkString(",\n")
    // edge-candidate pool: edgeCandidatePool's bounded splitmix64
    // top-sample per cell (hash-as-double desc, id asc — the
    // trainCentroids kmSample order); identity when no cap is set
    val (poolCte, poolRef) = edgeCap match {
      case None => ("", "gr_n")
      case Some(ec) => (
        s"""gr_pool AS MATERIALIZED (
           |  SELECT id, e, cell, nrm FROM (
           |    SELECT id, e, cell, nrm,
           |      row_number() OVER (PARTITION BY cell
           |        ORDER BY CAST(${sx(splitmix(ux("id")))} AS DOUBLE) DESC, id) AS prn
           |    FROM gr_n
           |  ) WHERE prn <= $ec
           |), """.stripMargin, "gr_pool")
    }
    // cross-cell edges: per node its `crossCells` nearest OTHER cells by
    // centroid d2 (d2 asc, cell asc), then top-`degreeCross` by cosine
    // over those cells' pools (sim desc, id asc) — one rank across the
    // union of the node's cross cells, like the Spark bounded heap
    val crossCtes =
      if (degreeCross == 0) ""
      else
        s""", gr_xsel AS (
           |  SELECT id, xcell FROM (
           |    SELECT a.id, c.cell AS xcell,
           |      row_number() OVER (PARTITION BY a.id
           |        ORDER BY ${kmD2("a.e", "c.ce")}, c.cell) AS rn
           |    FROM gr_n a JOIN gr_cent2 c ON c.cell <> a.cell
           |  ) WHERE rn <= $crossCells
           |), gr_xedges AS (
           |  SELECT src, dst FROM (
           |    SELECT a.id AS src, b.id AS dst,
           |      row_number() OVER (PARTITION BY a.id
           |        ORDER BY ${cos("a", "b")} DESC, b.id) AS rn
           |    FROM gr_n a JOIN gr_xsel x ON x.id = a.id
           |    JOIN $poolRef b ON b.cell = x.xcell
           |  ) WHERE rn <= $degreeCross
           |), gr_alledges AS MATERIALIZED (
           |  SELECT src, dst FROM gr_edges
           |  UNION ALL
           |  SELECT src, dst FROM gr_xedges
           |)""".stripMargin
    val prepSql = prepBody.getOrElse(
      s"""SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
         |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
         |  FROM embeddings""".stripMargin)
    s"""gr_prep AS MATERIALIZED (
       |  $prepSql
       |), ${kmChain("gr_", nCells, cap)},
       |gr_n AS MATERIALIZED (
       |  SELECT af.id, af.e, af.cell, pr.nrm
       |  FROM gr_af af JOIN gr_prep pr ON af.id = pr.id
       |), ${poolCte}gr_edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT a.id AS src, b.id AS dst,
       |      row_number() OVER (PARTITION BY a.id
       |        ORDER BY ${cos("a", "b")} DESC, b.id) AS rn
       |    FROM gr_n a JOIN $poolRef b ON a.cell = b.cell AND a.id <> b.id
       |  ) WHERE rn <= $degree
       |)$crossCtes, gr_seeds AS (
       |  SELECT cell, id FROM (
       |    SELECT a.cell, a.id,
       |      row_number() OVER (PARTITION BY a.cell
       |        ORDER BY ${kmD2("a.e", "c.ce")}, a.id) AS rn
       |    FROM gr_n a JOIN gr_cent2 c ON a.cell = c.cell
       |  ) WHERE rn <= $seedsPerCell
       |), ${annGraphEntryCtes(qMax, nProbe, hier, hier2, beam)},
       |$hopCtes""".stripMargin
  }

  /** gr_cand0 for the walk: flat centroid probing (per query the
    * nProbe nearest cells' seeds), or — when `hier` is set — the
    * hierarchical top-layer route: a kNN graph over the seed nodes,
    * walked from the fixed min-id entry seed with beam `entryBeam` for
    * `hopsTop` rounds; the final routed beam seeds the base walk.
    */
  private def annGraphEntryCtes(qMax: Int, nProbe: Int,
      hier: Option[(Int, Int, Int)],
      hier2: Option[(Int, Int, Int)],
      beam: String => String): String = hier match {
    case None =>
      s"""gr_probes AS (
         |  SELECT qid, cell FROM (
         |    SELECT q.id AS qid, c.cell,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
         |    FROM (SELECT id, e FROM gr_prep WHERE id < $qMax) q
         |    CROSS JOIN gr_cent2 c
         |  ) WHERE rn <= $nProbe
         |), gr_cand0 AS (
         |  SELECT DISTINCT p.qid, s.id AS nid
         |  FROM gr_probes p JOIN gr_seeds s ON s.cell = p.cell
         |), gr_beam0 AS (${beam("gr_cand0")}
         |)""".stripMargin
    case Some((entryBeam, hopsTop, degreeTop)) =>
      def cos(a: String, b: String) =
        s"list_sum(list_transform(generate_series(1, len($a.e)), i -> $a.e[i] * $b.e[i])) / ($a.nrm * $b.nrm)"
      def beamT(cand: String): String =
        s"""SELECT qid, nid, sim FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM (
           |    SELECT c.qid, c.nid, ${cos("q", "n")} AS sim
           |    FROM $cand c JOIN gr_n n ON n.id = c.nid
           |    JOIN gr_prep q ON q.id = c.qid
           |  )
           |) WHERE rn <= $entryBeam""".stripMargin
      val topHops = (1 to hopsTop).map { h =>
        s"""gt_cand$h AS (
           |  SELECT DISTINCT qid, nid FROM (
           |    SELECT qid, nid FROM gt_beam${h - 1}
           |    UNION ALL
           |    SELECT b.qid, e.dst AS nid
           |    FROM gt_beam${h - 1} b JOIN gr_tedges e ON e.src = b.nid
           |  )
           |), gt_beam$h AS (${beamT(s"gt_cand$h")}
           |)""".stripMargin
      }.mkString(",\n")
      // hier2: a COARSE walk over the cell-centroid graph picks each
      // query's entry cells; their seeds replace the fixed min-seed
      // entry of the seed-layer walk — one more unrolled stage
      val (cellCtes, gtCand0) = hier2 match {
        case None => ("",
          s"""gt_cand0 AS (
             |  SELECT q.id AS qid, e.nid
             |  FROM (SELECT id FROM gr_prep WHERE id < $qMax) q
             |  CROSS JOIN (SELECT min(id) AS nid FROM gr_seedn) e
             |)""".stripMargin)
        case Some((entryCells, hopsCells, degreeCells)) =>
          def beamC(cand: String): String =
            s"""SELECT qid, cell FROM (
               |  SELECT c.qid, c.cell,
               |    row_number() OVER (PARTITION BY c.qid
               |      ORDER BY ${kmD2("q.e", "ct.ce")}, c.cell) AS rn
               |  FROM $cand c JOIN gr_cent2 ct ON ct.cell = c.cell
               |  JOIN gr_prep q ON q.id = c.qid
               |) WHERE rn <= $entryCells""".stripMargin
          val hopsC = (1 to hopsCells).map { h =>
            s"""gc_cand$h AS (
               |  SELECT DISTINCT qid, cell FROM (
               |    SELECT qid, cell FROM gc_beam${h - 1}
               |    UNION ALL
               |    SELECT b.qid, e.dst AS cell
               |    FROM gc_beam${h - 1} b JOIN gc_edges e ON e.src = b.cell
               |  )
               |), gc_beam$h AS (${beamC(s"gc_cand$h")}
               |)""".stripMargin
          }.mkString(",\n")
          (s"""gc_edges AS MATERIALIZED (
              |  SELECT src, dst FROM (
              |    SELECT a.cell AS src, b.cell AS dst,
              |      row_number() OVER (PARTITION BY a.cell
              |        ORDER BY ${kmD2("a.ce", "b.ce")}, b.cell) AS rn
              |    FROM gr_cent2 a JOIN gr_cent2 b ON a.cell <> b.cell
              |  ) WHERE rn <= $degreeCells
              |), gc_cand0 AS (
              |  SELECT q.id AS qid, c.cell
              |  FROM (SELECT id FROM gr_prep WHERE id < $qMax) q
              |  CROSS JOIN (SELECT min(cell) AS cell FROM gr_cent2) c
              |), gc_beam0 AS (${beamC("gc_cand0")}
              |),
              |$hopsC,
              |""".stripMargin,
            s"""gt_cand0 AS (
               |  SELECT DISTINCT b.qid, s.id AS nid
               |  FROM gc_beam$hopsCells b JOIN gr_seeds s ON s.cell = b.cell
               |)""".stripMargin)
      }
      s"""gr_seedn AS MATERIALIZED (
         |  SELECT n.id, n.e, n.nrm FROM gr_n n
         |  JOIN (SELECT DISTINCT id FROM gr_seeds) s ON s.id = n.id
         |), gr_tedges AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT a.id AS src, b.id AS dst,
         |      row_number() OVER (PARTITION BY a.id
         |        ORDER BY ${cos("a", "b")} DESC, b.id) AS rn
         |    FROM gr_seedn a JOIN gr_seedn b ON a.id <> b.id
         |  ) WHERE rn <= $degreeTop
         |), $cellCtes$gtCand0, gt_beam0 AS (${beamT("gt_cand0")}
         |),
         |$topHops, gr_cand0 AS (
         |  SELECT DISTINCT qid, nid FROM gt_beam$hopsTop
         |), gr_beam0 AS (${beam("gr_cand0")}
         |)""".stripMargin
  }

  // gate parameters (PipelineQueries q_ann_graph/_audit must match)
  private val grHops = 3
  private def grCtes = annGraphCtes(nProbe = 3, degree = 8, beamWidth = 16,
    hops = grHops, seedsPerCell = 4)
  // q_ann_graph_cross/_cross_audit: the same walk budget with NSW-style
  // cross-cell long-range edges (crossCells=2, degreeCross=4)
  private def grxCtes = annGraphCtes(nProbe = 3, degree = 8, beamWidth = 16,
    hops = grHops, seedsPerCell = 4, crossCells = 2, degreeCross = 4)
  // q_ann_graph_capped: the build's per-cell edge-candidate pool capped
  // at 48 — BINDING at both sf0.01 (~62/cell) and sf0.1 (~250/cell), so
  // the oracle replays the sampled build, not just the uncapped one
  private def grcapCtes = annGraphCtes(nProbe = 3, degree = 8,
    beamWidth = 16, hops = grHops, seedsPerCell = 4, edgeCap = Some(48))

  private def graphTopKSelect(ctes: String): String =
    s"""WITH $ctes
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM gr_beam$grHops WHERE qid <> nid
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  private def graphAuditSelect(ctes: String): String =
    s"""WITH $ctes, gw AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
       |    FROM gr_beam$grHops WHERE qid <> nid
       |  ) WHERE rn <= 3
       |), br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM gr_prep WHERE id < 5) q
       |    JOIN gr_prep a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), hits AS (SELECT count(*)::BIGINT AS h FROM gw JOIN br USING (qid, nid)),
       |nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM br)
       |SELECT nq.n AS n_queries, CAST(3 AS INT) AS k, hits.h AS n_hits,
       |  CAST(hits.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_milli
       |FROM hits, nq""".stripMargin

  // q_ann_graph_hier/_audit/_indexed: the cross-edge fixture walked
  // from the HIERARCHICAL entry at HALF the flat entry budget
  // (entryBeam=6 routed entries vs nProbe·seedsPerCell=12 quota seeds)
  private def grhCtes = annGraphCtes(nProbe = 3, degree = 8, beamWidth = 16,
    hops = grHops, seedsPerCell = 4, crossCells = 2, degreeCross = 4,
    hier = Some((6, 2, 4)))

  // q_ann_graph_hier2/_audit: TWO routing layers at nCells=64 — the
  // coarse centroid-graph walk picks each query's 6 entry cells, their
  // seeds (2/cell) enter the seed-layer walk at the SAME entryBeam=6
  // budget; the audit holds the 800‰ cross-edge floor where flat
  // probing and the one-layer hier measure 466/533‰ at this exact
  // walk budget (beamWidth=24)
  private def grh2Ctes = annGraphCtes(nCells = 64, nProbe = 3, degree = 8,
    beamWidth = 24, hops = grHops, seedsPerCell = 2,
    crossCells = 2, degreeCross = 4,
    hier = Some((6, 2, 4)), hier2 = Some((6, 2, 4)))

  def annGraphOracle: String = graphTopKSelect(grCtes)
  def annGraphAuditOracle: String = graphAuditSelect(grCtes)
  def annGraphHier2Oracle: String = graphTopKSelect(grh2Ctes)
  def annGraphHier2AuditOracle: String = graphAuditSelect(grh2Ctes)
  def annGraphCrossOracle: String = graphTopKSelect(grxCtes)
  def annGraphCrossAuditOracle: String = graphAuditSelect(grxCtes)
  def annGraphCappedOracle: String = graphTopKSelect(grcapCtes)
  def annGraphHierOracle: String = graphTopKSelect(grhCtes)
  def annGraphHierAuditOracle: String = graphAuditSelect(grhCtes)

  /** q_ann_graph_prune: the maintenance cycle — build on the base slice
    * (vec_id >= 10), append vec_id < 10 (forward top-degree edges over
    * base ∪ batch in the new node's cell, plus reverse edges), DISTINCT
    * + top-degree re-fold over recomputed similarities (the prune),
    * then the standard walk with BUILD-time (base-only) seeds.
    */
  def annGraphPruneOracle: String = annGraphPruneSql(0, 0)

  /** q_ann_graph_prune_cross: the same maintenance cycle on an index
    * built WITH cross-cell long-range links — build adds per-node
    * top-`degreeCross` edges into its `crossCells` nearest other cells,
    * the append gives the batch the same links (knobs-table contract),
    * and the prune folds same-cell and cross-cell edges to their
    * SEPARATE budgets (degree / degreeCross), mirroring the build.
    */
  def annGraphPruneCrossOracle: String = annGraphPruneSql(2, 4)

  /** gp_edges (build ∪ append ∪ reverse, cross legs when enabled) +
    * gp_pruned (single-budget fold, or the split same-cell/cross-cell
    * budgets when the index carries long-range links).
    */
  private def annGraphPruneEdgeCtes(crossCells: Int, degreeCross: Int,
      degree: Int, cos: (String, String) => String): String =
    if (degreeCross == 0)
      s"""gp_edges AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM gp_baseedges
         |    UNION ALL SELECT src, dst FROM gp_fwd
         |    UNION ALL SELECT dst AS src, src AS dst FROM gp_fwd
         |  )
         |), gp_pruned AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT e.src, e.dst,
         |      row_number() OVER (PARTITION BY e.src
         |        ORDER BY ${cos("a", "b")} DESC, e.dst) AS rn
         |    FROM gp_edges e
         |    JOIN gp_alln a ON a.id = e.src
         |    JOIN gp_alln b ON b.id = e.dst
         |  ) WHERE rn <= $degree
         |)""".stripMargin
    else
      s"""gp_bxsel AS (
         |  SELECT id, xcell FROM (
         |    SELECT a.id, c.cell AS xcell,
         |      row_number() OVER (PARTITION BY a.id
         |        ORDER BY ${kmD2("a.e", "c.ce")}, c.cell) AS rn
         |    FROM gp_basen a JOIN gp_cent2 c ON c.cell <> a.cell
         |  ) WHERE rn <= $crossCells
         |), gp_bxedges AS (
         |  SELECT src, dst FROM (
         |    SELECT a.id AS src, b.id AS dst,
         |      row_number() OVER (PARTITION BY a.id
         |        ORDER BY ${cos("a", "b")} DESC, b.id) AS rn
         |    FROM gp_basen a JOIN gp_bxsel x ON x.id = a.id
         |    JOIN gp_basen b ON b.cell = x.xcell
         |  ) WHERE rn <= $degreeCross
         |), gp_nxsel AS (
         |  SELECT id, xcell FROM (
         |    SELECT a.id, c.cell AS xcell,
         |      row_number() OVER (PARTITION BY a.id
         |        ORDER BY ${kmD2("a.e", "c.ce")}, c.cell) AS rn
         |    FROM gp_newn a JOIN gp_cent2 c ON c.cell <> a.cell
         |  ) WHERE rn <= $crossCells
         |), gp_nxedges AS (
         |  SELECT src, dst FROM (
         |    SELECT a.id AS src, b.id AS dst,
         |      row_number() OVER (PARTITION BY a.id
         |        ORDER BY ${cos("a", "b")} DESC, b.id) AS rn
         |    FROM gp_newn a JOIN gp_nxsel x ON x.id = a.id
         |    JOIN gp_alln b ON b.cell = x.xcell
         |  ) WHERE rn <= $degreeCross
         |), gp_out AS (
         |  SELECT src, dst FROM gp_fwd
         |  UNION ALL SELECT src, dst FROM gp_nxedges
         |), gp_edges AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM gp_baseedges
         |    UNION ALL SELECT src, dst FROM gp_bxedges
         |    UNION ALL SELECT src, dst FROM gp_out
         |    UNION ALL SELECT dst AS src, src AS dst FROM gp_out
         |  )
         |), gp_pruned AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT e.src, e.dst, (a.cell = b.cell) AS same_cell,
         |      row_number() OVER (PARTITION BY e.src, (a.cell = b.cell)
         |        ORDER BY ${cos("a", "b")} DESC, e.dst) AS rn
         |    FROM gp_edges e
         |    JOIN gp_alln a ON a.id = e.src
         |    JOIN gp_alln b ON b.id = e.dst
         |  ) WHERE (same_cell AND rn <= $degree)
         |     OR ((NOT same_cell) AND rn <= $degreeCross)
         |)""".stripMargin

  /** q_ann_graph_stream_index: the streaming-maintained GRAPH index.
    * The engine's drain appends node rows per micro-batch (per-row
    * assignment against the base build's fixed centroids) and computes
    * edges ONCE at finalize over the whole drained set — keyed by
    * final state, not wave order — so the replay is trigger-agnostic:
    * train on the base slice (vec_id < 250), assign EVERY vector,
    * give the streamed set (vec_id >= 250) its forward top-degree
    * edges over base ∪ drained in each node's cell plus the reverse
    * edges, then the standard walk with BUILD-time (base-only) seeds.
    */
  def annGraphStreamIndexOracle: String = annGraphStreamSql(hier = None)

  /** q_ann_graph_stream_hier: the drained index searched through the
    * PERSISTED hierarchical top layer — seeds and top_edges are
    * build-time-fixed (base slice only), so the layer is append-stable
    * under streaming maintenance; the entry walk routes from the
    * min-id seed over the base-seed kNN graph, then the base walk runs
    * over the final (base ∪ drained) edge table.
    */
  def annGraphStreamHierOracle: String =
    annGraphStreamSql(hier = Some((4, 2, 4)))

  private def annGraphStreamSql(hier: Option[(Int, Int, Int)]): String = {
    val (nCells, cap, degree, seedsPerCell) = (8, 32, 8, 4)
    val (nProbe, beamWidth, hops, qMax) = (3, 16, 3, 5)
    def cos(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a.e)), i -> $a.e[i] * $b.e[i])) / ($a.nrm * $b.nrm)"
    def beam(cand: String): String =
      s"""SELECT qid, nid, sim FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
         |  FROM (
         |    SELECT c.qid, c.nid, ${cos("q", "n")} AS sim
         |    FROM $cand c JOIN gs_alln n ON n.id = c.nid
         |    JOIN gs_fullprep q ON q.id = c.qid
         |  )
         |) WHERE rn <= $beamWidth""".stripMargin
    val hopCtes = (1 to hops).map { h =>
      s"""gs_cand$h AS (
         |  SELECT DISTINCT qid, nid FROM (
         |    SELECT qid, nid FROM gs_beam${h - 1}
         |    UNION ALL
         |    SELECT b.qid, e.dst AS nid
         |    FROM gs_beam${h - 1} b JOIN gs_edges e ON e.src = b.nid
         |  )
         |), gs_beam$h AS (${beam(s"gs_cand$h")}
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH gs_fullprep AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
       |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
       |  FROM embeddings
       |), gs_prep AS MATERIALIZED (
       |  SELECT id, e, nrm FROM gs_fullprep WHERE id < 250
       |), ${kmChain("gs_", nCells, cap)},
       |gs_basen AS MATERIALIZED (
       |  SELECT af.id, af.e, af.cell, pr.nrm
       |  FROM gs_af af JOIN gs_prep pr ON af.id = pr.id
       |), gs_newn AS MATERIALIZED (
       |  SELECT a.id, a.e, a.cell, pr.nrm FROM (
       |    ${kmAssign("(SELECT id, e FROM gs_fullprep WHERE id >= 250)", "gs_cent2")}
       |  ) a JOIN gs_fullprep pr ON a.id = pr.id
       |), gs_alln AS MATERIALIZED (
       |  SELECT * FROM gs_basen UNION ALL SELECT * FROM gs_newn
       |), gs_baseedges AS (
       |  SELECT src, dst FROM (
       |    SELECT a.id AS src, b.id AS dst,
       |      row_number() OVER (PARTITION BY a.id
       |        ORDER BY ${cos("a", "b")} DESC, b.id) AS rn
       |    FROM gs_basen a JOIN gs_basen b ON a.cell = b.cell AND a.id <> b.id
       |  ) WHERE rn <= $degree
       |), gs_fwd AS (
       |  SELECT src, dst FROM (
       |    SELECT a.id AS src, b.id AS dst,
       |      row_number() OVER (PARTITION BY a.id
       |        ORDER BY ${cos("a", "b")} DESC, b.id) AS rn
       |    FROM gs_newn a JOIN gs_alln b ON a.cell = b.cell AND a.id <> b.id
       |  ) WHERE rn <= $degree
       |), gs_edges AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM gs_baseedges
       |    UNION ALL SELECT src, dst FROM gs_fwd
       |    UNION ALL SELECT dst AS src, src AS dst FROM gs_fwd
       |  )
       |), gs_seeds AS (
       |  SELECT cell, id FROM (
       |    SELECT a.cell, a.id,
       |      row_number() OVER (PARTITION BY a.cell
       |        ORDER BY ${kmD2("a.e", "c.ce")}, a.id) AS rn
       |    FROM gs_basen a JOIN gs_cent2 c ON a.cell = c.cell
       |  ) WHERE rn <= $seedsPerCell
       |), ${annGraphStreamEntry(hier, nProbe, qMax, cos)}, gs_beam0 AS (${beam("gs_cand0")}
       |),
       |$hopCtes
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM gs_beam$hops WHERE qid <> nid
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  /** gs_cand0 for the streamed-index walk: flat centroid probing, or —
    * when `hier` is set — the persisted top layer's routed entry (a
    * kNN graph over the BASE seed nodes, walked from the min-id seed).
    */
  private def annGraphStreamEntry(hier: Option[(Int, Int, Int)],
      nProbe: Int, qMax: Int, cos: (String, String) => String): String =
    hier match {
      case None =>
        s"""gs_probes AS (
           |  SELECT qid, cell FROM (
           |    SELECT q.id AS qid, c.cell,
           |      row_number() OVER (PARTITION BY q.id
           |        ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
           |    FROM (SELECT id, e FROM gs_fullprep WHERE id < $qMax) q
           |    CROSS JOIN gs_cent2 c
           |  ) WHERE rn <= $nProbe
           |), gs_cand0 AS (
           |  SELECT DISTINCT p.qid, s.id AS nid
           |  FROM gs_probes p JOIN gs_seeds s ON s.cell = p.cell
           |)""".stripMargin
      case Some((entryBeam, hopsTop, degreeTop)) =>
        def beamT(cand: String): String =
          s"""SELECT qid, nid, sim FROM (
             |  SELECT qid, nid, sim,
             |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
             |  FROM (
             |    SELECT c.qid, c.nid, ${cos("q", "n")} AS sim
             |    FROM $cand c JOIN gs_alln n ON n.id = c.nid
             |    JOIN gs_fullprep q ON q.id = c.qid
             |  )
             |) WHERE rn <= $entryBeam""".stripMargin
        val topHops = (1 to hopsTop).map { h =>
          s"""gst_cand$h AS (
             |  SELECT DISTINCT qid, nid FROM (
             |    SELECT qid, nid FROM gst_beam${h - 1}
             |    UNION ALL
             |    SELECT b.qid, e.dst AS nid
             |    FROM gst_beam${h - 1} b JOIN gs_tedges e ON e.src = b.nid
             |  )
             |), gst_beam$h AS (${beamT(s"gst_cand$h")}
             |)""".stripMargin
        }.mkString(",\n")
        s"""gs_seedn AS MATERIALIZED (
           |  SELECT n.id, n.e, n.nrm FROM gs_basen n
           |  JOIN (SELECT DISTINCT id FROM gs_seeds) s ON s.id = n.id
           |), gs_tedges AS MATERIALIZED (
           |  SELECT src, dst FROM (
           |    SELECT a.id AS src, b.id AS dst,
           |      row_number() OVER (PARTITION BY a.id
           |        ORDER BY ${cos("a", "b")} DESC, b.id) AS rn
           |    FROM gs_seedn a JOIN gs_seedn b ON a.id <> b.id
           |  ) WHERE rn <= $degreeTop
           |), gst_cand0 AS (
           |  SELECT q.id AS qid, e.nid
           |  FROM (SELECT id FROM gs_fullprep WHERE id < $qMax) q
           |  CROSS JOIN (SELECT min(id) AS nid FROM gs_seedn) e
           |), gst_beam0 AS (${beamT("gst_cand0")}
           |),
           |$topHops, gs_cand0 AS (
           |  SELECT DISTINCT qid, nid FROM gst_beam$hopsTop
           |)""".stripMargin
    }

  private def annGraphPruneSql(crossCells: Int, degreeCross: Int): String = {
    val (nCells, cap, degree, seedsPerCell) = (8, 32, 8, 4)
    val (nProbe, beamWidth, hops, qMax) = (3, 16, 3, 5)
    def cos(a: String, b: String) =
      s"list_sum(list_transform(generate_series(1, len($a.e)), i -> $a.e[i] * $b.e[i])) / ($a.nrm * $b.nrm)"
    def beam(cand: String): String =
      s"""SELECT qid, nid, sim FROM (
         |  SELECT qid, nid, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
         |  FROM (
         |    SELECT c.qid, c.nid, ${cos("q", "n")} AS sim
         |    FROM $cand c JOIN gp_alln n ON n.id = c.nid
         |    JOIN gp_fullprep q ON q.id = c.qid
         |  )
         |) WHERE rn <= $beamWidth""".stripMargin
    val hopCtes = (1 to hops).map { h =>
      s"""gp_cand$h AS (
         |  SELECT DISTINCT qid, nid FROM (
         |    SELECT qid, nid FROM gp_beam${h - 1}
         |    UNION ALL
         |    SELECT b.qid, e.dst AS nid
         |    FROM gp_beam${h - 1} b JOIN gp_pruned e ON e.src = b.nid
         |  )
         |), gp_beam$h AS (${beam(s"gp_cand$h")}
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH gp_fullprep AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e,
       |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS nrm
       |  FROM embeddings
       |), gp_prep AS MATERIALIZED (
       |  SELECT id, e, nrm FROM gp_fullprep WHERE id >= 10
       |), ${kmChain("gp_", nCells, cap)},
       |gp_basen AS MATERIALIZED (
       |  SELECT af.id, af.e, af.cell, pr.nrm
       |  FROM gp_af af JOIN gp_prep pr ON af.id = pr.id
       |), gp_newn AS MATERIALIZED (
       |  SELECT a.id, a.e, a.cell, pr.nrm FROM (
       |    ${kmAssign("(SELECT id, e FROM gp_fullprep WHERE id < 10)", "gp_cent2")}
       |  ) a JOIN gp_fullprep pr ON a.id = pr.id
       |), gp_alln AS MATERIALIZED (
       |  SELECT * FROM gp_basen UNION ALL SELECT * FROM gp_newn
       |), gp_baseedges AS (
       |  SELECT src, dst FROM (
       |    SELECT a.id AS src, b.id AS dst,
       |      row_number() OVER (PARTITION BY a.id
       |        ORDER BY ${cos("a", "b")} DESC, b.id) AS rn
       |    FROM gp_basen a JOIN gp_basen b ON a.cell = b.cell AND a.id <> b.id
       |  ) WHERE rn <= $degree
       |), gp_fwd AS (
       |  SELECT src, dst FROM (
       |    SELECT a.id AS src, b.id AS dst,
       |      row_number() OVER (PARTITION BY a.id
       |        ORDER BY ${cos("a", "b")} DESC, b.id) AS rn
       |    FROM gp_newn a JOIN gp_alln b ON a.cell = b.cell AND a.id <> b.id
       |  ) WHERE rn <= $degree
       |), ${annGraphPruneEdgeCtes(crossCells, degreeCross, degree, cos)}, gp_seeds AS (
       |  SELECT cell, id FROM (
       |    SELECT a.cell, a.id,
       |      row_number() OVER (PARTITION BY a.cell
       |        ORDER BY ${kmD2("a.e", "c.ce")}, a.id) AS rn
       |    FROM gp_basen a JOIN gp_cent2 c ON a.cell = c.cell
       |  ) WHERE rn <= $seedsPerCell
       |), gp_probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.id AS qid, c.cell,
       |      row_number() OVER (PARTITION BY q.id
       |        ORDER BY ${kmD2("q.e", "c.ce")}, c.cell) AS rn
       |    FROM (SELECT id, e FROM gp_fullprep WHERE id < $qMax) q
       |    CROSS JOIN gp_cent2 c
       |  ) WHERE rn <= $nProbe
       |), gp_cand0 AS (
       |  SELECT DISTINCT p.qid, s.id AS nid
       |  FROM gp_probes p JOIN gp_seeds s ON s.cell = p.cell
       |), gp_beam0 AS (${beam("gp_cand0")}
       |),
       |$hopCtes
       |SELECT qid, nid, round(sim, 6) AS sim, rnk FROM (
       |  SELECT qid, nid, sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rnk
       |  FROM gp_beam$hops WHERE qid <> nid
       |) WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  /** q_ann_opq_audit: rotated and plain IVF-PQ chains at equal budget,
    * both scored against exact brute-force top-3 over the raw vectors.
    */
  def annOpqAuditOracle: String =
    s"""WITH $opqRotCtes,
       |${ivfPqChainOver("op_", "or_prep", nCells = 4, nProbe = 3,
          pqCells = 16, cap = 64, qMax = 10)},
       |pl_base AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), ${ivfPqChainOver("pl_", "pl_base", nCells = 4, nProbe = 3,
          pqCells = 16, cap = 64, qMax = 10)},
       |ax_prep AS (
       |  SELECT id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
       |  FROM pl_base
       |), ax_br AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.id AS qid, a.id AS nid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY
       |        list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * a.e[i]))
       |          / (q.nrm * a.nrm) DESC, a.id) AS rn
       |    FROM (SELECT * FROM ax_prep WHERE id < 10) q
       |    JOIN ax_prep a ON a.id <> q.id
       |  ) WHERE rn <= 3
       |), hp AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM pl_ranked WHERE rnk <= 3) JOIN ax_br USING (qid, nid)),
       |ho AS (SELECT count(*)::BIGINT AS h
       |  FROM (SELECT qid, nid FROM op_ranked WHERE rnk <= 3) JOIN ax_br USING (qid, nid)),
       |nq AS (SELECT count(DISTINCT qid)::BIGINT AS n FROM ax_br)
       |SELECT nq.n AS n_queries, CAST(3 AS INT) AS k,
       |  hp.h AS hits_plain,
       |  CAST(hp.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_plain_milli,
       |  ho.h AS hits_opq,
       |  CAST(ho.h * 1000 // (3 * nq.n) AS BIGINT) AS recall_opq_milli
       |FROM hp, ho, nq""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_ann_opq" -> annOpqOracle,
    "q_sample_prototypes" -> samplePrototypesOracle,
    "q_ann_opq_fwht" -> annOpqFwhtOracle,
    "q_ann_opq_audit" -> annOpqAuditOracle,
    "q_ann_graph" -> annGraphOracle,
    // the persisted-index walk builds with the BINDING production cap
    // (it is a ScaleTrend family — see the gate comment), so it answers
    // identically to the capped in-memory walk
    "q_ann_graph_indexed" -> annGraphCappedOracle,
    "q_ann_graph_audit" -> annGraphAuditOracle,
    "q_ann_graph_cross" -> annGraphCrossOracle,
    "q_ann_graph_cross_audit" -> annGraphCrossAuditOracle,
    "q_ann_graph_capped" -> annGraphCappedOracle,
    "q_ann_graph_hier" -> annGraphHierOracle,
    // the persisted-index hierarchical walk rebuilds the top layer from
    // the broadcast-sized seeds — identical route, same oracle
    "q_ann_graph_hier_indexed" -> annGraphHierOracle,
    "q_ann_graph_hier_audit" -> annGraphHierAuditOracle,
    "q_ann_graph_prune" -> annGraphPruneOracle,
    "q_ann_graph_prune_cross" -> annGraphPruneCrossOracle,
    "q_ann_pca" -> annPcaOracle,
    // the persisted learned rotation applies the STORED u — same basis,
    // same chain, same oracle
    "q_ann_pca_indexed" -> annPcaOracle,
    "q_ann_pca_audit" -> annPcaAuditOracle,
    "q_ann_pca2" -> annPca2Oracle,
    "q_ann_pca2_audit" -> annPca2AuditOracle,
    "q_ann_pca3" -> annPca3Oracle,
    // the persisted k-component chain applies the STORED (comp, slot, u)
    // table — same basis, same chain, same oracle
    "q_ann_pca3_indexed" -> annPca3Oracle,
    "q_ann_pca3_audit" -> annPca3AuditOracle,
    "q_ann_pca_saturation" -> annPcaSaturationOracle,
    "q_ann_cosine_audit" -> annCosineAuditOracle,
    "q_ann_varperm" -> annVarPermOracle,
    // the persisted learned index applies the STORED permutation — same
    // basis, same chain, same oracle
    "q_ann_varperm_indexed" -> annVarPermOracle,
    "q_ann_varperm_audit" -> annVarPermAuditOracle,
    "q_ann_varperm_cosine" -> annVarPermCosineOracle,
    "q_ann_varperm_cosine_audit" -> annVarPermCosineAuditOracle,
    "q_ann_stream_index" -> annStreamIndexOracle,
    "q_ann_graph_stream_index" -> annGraphStreamIndexOracle,
    "q_ann_graph_stream_hier" -> annGraphStreamHierOracle,
    "q_ann_lsh_multiprobe2" -> annLshMultiProbe2Oracle,
    "q_ann_lsh_multiprobe2_audit" -> annLshMultiProbe2AuditOracle,
    "q_ann_lsh_multiprobe_joint" -> annLshMultiProbeJointOracle,
    "q_ann_lsh_multiprobe_joint_audit" -> annLshMultiProbeJointAuditOracle,
    "q_ann_graph_hier2" -> annGraphHier2Oracle,
    // the persisted two-layer tier applies the STORED routing graphs —
    // same walk, same oracle
    "q_ann_graph_hier2_indexed" -> annGraphHier2Oracle,
    "q_ann_graph_hier2_audit" -> annGraphHier2AuditOracle,
    "q_tokenizer_unigram" -> tokenizerUnigramOracle,
    "q_tokenizer_unigram_loss" -> tokenizerUnigramLossOracle,
    "q_tokenizer_unigram_loss_em2" -> tokenizerUnigramLossEm2Oracle,
    "q_tokenizer_unigram_mixed" -> tokenizerUnigramMixedOracle,
    "q_probe_linear" -> probeLinearOracle,
    "q_probe_linear_scores" -> probeLinearScoresOracle,
    "q_pipeline_probe_filter" -> probeFilterOracle,
    "q_corpus_bootstrap_ci" -> corpusBootstrapCiOracle,
    "q_corpus_bootstrap_ratio" -> corpusBootstrapRatioOracle,
    "q_corpus_bootstrap_groups" -> corpusBootstrapGroupsOracle,
    "q_tokenizer_unigram_em2" -> tokenizerUnigramEm2Oracle,
    "q_doc_unigram_tokens" -> docUnigramTokensOracle,
    "q_doc_unigram_tokens_indexed" -> docUnigramTokensOracle,
    "q_doc_unigram_ppl_buckets" -> docUnigramPplBucketsOracle,
    // the persisted-index search must answer identically to the
    // in-memory IVF path — same replayed-k-means oracle
    "q_ann_ivf_indexed" -> annIvfOracle,
    "q_ann_pq" -> annPqOracle,
    "q_ann_ivfpq" -> annIvfPqOracle,
    // the persisted IVF-PQ index must answer identically to the
    // in-memory path — same replayed oracle
    "q_ann_ivfpq_indexed" -> annIvfPqOracle,
    "q_ann_ivfpq_refine" -> annIvfPqRefineOracle,
    "q_ann_ivfpq_residual" -> annIvfPqResidualOracle,
    // the persisted residual index answers identically to the
    // in-memory chain — same replayed oracle
    "q_ann_ivfpq_residual_indexed" -> annIvfPqResidualOracle,
    "q_ann_ivfpq_residual_cosine" -> annIvfPqResidualCosineOracle,
    "q_ann_ivfpq_stream_index" -> annResidualStreamIndexOracle,
    "q_ann_ivfpq_residual_refine" -> annIvfPqResidualRefineOracle,
    "q_ann_opq_residual" -> annOpqResidualOracle,
    // the persisted composed tier applies the STORED permutation +
    // residual tables — same chain, same oracle
    "q_ann_opq_residual_indexed" -> annOpqResidualOracle,
    "q_ann_opq_residual_audit" -> annOpqResidualAuditOracle,
    "q_ann_opq_residual_cosine" -> annOpqResidualCosineOracle,
    "q_ann_matryoshka" -> annMatryoshkaOracle,
    "q_ann_matryoshka_audit" -> annMatryoshkaAuditOracle,
    "q_ann_ivfpq_residual_audit" -> annIvfPqResidualAuditOracle,
    "q_dedup_groups" -> componentsOracle,
    "q_dedup_cluster_sizes" -> clusterSizesOracle,
    "q_dedup_drop_best" -> dropBestOracle,
    "q_corpus_stats" -> corpusStatsOracle,
    "q_corpus_hll" -> corpusHllOracle,
    "q_corpus_hll_merge" -> corpusHllMergeOracle,
    "q_corpus_hll_overlap" -> corpusHllOverlapOracle,
    "q_corpus_kmv_overlap" -> corpusKmvOverlapOracle,
    "q_corpus_kmv_merge" -> corpusKmvMergeOracle,
    "q_ann_binary_ivf" -> annBinaryIvfOracle,
    "q_ann_binary_ivf_audit" -> annBinaryIvfAuditOracle,
    "q_ann_binary_asym_ivf" -> annBinaryAsymIvfOracle,
    "q_ann_binary_asym_ivf_audit" -> annBinaryAsymIvfAuditOracle,
    "q_doc_cms_tokens" -> docCmsTokensOracle,
    "q_doc_cms_heavy" -> docCmsHeavyOracle,
    // the persisted per-source rollup is bit-identical to the direct
    // sketch (counter add is associative) — same oracle
    "q_doc_cms_merge" -> docCmsTokensOracle,
    "q_doc_cms_matrix" -> docCmsMatrixOracle,
    "q_stream_cms_ingest" -> streamCmsIngestOracle,
    "q_ann_ivf" -> annIvfOracle,
    "q_ann_ivf_audit" -> annIvfAuditOracle,
    "q_ann_filtered" -> annFilteredOracle,
    "q_ann_filtered_ivf" -> annFilteredIvfOracle,
    // persisted attr-carrying index answers bit-identically to the
    // in-memory in-cell strategy — same oracle
    "q_ann_filtered_indexed" -> annFilteredIvfOracle,
    "q_ann_filtered_post" -> annFilteredPostOracle,
    "q_ann_filtered_audit" -> annFilteredAuditOracle,
    "q_ann_ivf_cosine" -> annIvfCosineOracle,
    "q_ann_ivf_cosine_audit" -> annIvfCosineAuditOracle,
    "q_ann_graph_cosine_audit" -> annGraphCosineAuditOracle,
    "q_dedup_ngram_lsh" -> ngramViaLshOracle,
    "q_doc_winnow" -> winnowOracle,
    "q_doc_langid" -> langidOracle,
    "q_dedup_simhash" -> simhashDedupOracle,
    "q_dedup_minhash_lsh" -> minhashLshOracle,
    "q_dedup_embedding" -> embeddingDedupOracle,
    "q_ann_lsh" -> annLshOracle,
    "q_ann_lsh_multiprobe" -> annLshMultiProbeOracle,
    "q_ann_lsh_multiprobe_audit" -> annLshMultiProbeAuditOracle,
    "q_probe_join_size" -> probeJoinSizeOracle(64),
    "q_probe_join_size_filtered" -> probeJoinSizeFilteredOracle(64),
    "q_probe_join_size_incremental" -> probeJoinSizeMaintOracle(64),
    "q_stream_probe_ingest" -> probeJoinSizeMaintOracle(64),
    "q_probe_join_size_windows" -> probeJoinSizeWindowsOracle(8),
    "q_stream_probe_windows" -> probeJoinSizeWindowsOracle(8),
    "q_probe_join_size_windows_filtered" ->
      probeJoinSizeWindowsFilteredOracle(8),
    "q_probe_join_plan" -> probeJoinPlanOracle(64),
    "q_probe_groupby_size" -> probeGroupbySizeOracle,
    "q_probe_semijoin" -> probeSemijoinOracle(64))
}
