package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.operators.SimilaritySearch.Rotation

class SimilaritySearchSpec extends SparkSpec {
  import spark.implicits._

  // 50 deterministic corpus vectors + a planted near-neighbor of vector 0.
  private def vec(seed: Int): Seq[Float] =
    Seq.tabulate(24)(i => math.sin(seed * 31 + i).toFloat)
  private val corpus = ((0 until 50).map(s => (s.toLong, vec(s))) :+
    (99L, vec(0).zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }))
    .toDF("vec_id", "embedding")

  test("brute force knn ranks the planted neighbor first") {
    val q = corpus.filter(col("vec_id") === 0L)
    val got = SimilaritySearch.bruteForceKnn(corpus, q, "embedding", "vec_id", k = 3)
      .orderBy("rnk").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Long]("nid") == 99L)
    assert(got(0).getAs[Double]("sim") > 0.999)
  }

  test("lsh knn recovers the planted neighbor with pruned candidates") {
    val q = corpus.filter(col("vec_id") === 0L)
    val got = SimilaritySearch.lshKnn(corpus, q, "embedding", "vec_id", k = 3,
      bands = 8).orderBy("rnk").collect()
    assert(got.nonEmpty)
    assert(got(0).getAs[Long]("nid") == 99L, s"got ${got.mkString(",")}")
  }

  test("multi-probe lsh: probes=1 is exactly lshKnn, flips only add recall") {
    val q = corpus.filter(col("vec_id") < 4L)
    // probes=1 probes only each band's own key — bit-identical to lshKnn
    val single = SimilaritySearch.lshKnn(corpus, q, "embedding", "vec_id",
      k = 3, bands = 8).orderBy("qid", "rnk").collect().map(_.toString).toSeq
    val mp1 = SimilaritySearch.lshMultiProbeKnn(corpus, q, "embedding",
      "vec_id", k = 3, bands = 8, probes = 1)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    assert(mp1 == single)
    // multi-probe candidates are a superset: measured recall never drops
    val a = SimilaritySearch.lshMultiProbeRecallAudit(corpus, q,
      "embedding", "vec_id", k = 3, bands = 8, probes = 5).collect()(0)
    assert(a.getAs[Long]("recall_multi_milli") >=
      a.getAs[Long]("recall_single_milli"), a.toString)
    // the planted twin (99 ~ 0) is found through the flipped probes
    val got = SimilaritySearch.lshMultiProbeKnn(corpus,
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id",
      k = 3, bands = 8, probes = 5).orderBy("rnk").collect()
    assert(got.nonEmpty && got.head.getAs[Long]("nid") == 99L,
      got.mkString(","))
    // margins replay: the expression's integer micros equal a plain-Scala
    // fold over the same splitmix64 hyperplanes
    val row = corpus.filter(col("vec_id") === 7L)
      .select(graft.functions.Sketches.hyperplaneMargins(
        transform(col("embedding"), x => x.cast("double")), 64).as("m"),
        col("embedding"))
      .collect()(0)
    val vec = row.getSeq[Float](1).map(_.toDouble)
    val want = (0 until 64).map { p =>
      var d = 0.0
      for (i <- vec.indices) {
        val s = if ((graft.functions.Sketches.splitmix64(
          42L ^ (p.toLong << 32) ^ i.toLong) & 1L) == 1L) 1.0 else -1.0
        d += vec(i) * s
      }
      math.floor(math.abs(d) * 1e6 + 0.5).toLong
    }
    assert(row.getSeq[Long](0) == want)
    // determinism + guards
    val again = SimilaritySearch.lshMultiProbeKnn(corpus, q, "embedding",
      "vec_id", k = 3, bands = 8, probes = 5)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    val first = SimilaritySearch.lshMultiProbeKnn(corpus, q, "embedding",
      "vec_id", k = 3, bands = 8, probes = 5)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    assert(again == first)
    intercept[IllegalArgumentException] {
      SimilaritySearch.lshMultiProbeKnn(corpus, q, "embedding", "vec_id",
        k = 3, bands = 8, probes = 10) // > w + 1 at maxFlipBits = 1
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.lshMultiProbeKnn(corpus, q, "embedding", "vec_id",
        k = 3, bands = 1, probes = 2) // 64-bit band
    }
  }

  test("joint probe ordering spends the shared budget and holds the per-band floor") {
    val q = corpus.filter(col("vec_id") < 4L)
    // extraProbes=0 probes only the band keys — exactly lshKnn
    val single = SimilaritySearch.lshKnn(corpus, q, "embedding", "vec_id",
      k = 3, bands = 8).orderBy("qid", "rnk").collect().map(_.toString).toSeq
    val j0 = SimilaritySearch.lshMultiProbeJointKnn(corpus, q, "embedding",
      "vec_id", k = 3, bands = 8, extraProbes = 0)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    assert(j0 == single)
    // at equal TOTAL budget the joint rank must hold the per-band floor
    // (it can only reallocate the same keys toward lower margins)
    val a = SimilaritySearch.lshMultiProbeJointRecallAudit(corpus, q,
      "embedding", "vec_id", k = 3, bands = 8, probes = 6).collect()(0)
    assert(a.getAs[Long]("recall_joint_milli") >=
      a.getAs[Long]("recall_per_band_milli") - 67, a.toString)
    // deterministic
    def run() = SimilaritySearch.lshMultiProbeJointKnn(corpus, q,
      "embedding", "vec_id", k = 3, bands = 8, extraProbes = 24,
      maxFlipBits = 2).orderBy("qid", "rnk").collect().map(_.toString).toSeq
    assert(run() == run())
    // guards
    intercept[IllegalArgumentException] {
      SimilaritySearch.lshMultiProbeJointKnn(corpus, q, "embedding",
        "vec_id", k = 3, bands = 8, extraProbes = 1000)
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.lshMultiProbeJointKnn(corpus, q, "embedding",
        "vec_id", k = 3, bands = 8, extraProbes = 2, maxFlipBits = 0)
    }
  }

  test("second deflated component: exact pivot zero, composed orthogonality, recall") {
    import spark.implicits._
    // TWO oblique directions: +4·x₀ along all-ones, +2·x₁ alternating —
    // one reflection isolates only the dominant one
    def rv(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      (0 until 5).foreach(_ => r.nextDouble())
      Seq.fill(16)(r.nextDouble() * 2 - 1)
    }
    val two = (0 until 200).map { s =>
      val x = rv(s)
      (s.toLong, x.zipWithIndex.map { case (xi, i) =>
        xi + 4.0 * x.head + (if (i % 2 == 0) 2.0 else -2.0) * x(1) })
    }.toDF("vec_id", "embedding")
    val Seq(u1, u2) = SimilaritySearch.pcaDirectionsK(two, "embedding", 16, 2)
    // the deflation contract: the masked residual's dim-0 moment sums
    // are exactly zero, so u2 fixes e₁ EXACTLY (not to rounding)
    assert(u2.head == 0L, s"u2[0] must be exactly 0, got ${u2.head}")
    // H₂∘H₁ is exactly orthogonal: norms survive to float rounding
    val n = two.select(
      sqrt(aggregate(transform(col("embedding"), x => x * x),
        lit(0.0), (a, x) => a + x)).as("n0"),
      sqrt(aggregate(transform(
        SimilaritySearch.householderReflect(
          SimilaritySearch.householderReflect(col("embedding"), u1), u2),
        x => x * x), lit(0.0), (a, x) => a + x)).as("n2"))
      .select(max(abs(col("n0") - col("n2"))).as("d")).collect()(0)
    assert(n.getAs[Double]("d") < 1e-9, s"norm drift ${n.getAs[Double]("d")}")
    // the second reflection's measured value on this fixture
    val a = SimilaritySearch.pca2RecallAudit(two,
      two.filter(col("vec_id") < 10), "embedding", "vec_id", dim = 16,
      k = 3, nCells = 4, nProbe = 2, m = 2, pqCells = 8,
      maxTrainPerCell = 64).collect()(0)
    assert(a.getAs[Long]("recall_pca2_milli") >=
      a.getAs[Long]("recall_pca1_milli"), a.toString)
    // guards: pivot range; nonzero entries below the pivot refuse
    intercept[IllegalArgumentException] {
      SimilaritySearch.householderUAt(Seq(1L, 2L), 2)
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.householderUAt(Seq(1L, 2L), 1)
    }
  }

  test("third deflated component: balanced pivots, normalization, persisted chain") {
    import spark.implicits._
    // THREE oblique sign diagonals with decreasing magnitudes and a
    // real norm spread (dominant coordinates dominate ‖x‖)
    def rv(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      (0 until 5).foreach(_ => r.nextDouble())
      Seq.fill(16)(r.nextDouble() * 2 - 1)
    }
    val three = (0 until 200).map { s =>
      val x = rv(s)
      (s.toLong, x.zipWithIndex.map { case (xi, i) =>
        xi + 8.0 * x.head + (if (i % 2 == 0) 4.0 else -4.0) * x(1) +
          (if (i % 4 < 2) 2.0 else -2.0) * x(2) })
    }.toDF("vec_id", "embedding")
    val q = three.filter(col("vec_id") < 10)

    // variance-balanced placement: component c → first free slot of
    // subspace c % m
    assert(SimilaritySearch.balancedPivots(3, 16, 4) == Seq(0, 4, 8))
    assert(SimilaritySearch.balancedPivots(5, 16, 4) == Seq(0, 4, 8, 12, 1))
    intercept[IllegalArgumentException] {
      SimilaritySearch.balancedPivots(2, 16, 3) // m must divide dim
    }
    // deflation at arbitrary pivots: each u is EXACTLY zero at every
    // previously isolated pivot (so its reflection fixes those dims)
    val us = SimilaritySearch.pcaDirectionsK(three, "embedding", 16, 3,
      pivots = Seq(0, 4, 8))
    assert(us(1)(0) == 0L, s"u2[0] must be exactly 0, got ${us(1)(0)}")
    assert(us(2)(0) == 0L && us(2)(4) == 0L,
      s"u3 must be exactly 0 at pivots 0 and 4, got ${us(2)(0)}, ${us(2)(4)}")
    // delegation pin: the default K path IS the sequential-pivot one
    assert(SimilaritySearch.pcaDirectionsK(three, "embedding", 16, 2) ==
      SimilaritySearch.pcaDirectionsK(three, "embedding", 16, 2,
        pivots = Seq(0, 1)))
    // the composed 3-reflection chain is exactly orthogonal
    val n = three.select(
      sqrt(aggregate(transform(col("embedding"), x => x * x),
        lit(0.0), (a, x) => a + x)).as("n0"),
      sqrt(aggregate(transform(
        graft.functions.VectorExpressions.householderChain(
          col("embedding"), us.map(_.map(_.toDouble))),
        x => x * x), lit(0.0), (a, x) => a + x)).as("n3"))
      .select(max(abs(col("n0") - col("n3"))).as("d")).collect()(0)
    assert(n.getAs[Double]("d") < 1e-9, s"norm drift ${n.getAs[Double]("d")}")
    // unitNorm emits unit vectors
    val un = three.select(abs(sqrt(aggregate(transform(
        SimilaritySearch.unitNorm(col("embedding")), x => x * x),
      lit(0.0), (a, x) => a + x)) - lit(1.0)).as("d"))
      .agg(max(col("d"))).collect()(0).getDouble(0)
    assert(un < 1e-12, s"unitNorm drift $un")
    // components=1, raw, sequential == the plain chain over inputs
    // reflected by the single power direction's Householder u
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("qid", "rnk").collect().map(_.toString).toSeq
    val u = SimilaritySearch.householderU(
      SimilaritySearch.powerDirection(three, "embedding", 16))
    def reflected(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      SimilaritySearch.householderReflect(col("embedding"), u).as("embedding"))
    assert(rows(SimilaritySearch.ivfPqKnn(three, q, "embedding",
      "vec_id", 3, nCells = 4, nProbe = 2, m = 2, pqCells = 8,
      maxTrainPerCell = 64, rotation = Some(Rotation.Pca(16)))) ==
      rows(SimilaritySearch.ivfPqKnn(reflected(three), reflected(q),
        "embedding", "vec_id", 3, nCells = 4, nProbe = 2, m = 2,
        pqCells = 8, maxTrainPerCell = 64)))
    // persisted 3-component normalized+balanced index answers
    // bit-identically to the in-memory chain (pca_meta normalize flag
    // round-trips; stored u chain applied to normalized queries)
    val idx = java.nio.file.Files.createTempDirectory("pca3idx").toString
    val pca3 = Some(Rotation.Pca(16, components = 3, balancePivots = true))
    SimilaritySearch.buildIvfPqIndex(three, "embedding", "vec_id", idx,
      nCells = 4, m = 4, pqCells = 8, maxTrainPerCell = 64,
      normalize = true, rotation = pca3)
    val mem = rows(SimilaritySearch.ivfPqKnn(three, q, "embedding",
      "vec_id", 3, nCells = 4, nProbe = 2, m = 4, pqCells = 8,
      maxTrainPerCell = 64, normalize = true, rotation = pca3))
    val viaIdx = rows(SimilaritySearch.ivfPqKnnIndexed(spark, idx, q,
      "embedding", "vec_id", k = 3, nProbe = 2))
    assert(mem == viaIdx)
    // the normalization audit is non-vacuous on this fixture: the
    // normalized chain at the same budget beats the raw one, and the
    // raw one sits at or under the exact-L2 mismatch ceiling
    val ca = SimilaritySearch.cosineRecallAudit(three, q, "embedding",
      "vec_id", k = 3, nCells = 4, nProbe = 4, m = 4, pqCells = 8,
      maxTrainPerCell = 64).collect()(0)
    assert(ca.getAs[Long]("hits_norm") > ca.getAs[Long]("hits_raw"), ca.toString)
    assert(ca.getAs[Long]("hits_raw") <= ca.getAs[Long]("hits_exact_l2"),
      ca.toString)
    // guard: a nonzero entry at an already-isolated pivot refuses
    intercept[IllegalArgumentException] {
      SimilaritySearch.householderUAtFixed(Seq(1L, 2L, 3L), 2, Seq(0))
    }
  }

  test("pair probe sets extend the sequence past the single-bit ceiling") {
    val q = corpus.filter(col("vec_id") < 4L)
    // probes=1 at maxFlipBits=2 is still exactly lshKnn (no perturbation)
    val single = SimilaritySearch.lshKnn(corpus, q, "embedding", "vec_id",
      k = 3, bands = 8).orderBy("qid", "rnk").collect().map(_.toString).toSeq
    val mp1 = SimilaritySearch.lshMultiProbeKnn(corpus, q, "embedding",
      "vec_id", k = 3, bands = 8, probes = 1, maxFlipBits = 2)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    assert(mp1 == single)
    // the pair sequence accepts probe budgets past w+1 (9 at 8-bit
    // bands) and its measured recall holds the single-bit floor
    val a = SimilaritySearch.lshMultiProbePairRecallAudit(corpus, q,
      "embedding", "vec_id", k = 3, bands = 8, probes1 = 6, probes2 = 12)
      .collect()(0)
    assert(a.getAs[Long]("recall_pair_milli") >=
      a.getAs[Long]("recall_single_bit_milli"), a.toString)
    // deterministic on re-run
    def run() = SimilaritySearch.lshMultiProbeKnn(corpus, q, "embedding",
      "vec_id", k = 3, bands = 8, probes = 12, maxFlipBits = 2)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    assert(run() == run())
    // guards: budget past the pair ceiling, maxFlipBits range
    intercept[IllegalArgumentException] {
      SimilaritySearch.lshMultiProbeKnn(corpus, q, "embedding", "vec_id",
        k = 3, bands = 8, probes = 38, maxFlipBits = 2) // > 8 + 28 + 1
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.lshMultiProbeKnn(corpus, q, "embedding", "vec_id",
        k = 3, bands = 8, probes = 2, maxFlipBits = 3)
    }
  }

  test("ivf knn recovers the planted neighbor probing a subset of cells") {
    val q = corpus.filter(col("vec_id") === 0L)
    val got = SimilaritySearch.ivfKnn(corpus, q, "embedding", "vec_id", k = 3,
      nCells = 4, nProbe = 2).orderBy("rnk").collect()
    assert(got.nonEmpty)
    assert(got(0).getAs[Long]("nid") == 99L, s"got ${got.mkString(",")}")
  }

  test("sq8 knn tracks exact cosine within quantization error") {
    val q = corpus.filter(col("vec_id") === 0L)
    val got = SimilaritySearch.sq8Knn(corpus, q, "embedding", "vec_id", k = 5)
      .orderBy("rnk").collect()
    assert(got.length == 5)
    // the planted near-duplicate survives int8 quantization as top hit
    assert(got(0).getAs[Long]("nid") == 99L, s"got ${got.mkString(",")}")
    // per-neighbor similarity within ~1% of the exact cosine
    val exact = SimilaritySearch.bruteForceKnn(corpus, q, "embedding", "vec_id", k = 50)
      .select("nid", "sim").collect()
      .map(r => r.getAs[Long]("nid") -> r.getAs[Double]("sim")).toMap
    got.foreach { r =>
      val d = math.abs(r.getAs[Double]("sim") - exact(r.getAs[Long]("nid")))
      assert(d < 0.01, s"nid ${r.getAs[Long]("nid")} off by $d")
    }
    // deterministic codec: identical output on re-run
    val again = SimilaritySearch.sq8Knn(corpus, q, "embedding", "vec_id", k = 5)
      .orderBy("rnk").collect()
    assert(got.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("annRecallAudit: full probes give perfect recall; fewer probes can only lose it") {
    val q = corpus.filter(col("vec_id") < 4L)
    val full = SimilaritySearch.annRecallAudit(corpus, q, "embedding", "vec_id",
      k = 3, nCells = 4, nProbe = 4, maxTrainPerCell = 32).collect()(0)
    assert(full.getLong(0) == 4L && full.getInt(1) == 3)
    assert(full.getLong(3) == 1000L,
      s"probing every cell must recover brute force exactly: $full")
    val partial = SimilaritySearch.annRecallAudit(corpus, q, "embedding", "vec_id",
      k = 3, nCells = 4, nProbe = 1, maxTrainPerCell = 32).collect()(0)
    assert(partial.getLong(3) <= 1000L && partial.getLong(2) <= full.getLong(2))
  }

  test("mmrRerank enforces its driver-traffic bound (k·|Q| ≤ maxDriverRows)") {
    val q = corpus.filter(col("vec_id") < 4L) // |Q| = 4
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.mmrRerank(corpus, q, "embedding", "vec_id",
        k = 3, poolSize = 5, maxDriverRows = 10L) // 3·4 = 12 > 10
    }
    assert(e.getMessage.contains("partition the query set"))
  }

  test("mmrRerank matches an independent greedy replay and diversifies") {
    val q = corpus.filter(col("vec_id") === 0L)
    val k = 4; val pool = 10; val lam = 700
    val got = SimilaritySearch.mmrRerank(corpus, q, "embedding", "vec_id",
      k = k, poolSize = pool, lambdaMilli = lam)
      .orderBy("rnk")
      .select("nid", "rel_micro", "rnk")
      .as[(Long, Long, Int)].collect().toSeq

    // scalar replay: cosine pool, quantize, greedy with integer MMR
    val vecs = corpus.as[(Long, Seq[Float])].collect().toMap
      .view.mapValues(_.map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val qv = vecs(0L)
    val cands = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(qv, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(pool)
      .map { case (id, s) => (id, math.floor(s * 1e6 + 0.5).toLong) }
    val micro = (a: Long, b: Long) => math.floor(cos(vecs(a), vecs(b)) * 1e6 + 0.5).toLong
    var selected = Vector(cands.sortBy { case (id, r) => (-r, id) }.head)
    for (_ <- 2 to k) {
      val rem = cands.filterNot(c => selected.exists(_._1 == c._1))
      val pick = rem.map { case (id, r) =>
        val ms = selected.map(s => micro(id, s._1)).max
        (id, r, lam.toLong * r - (1000L - lam) * ms)
      }.sortBy { case (id, _, m) => (-m, id) }.head
      selected :+= ((pick._1, pick._2))
    }
    val want = selected.zipWithIndex.map { case ((id, r), i) => (id, r, i + 1) }
    assert(got == want, s"got=$got want=$want")

    // diversification: the planted duplicate of the top hit (99 ~ 0 ~ ...)
    // cannot occupy BOTH of the first two MMR slots alongside itself
    assert(got.map(_._1).distinct.size == k)
  }

  test("marginMine surfaces the planted pair and hubness-corrects") {
    // independent random vectors (the sinusoid fixture is unusable here:
    // all its vectors are shifted samples of one sine and correlate ~0.9,
    // which the hubness denominator rightly flattens)
    def rvec(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(24)((r.nextDouble() * 2 - 1).toFloat)
    }
    // src: vectors 0..9; tgt: vector 0's planted twin + 9 unrelated
    val src = (0 until 10).map(s => (s.toLong, rvec(s))).toDF("vec_id", "embedding")
    val tgt = ((100L, rvec(0).zipWithIndex.map { case (x, i) => if (i == 1) x + 0.02f else x }) +:
      (101 until 110).map(s => (s.toLong, rvec(s + 40))))
      .toDF("vec_id", "embedding")
    val got = SimilaritySearch.marginMine(src, tgt, "embedding", "vec_id",
      k = 3, minMarginMilli = 1000)
      .orderBy("src_id").collect()
    val mined = got.map(r => r.getAs[Long]("src_id") -> r.getAs[Long]("tgt_id")).toMap
    // the planted twin is source 0's best target, with a strong margin
    assert(mined.get(0L).contains(100L), got.mkString(","))
    val m0 = got.find(_.getAs[Long]("src_id") == 0L).get.getAs[Long]("margin_milli")
    assert(m0 > 1100, s"margin $m0")
    // every mined margin clears the threshold
    got.foreach(r => assert(r.getAs[Long]("margin_milli") >= 1000))
  }

  test("knn plans contain no Window over candidates (bounded-heap top-k)") {
    val q = corpus.limit(2)
    Seq(
      "brute" -> SimilaritySearch.bruteForceKnn(corpus, q, "embedding", "vec_id", k = 3),
      "lsh" -> SimilaritySearch.lshKnn(corpus, q, "embedding", "vec_id", k = 3),
      "ivf" -> SimilaritySearch.ivfKnn(corpus, q, "embedding", "vec_id", k = 3, nCells = 4)
    ).foreach { case (name, df) =>
      // windows over a Limit-bounded frame (IVF's nCells-row centroid
      // init) are fine; a window over unbounded candidates is not
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if !w.child.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.GlobalLimit]) => w
      }
      assert(windows.isEmpty,
        s"$name kNN must assemble top-k via the bounded-heap aggregate, not a window")
    }
  }

  test("centroid training folds a bounded deterministic sample per cell") {
    // one hot cell: nCells = 1 puts all 100 members in cell 0; with
    // maxTrainPerCell = 8 the trained centroid must be the per-dim mean
    // of exactly the 8 members with the largest splitmix64(id)-as-double
    // (id asc tiebreak) — never the full membership.
    val hot = (0 until 100).map(s => (s.toLong, vec(s))).toDF("vec_id", "embedding")
    val got = SimilaritySearch.trainCentroids(hot, "embedding", "vec_id",
      nCells = 1, iterations = 1, maxTrainPerCell = 8)
      .select("ce").as[Seq[Double]].collect()
    assert(got.length == 1)
    val sampleIds = (0 until 100)
      .sortBy(id => (-graft.functions.Sketches.splitmix64(id.toLong).toDouble, id))
      .take(8)
    val expected = Seq.tabulate(24) { d =>
      sampleIds.sorted.map(id => vec(id)(d).toDouble).sum / 8.0
    }
    assert(got.head == expected,
      s"expected mean over hash-sample $sampleIds")
  }

  test("top-k aggregate matches a window row_number under skewed partitioning") {
    // many partitions with uneven candidate counts → exercises partial
    // aggregation + merge of k-sized states
    val cands = (0 until 7).flatMap { q =>
      (0 until (q + 1) * 40).map { i =>
        (q.toLong, (1000 + i).toLong, math.sin(q * 997 + i * 13).abs)
      }
    }.toDF("qid", "nid", "sim").repartition(13)
    val viaAgg = cands.groupBy(col("qid"))
      .agg(graft.functions.BoundedTopK.topK(struct(col("sim"), col("nid")), 5).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.nid").as("nid"), col("s.sim").as("sim"),
        (col("pos") + 1).as("rnk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    val viaWindow = cands.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 5).select(col("qid"), col("nid"), col("sim"), col("rnk"))
    val a = viaAgg.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val b = viaWindow.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(a == b)
  }

  test("brute force and lsh agree on the top hit") {
    val q = corpus.filter(col("vec_id") < 3L)
    val bf = SimilaritySearch.bruteForceKnn(corpus, q, "embedding", "vec_id", 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    val lsh = SimilaritySearch.lshKnn(corpus, q, "embedding", "vec_id", 1, bands = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    // LSH top hit, when present, is a true strong neighbor; query 0's is exact.
    assert(lsh.get(0L).contains(bf(0L)))
  }

  test("persisted IVF index answers identically to the in-memory path") {
    val idx = java.nio.file.Files.createTempDirectory("ivfidx").toString
    val q = corpus.filter(col("vec_id") < 3L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "sim", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val direct = rows(SimilaritySearch.ivfKnn(corpus, q, "embedding", "vec_id",
      k = 2, nCells = 4, nProbe = 2))
    SimilaritySearch.buildIvfIndex(corpus, "embedding", "vec_id", idx, nCells = 4)
    val indexed = rows(SimilaritySearch.ivfKnnIndexed(q, "embedding", "vec_id", idx,
      k = 2, nProbe = 2))
    assert(indexed == direct) // bit-equal, including sims
    // the index is reusable without retraining
    val again = rows(SimilaritySearch.ivfKnnIndexed(q, "embedding", "vec_id", idx,
      k = 2, nProbe = 2))
    assert(again == direct)
  }

  test("pqKnn ranks an exact duplicate first (codes coincide, min ADC)") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (7L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // exact duplicate of 1
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = SimilaritySearch.pqKnn(vecs, vecs.filter(col("vec_id") === 1L),
      "embedding", "vec_id", k = 4, m = 2, nCells = 2, maxTrainPerCell = 16)
      .orderBy("rnk").collect()
    // ADC(q, x) >= ADC(q, dup) always: q's own codes minimize every
    // per-subspace lookup, and the duplicate carries exactly q's codes —
    // so the duplicate ties the global minimum (others may tie too)
    val dup = out.find(_.getAs[Long]("nid") == 7L)
    assert(dup.isDefined, s"duplicate missing from top-k: ${out.mkString(",")}")
    assert(dup.get.getAs[Double]("adist") == out(0).getAs[Double]("adist"))
    // deterministic across runs
    val again = SimilaritySearch.pqKnn(vecs, vecs.filter(col("vec_id") === 1L),
      "embedding", "vec_id", k = 4, m = 2, nCells = 2, maxTrainPerCell = 16)
      .orderBy("rnk").collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("residual IVF-PQ: duplicate ties the ADC minimum, clustered corpus resolves within-cell, deterministic") {
    import spark.implicits._
    // two tight clusters far apart: the coarse quantizer absorbs the
    // cluster means, so 2 codewords per subspace suffice for the
    // WITHIN-cluster detail residual coding preserves
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val data = Seq(
      (1L, v(100.0, 0.5, 0, 0)), (2L, v(100.0, 0.6, 0, 0)),
      (3L, v(100.0, -0.7, 0, 0)), (9L, v(100.0, 0.5, 0, 0)), // 9 = dup of 1
      (10L, v(0.3, 100.0, 0, 0)), (11L, v(0.4, 100.0, 0, 0)),
      (12L, v(-0.6, 100.0, 0, 0))
    ).toDF("vec_id", "embedding")
    val out = SimilaritySearch.ivfPqResidualKnn(data,
      data.filter(col("vec_id") === 1L), "embedding", "vec_id",
      k = 3, nCells = 2, nProbe = 1, m = 2, pqCells = 2, maxTrainPerCell = 16)
      .orderBy("rnk").collect()
    // the exact duplicate carries q's cell AND q's codes, so it ties
    // the global ADC minimum (the pqKnn discipline through the
    // residual chain)
    val dup = out.find(_.getAs[Long]("nid") == 9L)
    assert(dup.isDefined, s"duplicate missing: ${out.mkString(",")}")
    assert(dup.get.getAs[Double]("adist") == out(0).getAs[Double]("adist"))
    // deterministic
    val again = SimilaritySearch.ivfPqResidualKnn(data,
      data.filter(col("vec_id") === 1L), "embedding", "vec_id",
      k = 3, nCells = 2, nProbe = 1, m = 2, pqCells = 2, maxTrainPerCell = 16)
      .orderBy("rnk").collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
    // the audit runs end to end and reports the residual tier at least
    // matching absolute coding on the clustered corpus
    val audit = SimilaritySearch.ivfPqResidualRecallAudit(data,
      data.filter(col("vec_id") < 4L), "embedding", "vec_id",
      k = 2, nCells = 2, nProbe = 2, m = 2, pqCells = 2, maxTrainPerCell = 16)
      .collect()(0)
    assert(audit.getAs[Long]("hits_residual") >= audit.getAs[Long]("hits_plain"),
      s"residual coding lost to absolute coding on the clustered corpus: $audit")
  }

  test("persisted residual IVF-PQ index: bit-equal to in-memory, appends encode against stored codebooks, layout marker enforced") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("rpqidx").toString
    val q = corpus.filter(col("vec_id") < 3L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "adist", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val direct = rows(SimilaritySearch.ivfPqResidualKnn(corpus, q,
      "embedding", "vec_id", k = 2, nCells = 4, nProbe = 2, m = 2,
      pqCells = 4, maxTrainPerCell = 32))
    SimilaritySearch.buildIvfPqResidualIndex(corpus, "embedding", "vec_id",
      idx, nCells = 4, m = 2, pqCells = 4, maxTrainPerCell = 32)
    val indexed = rows(SimilaritySearch.ivfPqResidualKnnIndexed(spark, idx,
      q, "embedding", "vec_id", k = 2, nProbe = 2))
    assert(indexed == direct, "persisted residual index diverged from the in-memory chain")
    // append: on a small planted index, an exact duplicate of vector 1
    // encodes (against the PERSISTED codebooks) to 1's cell and codes,
    // so it ties the ADC minimum for query 1 (k covers the whole
    // corpus — tie-order can't hide it)
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val planted = Seq(
      (1L, v(100.0, 0.5, 0, 0)), (2L, v(100.0, 0.6, 0, 0)),
      (3L, v(100.0, -0.7, 0, 0)),
      (10L, v(0.3, 100.0, 0, 0)), (11L, v(0.4, 100.0, 0, 0))
    ).toDF("vec_id", "embedding")
    val pidx = java.nio.file.Files.createTempDirectory("rpqappend").toString
    SimilaritySearch.buildIvfPqResidualIndex(planted, "embedding", "vec_id",
      pidx, nCells = 2, m = 2, pqCells = 2, maxTrainPerCell = 16)
    val fresh = Seq((90L, v(100.0, 0.5, 0, 0))).toDF("vec_id", "embedding")
    SimilaritySearch.ivfPqResidualIndexAppend(fresh, "embedding", "vec_id", pidx)
    val after = SimilaritySearch.ivfPqResidualKnnIndexed(spark, pidx,
      planted.filter(col("vec_id") === 1L), "embedding", "vec_id",
      k = 5, nProbe = 2).orderBy("rnk").collect()
    val dup = after.find(_.getAs[Long]("nid") == 90L)
    assert(dup.isDefined, s"appended duplicate missing: ${after.mkString(",")}")
    assert(dup.get.getAs[Double]("adist") == after(0).getAs[Double]("adist"))
    // a retried append must not change results (per-(qid,nid) dedup)
    SimilaritySearch.ivfPqResidualIndexAppend(fresh, "embedding", "vec_id", pidx)
    val retried = SimilaritySearch.ivfPqResidualKnnIndexed(spark, pidx,
      planted.filter(col("vec_id") === 1L), "embedding", "vec_id",
      k = 5, nProbe = 2).orderBy("rnk").collect()
    assert(retried.map(_.toString).toSeq == after.map(_.toString).toSeq)
    // an absolute-coding index refuses the residual reader, and a
    // residual index refuses the absolute reader (both silently-wrong
    // pairings are loud)
    val idx2 = java.nio.file.Files.createTempDirectory("apqidx").toString
    SimilaritySearch.buildIvfPqIndex(corpus, "embedding", "vec_id", idx2,
      nCells = 4, m = 2, pqCells = 4, maxTrainPerCell = 32)
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqResidualKnnIndexed(spark, idx2, q,
        "embedding", "vec_id", k = 2, nProbe = 2).collect()
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqKnnIndexed(spark, idx, q,
        "embedding", "vec_id", k = 2, nProbe = 2).collect()
    }
  }

  test("residual index appends are batching-independent: chopped == one-shot, search bit-equal") {
    def build(path: String): Unit =
      SimilaritySearch.buildIvfPqResidualIndex(
        corpus.filter(col("vec_id") < 20L), "embedding", "vec_id", path,
        nCells = 2, m = 2, pqCells = 4, maxTrainPerCell = 16)
    def search(path: String) =
      SimilaritySearch.ivfPqResidualKnnIndexed(spark, path,
        corpus.filter(col("vec_id") < 3L), "embedding", "vec_id",
        k = 3, nProbe = 2)
        .collect().map(_.toString).sorted.toSeq
    val rest = corpus.filter(col("vec_id") >= 20L)
    val oneShot = java.nio.file.Files.createTempDirectory("rpq1").toString
    build(oneShot)
    SimilaritySearch.ivfPqResidualIndexAppend(rest, "embedding", "vec_id", oneShot)
    val chopped = java.nio.file.Files.createTempDirectory("rpqN").toString
    build(chopped)
    // arbitrary chop boundaries — per-row encoding against the fixed
    // persisted quantizers makes the final index content identical
    for ((lo, hi) <- Seq((20L, 31L), (31L, 44L), (44L, 1000L)))
      SimilaritySearch.ivfPqResidualIndexAppend(
        rest.filter(col("vec_id") >= lo && col("vec_id") < hi),
        "embedding", "vec_id", chopped)
    val codesOf = (p: String) => spark.read.format("kv")
      .option("path", s"$p/codes").load()
      .collect().map(_.toString).sorted.toSeq
    assert(codesOf(chopped) == codesOf(oneShot),
      "chopped appends produced different index content")
    assert(search(chopped) == search(oneShot))
  }

  test("persisted OPQxIVFADC index: stored permutation + residual layout == in-memory composition") {
    val idx = java.nio.file.Files.createTempDirectory("oridx").toString
    val q = corpus.filter(col("vec_id") < 3L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "adist", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val perm = Some(Rotation.VarPerm(24))
    val direct = rows(SimilaritySearch.ivfPqResidualKnn(corpus, q,
      "embedding", "vec_id", k = 2, nCells = 4, nProbe = 2,
      m = 2, pqCells = 4, maxTrainPerCell = 32, rotation = perm))
    SimilaritySearch.buildIvfPqResidualIndex(corpus, "embedding", "vec_id",
      idx, nCells = 4, m = 2, pqCells = 4, maxTrainPerCell = 32,
      rotation = perm)
    val indexed = rows(SimilaritySearch.ivfPqResidualKnnIndexed(spark, idx,
      q, "embedding", "vec_id", k = 2, nProbe = 2))
    assert(indexed == direct,
      "persisted OPQxIVFADC diverged from the in-memory composition")
    // the layout carries the residual marker: the absolute reader refuses
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqKnnIndexed(spark, idx, q,
        "embedding", "vec_id", k = 2, nProbe = 2).collect()
    }
  }

  test("normalize knob through the PQ tiers: normalized persisted indexes == in-memory chains over unit vectors") {
    val q = corpus.filter(col("vec_id") < 3L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "adist", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    def un(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      graft.functions.VectorExpressions.unitNormalize(col("embedding")).as("embedding"))
    // absolute-coding tier
    val aidx = java.nio.file.Files.createTempDirectory("pqcos").toString
    SimilaritySearch.buildIvfPqIndex(corpus, "embedding", "vec_id", aidx,
      nCells = 4, m = 2, pqCells = 4, maxTrainPerCell = 32, normalize = true)
    val aIndexed = rows(SimilaritySearch.ivfPqKnnIndexed(spark, aidx, q,
      "embedding", "vec_id", k = 2, nProbe = 2))
    val aDirect = rows(SimilaritySearch.ivfPqKnn(un(corpus), un(q),
      "embedding", "vec_id", k = 2, nCells = 4, nProbe = 2, m = 2,
      pqCells = 4, maxTrainPerCell = 32))
    assert(aIndexed == aDirect, "absolute PQ normalize knob diverged from the unit chain")
    // residual tier
    val ridx = java.nio.file.Files.createTempDirectory("rpqcos").toString
    SimilaritySearch.buildIvfPqResidualIndex(corpus, "embedding", "vec_id",
      ridx, nCells = 4, m = 2, pqCells = 4, maxTrainPerCell = 32,
      normalize = true)
    val rIndexed = rows(SimilaritySearch.ivfPqResidualKnnIndexed(spark, ridx,
      q, "embedding", "vec_id", k = 2, nProbe = 2))
    val rDirect = rows(SimilaritySearch.ivfPqResidualKnn(un(corpus), un(q),
      "embedding", "vec_id", k = 2, nCells = 4, nProbe = 2, m = 2,
      pqCells = 4, maxTrainPerCell = 32))
    assert(rIndexed == rDirect, "residual PQ normalize knob diverged from the unit chain")
    // appends inherit the stored transform on both tiers: re-searching
    // after appending a scaled copy of vector 0 still answers from the
    // unit geometry (the appended row's codes come from the normalized
    // vector, so a 7x-scaled twin ties its source's codes)
    import spark.implicits._
    val v0 = corpus.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect()(0).getSeq[Float](0).toArray
    val scaled = Seq((9100L, v0.map(x => x * 7.0f))).toDF("vec_id", "embedding")
    SimilaritySearch.ivfPqResidualIndexAppend(scaled, "embedding", "vec_id", ridx)
    val codes = spark.read.format("kv").option("path", s"$ridx/codes").load()
      .where(col("nid").isin(0L, 9100L))
      .collect().map(r => r.getAs[Long]("nid") ->
        (r.getAs[Long]("ivf_cell"), r.getSeq[Long](r.fieldIndex("codes")).toList))
      .toMap
    assert(codes(9100L) == codes(0L),
      "a 7x-scaled twin did not encode to its source's cell/codes — " +
        s"append ignored the stored normalize flag: $codes")
  }

  test("ivfIndexAppend absorbs new vectors without retraining") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("ivfappend").toString
    val base = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.98f, 0.05f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.05f, 0.98f))
    ).toDF("vec_id", "embedding")
    SimilaritySearch.buildIvfIndex(base, "embedding", "vec_id", idx, nCells = 2)
    val centsBefore = spark.read.format("kv").option("path", s"$idx/centroids")
      .load().collect().map(_.toString).sorted.toSeq

    // a near-duplicate of vector 1 arrives later
    val fresh = Seq((3L, Array(0.999f, 0.01f))).toDF("vec_id", "embedding")
    SimilaritySearch.ivfIndexAppend(fresh, "embedding", "vec_id", idx)

    // centroids untouched; the search sees the appended vector as the
    // top neighbor of 1
    val centsAfter = spark.read.format("kv").option("path", s"$idx/centroids")
      .load().collect().map(_.toString).sorted.toSeq
    assert(centsAfter == centsBefore)
    val top = SimilaritySearch.ivfKnnIndexed(
      base.filter(col("vec_id") === 1L), "embedding", "vec_id", idx, k = 1, nProbe = 1)
      .collect()(0)
    assert(top.getAs[Long]("nid") == 3L)
  }

  test("normalize knob: normalized IVF index == in-memory chain over unit vectors; append takes the stored transform") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("ivfcos").toString
    // norm-spread corpus: repeated DIRECTIONS at wildly different magnitudes
    def v(s: Double, xs: Double*) = xs.map(x => (x * s).toFloat).toArray
    val data = Seq(
      (1L, v(1.0, 1, 0, 0, 0)), (2L, v(9.0, 0.99, 0.14, 0, 0)),
      (3L, v(0.1, 0.97, 0.24, 0, 0)),
      (10L, v(1.0, 0, 1, 0, 0)), (11L, v(8.0, 0.1, 0.99, 0, 0)),
      (20L, v(5.0, 0, 0, 1, 0)), (21L, v(0.2, 0, 0.14, 0.99, 0))
    ).toDF("vec_id", "embedding")
    val q = data.filter(col("vec_id") < 3L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "sim", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    def un(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      graft.functions.VectorExpressions.unitNormalize(col("embedding")).as("embedding"))
    SimilaritySearch.buildIvfIndex(data, "embedding", "vec_id", idx,
      nCells = 2, normalize = true)
    // queries enter RAW — the STORED knob applies the transform
    val indexed = rows(SimilaritySearch.ivfKnnIndexed(q, "embedding", "vec_id",
      idx, k = 2, nProbe = 1))
    val direct = rows(SimilaritySearch.ivfKnn(un(data), un(q),
      "embedding", "vec_id", k = 2, nCells = 2, nProbe = 1))
    assert(indexed == direct, "stored normalize knob diverged from the in-memory unit chain")
    // appends inherit the build's preprocessing: the appended row lands
    // unit-normalized in the cells table (a raw 40x-magnitude row would
    // carry nn ≈ 40 and be routed by magnitude)
    val fresh = Seq((30L, v(40.0, 0, 1, 0.1, 0))).toDF("vec_id", "embedding")
    SimilaritySearch.ivfIndexAppend(fresh, "embedding", "vec_id", idx)
    val nn = spark.read.format("kv").option("path", s"$idx/cells").load()
      .where(col("nid") === 30L).select(col("nn")).as[Double].head()
    assert(math.abs(nn - 1.0) < 1e-9, s"appended row not normalized: nn=$nn")
    // default build records normalize=0 and behaves exactly as before
    val idxRaw = java.nio.file.Files.createTempDirectory("ivfraw").toString
    SimilaritySearch.buildIvfIndex(data, "embedding", "vec_id", idxRaw, nCells = 2)
    val rawIndexed = rows(SimilaritySearch.ivfKnnIndexed(q, "embedding", "vec_id",
      idxRaw, k = 2, nProbe = 1))
    val rawDirect = rows(SimilaritySearch.ivfKnn(data, q,
      "embedding", "vec_id", k = 2, nCells = 2, nProbe = 1))
    assert(rawIndexed == rawDirect)
  }

  test("normalize knob: normalized graph index == in-memory walk over unit vectors; pre-knob layouts stay raw") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("gridxcos").toString
    val q = corpus.filter(col("vec_id") < 3L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "sim", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    def un(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      graft.functions.VectorExpressions.unitNormalize(col("embedding")).as("embedding"))
    SimilaritySearch.buildGraphIndex(corpus, "embedding", "vec_id", idx,
      nCells = 4, degree = 4, seedsPerCell = 2, normalize = true)
    val indexed = rows(SimilaritySearch.graphKnnIndexed(q, "embedding", "vec_id",
      idx, k = 2, nProbe = 2, beamWidth = 4, hops = 2))
    val direct = rows(SimilaritySearch.graphKnn(un(corpus), un(q),
      "embedding", "vec_id", k = 2, nCells = 4, nProbe = 2, degree = 4,
      beamWidth = 4, hops = 2, seedsPerCell = 2))
    assert(indexed == direct, "stored graph normalize knob diverged from the in-memory unit walk")
    // a pre-knob knobs table (no normalize column) reads as raw — old
    // indexes keep their exact behavior
    val kr = spark.read.format("kv").option("path", s"$idx/knobs").load()
      .collect().head
    Seq((kr.getAs[Long]("degree"), kr.getAs[Long]("seeds_per_cell"),
      kr.getAs[Long]("n_cells"), kr.getAs[Long]("max_edge_candidates"),
      kr.getAs[Long]("cross_cells"), kr.getAs[Long]("degree_cross"),
      kr.getAs[Long]("degree_top"), kr.getAs[Long]("degree_cells")))
      .toDF("degree", "seeds_per_cell", "n_cells", "max_edge_candidates",
        "cross_cells", "degree_cross", "degree_top", "degree_cells")
      .write.format("kv").option("path", s"$idx/knobs").mode("overwrite").save()
    val legacy = rows(SimilaritySearch.graphKnnIndexed(q, "embedding", "vec_id",
      idx, k = 2, nProbe = 2, beamWidth = 4, hops = 2))
    // the index DATA is normalized but the queries now walk in raw —
    // equal to walking the same persisted tables with raw queries
    val rawQ = rows(SimilaritySearch.graphKnn(un(corpus), q,
      "embedding", "vec_id", k = 2, nCells = 4, nProbe = 2, degree = 4,
      beamWidth = 4, hops = 2, seedsPerCell = 2))
    assert(legacy == rawQ, "missing normalize column did not degrade to raw queries")
  }

  test("persisted IVF-PQ index answers identically to the in-memory path and absorbs appends") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
    val q = corpus.filter(col("vec_id") < 3L)
    SimilaritySearch.buildIvfPqIndex(corpus, "embedding", "vec_id", idx,
      nCells = 4, m = 2, pqCells = 4, maxTrainPerCell = 32)
    val indexed = SimilaritySearch.ivfPqKnnIndexed(spark, idx, q,
      "embedding", "vec_id", k = 3, nProbe = 2)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    val inMemory = SimilaritySearch.ivfPqKnn(corpus, q, "embedding", "vec_id",
      k = 3, nCells = 4, nProbe = 2, m = 2, pqCells = 4, maxTrainPerCell = 32)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    assert(indexed == inMemory)

    // append an exact duplicate of vector 0 — it encodes to vector 0's
    // own codes, so a full-probe search for 0 must surface it TIED at
    // the minimal ADC distance (= 0's own quantization error; ADC ties
    // are shared by every vector with the same codes, nid-asc ranked)
    val dup = Seq((777L, vec(0))).toDF("vec_id", "embedding")
    SimilaritySearch.ivfPqIndexAppend(dup, "embedding", "vec_id", idx)
    val after = SimilaritySearch.ivfPqKnnIndexed(spark, idx,
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id",
      k = 60, nProbe = 4).orderBy("rnk").collect()
    val mine = after.filter(_.getAs[Long]("nid") == 777L)
    assert(mine.length == 1, s"appended vector missing: ${after.mkString(",")}")
    assert(mine(0).getAs[Double]("adist") ==
      after.map(_.getAs[Double]("adist")).min)

    // appending against a missing/empty index path fails with a clear
    // error, not an opaque empty.reduce
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqIndexAppend(dup, "embedding", "vec_id",
        java.nio.file.Files.createTempDirectory("noidx").toString + "/idx")
    }
    assert(e.getMessage.contains("no PQ codebooks"))
  }

  test("ivfPqRefineKnn with full probes and corpus-wide shortlist equals brute force") {
    val q = corpus.filter(col("vec_id") < 3L)
    // nProbe = nCells → every code is a candidate; refine ≥ corpus →
    // the shortlist is everything; the exact rescore must then reproduce
    // brute-force cosine ranking bit for bit.
    val refined = SimilaritySearch.ivfPqRefineKnn(corpus, q, "embedding", "vec_id",
      k = 3, refine = 100, nCells = 4, nProbe = 4, m = 2, pqCells = 4,
      maxTrainPerCell = 32)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    val brute = SimilaritySearch.bruteForceKnn(corpus, q, "embedding", "vec_id", k = 3)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    assert(refined == brute)
  }

  test("ivfPqRefineKnn scores its shortlist with exact cosine, ordered") {
    val q = corpus.filter(col("vec_id") === 0L)
    val got = SimilaritySearch.ivfPqRefineKnn(corpus, q, "embedding", "vec_id",
      k = 3, refine = 10, nCells = 4, nProbe = 2, m = 2, pqCells = 4,
      maxTrainPerCell = 32).orderBy("rnk").collect()
    assert(got.length == 3)
    // sims ordered by the exact rescore, not adist
    assert(got.map(_.getAs[Double]("sim")).toSeq.sliding(2).forall(p => p(0) >= p(1)))
    // every returned sim is the TRUE cosine of that pair (scalar replay)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    def vecOf(id: Long): Seq[Float] = if (id == 99L)
      vec(0).zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    else vec(id.toInt)
    got.foreach { r =>
      val expected = math.rint(cos(vecOf(0L), vecOf(r.getAs[Long]("nid"))) * 1e6) / 1e6
      assert(math.abs(r.getAs[Double]("sim") - expected) < 1e-9, r.toString)
    }
  }

  // 16-dim corpus (opqRotate needs a power-of-two dim) with an exact
  // duplicate of vector 0 planted as id 99
  private def vec16(seed: Int): Seq[Float] =
    Seq.tabulate(16)(i => math.sin(seed * 31 + i).toFloat)
  private lazy val corpus16 = ((0 until 40).map(s => (s.toLong, vec16(s))) :+
    (99L, vec16(0))).toDF("vec_id", "embedding")

  test("opqRotate is orthogonal: norms and dot products survive the rotation") {
    val rotated = corpus16.select(col("vec_id"),
      SimilaritySearch.opqRotate(col("embedding"), 16).as("r"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("nr", sqrt(aggregate(col("r"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("ne", sqrt(aggregate(col("e"), lit(0.0), (a, x) => a + x * x)))
      .collect()
    rotated.foreach { r =>
      assert(math.abs(r.getAs[Double]("nr") - r.getAs[Double]("ne")) < 1e-9,
        s"norm changed for ${r.get(0)}")
    }
    // the planted duplicate stays an exact duplicate in rotated space
    val byId = rotated.map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Double](1).toList).toMap
    assert(byId(0L) == byId(99L))
  }

  test("opqRotate matches the closed form and rejects non-power-of-two dims") {
    // independent scala replay: y_j = (1/4)*sum_i sign_i * x_i * (-1)^pc(i&j)
    val x = vec16(3).map(_.toDouble)
    val signs = SimilaritySearch.opqSigns(16)
    val want = (0 until 16).map { j =>
      (0 until 16).map { i =>
        x(i) * signs(i) *
          (if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0)
      }.sum / 4.0
    }
    val got = corpus16.filter(col("vec_id") === 3L)
      .select(SimilaritySearch.opqRotate(col("embedding"), 16))
      .collect()(0).getSeq[Double](0)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
    intercept[IllegalArgumentException] {
      SimilaritySearch.opqRotate(col("embedding"), 24)
    }
    // dim mismatch at runtime raises, never silently truncates
    intercept[Exception] {
      corpus16.select(SimilaritySearch.opqRotate(col("embedding"), 32)).collect()
    }
  }

  test("ivfPqOpqKnn ranks the planted exact duplicate first") {
    val q = corpus16.filter(col("vec_id") === 0L)
    val got = SimilaritySearch.ivfPqKnn(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 2, nProbe = 2, m = 2, pqCells = 8,
      rotation = Some(Rotation.Hadamard(16)))
      .orderBy("rnk").collect()
    assert(got.nonEmpty)
    // identical vector -> identical rotated vector -> identical codes ->
    // minimal ADC distance (other vectors may COLLIDE onto the same
    // codes and tie — the duplicate must sit AT the minimum)
    val dup = got.find(_.getAs[Long]("nid") == 99L)
    assert(dup.isDefined, s"got ${got.mkString(",")}")
    val minD = got.map(_.getAs[Double]("adist")).min
    assert(dup.get.getAs[Double]("adist") == minD, s"got ${got.mkString(",")}")
  }

  test("opqRotateFwht replays the butterfly bit-exactly and tracks the naive fold") {
    // independent functional butterfly: stage h maps j -> x[j]+x[j+h]
    // (bit h clear) / x[j-h]-x[j] (bit h set) — the values FwhtKernel's
    // in-place (a+b, a-b) writes produce. Exact == expected: same IEEE
    // ops in the same order.
    val signs = SimilaritySearch.opqSigns(16)
    def replay(x0: Seq[Double]): Seq[Double] = {
      var x = x0.zip(signs).map { case (v, s) => v * s }.toVector
      for (h <- Seq(1, 2, 4, 8)) {
        x = Vector.tabulate(16)(j =>
          if ((j & h) == 0) x(j) + x(j + h) else x(j - h) - x(j))
      }
      x.map(_ / 4.0)
    }
    val rows = corpus16.select(col("vec_id"),
      SimilaritySearch.opqRotateFwht(col("embedding"), 16).as("f"),
      SimilaritySearch.opqRotate(col("embedding"), 16).as("naive"),
      col("embedding")).collect()
    rows.foreach { r =>
      val in = r.getSeq[Float](3).map(_.toDouble)
      val f = r.getSeq[Double](1)
      val naive = r.getSeq[Double](2)
      // bit-exact vs the independent replay of the SAME op order
      assert(f == replay(in), s"butterfly mismatch for ${r.get(0)}")
      // ulp-close to the naive fold (different summation tree)
      f.zip(naive).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"fwht vs naive for ${r.get(0)}") }
    }
    // the planted duplicate stays exact in FWHT-rotated space
    val byId = rows.map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).toMap
    assert(byId(0L) == byId(99L))
    // non-power-of-two rejected at build time; runtime dim mismatch raises
    intercept[IllegalArgumentException] {
      SimilaritySearch.opqRotateFwht(col("embedding"), 24)
    }
    intercept[Exception] {
      corpus16.select(SimilaritySearch.opqRotateFwht(col("embedding"), 32)).collect()
    }
  }

  test("ivfPqOpqFwhtKnn ranks the planted exact duplicate first") {
    val q = corpus16.filter(col("vec_id") === 0L)
    val got = SimilaritySearch.ivfPqKnn(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 2, nProbe = 2, m = 2, pqCells = 8,
      rotation = Some(Rotation.HadamardFwht(16)))
      .orderBy("rnk").collect()
    assert(got.nonEmpty)
    val dup = got.find(_.getAs[Long]("nid") == 99L)
    assert(dup.isDefined, s"got ${got.mkString(",")}")
    val minD = got.map(_.getAs[Double]("adist")).min
    assert(dup.get.getAs[Double]("adist") == minD, s"got ${got.mkString(",")}")
  }

  test("graphKnn with full seed coverage equals brute force exactly") {
    // one cell, every node a seed, beam wider than the corpus: the walk
    // degenerates to an exact scan — output must be bit-identical to
    // bruteForceKnn (same scoring, same rounding, same tiebreaks)
    val q = corpus16.filter(col("vec_id") < 3L)
    val got = SimilaritySearch.graphKnn(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 1, nProbe = 1, degree = 2, beamWidth = 50, hops = 0,
      seedsPerCell = 50, maxTrainPerCell = 64)
      .orderBy("qid", "rnk").collect().toSeq
    val want = SimilaritySearch.bruteForceKnn(corpus16, q, "embedding", "vec_id", 3)
      .orderBy("qid", "rnk").collect().toSeq
    assert(got == want)
  }

  test("graphKnn hops only improve the beam: recall is monotone in walk depth") {
    val q = corpus16.filter(col("vec_id") < 5L)
    def recall(hops: Int): Long =
      SimilaritySearch.graphRecallAudit(corpus16, q, "embedding", "vec_id",
        k = 3, nCells = 2, nProbe = 1, degree = 4, beamWidth = 6, hops = hops,
        seedsPerCell = 2, maxTrainPerCell = 64)
        .collect()(0).getAs[Long]("recall_milli")
    val r0 = recall(0)
    val r2 = recall(2)
    assert(r2 >= r0, s"hops=2 recall $r2 < hops=0 recall $r0")
    // deterministic: the same walk twice is bit-identical
    val a = SimilaritySearch.graphKnn(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 2, nProbe = 2, degree = 4, beamWidth = 8, hops = 2,
      seedsPerCell = 2, maxTrainPerCell = 64).orderBy("qid", "rnk").collect().toSeq
    val b = SimilaritySearch.graphKnn(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 2, nProbe = 2, degree = 4, beamWidth = 8, hops = 2,
      seedsPerCell = 2, maxTrainPerCell = 64).orderBy("qid", "rnk").collect().toSeq
    assert(a == b)
    intercept[IllegalArgumentException] {
      SimilaritySearch.graphKnn(corpus16, q, "embedding", "vec_id",
        k = 5, beamWidth = 4)
    }
  }

  test("persisted graph index answers identically to the in-memory walk") {
    val idx = java.nio.file.Files.createTempDirectory("gridx").toString + "/i"
    val q = corpus16.filter(col("vec_id") < 5L)
    SimilaritySearch.buildGraphIndex(corpus16, "embedding", "vec_id", idx,
      nCells = 2, degree = 4, seedsPerCell = 2, maxTrainPerCell = 64)
    val indexed = SimilaritySearch.graphKnnIndexed(q, "embedding", "vec_id",
      idx, k = 3, nProbe = 2, beamWidth = 8, hops = 2)
      .orderBy("qid", "rnk").collect().toSeq
    val mem = SimilaritySearch.graphKnn(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 2, nProbe = 2, degree = 4, beamWidth = 8, hops = 2,
      seedsPerCell = 2, maxTrainPerCell = 64)
      .orderBy("qid", "rnk").collect().toSeq
    assert(indexed == mem)
  }

  test("graphIndexAppend links new vectors bidirectionally — reachable both ways") {
    val idx = java.nio.file.Files.createTempDirectory("gridxapp").toString + "/i"
    // build WITHOUT the planted duplicate (id 99), append it after
    val base = corpus16.filter(col("vec_id") =!= 99L)
    SimilaritySearch.buildGraphIndex(base, "embedding", "vec_id", idx,
      nCells = 1, degree = 4, seedsPerCell = 40, maxTrainPerCell = 64)
    SimilaritySearch.graphIndexAppend(corpus16.filter(col("vec_id") === 99L),
      "embedding", "vec_id", idx, degree = 4)
    // old→new: query 0's walk reaches the appended duplicate through the
    // REVERSE edge (every node is a seed, so node 0 is in the beam; its
    // reverse link to 99 is one hop) — sim 1.0 must rank first
    val fromOld = SimilaritySearch.graphKnnIndexed(
      corpus16.filter(col("vec_id") === 0L), "embedding", "vec_id", idx,
      k = 3, nProbe = 1, beamWidth = 45, hops = 1).orderBy("rnk").collect()
    assert(fromOld.head.getAs[Long]("nid") == 99L &&
      fromOld.head.getAs[Double]("sim") == 1.0, fromOld.mkString(","))
    // new→old: the appended node's own outgoing edges find its twin
    val fromNew = SimilaritySearch.graphKnnIndexed(
      corpus16.filter(col("vec_id") === 99L), "embedding", "vec_id", idx,
      k = 3, nProbe = 1, beamWidth = 45, hops = 1).orderBy("rnk").collect()
    assert(fromNew.head.getAs[Long]("nid") == 0L &&
      fromNew.head.getAs[Double]("sim") == 1.0, fromNew.mkString(","))
  }

  test("graph walk cost is linear in hops, not exponential (lineage is cut per hop)") {
    // regression pin for the 2^hops re-evaluation bug: each hop consumes
    // the beam twice; without the per-hop localCheckpoint the job count
    // roughly doubled per hop (74 s on the indexed gate). Count Spark
    // jobs for hops=1 vs hops=4 — the delta per extra hop must stay
    // bounded (a few bounded jobs each), nowhere near doubling.
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    val q = corpus16.filter(col("vec_id") < 3L)
    def jobsFor(hops: Int): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        counter.set(0)
        SimilaritySearch.graphKnn(corpus16, q, "embedding", "vec_id",
          k = 3, nCells = 2, nProbe = 2, degree = 4, beamWidth = 8,
          hops = hops, seedsPerCell = 2, maxTrainPerCell = 64).collect()
        // listener events are async — give the bus a moment to drain
        Thread.sleep(500)
        counter.get()
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val j1 = jobsFor(1)
    val j4 = jobsFor(4)
    // 3 extra hops: linear growth is a handful of jobs per hop; the
    // pre-fix exponential shape multiplied the total several-fold
    assert(j4 - j1 <= 3 * 8, s"hops=1 ran $j1 jobs, hops=4 ran $j4 — " +
      "per-hop cost must stay bounded")
    assert(j4 < 3 * j1, s"hops=4 ($j4 jobs) vs hops=1 ($j1 jobs) looks exponential")
  }

  test("persisted varperm index answers identically to the in-memory learned chain") {
    val aniso = corpus16.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") * when(i < 8, lit(4.0)).otherwise(lit(0.25)))
        .as("embedding"))
    val q = aniso.filter(col("vec_id") < 3L)
    val idx = java.nio.file.Files.createTempDirectory("vpidx").toString + "/i"
    val perm = Some(Rotation.VarPerm(16))
    SimilaritySearch.buildIvfPqIndex(aniso, "embedding", "vec_id", idx,
      nCells = 2, m = 2, pqCells = 8, maxTrainPerCell = 64, rotation = perm)
    val indexed = SimilaritySearch.ivfPqKnnIndexed(spark, idx, q,
      "embedding", "vec_id", k = 3, nProbe = 2)
      .orderBy("qid", "rnk").collect().toSeq
    val mem = SimilaritySearch.ivfPqKnn(aniso, q, "embedding",
      "vec_id", k = 3, nCells = 2, nProbe = 2, m = 2,
      pqCells = 8, maxTrainPerCell = 64, rotation = perm)
      .orderBy("qid", "rnk").collect().toSeq
    assert(indexed == mem, "stored permutation diverged from the in-memory chain")
    // missing perm table fails fast instead of searching the wrong basis
    intercept[Exception] {
      SimilaritySearch.ivfPqKnnIndexed(spark,
        java.nio.file.Files.createTempDirectory("vpnone").toString + "/x",
        q, "embedding", "vec_id", k = 3)
    }
  }

  test("binary tier: packed sign words replay, indexed == in-memory, refine never worse than raw Hamming") {
    val q = corpus16.filter(col("vec_id") < 3L)
    // packing replay: plain-Scala sign words over a collected row
    val row = corpus16.select(col("vec_id"),
        col("embedding"),
        SimilaritySearch.binarySignWords(col("embedding"), 16).as("bw"))
      .orderBy("vec_id").collect().head
    val vec = row.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }
    val expected = row.getSeq[Long](2)
    val ref = (0 until 1).map { w =>
      (0 until 16).map { b =>
        if (vec(w * 32 + b) > 0.0) 1L << b else 0L
      }.sum
    }
    assert(expected == ref, "sign packing diverged from the reference")
    // persisted code table answers bit-identically to the in-memory scan
    val idx = java.nio.file.Files.createTempDirectory("binidx").toString + "/i"
    SimilaritySearch.buildBinaryIndex(corpus16, "embedding", "vec_id", idx,
      dim = 16)
    val indexed = SimilaritySearch.binaryKnnIndexed(spark, idx, q,
      "embedding", "vec_id", k = 3)
      .orderBy("qid", "rnk").collect().toSeq
    val mem = SimilaritySearch.binaryKnn(corpus16, q, "embedding", "vec_id",
      dim = 16, k = 3)
      .orderBy("qid", "rnk").collect().toSeq
    assert(indexed == mem, "stored codes diverged from the in-memory scan")
    intercept[Exception] {
      SimilaritySearch.binaryKnnIndexed(spark,
        java.nio.file.Files.createTempDirectory("binnone").toString + "/x",
        q, "embedding", "vec_id", k = 3)
    }
    // the rescore cascade can only improve on raw Hamming recall
    val exact = SimilaritySearch.bruteForceKnn(corpus16, q, "embedding",
      "vec_id", k = 3).select(col("qid"), col("nid"))
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select(col("qid"), col("nid"))
        .join(exact, Seq("qid", "nid"), "left_semi").count()
    val hBin = hits(SimilaritySearch.binaryKnn(corpus16, q, "embedding",
      "vec_id", dim = 16, k = 3))
    val hRef = hits(SimilaritySearch.binaryRefineKnn(corpus16, q,
      "embedding", "vec_id", dim = 16, k = 3, refine = 8))
    assert(hRef >= hBin, s"rescore lost recall: $hRef < $hBin")
  }

  test("normalize knob through the permuted tiers: stored perm_meta drives the unit transform; pre-meta layouts stay raw") {
    // norm-spread + anisotropy: scale dims unevenly AND give rows
    // wildly different magnitudes, so raw and unit chains genuinely
    // differ
    val mixed = corpus16.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x.cast("double") + lit(3.0) *
          element_at(col("embedding"), 1).cast("double")) *
          when(i < 8, lit(4.0)).otherwise(lit(0.25)))
        .as("embedding"))
    val q = mixed.filter(col("vec_id") < 3L)
    // varperm tier: indexed normalized == in-memory normalize=true
    val idx = java.nio.file.Files.createTempDirectory("vpcos").toString + "/i"
    val perm = Some(Rotation.VarPerm(16))
    SimilaritySearch.buildIvfPqIndex(mixed, "embedding", "vec_id", idx,
      nCells = 2, m = 2, pqCells = 8, maxTrainPerCell = 64,
      normalize = true, rotation = perm)
    val indexed = SimilaritySearch.ivfPqKnnIndexed(spark, idx, q,
      "embedding", "vec_id", k = 3, nProbe = 2)
      .orderBy("qid", "rnk").collect().toSeq
    val mem = SimilaritySearch.ivfPqKnn(mixed, q, "embedding",
      "vec_id", k = 3, nCells = 2, nProbe = 2, m = 2,
      pqCells = 8, maxTrainPerCell = 64, normalize = true, rotation = perm)
      .orderBy("qid", "rnk").collect().toSeq
    assert(indexed == mem,
      "stored perm_meta normalize knob diverged from the in-memory unit chain")
    // pre-meta layout (no perm_meta table) degrades to raw queries —
    // old indexes keep answering exactly as they did before the knob
    val idxRaw = java.nio.file.Files.createTempDirectory("vpraw").toString + "/i"
    SimilaritySearch.buildIvfPqIndex(mixed, "embedding", "vec_id", idxRaw,
      nCells = 2, m = 2, pqCells = 8, maxTrainPerCell = 64, rotation = perm)
    graft.sources.ParquetIO.deletePath(s"$idxRaw/perm_meta")
    val legacy = SimilaritySearch.ivfPqKnnIndexed(spark, idxRaw, q,
      "embedding", "vec_id", k = 3, nProbe = 2)
      .orderBy("qid", "rnk").collect().toSeq
    val rawMem = SimilaritySearch.ivfPqKnn(mixed, q, "embedding",
      "vec_id", k = 3, nCells = 2, nProbe = 2, m = 2,
      pqCells = 8, maxTrainPerCell = 64, rotation = perm)
      .orderBy("qid", "rnk").collect().toSeq
    assert(legacy == rawMem, "missing perm_meta did not degrade to raw")
    // composed OPQ x IVFADC tier: same knob, same parity
    val idxOr = java.nio.file.Files.createTempDirectory("orcos").toString + "/i"
    SimilaritySearch.buildIvfPqResidualIndex(mixed, "embedding", "vec_id",
      idxOr, nCells = 2, m = 2, pqCells = 8,
      maxTrainPerCell = 64, normalize = true, rotation = perm)
    val orIndexed = SimilaritySearch.ivfPqResidualKnnIndexed(spark, idxOr, q,
      "embedding", "vec_id", k = 3, nProbe = 2)
      .orderBy("qid", "rnk").collect().toSeq
    val orMem = SimilaritySearch.ivfPqResidualKnn(mixed, q, "embedding",
      "vec_id", k = 3, nCells = 2, nProbe = 2, m = 2,
      pqCells = 8, maxTrainPerCell = 64, normalize = true, rotation = perm)
      .orderBy("qid", "rnk").collect().toSeq
    assert(orIndexed == orMem,
      "composed tier's stored normalize knob diverged from the in-memory chain")
    // the rotated (FWHT) chain's knob: normalized == plain chain over
    // pre-normalized inputs (unit transform commutes into the caller)
    val unitQ = q.select(col("vec_id"),
      graft.functions.VectorExpressions.unitNormalize(col("embedding"))
        .as("embedding"))
    val unitC = mixed.select(col("vec_id"),
      graft.functions.VectorExpressions.unitNormalize(col("embedding"))
        .as("embedding"))
    val hadamard = Some(Rotation.Hadamard(16))
    val opqNorm = SimilaritySearch.ivfPqKnn(mixed, q, "embedding",
      "vec_id", k = 3, nCells = 2, nProbe = 2, m = 2,
      pqCells = 8, maxTrainPerCell = 64, normalize = true,
      rotation = hadamard)
      .orderBy("qid", "rnk").collect().toSeq
    val opqUnit = SimilaritySearch.ivfPqKnn(unitC, unitQ, "embedding",
      "vec_id", k = 3, nCells = 2, nProbe = 2, m = 2,
      pqCells = 8, maxTrainPerCell = 64, rotation = hadamard)
      .orderBy("qid", "rnk").collect().toSeq
    assert(opqNorm == opqUnit,
      "FWHT chain normalize knob != plain chain over unit vectors")
  }

  test("graphIndexAppend gives appended nodes the index's cross-cell edges") {
    val idx = java.nio.file.Files.createTempDirectory("gridxcross").toString + "/i"
    val base = corpus16.filter(col("vec_id") =!= 99L)
    SimilaritySearch.buildGraphIndex(base, "embedding", "vec_id", idx,
      nCells = 2, degree = 3, seedsPerCell = 40, maxTrainPerCell = 64,
      crossCells = 1, degreeCross = 2)
    SimilaritySearch.graphIndexAppend(corpus16.filter(col("vec_id") === 99L),
      "embedding", "vec_id", idx, degree = 3)
    def table(n: String) = spark.read.format("kv")
      .option("path", s"$idx/$n").load()
    val cellOf = table("cells").select("nid", "cell").collect()
      .map(r => r.getAs[Long]("nid") -> r.getAs[Long]("cell")).toMap
    val myCell = cellOf(99L)
    val out99 = table("edges").filter(col("src") === 99L)
      .select("dst").collect().map(_.getAs[Long]("dst"))
    assert(out99.nonEmpty)
    // the appended node got long-range links into the OTHER cell, not
    // just within-cell ones (the knobs-table contract)
    assert(out99.exists(d => cellOf(d) != myCell),
      s"appended node 99 has no cross-cell edge (cell $myCell, dsts ${out99.toSeq})")
    // and its within-cell twin is still its top hit
    val got = SimilaritySearch.graphKnnIndexed(
      corpus16.filter(col("vec_id") === 99L), "embedding", "vec_id", idx,
      k = 3, nProbe = 1, beamWidth = 45, hops = 1).orderBy("rnk").collect()
    assert(got.head.getAs[Long]("nid") == 0L, got.mkString(","))
    // a pre-meta index (no knobs table) still appends, within-cell only
    graft.sources.ParquetIO.deletePath(s"$idx/knobs")
    SimilaritySearch.graphIndexAppend(corpus16.filter(col("vec_id") === 98L)
      .unionByName(corpus16.filter(col("vec_id") === 99L))
      .filter(col("vec_id") === 99L)
      .withColumn("vec_id", lit(98L)),
      "embedding", "vec_id", idx, degree = 3)
    assert(table("cells").filter(col("nid") === 98L).count() == 1)
  }

  test("retried index appends cannot double-seat a nid in indexed ANN search") {
    // a maintenance append retried after a crash writes the same rows
    // twice; the indexed search paths must dedup candidates by (qid,
    // nid) or one nid's identical score seats two of the k heap slots
    // and silently evicts a true neighbor
    val base = corpus16.filter(col("vec_id") =!= 99L)
    val nv = corpus16.filter(col("vec_id") === 99L)
    val q = corpus16.filter(col("vec_id") === 0L)
    // IVF-Flat
    val idx = java.nio.file.Files.createTempDirectory("annretry1").toString + "/i"
    SimilaritySearch.buildIvfIndex(base, "embedding", "vec_id", idx,
      nCells = 2, maxTrainPerCell = 64)
    SimilaritySearch.ivfIndexAppend(nv, "embedding", "vec_id", idx)
    val single = SimilaritySearch.ivfKnnIndexed(q, "embedding", "vec_id",
      idx, k = 3, nProbe = 2).orderBy("rnk").collect().toSeq
    SimilaritySearch.ivfIndexAppend(nv, "embedding", "vec_id", idx) // retry
    val doubled = SimilaritySearch.ivfKnnIndexed(q, "embedding", "vec_id",
      idx, k = 3, nProbe = 2).orderBy("rnk").collect().toSeq
    assert(doubled == single, "a retried ivfIndexAppend changed results")
    assert(doubled.map(_.getAs[Long]("nid")).distinct.size == 3,
      s"duplicate nid in top-k: $doubled")
    assert(doubled.head.getAs[Long]("nid") == 99L)
    // IVF-PQ
    val idx2 = java.nio.file.Files.createTempDirectory("annretry2").toString + "/p"
    SimilaritySearch.buildIvfPqIndex(base, "embedding", "vec_id", idx2,
      nCells = 2, m = 2, pqCells = 8, maxTrainPerCell = 64)
    SimilaritySearch.ivfPqIndexAppend(nv, "embedding", "vec_id", idx2)
    val s1 = SimilaritySearch.ivfPqKnnIndexed(spark, idx2, q, "embedding",
      "vec_id", k = 3, nProbe = 2).orderBy("rnk").collect().toSeq
    SimilaritySearch.ivfPqIndexAppend(nv, "embedding", "vec_id", idx2) // retry
    val s2 = SimilaritySearch.ivfPqKnnIndexed(spark, idx2, q, "embedding",
      "vec_id", k = 3, nProbe = 2).orderBy("rnk").collect().toSeq
    assert(s2 == s1, "a retried ivfPqIndexAppend changed results")
    assert(s2.map(_.getAs[Long]("nid")).distinct.size == 3,
      s"duplicate nid in top-k: $s2")
  }

  test("variancePermutation balances subspace variance and lifts anisotropic recall") {
    // anisotropic fixture: first 8 of 16 dims carry 16x the scale, so
    // the contiguous m=2 split leaves all the variance in subspace 0
    val aniso = corpus16.select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") * when(i < 8, lit(4.0)).otherwise(lit(0.25)))
        .as("embedding"))
    val perm = SimilaritySearch.variancePermutation(aniso, "embedding", 16, 2)
    // a valid permutation of 0..15
    assert(perm.sorted == (0 until 16))
    // balanced: each subspace gets exactly half the high-variance dims
    assert(perm.take(8).count(_ < 8) == 4,
      s"subspace 0 got ${perm.take(8).count(_ < 8)}/8 high-variance dims")
    // plain-Scala replay of the whole derivation (proxy sums, rank,
    // serpentine allocation) — the oracle replays the same math in SQL
    val rows = aniso.select(col("embedding")).collect().map(_.getSeq[Double](0))
    val qs = (0 until 16).map(d =>
      rows.map(v => math.floor(v(d) * v(d) * 1e6 + 0.5).toLong).sum)
    val ranked = (0 until 16).sortBy(i => (-qs(i), i))
    val want = Array.ofDim[Int](16)
    ranked.zipWithIndex.foreach { case (dimR, r) =>
      val t = r / 2
      val s = if (t % 2 == 0) r % 2 else 1 - r % 2
      want(s * 8 + t) = dimR
    }
    assert(perm == want.toSeq)
    // permuting is a projection: each row keeps the same element multiset
    val permuted = aniso.select(
      SimilaritySearch.permuteVec(col("embedding"), perm).as("p"),
      col("embedding")).collect()
    permuted.foreach { r =>
      assert(r.getSeq[Double](0).sorted == r.getSeq[Double](1).sorted)
    }
    // measured on the anisotropic fixture: the permuted chain's recall
    // never drops below the plain chain's, and the audit is deterministic
    val q = aniso.filter(col("vec_id") < 5L)
    def audit() = SimilaritySearch.varPermRecallAudit(aniso, q,
      "embedding", "vec_id", dim = 16, k = 3, nCells = 2, nProbe = 1,
      m = 2, pqCells = 8, maxTrainPerCell = 64).collect()(0)
    val a = audit()
    assert(a.getAs[Long]("recall_perm_milli") >=
      a.getAs[Long]("recall_plain_milli"), a.toString)
    assert(audit().toString == a.toString)
    // dim must split evenly into subspaces; dim range guarded
    intercept[IllegalArgumentException] {
      SimilaritySearch.variancePermutation(aniso, "embedding", 15, 2)
    }
  }

  test("edgeCandidatePool bounds the build's per-cell candidates on a skewed fixture") {
    // skewed assignment: 100 nodes in one hot cell, 5 in another — the
    // exact shape that made the uncapped build quadratic per cell
    val assigned = ((0 until 100).map(i => (i.toLong, 0L)) ++
      (100 until 105).map(i => (i.toLong, 1L)))
      .toDF("id", "cell")
      .withColumn("e", array(lit(1.0), lit(0.0)))
      .withColumn("nrm", lit(1.0))
    val pool = SimilaritySearch.edgeCandidatePool(assigned, 8).collect()
    val byCell = pool.groupBy(_.getAs[Long]("cell"))
    assert(byCell(0L).length == 8, "hot cell must sample down to the cap")
    assert(byCell(1L).length == 5, "small cell's pool IS the cell")
    // deterministic replay: hot cell's pool = top-8 by splitmix64(id)
    // cast to double desc, id asc — the trainCentroids sample order
    val want = (0 until 100).map(_.toLong)
      .sortBy(id => (-graft.functions.Sketches.splitmix64(id).toDouble, id))
      .take(8).toSet
    assert(byCell(0L).map(_.getAs[Long]("dst")).toSet == want)
    // a non-binding cap leaves the walk bit-identical to the default
    val q = corpus16.filter(col("vec_id") < 3L)
    val capped = SimilaritySearch.graphKnn(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 2, nProbe = 2, degree = 4, beamWidth = 8, hops = 2,
      seedsPerCell = 2, maxTrainPerCell = 64,
      maxEdgeCandidatesPerCell = 1000).orderBy("qid", "rnk").collect().toSeq
    val plain = SimilaritySearch.graphKnn(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 2, nProbe = 2, degree = 4, beamWidth = 8, hops = 2,
      seedsPerCell = 2, maxTrainPerCell = 64).orderBy("qid", "rnk").collect().toSeq
    assert(capped == plain)
    // a BINDING cap still returns k well-formed rows per query
    val bound = SimilaritySearch.graphKnn(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 2, nProbe = 2, degree = 4, beamWidth = 8, hops = 2,
      seedsPerCell = 2, maxTrainPerCell = 64,
      maxEdgeCandidatesPerCell = 5).orderBy("qid", "rnk").collect()
    assert(bound.length == 9, s"got ${bound.length} rows")
    intercept[IllegalArgumentException] {
      SimilaritySearch.edgeCandidatePool(assigned, 0)
    }
  }

  test("cross-cell long-range edges lift walk recall above the probe-seeded floor") {
    val q = corpus16.filter(col("vec_id") < 5L)
    def recall(cc: Int, dc: Int): Long =
      SimilaritySearch.graphRecallAudit(corpus16, q, "embedding", "vec_id",
        k = 3, nCells = 4, nProbe = 1, degree = 4, beamWidth = 8, hops = 3,
        seedsPerCell = 2, maxTrainPerCell = 64,
        crossCells = cc, degreeCross = dc)
        .collect()(0).getAs[Long]("recall_milli")
    val base = recall(0, 0)
    val crossed = recall(2, 4)
    // nProbe=1 of 4 cells: the probe-seeded walk is blind to 3/4 of the
    // corpus; long-range edges are the only way out — recall must rise
    assert(crossed > base, s"cross recall $crossed !> probe-only $base")
    // deterministic: the same cross-edge walk twice is identical
    assert(recall(2, 4) == crossed)
    // half-enabled knobs fail fast instead of silently disabling
    intercept[IllegalArgumentException] {
      SimilaritySearch.graphKnn(corpus16, q, "embedding", "vec_id", k = 3,
        crossCells = 2)
    }
  }

  test("powerDirection finds an oblique dominant direction; Householder is exactly orthogonal") {
    import spark.implicits._
    // sheared corpus: every dim carries +4·dim1 — dominant principal
    // direction is the all-ones diagonal, axis variances all equal
    def rv(seed: Int): Seq[Double] = {
      val r = new scala.util.Random(seed)
      // burn-in: java.util.Random's first draws barely vary across
      // sequential seeds, which would freeze the shared component
      (0 until 5).foreach(_ => r.nextDouble())
      Seq.fill(16)(r.nextDouble() * 2 - 1)
    }
    val sheared = (0 until 200).map { s =>
      val x = rv(s)
      (s.toLong, x.map(_ + 4.0 * x.head))
    }.toDF("vec_id", "embedding")
    val v = SimilaritySearch.powerDirection(sheared, "embedding", 16, iters = 4)
    // converged direction ≈ ±1⃗/4: cosine to all-ones above 0.99
    val vd = v.map(_.toDouble)
    val cosOnes = vd.sum / (math.sqrt(vd.map(x => x * x).sum) * 4.0)
    assert(math.abs(cosOnes) > 0.99, s"direction $v cos-to-ones $cosOnes")
    // deterministic
    assert(SimilaritySearch.powerDirection(sheared, "embedding", 16, iters = 4) == v)

    // the reflection is EXACTLY orthogonal (any u): norms and pairwise
    // dots survive within float rounding
    val u = SimilaritySearch.householderU(v)
    val refl = sheared.select(col("vec_id"),
      SimilaritySearch.householderReflect(col("embedding"), u).as("r"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("nr", sqrt(aggregate(col("r"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("ne", sqrt(aggregate(col("e"), lit(0.0), (a, x) => a + x * x)))
      .collect()
    refl.foreach { r =>
      val d = math.abs(r.getAs[Double]("nr") - r.getAs[Double]("ne"))
      assert(d < 1e-9, s"reflection changed a norm by $d")
    }
    // the dominant direction lands on e1: dim-1 now carries nearly all
    // the variance (the permutation-blind obliqueness made axis-visible)
    val dimVar = (0 until 16).map { d =>
      val xs = refl.map(_.getSeq[Double](1)(d))
      val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / xs.length
    }
    assert(dimVar.head > dimVar.tail.max * 10,
      s"dim-1 variance ${dimVar.head} does not dominate ${dimVar.tail.max}")
    // guards
    intercept[IllegalArgumentException] {
      SimilaritySearch.householderU(Seq(0L, 0L))
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.powerDirection(sheared, "embedding", 16, iters = 0)
    }
  }

  test("hierarchical entry: indexed parity, planted neighbor, determinism") {
    val q = corpus16.filter(col("vec_id") < 3L)
    val mem = SimilaritySearch.graphKnnHier(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 2, degree = 4, beamWidth = 8, hops = 3,
      seedsPerCell = 3, maxTrainPerCell = 64, crossCells = 1, degreeCross = 2,
      entryBeam = 3, hopsTop = 2, degreeTop = 3)
      .orderBy("qid", "rnk").collect().toSeq
    // the planted twin (99 = vec16(0)) is query 0's top hit through the
    // routed entries — the hierarchy reaches outside the entry's cell
    assert(mem.head.getAs[Long]("nid") == 99L &&
      mem.head.getAs[Double]("sim") > 0.999, mem.take(3).mkString(","))
    // persisted-index hier walk answers bit-identically (top layer
    // rebuilt from the persisted seeds — no new table)
    val idx = java.nio.file.Files.createTempDirectory("gridxhier").toString + "/i"
    SimilaritySearch.buildGraphIndex(corpus16, "embedding", "vec_id", idx,
      nCells = 2, degree = 4, seedsPerCell = 3, maxTrainPerCell = 64,
      crossCells = 1, degreeCross = 2)
    val indexed = SimilaritySearch.graphKnnHierIndexed(q, "embedding",
      "vec_id", idx, k = 3, entryBeam = 3, hopsTop = 2, degreeTop = 3,
      beamWidth = 8, hops = 3).orderBy("qid", "rnk").collect().toSeq
    assert(indexed == mem)
    // deterministic on re-run
    val again = SimilaritySearch.graphKnnHier(corpus16, q, "embedding", "vec_id",
      k = 3, nCells = 2, degree = 4, beamWidth = 8, hops = 3,
      seedsPerCell = 3, maxTrainPerCell = 64, crossCells = 1, degreeCross = 2,
      entryBeam = 3, hopsTop = 2, degreeTop = 3)
      .orderBy("qid", "rnk").collect().toSeq
    assert(again == mem)
    // knob guards
    intercept[IllegalArgumentException] {
      SimilaritySearch.graphKnnHier(corpus16, q, "embedding", "vec_id",
        k = 3, entryBeam = 0)
    }
  }

  test("two-layer hierarchy: planted neighbor through the routed cells, determinism") {
    val q = corpus16.filter(col("vec_id") < 3L)
    def run() = SimilaritySearch.graphKnnHier2(corpus16, q, "embedding",
      "vec_id", k = 3, nCells = 4, degree = 4, beamWidth = 8, hops = 3,
      seedsPerCell = 2, maxTrainPerCell = 64, crossCells = 1, degreeCross = 2,
      entryBeam = 3, hopsTop = 2, degreeTop = 3,
      entryCells = 2, hopsCells = 2, degreeCells = 2)
      .orderBy("qid", "rnk").collect().toSeq
    val got = run()
    // the planted twin (99 = vec16(0)) is query 0's top hit through the
    // cell-routed entries — the coarse layer must route OUT of the
    // min-cell entry when the query lives elsewhere
    assert(got.head.getAs[Long]("nid") == 99L &&
      got.head.getAs[Double]("sim") > 0.999, got.take(3).mkString(","))
    assert(run() == got)
    // full cell coverage degenerates to the one-layer walk: with
    // entryCells = nCells every cell's seeds enter the seed walk, so
    // the routed-entry result can only match or beat the fixed-entry
    // one at the same seed-layer budget (superset of entry candidates)
    val wide = SimilaritySearch.graphKnnHier2(corpus16, q, "embedding",
      "vec_id", k = 3, nCells = 4, degree = 4, beamWidth = 8, hops = 3,
      seedsPerCell = 2, maxTrainPerCell = 64, crossCells = 1, degreeCross = 2,
      entryBeam = 3, hopsTop = 2, degreeTop = 3,
      entryCells = 4, hopsCells = 0, degreeCells = 2)
      .orderBy("qid", "rnk").collect().toSeq
    assert(wide.nonEmpty && wide.head.getAs[Long]("nid") == 99L)
    // guards
    intercept[IllegalArgumentException] {
      SimilaritySearch.graphKnnHier2(corpus16, q, "embedding", "vec_id",
        k = 3, entryCells = 0)
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.cellLayer(corpus16.select(col("vec_id").as("cell"),
        transform(col("embedding"), x => x.cast("double")).as("ce")), 0)
    }
  }

  test("graphIndexAppend's dst pool input is bounded by touched-cell membership") {
    // 16 well-separated cells (one-hot axes), 20 members each; an append
    // that lands in ONE cell must feed the pool aggregation only that
    // cell's members — never the 320-row table (the O(batch) contract)
    val dim = 16
    def oneHot(cell: Int, jitter: Int): Seq[Float] =
      Seq.tabulate(dim)(i => if (i == cell) 10f else jitter * 0.001f * (i + 1))
    val cellsDf = (for (c <- 0 until 16; j <- 0 until 20)
      yield ((c * 100 + j).toLong, c.toLong, oneHot(c, j)))
      .toDF("nid", "cell", "v")
      .select(col("cell"), col("nid"),
        transform(col("v"), x => x.cast("double")).as("ne"),
        sqrt(aggregate(transform(col("v"), x => x.cast("double")),
          lit(0.0), (a, x) => a + x * x)).as("nn"))
    val newNodes = Seq((9999L, 3L, oneHot(3, 5)))
      .toDF("nid", "cell", "v")
      .select(col("cell"), col("nid"),
        transform(col("v"), x => x.cast("double")).as("ne"),
        sqrt(aggregate(transform(col("v"), x => x.cast("double")),
          lit(0.0), (a, x) => a + x * x)).as("nn"))
    val touched = newNodes.select(col("cell")).distinct()
    val members = SimilaritySearch.appendCandidateMembers(
      cellsDf, newNodes, touched)
    // membership of cell 3 (20) + the appended node, not 321
    assert(members.count() == 21, s"pool input not batch-bounded")
    assert(members.select("cell").distinct().collect()
      .map(_.getAs[Long]("cell")).toSeq == Seq(3L))
    // crash-retried duplicates dedup before the pool: union the new node
    // twice — still 21 (one row per nid), so a duplicate can neither
    // eat cap budget nor double-seat a (sim, dst) heap slot
    val dup = SimilaritySearch.appendCandidateMembers(
      cellsDf.unionByName(newNodes), newNodes, touched)
    assert(dup.count() == 21, "retried rows must dedup by nid")
  }

  test("graphIndexAppend defaults degree and cap from the knobs table") {
    val idx = java.nio.file.Files.createTempDirectory("gridxknob").toString + "/i"
    val base = corpus16.filter(col("vec_id") =!= 99L)
    // build with degree=6 — an append with NO re-passed knob must give
    // the new node 6 within-cell edges, not the literal fallback 4
    SimilaritySearch.buildGraphIndex(base, "embedding", "vec_id", idx,
      nCells = 1, degree = 6, seedsPerCell = 40, maxTrainPerCell = 64)
    SimilaritySearch.graphIndexAppend(corpus16.filter(col("vec_id") === 99L),
      "embedding", "vec_id", idx)
    def outDeg(nid: Long): Long = spark.read.format("kv")
      .option("path", s"$idx/edges").load()
      .filter(col("src") === nid).count()
    assert(outDeg(99L) == 6, s"knobs degree ignored: got ${outDeg(99L)}")
    // pre-meta index (no knobs table): literal fallback degree 4
    graft.sources.ParquetIO.deletePath(s"$idx/knobs")
    SimilaritySearch.graphIndexAppend(
      corpus16.filter(col("vec_id") === 0L).withColumn("vec_id", lit(98L)),
      "embedding", "vec_id", idx)
    assert(outDeg(98L) == 4, s"pre-meta fallback broken: got ${outDeg(98L)}")
    // an explicit parameter still overrides (sentinel is 0, not 4)
    SimilaritySearch.graphIndexAppend(
      corpus16.filter(col("vec_id") === 1L).withColumn("vec_id", lit(97L)),
      "embedding", "vec_id", idx, degree = 2)
    assert(outDeg(97L) == 2, s"explicit degree lost: got ${outDeg(97L)}")
  }

  test("graphPruneEdges keeps cross-cell links under their own budget") {
    val idx = java.nio.file.Files.createTempDirectory("gridxprunex").toString + "/i"
    val base = corpus16.filter(col("vec_id") < 30L)
    SimilaritySearch.buildGraphIndex(base, "embedding", "vec_id", idx,
      nCells = 2, degree = 3, seedsPerCell = 20, maxTrainPerCell = 64,
      crossCells = 1, degreeCross = 2)
    SimilaritySearch.graphIndexAppend(
      corpus16.filter(col("vec_id") >= 30L), "embedding", "vec_id", idx)
    SimilaritySearch.graphPruneEdges(spark, idx, degree = 3)
    def t(n: String) = spark.read.format("kv")
      .option("path", s"$idx/$n").load()
    val cellOf = t("cells").select("nid", "cell").collect()
      .map(r => r.getAs[Long]("nid") -> r.getAs[Long]("cell")).toMap
    val edges = t("edges").select("src", "dst").collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    val (same, cross) = edges.partition { case (s, d) => cellOf(s) == cellOf(d) }
    // long-range links SURVIVE maintenance (the single-rank fold evicted
    // them: within-cell sims always beat cross-cell sims)
    assert(cross.nonEmpty, "prune evicted every cross-cell edge")
    // and each class respects its own build budget
    same.groupBy(_._1).foreach { case (s, es) =>
      assert(es.length <= 3, s"src $s same-cell degree ${es.length} > 3") }
    cross.groupBy(_._1).foreach { case (s, es) =>
      assert(es.length <= 2, s"src $s cross-cell degree ${es.length} > 2") }
    // idempotent under the split budgets
    val before = edges.toSet
    SimilaritySearch.graphPruneEdges(spark, idx, degree = 3)
    val after = t("edges").select("src", "dst").collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    assert(after == before, "second prune changed an already-pruned graph")
  }

  test("graphPruneEdges folds append-inflated degree back to the bound") {
    val idx = java.nio.file.Files.createTempDirectory("gridxprune").toString + "/i"
    val base = corpus16.filter(col("vec_id") < 20L)
    SimilaritySearch.buildGraphIndex(base, "embedding", "vec_id", idx,
      nCells = 1, degree = 3, seedsPerCell = 40, maxTrainPerCell = 64)
    // three append waves: reverse edges push hub degrees past `degree`
    SimilaritySearch.graphIndexAppend(
      corpus16.filter(col("vec_id") >= 20L && col("vec_id") < 30L),
      "embedding", "vec_id", idx, degree = 3)
    SimilaritySearch.graphIndexAppend(
      corpus16.filter(col("vec_id") >= 30L && col("vec_id") =!= 99L),
      "embedding", "vec_id", idx, degree = 3)
    SimilaritySearch.graphIndexAppend(corpus16.filter(col("vec_id") === 99L),
      "embedding", "vec_id", idx, degree = 3)
    def maxDeg: Long = spark.read.format("kv")
      .option("path", s"$idx/edges").load()
      .groupBy("src").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxDeg > 3, s"fixture never inflated degree (max $maxDeg)")
    SimilaritySearch.graphPruneEdges(spark, idx, degree = 3)
    assert(maxDeg <= 3, s"post-prune max degree $maxDeg exceeds the bound")
    // the appended twin stays reachable BOTH ways: 99 is node 0's most
    // similar target so 0->99 survives the top-3 fold, and vice versa
    val fromOld = SimilaritySearch.graphKnnIndexed(
      corpus16.filter(col("vec_id") === 0L), "embedding", "vec_id", idx,
      k = 3, nProbe = 1, beamWidth = 45, hops = 1).orderBy("rnk").collect()
    assert(fromOld.head.getAs[Long]("nid") == 99L &&
      fromOld.head.getAs[Double]("sim") == 1.0, fromOld.mkString(","))
    val fromNew = SimilaritySearch.graphKnnIndexed(
      corpus16.filter(col("vec_id") === 99L), "embedding", "vec_id", idx,
      k = 3, nProbe = 1, beamWidth = 45, hops = 1).orderBy("rnk").collect()
    assert(fromNew.head.getAs[Long]("nid") == 0L &&
      fromNew.head.getAs[Double]("sim") == 1.0, fromNew.mkString(","))
    // idempotent: pruning an already-bounded graph is a no-op fold
    SimilaritySearch.graphPruneEdges(spark, idx, degree = 3)
    assert(maxDeg <= 3)
  }

  test("denseRerank orders an arbitrary candidate shortlist by exact cosine") {
    import spark.implicits._
    // candidate shortlist: a fixed 6-doc subset for query 0, deliberately
    // shuffled — the rerank must impose exact-cosine order, matching
    // brute force restricted to the same subset
    val cand = Seq((0L, 7L), (0L, 99L), (0L, 3L), (0L, 21L), (0L, 14L), (0L, 42L))
      .toDF("qid", "nid")
    val got = SimilaritySearch.denseRerank(
      cand, corpus.filter(col("vec_id") === 0L), corpus, "embedding", "vec_id", k = 4)
      .orderBy("rnk").collect()
    assert(got.length == 4)
    assert(got(0).getAs[Long]("nid") == 99L)
    val brute = SimilaritySearch.bruteForceKnn(
      corpus.filter(col("vec_id").isin(7L, 99L, 3L, 21L, 14L, 42L)),
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id", k = 4)
      .orderBy("rnk").collect().map(_.toString).toSeq
    assert(got.map(_.toString).toSeq == brute)
  }

  test("sketchBands strides by numPlanes, so sub-64-plane multi-probe flips real planes") {
    // band keys of a 32-plane sketch banded 4 ways must be the four 8-bit
    // chunks of the LOW 32 bits — the same 'plane p lives in band p/8 at
    // bit p%8' arithmetic multi-probe uses to turn margin ranks into XOR
    // masks. (A fixed 64/bands stride would band at 16 bits, leaving the
    // top two bands constant zero — every row colliding there — and
    // flipping bits that belong to a different band's planes.)
    val r = corpus.limit(1)
      .select(graft.functions.Sketches.hyperplaneSketch(
        transform(col("embedding"), x => x.cast("double")), 32).as("sk"))
      .select(col("sk"),
        graft.functions.Sketches.sketchBands(col("sk"), 4, 32).as("keys"))
      .collect()(0)
    val sk = r.getAs[Long]("sk")
    assert(r.getSeq[Long](1) ==
      (0 until 4).map(b => (sk >>> (8 * b)) & 0xffL))
    // probes=1 is still exactly lshKnn at the same sub-64 geometry
    val q = corpus.filter(col("vec_id") < 4L)
    val single = SimilaritySearch.lshKnn(corpus, q, "embedding", "vec_id",
      k = 3, numPlanes = 32, bands = 4).orderBy("qid", "rnk")
      .collect().map(_.toString).toSeq
    val mp1 = SimilaritySearch.lshMultiProbeKnn(corpus, q, "embedding",
      "vec_id", k = 3, numPlanes = 32, bands = 4, probes = 1)
      .orderBy("qid", "rnk").collect().map(_.toString).toSeq
    assert(mp1 == single)
    // and the flipped probes still find the planted twin at 32 planes
    val got = SimilaritySearch.lshMultiProbeKnn(corpus,
      corpus.filter(col("vec_id") === 0L), "embedding", "vec_id",
      k = 3, numPlanes = 32, bands = 4, probes = 5).orderBy("rnk").collect()
    assert(got.nonEmpty && got.head.getAs[Long]("nid") == 99L,
      got.mkString(","))
    intercept[IllegalArgumentException] {
      graft.functions.Sketches.sketchBands(col("x"), 3, 32) // 32 % 3 != 0
    }
  }

  test("powerDirection guards moment-sum overflow instead of wrapping") {
    // one huge-magnitude row: x=1e9 per dim, dt = Σ x·v ≈ 2e15, so the
    // per-dim term floor(x·dt) ≈ 2e24 > 2^63 — a LongType sum would wrap
    // silently where the DuckDB oracle's HUGEINT promotes; the Decimal
    // sum must instead refuse loudly
    val huge = Seq((0L, Seq(1e9f, 1e9f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.powerDirection(huge, "embedding", 2, iters = 1)
    }
    assert(e.getMessage.contains("2^63"), e.getMessage)
  }

  test("graphPruneEdges resolves degree from the knobs table at the 0 sentinel") {
    // two bit-identical indexes (the build is deterministic); prune one
    // with no explicit degree, the other with the build's — the results
    // must match, so a maintenance call without the knob can never
    // silently prune with a budget different from the build's
    val base = corpus16.filter(col("vec_id") < 30L)
    val batch = corpus16.filter(col("vec_id") >= 30L)
    def mk(): String = {
      val idx = java.nio.file.Files.createTempDirectory("gprunedflt")
        .toString + "/i"
      SimilaritySearch.buildGraphIndex(base, "embedding", "vec_id", idx,
        nCells = 2, degree = 3, seedsPerCell = 4, maxTrainPerCell = 64)
      SimilaritySearch.graphIndexAppend(batch, "embedding", "vec_id", idx)
      idx
    }
    val (a, b) = (mk(), mk())
    SimilaritySearch.graphPruneEdges(spark, a) // degree from knobs
    SimilaritySearch.graphPruneEdges(spark, b, degree = 3)
    def edges(p: String): Seq[String] = spark.read.format("kv")
      .option("path", s"$p/edges").load()
      .orderBy("src", "dst").collect().toSeq.map(_.toString)
    assert(edges(a) == edges(b))
    intercept[IllegalArgumentException] {
      SimilaritySearch.graphPruneEdges(spark, a, degree = -1)
    }
  }

  test("appendCandidateMembers prefers the batch row for a re-appended nid") {
    // nid 5 exists with vector A and re-appears in the batch with vector
    // B: the pool must carry B deterministically (anti-join beats an
    // arbitrary dropDuplicates pick), so crash-retry determinism claims
    // hold even under an (unsupported-as-update) id re-append
    def row(nid: Long, cell: Long, v: Seq[Double]) = (cell, nid, v,
      math.sqrt(v.map(x => x * x).sum))
    val existing = Seq(row(5L, 0L, Seq(1.0, 0.0)), row(6L, 0L, Seq(0.0, 1.0)))
      .toDF("cell", "nid", "ne", "nn")
    val batch = Seq(row(5L, 0L, Seq(2.0, 2.0)))
      .toDF("cell", "nid", "ne", "nn")
    val touched = batch.select(col("cell")).distinct()
    val pool = SimilaritySearch.appendCandidateMembers(existing, batch, touched)
      .orderBy("nid").collect()
    assert(pool.map(_.getAs[Long]("nid")).toSeq == Seq(5L, 6L))
    assert(pool(0).getSeq[Double](pool(0).fieldIndex("ne")) == Seq(2.0, 2.0),
      s"re-appended nid must pool the batch's vector: ${pool(0)}")
  }
}
