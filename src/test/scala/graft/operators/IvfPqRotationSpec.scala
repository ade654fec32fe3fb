package graft.operators

import graft.SparkSpec
import graft.functions.VectorExpressions.{householderChain, unitNormalize}
import graft.operators.SimilaritySearch.Rotation
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The IVF-PQ pre-rotation: every [[Rotation]] is a map in front of the
  * unchanged chain, so a rotated chain must equal the plain chain over
  * inputs pre-transformed by the same fit (recomputed here from the
  * public derivations), a persisted index must answer like the in-memory
  * chain, and appends must code new rows in the index's own space.
  */
class IvfPqRotationSpec extends SparkSpec {
  import spark.implicits._

  // 48 rows of dim 16: an oblique shared direction, unequal subspace
  // variances and a norm spread, so every rotation and the normalize
  // knob change the codes
  private lazy val corpus: DataFrame = (0 until 48).map { s =>
    val r = new scala.util.Random(s)
    val x = Seq.fill(16)(r.nextDouble() * 2 - 1)
    val scale = 1.0 + (s % 5)
    (s.toLong, x.zipWithIndex.map { case (xi, i) =>
      scale * (xi + 3.0 * x.head) * (if (i < 8) 2.0 else 0.5)
    })
  }.toDF("vec_id", "embedding")
  private lazy val queries = corpus.filter(col("vec_id") < 6L)

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("qid", "rnk").collect().map(_.toString).toSeq

  private def mapped(df: DataFrame, f: Column => Column): DataFrame =
    df.select(col("vec_id"), f(col("embedding")).as("embedding"))

  private val m = 4

  /** The fitted row map of `r` over `base`, derived from the public
    * building blocks rather than the chain's own fit.
    */
  private def expectedMap(r: Rotation, base: DataFrame): Column => Column =
    r match {
      case Rotation.Hadamard(d) => SimilaritySearch.opqRotate(_, d)
      case Rotation.HadamardFwht(d) => SimilaritySearch.opqRotateFwht(_, d)
      case Rotation.VarPerm(d) =>
        val perm = SimilaritySearch.variancePermutation(base, "embedding", d, m)
        SimilaritySearch.permuteVec(_, perm)
      case Rotation.Pca(d, c, iters, balance) =>
        val pivots =
          if (balance) SimilaritySearch.balancedPivots(c, d, m) else Seq.empty
        val us = SimilaritySearch.pcaDirectionsK(base, "embedding", d, c,
          iters, pivots)
        householderChain(_, us.map(_.map(_.toDouble)))
    }

  private val kinds = Seq(
    Rotation.Hadamard(16), Rotation.HadamardFwht(16), Rotation.VarPerm(16),
    Rotation.Pca(16), Rotation.Pca(16, components = 3),
    Rotation.Pca(16, components = 3, balancePivots = true))

  test("every rotation, raw and normalized: rotated chain == plain chain over pre-transformed inputs") {
    for (r <- kinds; normalize <- Seq(false, true)) {
      val pre: DataFrame => DataFrame =
        if (normalize) mapped(_, unitNormalize) else identity
      val f = expectedMap(r, pre(corpus))
      def transformed(df: DataFrame) = mapped(pre(df), f)
      val rotated = rows(SimilaritySearch.ivfPqKnn(corpus, queries,
        "embedding", "vec_id", k = 3, nCells = 2, nProbe = 2, m = m,
        pqCells = 8, maxTrainPerCell = 64, normalize = normalize,
        rotation = Some(r)))
      val plain = rows(SimilaritySearch.ivfPqKnn(transformed(corpus),
        transformed(queries), "embedding", "vec_id", k = 3, nCells = 2,
        nProbe = 2, m = m, pqCells = 8, maxTrainPerCell = 64))
      assert(rotated.nonEmpty && rotated == plain, s"$r normalize=$normalize")
    }
    // the residual chain takes the same preprocessing
    val r = Rotation.Pca(16, components = 3, balancePivots = true)
    val f = expectedMap(r, mapped(corpus, unitNormalize))
    def transformed(df: DataFrame) = mapped(mapped(df, unitNormalize), f)
    assert(rows(SimilaritySearch.ivfPqResidualKnn(corpus, queries,
      "embedding", "vec_id", k = 3, nCells = 2, nProbe = 2, m = m,
      pqCells = 8, maxTrainPerCell = 64, normalize = true,
      rotation = Some(r))) ==
      rows(SimilaritySearch.ivfPqResidualKnn(transformed(corpus),
        transformed(queries), "embedding", "vec_id", k = 3, nCells = 2,
        nProbe = 2, m = m, pqCells = 8, maxTrainPerCell = 64)))
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/i"

  private val stored = Seq(Rotation.VarPerm(16),
    Rotation.Pca(16, components = 3, balancePivots = true))

  test("stored rotations: indexed search == in-memory chain, absolute and residual") {
    for (r <- stored; normalize <- Seq(false, true)) {
      val idx = tmp("rotidx")
      SimilaritySearch.buildIvfPqIndex(corpus, "embedding", "vec_id", idx,
        nCells = 2, m = m, pqCells = 8, maxTrainPerCell = 64,
        normalize = normalize, rotation = Some(r))
      assert(rows(SimilaritySearch.ivfPqKnnIndexed(spark, idx, queries,
        "embedding", "vec_id", k = 3, nProbe = 2)) ==
        rows(SimilaritySearch.ivfPqKnn(corpus, queries, "embedding",
          "vec_id", k = 3, nCells = 2, nProbe = 2, m = m, pqCells = 8,
          maxTrainPerCell = 64, normalize = normalize, rotation = Some(r))),
        s"$r normalize=$normalize")
      val ridx = tmp("rotridx")
      SimilaritySearch.buildIvfPqResidualIndex(corpus, "embedding", "vec_id",
        ridx, nCells = 2, m = m, pqCells = 8, maxTrainPerCell = 64,
        normalize = normalize, rotation = Some(r))
      assert(rows(SimilaritySearch.ivfPqResidualKnnIndexed(spark, ridx,
        queries, "embedding", "vec_id", k = 3, nProbe = 2)) ==
        rows(SimilaritySearch.ivfPqResidualKnn(corpus, queries, "embedding",
          "vec_id", k = 3, nCells = 2, nProbe = 2, m = m, pqCells = 8,
          maxTrainPerCell = 64, normalize = normalize, rotation = Some(r))),
        s"residual $r normalize=$normalize")
    }
    // the data-free rotations have no stored form
    intercept[IllegalArgumentException] {
      SimilaritySearch.buildIvfPqIndex(corpus, "embedding", "vec_id",
        tmp("rothad"), nCells = 2, m = m, pqCells = 8,
        rotation = Some(Rotation.Hadamard(16)))
    }
    // a plain rebuild over a rotated index drops the stale rotation
    val idx = tmp("rotstale")
    SimilaritySearch.buildIvfPqIndex(corpus, "embedding", "vec_id", idx,
      nCells = 2, m = m, pqCells = 8, maxTrainPerCell = 64,
      rotation = Some(Rotation.VarPerm(16)))
    SimilaritySearch.buildIvfPqIndex(corpus, "embedding", "vec_id", idx,
      nCells = 2, m = m, pqCells = 8, maxTrainPerCell = 64)
    assert(rows(SimilaritySearch.ivfPqKnnIndexed(spark, idx, queries,
      "embedding", "vec_id", k = 3, nProbe = 2)) ==
      rows(SimilaritySearch.ivfPqKnn(corpus, queries, "embedding", "vec_id",
        k = 3, nCells = 2, nProbe = 2, m = m, pqCells = 8,
        maxTrainPerCell = 64)))
  }

  test("appends to rotated indexes code new rows in the index's space; each append refuses the other layout") {
    val shift = 1000000L
    val twins = corpus.filter(col("vec_id") >= 20L && col("vec_id") < 40L)
      .select((col("vec_id") + shift).as("vec_id"), col("embedding"))
    // every code is scored (all cells probed, k past the corpus), so each
    // twin's adist can be read beside its original's
    def adists(df: DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) ->
        r.getAs[Double]("adist")).toMap
    def assertTwinsMatch(got: Map[(Long, Long), Double], what: String): Unit =
      for (q <- 0L until 6L; o <- 20L until 40L) {
        val twin = got.get((q, o + shift))
        assert(twin.isDefined, s"$what: twin of $o missing for query $q")
        assert(twin == got.get((q, o)),
          s"$what: twin of $o scores ${twin.get}, original ${got.get((q, o))}")
      }
    val norm = Seq(false, true)
    for (r <- stored; normalize <- norm) {
      val idx = tmp("rotapp")
      SimilaritySearch.buildIvfPqIndex(corpus, "embedding", "vec_id", idx,
        nCells = 2, m = m, pqCells = 8, maxTrainPerCell = 64,
        normalize = normalize, rotation = Some(r))
      SimilaritySearch.ivfPqIndexAppend(twins, "embedding", "vec_id", idx)
      assertTwinsMatch(adists(SimilaritySearch.ivfPqKnnIndexed(spark, idx,
        queries, "embedding", "vec_id", k = 100, nProbe = 2)),
        s"$r normalize=$normalize")
    }
    val ridx = tmp("rotrapp")
    SimilaritySearch.buildIvfPqResidualIndex(corpus, "embedding", "vec_id",
      ridx, nCells = 2, m = m, pqCells = 8, maxTrainPerCell = 64,
      normalize = true, rotation = Some(Rotation.VarPerm(16)))
    SimilaritySearch.ivfPqResidualIndexAppend(twins, "embedding", "vec_id", ridx)
    assertTwinsMatch(adists(SimilaritySearch.ivfPqResidualKnnIndexed(spark,
      ridx, queries, "embedding", "vec_id", k = 100, nProbe = 2)),
      "residual VarPerm")

    // layout guards: an absolute append into a residual index refuses,
    // and the reverse, before a row is written
    val aidx = tmp("rotabs")
    SimilaritySearch.buildIvfPqIndex(corpus, "embedding", "vec_id", aidx,
      nCells = 2, m = m, pqCells = 8, maxTrainPerCell = 64)
    def codes(p: String) =
      spark.read.format("kv").option("path", s"$p/codes").load().count()
    val (nAbs, nRes) = (codes(aidx), codes(ridx))
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqIndexAppend(twins, "embedding", "vec_id", ridx)
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqResidualIndexAppend(twins, "embedding", "vec_id", aidx)
    }
    assert(codes(aidx) == nAbs && codes(ridx) == nRes)
  }

  test("a surviving rotation meta without its rotation table refuses to search or append unrotated") {
    for ((r, table) <- Seq(Rotation.VarPerm(16) -> "perm",
        Rotation.Pca(16) -> "householder")) {
      val idx = tmp("rotgone")
      SimilaritySearch.buildIvfPqIndex(corpus, "embedding", "vec_id", idx,
        nCells = 2, m = m, pqCells = 8, maxTrainPerCell = 64,
        rotation = Some(r))
      graft.sources.ParquetIO.deletePath(s"$idx/$table")
      intercept[IllegalArgumentException] {
        SimilaritySearch.ivfPqKnnIndexed(spark, idx, queries, "embedding",
          "vec_id", k = 3, nProbe = 2).collect()
      }
      intercept[IllegalArgumentException] {
        SimilaritySearch.ivfPqIndexAppend(queries, "embedding", "vec_id", idx)
      }
    }
  }
}
