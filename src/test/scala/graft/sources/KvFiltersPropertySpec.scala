package graft.sources

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.sources._

/** Property tests for the filter compiler — the reference validates its
  * compiler with randomized And/Or trees
  * (`TableStoreFilterSuite.scala:167-216`); same discipline here:
  * NNF rewriting must preserve boolean semantics on arbitrary data, and
  * compilation must be total on the supported algebra. Deterministic
  * seeds (0..N) keep runs reproducible.
  */
class KvFiltersPropertySpec extends AnyFunSuite {

  private val schema = RawParquet.messageType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("c", org.apache.spark.sql.types.StringType))))

  private val leafGen: Gen[Filter] = Gen.oneOf(
    Gen.choose(-5L, 5L).map(v => EqualTo("a", v)),
    Gen.choose(-5L, 5L).map(v => GreaterThan("a", v)),
    Gen.choose(-5L, 5L).map(v => LessThanOrEqual("a", v)),
    Gen.choose(-2.0, 2.0).map(v => LessThan("b", v)),
    Gen.oneOf("x", "y", "z").map(v => EqualTo("c", v)),
    Gen.oneOf("x", "y").map(v => GreaterThanOrEqual("c", v)))

  private def treeGen(depth: Int): Gen[Filter] =
    if (depth == 0) leafGen
    else Gen.oneOf(
      leafGen,
      Gen.zip(treeGen(depth - 1), treeGen(depth - 1)).map { case (l, r) => And(l, r) },
      Gen.zip(treeGen(depth - 1), treeGen(depth - 1)).map { case (l, r) => Or(l, r) },
      treeGen(depth - 1).map(Not))

  private case class Row3(a: Long, b: Double, c: String)
  private val rowGen: Gen[Row3] = for {
    a <- Gen.choose(-6L, 6L)
    b <- Gen.choose(-2.5, 2.5)
    c <- Gen.oneOf("w", "x", "y", "z")
  } yield Row3(a, b, c)

  private def draw[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** Reference evaluator over the Spark Filter algebra. */
  private def eval(f: Filter, r: Row3): Boolean = f match {
    case And(l, rr) => eval(l, r) && eval(rr, r)
    case Or(l, rr) => eval(l, r) || eval(rr, r)
    case Not(i) => !eval(i, r)
    case EqualTo("a", v: Long) => r.a == v
    case GreaterThan("a", v: Long) => r.a > v
    case LessThanOrEqual("a", v: Long) => r.a <= v
    case LessThan("b", v: Double) => r.b < v
    case EqualTo("c", v: String) => r.c == v
    case GreaterThanOrEqual("c", v: String) => r.c >= v
    case other => throw new IllegalArgumentException(other.toString)
  }

  test("NNF rewrite preserves semantics on random filter trees and rows") {
    (0 until 300).foreach { i =>
      val f = draw(treeGen(4), i)
      val nnf = KvFilters.toNNF(f)
      (0 until 25).foreach { j =>
        val r = draw(rowGen, i * 1000L + j)
        assert(eval(f, r) == eval(nnf, r), s"filter $f vs NNF $nnf on $r")
      }
    }
  }

  test("NNF output has Not only at leaves (De-Morgan fully applied)") {
    def notOnlyAtLeaves(f: Filter): Boolean = f match {
      case And(l, r) => notOnlyAtLeaves(l) && notOnlyAtLeaves(r)
      case Or(l, r) => notOnlyAtLeaves(l) && notOnlyAtLeaves(r)
      case Not(And(_, _)) | Not(Or(_, _)) | Not(Not(_)) => false
      case Not(_) => true
      case _ => true
    }
    (0 until 500).foreach { i =>
      val nnf = KvFilters.toNNF(draw(treeGen(5), i))
      assert(notOnlyAtLeaves(nnf), nnf.toString)
    }
  }

  test("every tree over the supported algebra compiles (totality)") {
    (0 until 300).foreach { i =>
      val f = draw(treeGen(4), i)
      assert(KvFilters.compile(f, schema).isDefined, s"must compile: $f")
    }
  }
}
