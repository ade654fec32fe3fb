package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.SimilaritySearch
import Inputs._

/** `ann_index`: clustered 64-d embeddings. The client builds an IVF-PQ
  * index on a base wave (`buildIvfPqIndex`), appends a second wave
  * (`ivfPqIndexAppend`), then runs fixed query batches through
  * `ivfPqKnnIndexed` until the window closes. Recall@10 of every answer is
  * scored against `bruteForceKnn` over both waves and must stay at or
  * above [[AnnIndex.RecallFloor]]. Iterative Lloyd training, many small
  * Spark jobs, dominates the build.
  *
  * `BENCHMARK.json` does not list this workload yet: with graft's default
  * training, some seeds empty a PQ cell and `ivfPqKnnIndexed` then fails
  * (`IvfPqEmptyCellSpec`). Run it by name; such a seed reports
  * `correct: false`.
  */
final class AnnIndex(ctx: Ctx, annShape: AnnShape, params: AnnIndex.Params) extends Workload {
  import ctx.spark

  private var input: AnnInput = _
  private var dir: Path = _
  private var indexes = 0
  private val answers = mutable.HashMap.empty[Long, Seq[Long]]

  def shape: Seq[(String, Any)] = Seq(
    "base_vectors" -> annShape.baseVectors, "append_vectors" -> annShape.appendVectors,
    "dim" -> annShape.dim, "clusters" -> annShape.clusters, "queries" -> annShape.queries,
    "query_batch" -> annShape.queryBatch, "n_cells" -> params.nCells, "m" -> params.m,
    "pq_cells" -> params.pqCells, "iterations" -> "graft default",
    "n_probe" -> params.nProbe, "recall_floor" -> AnnIndex.RecallFloor,
    "input_digest" -> input.digest)

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def write(vs: Seq[Vec], path: Path): Unit =
    spark.createDataFrame(java.util.Arrays.asList(vs.map(v => Row(v.id, v.v.toSeq)): _*), schema)
      .coalesce(1).write.format("kv").option("path", path.toString).mode("overwrite").save()

  private def table(name: String): DataFrame =
    spark.read.format("kv").option("path", dir.resolve(name).toString).load()

  /** A build, an append and a search over a small slice of the input. */
  def warmUp(scratch: Path): Unit = {
    val idx = scratch.resolve("index").toString
    SimilaritySearch.buildIvfPqIndex(table("base").limit(200), "vec", "id", idx, nCells = 2,
      m = params.m, pqCells = 4, normalize = true)
    SimilaritySearch.ivfPqIndexAppend(table("wave2").limit(20), "vec", "id", idx)
    SimilaritySearch.ivfPqKnnIndexed(spark, idx, table("queries").limit(annShape.queryBatch),
      "vec", "id", 10, params.nProbe).collect()
  }

  def prepare(d: Path): Unit = {
    input = Inputs.ann(ctx.seed, annShape)
    dir = d
    write(input.base, d.resolve("base"))
    write(input.appended, d.resolve("wave2"))
    write(input.queries, d.resolve("queries"))
  }

  /** One build, one append and one pass over every query batch: about
    * 12 s here, whatever `seconds` asks for.
    */
  def measure(seconds: Double): Window = {
    val rec = ctx.rec
    indexes += 1
    val idx = dir.resolve(s"index-$indexes").toString
    val built = ctx.op("index_build") {
      ctx.span("ann.build") {
        SimilaritySearch.buildIvfPqIndex(table("base"), "vec", "id", idx, nCells = params.nCells,
          m = params.m, pqCells = params.pqCells, normalize = true)
      }
    }.isDefined
    val appended = built && ctx.op("index_append") {
      ctx.span("ann.append") { SimilaritySearch.ivfPqIndexAppend(table("wave2"), "vec", "id", idx) }
    }.isDefined
    val batches = if (appended) input.queries.grouped(annShape.queryBatch).toSeq else Nil
    val searchStart = System.nanoTime()
    val steal = Steal.start()
    var queries = 0L
    batches.foreach { batch =>
      val ids = batch.map(_.id)
      ctx.op("search") {
        val rows = ctx.span("ann.search") {
          SimilaritySearch.ivfPqKnnIndexed(spark, idx,
            table("queries").filter(col("id").isin(ids: _*)), "vec", "id", 10, params.nProbe)
            .select("qid", "nid", "rnk").collect()
        }
        val got = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
        if (got.keySet != ids.toSet || got.values.exists(_.length != 10))
          throw new AssertionError(s"search returned ${got.size} of ${ids.length} queries or short lists")
        answers ++= got
        queries += batch.length
      }
    }
    val searchS = (System.nanoTime() - searchStart) / 1e9
    val s = steal.share
    val t = ctx.tracer
    val searches = rec.values("search").takeRight(batches.length)
    val vectors = annShape.baseVectors + annShape.appendVectors
    val e2e = Map(
      "op_ms_p50" -> (Stats.medianOr(rec.values("search.net").takeRight(batches.length),
        Double.PositiveInfinity), "ms"),
      "ops_per_s" -> (queries / (searchS * (1 - s)), "1/s"),
      "steal_share" -> (s, "ratio"),
      "index_build_s" -> (rec.values("index_build").last / 1000, "s"),
      "index_append_s" -> (rec.values("index_append").lastOption.map(_ / 1000)
        .getOrElse(Double.PositiveInfinity), "s"),
      "search_qps" -> (queries / searchS, "queries/s"),
      "index_vectors_per_s" -> (vectors /
        ((rec.values("index_build").last + rec.values("index_append").lastOption
          .getOrElse(Double.PositiveInfinity)) / 1000), "vectors/s"),
      "search_batch_ms_p50" -> (Stats.medianOr(searches, Double.PositiveInfinity), "ms"))
    val layers = if (!t.enabled) Map.empty[String, (Double, String)] else Map(
      "ann.build_jobs" -> (ctx.runtime.jobCount("traced", Some("ann.build")).toDouble, "count"),
      "ann.build_stages" -> (ctx.runtime.stageCount("traced", Some("ann.build")).toDouble, "count"),
      "ann.build_tasks" -> (ctx.runtime.taskRecs("traced").count(_.span == "ann.build").toDouble, "count"),
      "ann.append_s" -> (t.durationsMs("ann.append").sum / 1000, "s"),
      "ann.search_call_ms" -> (Stats.layerMedian(t.durationsMs("ann.search")), "ms"))
    Window(e2e, layers)
  }

  /** Recall@10 of every answered query against exact search. */
  def recall(): Double = {
    val corpus = table("base").unionByName(table("wave2"))
    val exact = SimilaritySearch.bruteForceKnn(corpus, table("queries"), "vec", "id", 10)
      .select("qid", "nid").collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = answers.toSeq.map { case (q, ns) => ns.count(exact(q).contains) }
    hits.sum.toDouble / (10.0 * math.max(1, answers.size))
  }

  def finish(): Window = {
    val r = recall()
    ctx.rec.check(f"ann_index recall@10 $r%.4f >= floor ${AnnIndex.RecallFloor}") {
      r >= AnnIndex.RecallFloor
    }
    Window(Map("recall_at_10" -> (r, "ratio")), Map("ann.recall_at_10" -> (r, "ratio")))
  }
}

object AnnIndex {
  /** Training runs graft's default number of Lloyd iterations. */
  final case class Params(nCells: Int, m: Int, pqCells: Int, nProbe: Int)
  /** The lowest recall@10 a correct build and search may return. */
  val RecallFloor = 0.25
}
