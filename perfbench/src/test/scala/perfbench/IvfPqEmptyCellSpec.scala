package perfbench

import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SimilaritySearch

/** A defect the benchmark found in graft: when a Lloyd iteration leaves a
  * PQ cell without members, the trained codebook has fewer than `pqCells`
  * entries, but codes keep the cell ids and distance tables are read by
  * position, so `ivfPqKnnIndexed` reads past the end of a table
  * (INVALID_ARRAY_INDEX_IN_ELEMENT_AT). `ann_index` seed 125, trained with
  * graft's default two iterations, hits it, which is why `ann_index` is
  * not among the workloads `BENCHMARK.json` lists. Pending until graft
  * handles empty cells.
  */
class IvfPqEmptyCellSpec extends AnyFunSuite {
  test("an IVF-PQ index whose training empties a PQ cell still answers every query") {
    pendingUntilFixed {
      val spark = SparkSession.builder().master("local[4]").appName("ivfpq-empty-cell")
        .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      val dir = Files.createTempDirectory("ivfpq")
      try {
        val in = Inputs.ann(125, Workloads.annShape)
        val schema = StructType(Seq(StructField("id", LongType), StructField("vec", ArrayType(FloatType))))
        def table(name: String, vs: Seq[Inputs.Vec]) = {
          val p = dir.resolve(name).toString
          spark.createDataFrame(java.util.Arrays.asList(vs.map(v => Row(v.id, v.v.toSeq)): _*), schema)
            .write.format("kv").option("path", p).mode("append").save()
          spark.read.format("kv").option("path", p).load()
        }
        val p = Workloads.annParams
        val idx = dir.resolve("index").toString
        SimilaritySearch.buildIvfPqIndex(table("base", in.base), "vec", "id", idx,
          nCells = p.nCells, m = p.m, pqCells = p.pqCells, normalize = true)
        SimilaritySearch.ivfPqIndexAppend(table("wave2", in.appended), "vec", "id", idx)
        val answered = SimilaritySearch.ivfPqKnnIndexed(spark, idx, table("queries", in.queries),
          "vec", "id", 10, p.nProbe).select("qid").distinct().count()
        assert(answered == in.queries.length)
      } finally {
        LocalFiles.deleteTree(dir)
        spark.stop()
      }
    }
  }
}
