package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the checkable operator inventory: one entry per implemented
  * operator from SURVEY.md §2 (+ the training-data-pipeline extensions);
  * `oracleSql` holds the DuckDB-equivalent SQL for every entry that is
  * ANSI-expressible (the rest get a rows-only check). Run a gate through
  * `GraftSession.runGate`, which gives it its own session clone and
  * releases its caches once it has executed.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * 6-way star join + aggregation — the shape the whole engine optimizes.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.defs("q5_region_revenue")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Relational.defs ++ EventsQueries.defs ++ TextQueries.defs ++
      VectorQueries.defs ++ PipelineQueries.defs ++ SourceQueries.defs ++
      CurationQueries.defs ++
      SqlCorpus.defs ++ SqlCorpusB.defs ++ SqlCorpusC.defs ++ SqlCorpusD.defs)

  def oracleSql: Map[String, String] =
    Relational.oracles ++ EventsQueries.oracles ++ TextQueries.oracles ++
      VectorQueries.oracles ++ PipelineQueries.oracles ++ SourceQueries.oracles ++
      CurationQueries.oracles ++
      SqlCorpus.oracles ++ SqlCorpusB.oracles ++ SqlCorpusC.oracles ++ SqlCorpusD.oracles
}
