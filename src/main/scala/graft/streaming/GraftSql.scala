package graft.streaming

import org.apache.spark.sql.SparkSession

/** Entry point for reference-shaped SQL scripts (CREATE TABLE ... USING
  * <graft source> OPTIONS(..., output.mode ...); SET ...; INSERT INTO ...)
  * — see [[org.apache.spark.sql.graftshim.StreamingInsert]]. The session
  * must come from `org.apache.spark.sql.graftshim.GraftSession.build`;
  * each script runs on its own clone of it.
  */
object GraftSql {
  def runScript(spark: SparkSession, script: String): Unit =
    org.apache.spark.sql.graftshim.StreamingInsert.runScript(spark, script)
}
