package graft

import org.apache.spark.sql.graftshim.GraftSession

/** Dump `.explain("formatted")` for named gates to files — the
  * before/after plan evidence for optimization rounds:
  * `runMain graft.PlanDump <sfDir> <outDir> <suffix> <name,name,...>`
  * writes `<outDir>/<name>_<suffix>.txt` per query. Audit gates that
  * compute counts eagerly during plan construction are dumped as the
  * final 1-row assembly plan (their evidence is bench seconds, not plan
  * shape).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.build(s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    names.foreach { n =>
      val plan = GraftSession.runGate(spark)(s => SparkEntry.queries(n)(s, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/${n}_$suffix.txt"), plan)
      val exchanges = plan.linesIterator.count(_.contains("Exchange"))
      println(s"[plandump] $n -> $out/${n}_$suffix.txt (Exchange lines: $exchanges)")
    }
    spark.stop()
  }
}
