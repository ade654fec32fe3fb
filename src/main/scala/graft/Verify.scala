package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.graftshim.GraftSession
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods
/** Correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare in scripts/check_oracle.py.
  *
  *  - `Verify <sfDir> <outDir>`: every gate;
  *  - `Verify <sfDir> <outDir> <prefix,prefix,...>`: only the gates (and
  *    oracles) whose name starts with one of the prefixes;
  *  - `Verify <outDir>`: oracle_sql.json alone, without Spark — re-check
  *    edited oracle SQL against an existing dump.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, prefixes) = args match {
      case Array(out) => (None, out, Seq.empty[String])
      case Array(sf, out) => (Some(sf), out, Seq.empty[String])
      case Array(sf, out, p) => (Some(sf), out, p.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    }
    def selected(name: String): Boolean = prefixes.isEmpty || prefixes.exists(name.startsWith)
    new java.io.File(outDir).mkdirs()
    sfDir.foreach { dir =>
      val spark = GraftSession.build(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
        try GraftSession.runGate(spark) { s =>
          fn(s, dir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
      spark.stop()
    }
    val oracles = SparkEntry.oracleSql.filter(o => selected(o._1))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      JsonMethods.compact(JObject(oracles.toList.map { case (k, v) => k -> JString(v) })))
    println(s"[verify] wrote ${oracles.size} oracle entries")
  }
}
