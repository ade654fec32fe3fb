package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}
import graft.sources.kv.{KvBloom, KvIndex, KvSidecar}
import org.apache.spark.sql.SparkSession

/** What a from-scratch `KvBloom.build` + `KvIndex.build` gives a table's
  * live files. A build over a current sidecar reuses its entries, so the
  * fresh one runs on a copy of the table without `_index`.
  */
object FreshSidecars {

  /** Live file name → its entry in sidecar `name` (None: uncovered). */
  def entries(dir: String, name: String): Map[String, Option[String]] = {
    KvSidecar.clearCaches()
    val sc = KvSidecar.open(dir, name)
    ParquetIO.listFilesStatus(dir).map { case (f, len, mt) =>
      f.getName -> sc.flatMap(_.entryFor(f.getName, len, mt))
    }.toMap
  }

  /** Sidecar name → the fresh build's entries, by live file name. */
  def of(spark: SparkSession, dir: String, bloomCols: Seq[String], zoneCols: Seq[String],
      bitsPerKey: Int = 10): Map[String, Map[String, Option[String]]] = {
    val copy = Files.createTempDirectory("fresh-sidecars").resolve("t")
    val src = Paths.get(dir)
    val walk = Files.walk(src)
    try walk.filter(p => !src.relativize(p).toString.startsWith("_index"))
      .forEach((p: JPath) => Files.copy(p, copy.resolve(src.relativize(p).toString)))
    finally walk.close()
    KvBloom.build(spark, copy.toString, bloomCols, bitsPerKey)
    KvIndex.build(copy.toString, zoneCols)
    Seq(KvBloom.SidecarName, KvIndex.SidecarName).map(n => n -> entries(copy.toString, n)).toMap
  }
}
