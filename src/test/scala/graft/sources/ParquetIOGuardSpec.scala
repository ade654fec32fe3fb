package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet reader opens through `ParquetIO`, whose read options
  * come from the no-defaults [[ParquetIO.hadoopConf]]. The defaulted
  * forms build a fresh `new Configuration()` per open, which re-parses
  * Hadoop's XML defaults — this guard keeps them out of `src/main`.
  */
class ParquetIOGuardSpec extends AnyFunSuite {
  private val forbidden =
    """ParquetFileReader\s*\.\s*open\b|ParquetReadOptions\s*\.\s*builder\s*\(\s*\)""".r

  test("no file under src/main but ParquetIO.scala opens a parquet reader itself") {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val stream = java.nio.file.Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
        .filterNot(_.getFileName.toString == "ParquetIO.scala")
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if forbidden.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
    } finally stream.close()
    assert(offenders.isEmpty,
      s"open parquet readers through ParquetIO (hadoopConf read options):\n${offenders.mkString("\n")}")
  }
}
