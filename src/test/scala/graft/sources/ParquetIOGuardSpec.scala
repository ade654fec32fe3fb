package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet reader opens through `ParquetIO`, whose read options
  * come from the no-defaults [[ParquetIO.hadoopConf]]. The defaulted
  * forms build a fresh `new Configuration()` per open, which re-parses
  * Hadoop's XML defaults — this guard keeps them out of `src/main`. It
  * also keeps parquet-mr's example `Group` object model out: Spark's
  * `ParquetWriteSupport` and row converter are graft's one parquet codec.
  * (Specs may still use `ExampleParquetWriter` to write foreign layouts.)
  */
class ParquetIOGuardSpec extends AnyFunSuite {
  private val forbidden =
    """ParquetFileReader\s*\.\s*open\b|ParquetReadOptions\s*\.\s*builder\s*\(\s*\)""".r
  private val exampleModel =
    """org\.apache\.parquet\.(hadoop\.)?example\b|\b(SimpleGroup|GroupRecordConverter|ExampleParquetWriter)\b""".r

  /** `file:line: text` of every line under src/main matching `pattern`. */
  private def offenders(pattern: scala.util.matching.Regex,
      exempt: String => Boolean = _ => false): List[String] = {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val stream = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
        .filterNot(p => exempt(p.getFileName.toString))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if pattern.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
    } finally stream.close()
  }

  test("no file under src/main but ParquetIO.scala opens a parquet reader itself") {
    val found = offenders(forbidden, _ == "ParquetIO.scala")
    assert(found.isEmpty,
      s"open parquet readers through ParquetIO (hadoopConf read options):\n${found.mkString("\n")}")
  }

  test("no file under src/main uses parquet-mr's example Group codec") {
    val found = offenders(exampleModel)
    assert(found.isEmpty,
      s"read and write parquet through ParquetIO (Spark's codec):\n${found.mkString("\n")}")
  }
}
