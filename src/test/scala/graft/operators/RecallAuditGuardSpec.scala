package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Every recall audit in `SimilaritySearch` counts hits and computes
  * recall_milli through its one `recallAudit` primitive, so the recall
  * rule (zero-query value, rounding, truth release) lives in one place.
  * An audit that inlines its own copy of the formula fails this guard.
  */
class RecallAuditGuardSpec extends AnyFunSuite {
  private val milliFormula = """\*\s*1000L?\s*/""".r

  test("SimilaritySearch.scala computes the recall-milli formula exactly once") {
    val file = java.nio.file.Paths.get(
      "src/main/scala/graft/operators/SimilaritySearch.scala")
    assert(java.nio.file.Files.isRegularFile(file), s"run from the repo root: $file")
    import scala.jdk.CollectionConverters._
    val found = java.nio.file.Files.readAllLines(file).asScala.zipWithIndex
      .flatMap { case (line, i) =>
        milliFormula.findAllIn(line).map(_ => s"$file:${i + 1}: ${line.trim}")
      }.toList
    assert(found.size == 1,
      s"compute recall through SimilaritySearch.recallAudit, not a copy:\n" +
        found.mkString("\n"))
  }
}
