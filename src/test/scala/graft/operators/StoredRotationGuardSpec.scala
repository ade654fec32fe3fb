package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The stored IVF-PQ rotations (`perm` + `perm_meta`, `householder` +
  * `pca_meta`) are written and read by one definition in
  * `SimilaritySearch`, so builds, searches and appends cannot disagree
  * on their layout. A search or build that opens one of these tables
  * itself fails this guard.
  */
class StoredRotationGuardSpec extends AnyFunSuite {
  // a table name as the tail of a path literal: s"$path/perm"
  private val tableName = """/(perm|perm_meta|householder|pca_meta)"""".r
  // a member of `object SimilaritySearch` (two-space indent)
  private val member =
    """^  (?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+|lazy\s+|implicit\s+|case\s+)*(?:def|val|var|object|class|trait)\s+(\w+)""".r

  test("SimilaritySearch.scala names the stored-rotation tables in exactly one definition") {
    val file = java.nio.file.Paths.get(
      "src/main/scala/graft/operators/SimilaritySearch.scala")
    assert(java.nio.file.Files.isRegularFile(file), s"run from the repo root: $file")
    import scala.jdk.CollectionConverters._
    var current = "<top>"
    val found = java.nio.file.Files.readAllLines(file).asScala.zipWithIndex
      .flatMap { case (line, i) =>
        member.findFirstMatchIn(line).foreach(mt => current = mt.group(1))
        tableName.findAllMatchIn(line).map(mt =>
          (current, mt.group(1), s"$file:${i + 1}: ${line.trim}"))
      }.toList
    assert(found.map(_._2).toSet ==
      Set("perm", "perm_meta", "householder", "pca_meta"),
      s"expected every stored-rotation table to be named:\n${found.mkString("\n")}")
    assert(found.map(_._1).distinct.size == 1,
      "write and read the stored rotations through SimilaritySearch.StoredRotation, " +
        s"not a copy:\n${found.map(_._3).mkString("\n")}")
  }
}
