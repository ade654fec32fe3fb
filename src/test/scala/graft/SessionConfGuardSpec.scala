package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sessions are built and runtime conf is set only in `GraftSession`:
  * anything else that needs different conf runs on a clone, so no gate,
  * script or drain can change the conf of the session it was handed.
  * Hadoop `Configuration.set` (a plain `conf.set`, no session) and SQL
  * `SET` text (which runs on a script's clone) are not session calls.
  */
class SessionConfGuardSpec extends AnyFunSuite {
  private val forbidden = Seq(
    """SparkSession\s*\.\s*builder\b""",
    """\.\s*withExtensions\s*\(""",
    """\.\s*conf\s*\.\s*(set|unset)\s*\(""",
    """\.\s*(setConf|setConfString|unsetConf)\s*\(""").map(_.r)

  test("no file under src/main but GraftSession.scala builds a session or sets session conf") {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val stream = java.nio.file.Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if forbidden.exists(_.findFirstIn(line).isDefined) =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
    } finally stream.close()
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.build and set conf on GraftSession.clone:\n" +
        offenders.mkString("\n"))
  }
}
