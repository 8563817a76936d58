package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard for the no-swallowed-fatal-errors rule: a `catch` under
  * src/main matches `NonFatal(e)`, never a bare `Throwable`, so an
  * OutOfMemoryError, a StackOverflowError or an interrupt ends the run
  * instead of printing one line and moving on to the next query.
  *
  * Contract: `: Throwable =>` occurs nowhere under src/main. Byte-level
  * grep on purpose, the SessionBuilderSpec convention. */
class NonFatalCatchSpec extends AnyFunSuite {

  test("no catch clause under src/main matches a bare Throwable") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      "src/main/scala not found — run from repo root")
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(root)
    val files =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally stream.close()
    assert(files.nonEmpty, "no sources found — needle rotted?")
    val offending = files.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains(": Throwable =>") => s"$p:${i + 1}"
      }
    }
    assert(offending.isEmpty,
      s"""${offending.size} catch site(s) swallow fatal errors — match
         |scala.util.control.NonFatal(e) instead:
         |${offending.mkString("\n")}""".stripMargin)
  }
}
