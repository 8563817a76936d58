package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard for the one-session-builder rule: every main under src/main
  * gets its SparkSession from [[core.Session.build]], so core count,
  * shuffle partitions, time zone and codegen cache are set in one
  * place instead of drifting apart across hand-rolled builders (the
  * mains once hard-coded `local[32]` and `local[4]` side by side).
  *
  * Contract: `SparkSession.builder` occurs under src/main only in
  * `core/Session.scala`. Byte-level grep on purpose, the
  * CollectBoundSpec convention. */
class SessionBuilderSpec extends AnyFunSuite {

  test("SparkSession.builder appears under src/main only in core/Session.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      "src/main/scala not found — run from repo root")
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(root)
    val files =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally stream.close()
    val home = root.resolve("graft/core/Session.scala")
    val sites = files.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("SparkSession.builder") => (p, i + 1)
      }
    }
    assert(sites.exists(_._1 == home), s"no builder found in $home — needle rotted?")
    val offending = sites.filterNot(_._1 == home)
    assert(offending.isEmpty,
      s"""${offending.size} SparkSession.builder site(s) outside $home —
         |build the session with graft.core.Session.build(appName):
         |${offending.map { case (p, n) => s"$p:$n" }.mkString("\n")}""".stripMargin)
  }
}
