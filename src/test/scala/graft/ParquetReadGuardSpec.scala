package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard for per-query schema inference: `spark.read.parquet(path)`
  * without a declared schema infers it with a Spark job, one per call.
  * Table loads go through [[graft.core.Tables]], whose schema memo
  * infers an unchanged table once; `MergeOps.mergeParquet` reads the
  * table it is about to rewrite, whose schema a merge can change. A
  * parquet read anywhere else under src/main turns this suite red, so a
  * new loader cannot bring back a job per query.
  *
  * Byte-level grep on purpose, the CollectBoundSpec convention; comment
  * lines are skipped, and a chain split as `read` / `.parquet(` across
  * lines is caught too, as is `read.format("parquet").load(`.
  */
class ParquetReadGuardSpec extends AnyFunSuite {

  test("parquet reads under src/main go through Tables or MergeOps") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      "src/main/scala not found — run from repo root")
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(root)
    val files =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally stream.close()
    val allowed = Set("Tables.scala", "MergeOps.scala")
    val needle = """\.read\s*\.(parquet\(|format\("parquet"\)\s*\.load\()""".r
    def isComment(l: String) = {
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val sites = files.flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala.toVector
      val code = lines.map(l => if (isComment(l)) "" else l).mkString("\n")
      needle.findAllMatchIn(code).map { m =>
        (p.getFileName.toString, s"$p:${code.take(m.start).count(_ == '\n') + 1}")
      }
    }
    assert(sites.exists(_._1 == "Tables.scala"),
      "grep found no read in Tables.scala — needle rotted?")
    val offending = sites.filterNot(s => allowed.contains(s._1)).map(_._2)
    assert(offending.isEmpty,
      s"""${offending.size} parquet read(s) outside Tables and MergeOps:
         |load tables through graft.core.Tables (one inference per unchanged
         |table), or declare the schema with spark.read.schema(…):
         |${offending.mkString("\n")}""".stripMargin)
  }
}
