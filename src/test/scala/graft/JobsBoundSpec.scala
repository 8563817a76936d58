package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard for the third standing manual-audit class: EAGER DRIVER LOOPS
  * (judge r16 task 5). The trainer-style operators — k-means rounds,
  * BPE/Unigram/WordPiece merges, classifier GD, Dawid–Skene EM, BT MM,
  * PageRank/CC rounds — run driver-synchronous
  * sequences of bounded Spark jobs. Each is individually fine (the
  * PageRank argument: rounds × small jobs, model-bounded), but the
  * SHAPE is the one that pays contended per-stage scheduling latency
  * N times over, the amplifier class of the r16 bench finding — so
  * every such loop must declare its job count in terms of its bounds
  * (iters, k, vocab), where the judge and the next
  * builder can audit it.
  *
  * Contract: any loop header under src/main (a `while (...)` or a
  * ranged `(1 to n).foldLeft/foreach/map`) whose lexical BODY
  * (following lines at deeper indentation) runs a Spark ACTION
  * (collect/count/consume/checkpoint/first/write) must carry a
  * `jobs-bound:` comment within the 10 lines above the header stating
  * the loop's total job count. Diagnostic mains are exempt (their job
  * is driving queries in loops). New eager loops without a declared
  * job bound turn this suite red; a false declaration is a review lie
  * the comment makes auditable.
  *
  * Byte-level grep with an indentation block heuristic on purpose
  * (the CollectBoundSpec convention): the contract is "the declared
  * bound sits next to the loop"; the heuristic errs toward flagging
  * (a flagged non-loop costs one comment, a missed eager loop costs a
  * contended bench round).
  */
class JobsBoundSpec extends AnyFunSuite {

  test("every eager driver loop declares its total job count") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      "src/main/scala not found — run from repo root")
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(root)
    val files =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally stream.close()
    val exempt = Set("ProfileQ.scala", "Explain.scala", "Verify.scala")
    val loopRe =
      ("""^\s*\}?\s*(while\s*\(""" +
        """|[^/]*\(\s*\d+\s+(to|until)\s+\w+\s*\)\s*\.\s*(foldLeft|foreach|map)""" +
        """|[^/]*for\s*\(\s*\S+\s*<-\s*\w*\s*\d*\s*(to|until)\s)""").r
    // direct actions PLUS the repo's action-wrapping helpers — a loop
    // that calls localize()/pieceCosts()/packed()/isStarForest() runs
    // the helper's collect/isEmpty every round just the same
    val actions = Seq(".collect()", ".count()", "Measure.consume",
      ".checkpoint(", ".localCheckpoint(", ".first()", ".write.",
      ".isEmpty", "localize(", "pieceCosts(", "packed(", "isStarForest(",
      "collectAsMap")
    def isComment(l: String) = {
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    def indent(l: String) = l.takeWhile(_ == ' ').length
    var loops = 0
    val offending = files
      .filterNot(p => exempt.contains(p.getFileName.toString))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala.toVector
        lines.zipWithIndex.collect {
          case (l, i)
              if loopRe.findFirstIn(l).isDefined && !isComment(l) =>
            val hi = indent(l)
            // lexical body: following lines while blank/comment or
            // indented deeper than the header
            val body = lines.drop(i + 1).takeWhile { b =>
              b.trim.isEmpty || isComment(b) || indent(b) > hi
            }
            val eager = body.exists(b =>
              !isComment(b) && actions.exists(b.contains))
            if (eager) {
              loops += 1
              val declared = (math.max(0, i - 10) to i)
                .exists(j => lines(j).contains("jobs-bound:"))
              if (declared) None else Some(s"$p:${i + 1}")
            } else None
        }.flatten
      }
    assert(loops > 0, "grep found zero eager loops — heuristic rotted?")
    assert(offending.isEmpty,
      s"""${offending.size} eager driver loop(s) without a declared job
         |count — add a `// jobs-bound: <total Spark jobs in terms of the
         |loop's bounds (iters/k/vocab/attempts)>` comment within 10
         |lines above the loop header, or restructure the loop so the
         |iteration unrolls into ONE lazy plan (the Sampling.doremi
         |foldLeft contract) instead of running a job per round:
         |${offending.mkString("\n")}""".stripMargin)
  }
}
