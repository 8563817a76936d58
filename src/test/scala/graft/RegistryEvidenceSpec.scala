package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-of-round evidence contract, automated (judge r12 task 3: the
  * registry↔evidence gap re-opened silently three rounds running —
  * r10, r11, r12 — precisely because closing it was a manual sweep).
  *
  * Every name in `SparkEntry.queries` must be evidenced in TWO
  * committed artifacts, or this suite is red and `sbt test` blocks the
  * round:
  *
  *  - PLANS.md        — a physical-plan audit row (`| name |`),
  *                      regenerated via `sbt "runMain graft.Explain
  *                      --audit-all"`;
  *  - COVERAGE.md     — at least a name-level mention tying the query
  *                      to the operator/capability it certifies.
  *
  * Every query also ships an oracle: `Q.oracle` is a `String`, so the
  * compiler enforces that; the last test here checks the other
  * direction (no oracle without its query).
  *
  * Byte-level greps on purpose: the contract is "the name appears in
  * the committed evidence file", nothing smarter — smart parsing is
  * how the manual sweep kept missing entries.
  */
class RegistryEvidenceSpec extends AnyFunSuite {

  private def read(path: String): String = {
    val f = new java.io.File(path)
    assert(f.isFile, s"evidence file missing: $path (run from repo root)")
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  private lazy val names = SparkEntry.queries.keys.toSeq.sorted

  test("every registered query has a PLANS.md plan-audit row") {
    val plans = read("PLANS.md")
    val missing = names.filterNot(n => plans.contains(s"| $n "))
    assert(missing.isEmpty,
      s"""${missing.size} queries lack a PLANS.md row — regenerate with
         |  sbt "runMain graft.Explain --audit-all"
         |missing: ${missing.mkString(", ")}""".stripMargin)
  }

  test("every registered query is mentioned in COVERAGE.md") {
    val cov = read("COVERAGE.md")
    val missing = names.filterNot(cov.contains)
    assert(missing.isEmpty,
      s"${missing.size} queries have no COVERAGE.md mention: " +
        missing.mkString(", "))
  }

  test("every oracle key names a registered query (no orphan oracles)") {
    val orphans = SparkEntry.oracleSql.keys.toSeq.sorted
      .filterNot(SparkEntry.queries.contains)
    assert(orphans.isEmpty,
      s"oracleSql entries with no matching query: ${orphans.mkString(", ")}")
  }
}
