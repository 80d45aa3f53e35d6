package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard against documentation drift (the q142-then-q147
  * recurrence): every query declared in `SparkEntry.queries` must be
  * mentioned in COVERAGE.md and have an oracle entry, and the declared
  * count in COVERAGE.md's header must match the registry. A new qNNN
  * that lands without its COVERAGE entry fails the suite, so the
  * same-commit oracle+spec+docs discipline is enforced mechanically,
  * not by review.
  */
class DocCoverageSpec extends AnyFunSuite {

  private def repoFile(name: String): String = {
    val p = java.nio.file.Paths.get(name)
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  private val queryIds: Set[String] =
    SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))

  test("every declared query appears in COVERAGE.md") {
    val coverage = repoFile("COVERAGE.md")
    // match qNN as a standalone token (not a prefix of a longer id)
    val mentioned = "q\\d+".r.findAllIn(coverage).toSet
    val missing = queryIds.diff(mentioned)
    assert(missing.isEmpty,
      s"queries missing a COVERAGE.md entry: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("COVERAGE.md header count matches the registry") {
    val coverage = repoFile("COVERAGE.md")
    val declared = "(\\d+) declared queries".r
      .findFirstMatchIn(coverage).map(_.group(1).toInt)
    assert(declared.contains(SparkEntry.queries.size),
      s"COVERAGE.md declares ${declared.getOrElse(-1)} queries but " +
        s"SparkEntry.queries has ${SparkEntry.queries.size}")
  }

  test("every declared query has an oracle entry") {
    val missing = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(missing.isEmpty,
      s"queries without oracle SQL: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("SparkEntry.names keeps a list's order, sorts all, and rejects " +
    "an unregistered name") {
    assert(SparkEntry.names("q23_poll_standings,q01_pricing_summary") ==
      Seq("q23_poll_standings", "q01_pricing_summary"))
    assert(SparkEntry.names("all") == SparkEntry.queries.keys.toSeq.sorted)
    val e = intercept[IllegalArgumentException](
      SparkEntry.names("q01_pricing_summary,q999_typo"))
    assert(e.getMessage.contains("q999_typo"))
    assert(!e.getMessage.contains("q01_pricing_summary"))
  }
}
