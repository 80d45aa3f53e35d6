package graft

import scala.io.Source

/** Golden-row verification for the three queries the driver rows-checks
  * only (no DuckDB oracle): exact sorted-JSON comparison against the
  * checked-in sf0.01 outputs. Regenerate intentionally via
  * `sbt "runMain graft.GoldenGen"` — see GoldenGen's scaladoc. */
class GoldenSpec extends SparkSpec {

  private def checkGolden(name: String): Unit = {
    val stream = getClass.getResourceAsStream(s"/golden/$name.jsonl")
    assert(stream != null, s"missing golden resource for $name")
    val expected =
      try Source.fromInputStream(stream, "UTF-8").getLines().toVector
      finally stream.close()
    val actual = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      .toJSON.collect().sorted.toVector
    assert(actual.length == expected.length,
      s"row count ${actual.length} != golden ${expected.length}")
    val firstDiff = actual.zip(expected).indexWhere { case (a, e) => a != e }
    if (firstDiff != -1)
      fail(s"first divergent row #$firstDiff:\n  actual: ${actual(firstDiff)}\n  golden: ${expected(firstDiff)}")
  }

  for (name <- GoldenGen.goldenNames) {
    test(s"$name matches the checked-in golden rows at sf0.01") {
      checkGolden(name)
    }
    // the harness floor knobs change latency, never rows
    test(s"$name matches the golden rows on Spark's default join and scan confs") {
      withSparkDefaults(checkGolden(name))
    }
  }
}
