package graft

import java.nio.file.{Files, Paths}

/** Regenerates the checked-in golden outputs for the three queries the
  * driver can only rows-check (q46/q47/q57 — not one-statement SQL, so no
  * DuckDB oracle). They are pure functions of the seeded sf0.01 input, so
  * their exact rows are pinned as sorted JSON lines and GoldenSpec
  * hash-compares on every test run — a refactor that silently changes a
  * cluster assignment or feature vector now breaks the build.
  *
  * Run ONLY when the semantics intentionally change:
  *   sbt "runMain graft.GoldenGen"
  * (the Bench session at local[8] while GoldenSpec runs the test
  * session's local[4] — a pass also certifies the outputs are
  * parallelism-independent).
  */
object GoldenGen {
  val goldenNames = Seq(
    "q46_question_clusters", "q47_semantic_filter", "q57_multimodal",
    "q67_clusters_at_scale")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "src/test/resources/golden"
    val spark = HarnessTuning.session("8")
    Files.createDirectories(Paths.get(outDir))
    for (name <- goldenNames) {
      val lines = SparkEntry.queries(name)(spark, sfDir).toJSON.collect().sorted
      Files.writeString(Paths.get(s"$outDir/$name.jsonl"),
        lines.mkString("", "\n", "\n"))
      println(s"[golden] $name: ${lines.length} rows")
    }
    spark.stop()
  }
}
