package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to plans/<tag>/ —
  * the r18 optimization round's before/after plan evidence. The plan is
  * read AFTER executing the frame (the retired ExplainAudit's
  * discipline, OPTIMIZATION_r19.md: under AQE the pre-execution string
  * is the unfinalised skeleton), so the dump shows final join
  * strategies, reused exchanges and codegen spans.
  *
  *   sbt "runMain graft.PlanDump r18 before q187_multilex_pipeline[,...] [sfDir]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outTag = args(0) // e.g. "r18" with files suffixed _before/_after
    val suffix = args(1) // "before" | "after"
    val names = SparkEntry.names(args(2))
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    // the Bench session at SPARK_GRAFT_CPUS threads (default 32) with
    // SPARK_GRAFT_CONF overrides, e.g. the pre-rewrite "before" evidence
    // of a rule: SPARK_GRAFT_CONF="spark.graft.similarityJoin.rewrite=false"
    val spark = HarnessTuning.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      HarnessTuning.envConfs(): _*)
    val dir = Paths.get(s"plans/$outTag")
    Files.createDirectories(dir)
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      val formatted =
        df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      val body = s"== $name (sf=$sfDir) ==\n\n--- explain formatted " +
        s"(post-execution) ---\n$formatted\n--- executed adaptive plan " +
        s"---\n$executed\n"
      Files.write(dir.resolve(s"${name}_$suffix.txt"), body.getBytes("UTF-8"))
      println(s"[plandump] wrote plans/$outTag/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
