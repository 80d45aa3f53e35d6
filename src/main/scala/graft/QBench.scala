package graft

/** Dev harness: time a subset of SparkEntry.queries under the exact Bench
  * session config. Usage: runMain graft.QBench q23_poll_standings[,q38_...]
  * [reps] (`all` names every registered query). Prints construct/exec
  * and the Janino compiles of each warm rep, and the median. Not part of
  * the driver contract — Bench.scala is the official artifact. */
object QBench {
  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .map(a => if (a == "all") SparkEntry.queries.keys.toSeq.sorted
        else a.split(",").toSeq)
      .getOrElse(Seq("q23_poll_standings"))
    val reps = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the dev session: SPARK_GRAFT_CPUS threads (as Bench) and ad-hoc
    // SPARK_GRAFT_CONF overrides for floor experiments, e.g.
    //   SPARK_GRAFT_CONF="spark.sql.files.maxPartitionBytes=2m;k=v"
    val spark = HarnessTuning.devSession()
    for (n <- names)  // warm: staging + codegen + page cache
      SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // every compile a warm rep runs is one the JVM's class cache missed
    def compiles() = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    for (r <- 1 to reps; n <- names) {
      val c0 = compiles()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val t2 = System.nanoTime()
      samples(n) = samples(n) :+ (t2 - t0) / 1e9
      println(f"[qbench] $n rep$r construct ${(t1 - t0) / 1e9}%.3f exec ${(t2 - t1) / 1e9}%.3f compiles ${compiles() - c0}")
    }
    for (n <- names) {
      val s = samples(n).sorted
      val med = if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      println(f"[qbench] $n MEDIAN $med%.3f min ${s.head}%.3f max ${s.last}%.3f")
    }
    spark.stop()
  }
}
