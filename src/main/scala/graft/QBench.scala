package graft

import org.apache.spark.sql.GraftSqlShim

/** Dev harness: time a subset of SparkEntry.queries on the Bench session
  * (`SPARK_GRAFT_CPUS` threads, default 32, plus `SPARK_GRAFT_CONF="k=v;k=v"`
  * overrides). Not part of the driver contract — Bench.scala is the
  * official artifact.
  *
  *   sbt "runMain graft.QBench q23_poll_standings[,q38_...] [reps] [key=vA,vB]"
  *
  * The first argument is a comma list or `all`. Every query runs once to
  * warm (staging, codegen, page cache), then each rep prints construct /
  * exec seconds, the rep's Spark jobs (construct plus exec) and its Janino
  * compiles (a compile in a warm rep is a class the JVM's cache missed),
  * then min/median/max per query.
  *
  * With `key=vA,vB` each rep runs each query in the palindromic order
  * A,B,B,A with the session conf `key` set to each value, both variants
  * warmed first, and the summary is per variant: an interleaved conf A/B
  * in one binary and one window (the 05bc081 keep/revert protocol). Any
  * session conf can be flipped, e.g. a kill switch such as
  * `spark.graft.similarityJoin.rewrite`. */
object QBench {
  def main(args: Array[String]): Unit = {
    val names = SparkEntry.names(args.headOption.getOrElse("q23_poll_standings"))
    val reps = if (args.length > 1) args(1).toInt else 5
    val (key, variants) = args.lift(2).map { a =>
      val Array(k, vs) = a.split("=", 2)
      val Array(va, vb) = vs.split(",", 2)
      (Some(k), Seq(va, vb))
    }.getOrElse((None, Seq("")))
    val order = if (key.isEmpty) variants else variants ++ variants.reverse
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = HarnessTuning.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      HarnessTuning.envConfs(): _*)
    def label(v: String) = key.fold("")(k => s" $k=$v")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val sc = spark.sparkContext
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def run(n: String, v: String): (Double, Double) = {
      key.foreach(spark.conf.set(_, v))
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    }
    for (v <- variants; n <- names) run(n, v) // warm
    val samples = scala.collection.mutable.Map.empty[(String, String), Vector[Double]]
      .withDefaultValue(Vector.empty)
    // every compile a warm rep runs is one the JVM's class cache missed
    def compiles() = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    for (r <- 1 to reps; n <- names; v <- order) {
      val (c0, j0) = (compiles(), jobs.get)
      val (construct, exec) = run(n, v)
      samples((n, v)) = samples((n, v)) :+ (construct + exec)
      GraftSqlShim.drainListeners(sc) // every job start of the rep counted
      println(f"[qbench] $n${label(v)} rep$r construct $construct%.3f exec $exec%.3f jobs ${jobs.get - j0} compiles ${compiles() - c0}")
    }
    for (n <- names; v <- variants) {
      val s = samples((n, v)).sorted
      val med = if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      println(f"[qbench] $n${label(v)} MEDIAN $med%.3f min ${s.head}%.3f max ${s.last}%.3f n=${s.size}")
    }
    spark.stop()
  }
}
