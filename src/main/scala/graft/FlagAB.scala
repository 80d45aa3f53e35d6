package graft

/** Generic interleaved conf A/B for one declared query (the 05bc081
  * keep/revert protocol — both variants in ONE binary and window,
  * palindromic order, per-variant min-of-reps comparator), on the dev
  * session (`HarnessTuning.devSession`). Any session conf can be
  * flipped, e.g. a Spark knob or a kill switch such as
  * `spark.graft.similarityJoin.rewrite`.
  *
  *   sbt "runMain graft.FlagAB <query> <confKey> <valueA> <valueB> [reps]"
  */
object FlagAB {
  def main(args: Array[String]): Unit = {
    val (name, key, va, vb) = (args(0), args(1), args(2), args(3))
    val reps = if (args.length > 4) args(4).toInt else 4
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = HarnessTuning.devSession()
    def once(v: String): Double = {
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    once(va); once(vb) // warm both variants
    val pattern = Seq(va, vb, vb, va)
    val samples = collection.mutable.Map(va -> Vector.empty[Double],
      vb -> Vector.empty[Double])
    for (r <- 1 to reps; v <- pattern) {
      val s = once(v)
      samples(v) = samples(v) :+ s
      println(f"[flagab] $name rep$r $key=$v $s%.3f s")
    }
    for (v <- Seq(va, vb)) {
      val xs = samples(v).sorted
      val med = if (xs.size % 2 == 1) xs(xs.size / 2)
        else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2
      println(f"[flagab] $name $key=$v min ${xs.head}%.3f med $med%.3f max ${xs.last}%.3f n=${xs.size}")
    }
    spark.stop()
  }
}
