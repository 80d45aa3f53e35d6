package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The engine's own settable surface, and the session confs its training
  * scopes flip.
  *
  * `spark.graft.*` keys: an adjudicated experiment leaves ONE code path,
  * so the only keys the engine declares are the two optimizer rules'
  * kill switches. Any key that appears anywhere under src/main (code or
  * comment) and is not one of them fails here — a new flag, or a doc
  * reference to a retired one.
  *
  * Training scopes (Corpus/Similarity `withStaticPlan`, Corpus
  * `withModelReduce`) turn AQE off and shrink the reduce fan-in while a
  * trainer runs; both session confs must come back whatever the trainer
  * throws. */
class ConfSurfaceSpec extends SparkSpec {

  test("the only spark.graft.* keys are the two optimizer kill switches") {
    val sources: Seq[Path] = Files.walk(Paths.get("src/main/scala")).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty)
    val key = """spark\.graft\.[A-Za-z.]*[A-Za-z]""".r
    val found = sources.flatMap { p =>
      key.findAllIn(new String(Files.readAllBytes(p), "UTF-8"))
        .map(k => k -> p.getFileName.toString)
    }
    val declared = Set(graft.plans.SimilarityJoinRewrite.EnabledKey,
      graft.plans.RangeJoinRewrite.EnabledKey)
    assert(declared == Set("spark.graft.similarityJoin.rewrite",
      "spark.graft.rangeJoin.rewrite"))
    val extra = found.filterNot(f => declared(f._1))
    assert(extra.isEmpty, "undeclared spark.graft keys: " +
      extra.distinct.map { case (k, f) => s"$k ($f)" }.mkString(", "))
    assert(found.map(_._1).toSet == declared)
  }

  test("training scopes restore AQE and shuffle partitions when the " +
    "trainer throws") {
    import spark.implicits._
    val aqe = "spark.sql.adaptive.enabled"
    val parts = "spark.sql.shuffle.partitions"
    val (aqe0, parts0) = (spark.conf.get(aqe), spark.conf.get(parts))
    // 8 > the training reduce fan-in, so the scopes do shrink it
    spark.conf.set(parts, "8")
    try {
      // empty inputs: the first round's argmax / seed lookup throws
      // INSIDE the scope, after both confs were flipped
      val noDocs = Seq.empty[String].toDF("text")
      intercept[Exception](operators.Corpus.bpeTrain(noDocs, 1))
      assert(spark.conf.get(aqe) == aqe0 && spark.conf.get(parts) == "8")
      val noVecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "qd")
      intercept[Exception](operators.Similarity.lloydCore(noVecs, 2, 1, 143))
      assert(spark.conf.get(aqe) == aqe0 && spark.conf.get(parts) == "8")
    } finally spark.conf.set(parts, parts0)
  }
}
