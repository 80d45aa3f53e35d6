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
  * Sessions: `HarnessTuning` is the one session factory, so no other
  * file under src/main calls `SparkSession.builder`, and every
  * `runMain graft.<X>` the runbooks name is a main that exists.
  *
  * Training scopes (Corpus/Similarity `withStaticPlan`, Corpus
  * `withModelReduce`) turn AQE off and shrink the reduce fan-in while a
  * trainer runs; both session confs must come back whatever the trainer
  * throws. */
class ConfSurfaceSpec extends SparkSpec {

  private val sources: Seq[Path] = Files.walk(Paths.get("src/main/scala"))
    .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("the only spark.graft.* keys are the two optimizer kill switches") {
    assert(sources.nonEmpty)
    val key = """spark\.graft\.[A-Za-z.]*[A-Za-z]""".r
    val found = sources.flatMap { p =>
      key.findAllIn(read(p))
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

  test("SparkSession.builder appears under src/main only in " +
    "HarnessTuning.scala") {
    val builders = sources.filter(p => read(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString)
    assert(builders == Seq("HarnessTuning.scala"))
  }

  test("every runMain graft.<X> in the runbooks names a main under " +
    "src/main") {
    val mains = sources.map(read).filter(_.contains("def main(")).flatMap(
      """(?m)^object (\w+)""".r.findAllMatchIn(_).map(_.group(1))).toSet
    assert(mains.contains("Verify") && mains.contains("Bench"))
    val named = Seq(".claude/skills/verify/SKILL.md", "README.md", "SCALE.md")
      .flatMap { doc =>
        """runMain graft\.(\w+)""".r.findAllMatchIn(read(Paths.get(doc)))
          .map(m => m.group(1) -> doc)
      }
    assert(named.nonEmpty)
    val missing = named.filterNot(n => mains(n._1)).distinct
    assert(missing.isEmpty, "runMain of no main: " +
      missing.map { case (m, d) => s"$m ($d)" }.mkString(", "))
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
