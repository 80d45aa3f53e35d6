package graft

import graft.functions.TrigramSimSorted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, Expression, GreaterThanOrEqual, Least, PosExplode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, Repartition}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

/** The similarity-join optimizer rule: exactness vs the naive nested-loop
  * plan, plan shape (no product join after rewrite), multiplicity via row
  * ids, edge semantics (short/null strings), the opt-out conf, and q97's
  * adjudicated plan shape (prune before merge, spread probe side). */
class SimilarityJoinRewriteSpec extends SparkSpec {

  private val EnabledKey = graft.plans.SimilarityJoinRewrite.EnabledKey

  private def withRule[A](on: Boolean)(body: => A): A =
    try { spark.conf.set(EnabledKey, on.toString); body }
    finally spark.conf.unset(EnabledKey)

  private def names(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name")
  }

  private def naiveJoin(df: DataFrame, thresh: Double = 0.5): DataFrame = {
    val a = df.select(col("id").as("id_a"), col("name").as("name_a"))
    val b = df.select(col("id").as("id_b"), col("name").as("name_b"))
    a.join(b, expr(s"trigram_similarity(name_a, name_b) >= $thresh") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("trigram_similarity(name_a, name_b)"), 6).as("sim"))
  }

  private def collectPairs(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toList.sorted

  test("rewritten result equals the naive nested-loop result on real data") {
    val part = Tables.load(spark, "/root/testdata/sf0.001", "part")
      .select(col("p_partkey").as("id"), lower(col("p_name")).as("name"))
    val expected = withRule(on = false)(collectPairs(naiveJoin(part, 0.55)))
    val got = withRule(on = true)(collectPairs(naiveJoin(part, 0.55)))
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  test("the rewrite removes the product join; disabling restores it") {
    val df = names(Seq((1L, "hello world"), (2L, "hello worlds")))
    def productJoins(plan: org.apache.spark.sql.execution.SparkPlan): Int =
      plan.collect {
        case _: BroadcastNestedLoopJoinExec => 1
        case _: CartesianProductExec => 1
      }.sum
    // sparkPlan, not executedPlan: AQE wraps the latter in an
    // AdaptiveSparkPlanExec whose collect() does not descend (same note
    // as PlanAuditSpec)
    val on = withRule(on = true)(naiveJoin(df).queryExecution.sparkPlan)
    val off = withRule(on = false)(naiveJoin(df).queryExecution.sparkPlan)
    assert(productJoins(on) == 0, on.toString)
    assert(productJoins(off) > 0, off.toString)
  }

  test("duplicate input rows keep their multiplicity") {
    val df = names(Seq((1L, "abcdef"), (2L, "abcdef"), (2L, "abcdef")))
    val out = withRule(on = true)(
      naiveJoin(df).groupBy("id_a", "id_b").count().collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap)
    // id 1 joins each of the two id-2 rows
    assert(out == Map((1L, 2L) -> 2L))
  }

  test("short and null strings never match, same as the naive path") {
    val df = names(Seq((1L, "ab"), (2L, "ab"), (3L, null), (4L, "abc"), (5L, "abc")))
    val got = withRule(on = true)(collectPairs(naiveJoin(df)))
    assert(got == List((4L, 5L, 1.0)))
  }

  test("strict and reversed comparison forms rewrite too") {
    val df = names(Seq((1L, "spark engine"), (2L, "spark engines"), (3L, "duckdb")))
    val a = df.select(col("id").as("id_a"), col("name").as("name_a"))
    val b = df.select(col("id").as("id_b"), col("name").as("name_b"))
    for (cond <- Seq("trigram_similarity(name_a, name_b) > 0.5",
                     "0.5 <= trigram_similarity(name_a, name_b)")) {
      val q = a.join(b, expr(cond) && col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val (plan, rows) = withRule(on = true)(
        (q.queryExecution.sparkPlan, q.collect().map(r => (r.getLong(0), r.getLong(1))).toList))
      assert(plan.collect { case _: BroadcastNestedLoopJoinExec => 1 }.isEmpty, cond)
      assert(rows == List((1L, 2L)), cond)
    }
  }

  test("the rewrite fires through the SQL surface (spark.sql text)") {
    names(Seq((1L, "hello world"), (2L, "hello worlds"), (3L, "unrelated")))
      .createOrReplaceTempView("sjr_docs")
    val q = spark.sql(
      """SELECT a.id AS id_a, b.id AS id_b FROM sjr_docs a JOIN sjr_docs b
        |ON trigram_similarity(a.name, b.name) >= 0.5 AND a.id < b.id""".stripMargin)
    val (plan, rows) = withRule(on = true)(
      (q.queryExecution.sparkPlan,
        q.collect().map(r => (r.getLong(0), r.getLong(1))).toList))
    assert(plan.collect { case _: BroadcastNestedLoopJoinExec => 1 }.isEmpty)
    assert(rows == List((1L, 2L)))
  }

  test("property: rewrite equals naive on random corpora and thresholds") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // multi-byte + short + repeated tokens — the shapes where a prefix
    // or gram-set bug would diverge from the naive full comparison
    val wordGen = Gen.oneOf("the", "quick", "fox", "über", "größe",
      "naïve", "東京", "a", "bb", "stream", "hash", "x1", "ß")
    val textGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, wordGen))
      .map(_.mkString(" "))
    def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
      Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))
    for ((thresh, seed) <- Seq((0.3, 11L), (0.55, 23L), (0.8, 37L), (1.0, 41L))) {
      val texts = sample(textGen, 60, seed)
      val df = names(texts.zipWithIndex.map { case (s, i) => (i.toLong, s) })
      val expected = withRule(on = false)(collectPairs(naiveJoin(df, thresh)))
      val got = withRule(on = true)(collectPairs(naiveJoin(df, thresh)))
      assert(got == expected, s"thresh=$thresh seed=$seed")
    }
  }

  test("non-literal thresholds are left alone (still correct, just naive)") {
    val df = names(Seq((1L, "alpha beta"), (2L, "alpha betas")))
    val a = df.select(col("id").as("id_a"), col("name").as("name_a"))
    val b = df.select(col("id").as("id_b"), col("name").as("name_b"),
      lit(0.5).as("t"))
    val q = a.join(b, expr("trigram_similarity(name_a, name_b) >= t * 1.0") &&
      col("id_a") < col("id_b")).select("id_a", "id_b")
    val rows = withRule(on = true)(q.collect().map(r => (r.getLong(0), r.getLong(1))).toList)
    assert(rows == List((1L, 2L)))
  }

  test("q97 keeps its adjudicated shape: prune before every sim merge, " +
    "small probe side spread round-robin") {
    val plan = withRule(on = true)(SparkEntry.queries("q97_similarity_join")(
      spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan)
    def hasSim(e: Expression) = e.exists(_.isInstanceOf[TrigramSimSorted])
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    // the re-applied predicate sits in ONE place above the gram equi-join
    // (the rewrite's Filter, or the join condition pushdown folds it into)
    val preds = plan.collect {
      case j: Join if j.condition.exists(hasSim) => j.condition.get
      case f: Filter if hasSim(f.condition) => f.condition
    }
    assert(preds.size == 1, plan.toString)
    val cs = conjuncts(preds.head)
    val prune = cs.indexWhere {
      case GreaterThanOrEqual(_: Least, _) => true
      case _ => false
    }
    val sims = cs.indices.filter(i => hasSim(cs(i)))
    assert(prune >= 0 && sims.nonEmpty, preds.head.toString)
    assert(sims.forall(prune < _),
      s"positional prune at conjunct $prune must precede the sorted-merge " +
        s"conjuncts at ${sims.mkString(",")}: ${preds.head}")
    // the two gram-explode legs; the streamed side (tie → left) is below
    // the 64 MiB spread threshold at sf0.001, so exactly one leg carries
    // a shuffle=true round-robin Repartition to the session parallelism
    val legs = plan.collect { case g: Generate if g.generator.isInstanceOf[PosExplode] => g }
    assert(legs.size == 2, plan.toString)
    val spread = legs.flatMap(_.child.collect {
      case r: Repartition if r.shuffle => r.numPartitions
    })
    assert(spread == Seq(spark.conf.get("spark.sql.shuffle.partitions").toInt),
      plan.toString)
  }
}
