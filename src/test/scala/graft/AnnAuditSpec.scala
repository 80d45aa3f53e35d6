package graft

import graft.operators.Similarity
import graft.operators.Similarity.Leg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ANN pipelines are total on an empty corpus, and the shared recall
  * audit keeps a query whose probed list is otherwise empty. */
class AnnAuditSpec extends SparkSpec {
  import spark.implicits._

  test("every ANN pipeline and kmeansFixedPoint return no rows, with the " +
    "non-empty schema, on an empty corpus") {
    val corpus = Similarity.plantedEmbeddings(
      spark.range(100).select(col("id").as("vec_id")))
    val pipelines: Seq[(String, DataFrame => DataFrame)] = Seq(
      "kmeansFixedPoint" -> (Similarity.kmeansFixedPoint(_, 10, 3)),
      "ivfLearned" -> (Similarity.ivfLearned(_, 10, 3)),
      "ivfMultiprobe" -> (Similarity.ivfMultiprobe(_, 10, 3)),
      "ivfIncremental" -> (Similarity.ivfIncremental(_, 10, 3)),
      "randomProjection" -> (Similarity.randomProjection(_, 16, 5)),
      "ivfPq" -> (Similarity.ivfPq(_, 10, 3, 4, 8, 2, 5)),
      "jlIvf" -> (Similarity.jlIvf(_, 16, 10, 3, 2, 5)),
      "ivfPqResidual" -> (Similarity.ivfPqResidual(_, 10, 3, 4, 8, 2, 5)),
      "jlIvfPq" -> (Similarity.jlIvfPq(_, 16, 10, 3, 2, 4, 8, 2, 5)),
      "ivfPqResidualMultiprobe" ->
        (Similarity.ivfPqResidualMultiprobe(_, 10, 3, 4, 8, 2, 2, 5)),
      "ivfPqResidualMultiprobe rerank" ->
        (Similarity.ivfPqResidualMultiprobe(_, 10, 3, 4, 8, 2, 2, 5, 50)))
    val wrong = pipelines.flatMap { case (name, run) =>
      scala.util.Try {
        val schema = run(corpus).schema
        val empty = run(corpus.limit(0))
        (empty.schema == schema, empty.count())
      }.fold(e => Some(s"$name: $e"), {
        case (true, 0L) => None
        case (sameSchema, n) => Some(s"$name: same schema $sameSchema, $n rows")
      })
    }
    assert(wrong.isEmpty)
  }

  test("an incremental add to an index trained on no rows reports no list") {
    // one row, vec_id 0: the base (vec_id % 10 != 0) is empty
    val one = Similarity.plantedEmbeddings(
      spark.range(1).select(col("id").as("vec_id")))
    assert(Similarity.ivfIncremental(one, 10, 3).count() == 0)
  }

  test("the recall audit emits n_candidates = 0 and n_match = 0 for a " +
    "query whose probed list has no other member") {
    // query 1's list holds 11 and 12; query 2 is alone in its list
    val keys = Seq((1L, 1), (2L, 2)).toDF("query_id", "probe")
    val cand = Seq((1L, 11L), (1L, 12L)).toDF("query_id", "vec_id")
    val truth = Seq((1L, 11L), (1L, 13L), (2L, 21L), (2L, 22L))
      .toDF("query_id", "vec_id")
    val got = Similarity.recallAudit(Some(keys), Some(cand), Seq(
      Leg(cand, "n_match", Some("found_fp")),
      Leg(Seq((1L, 13L)).toDF("query_id", "vec_id"), "n_match_b")), truth)
    assert(got.columns.toSeq == Seq("query_id", "probe", "n_candidates",
      "n_match", "n_match_b", "found_fp", "truth_fp"))
    assert(got.collect().map(_.toSeq).toSeq == Seq(
      Seq(1L, 1, 2L, 1L, 1L, 23L, 24L),
      Seq(2L, 2, 0L, 0L, 0L, null, 43L)))
  }
}
