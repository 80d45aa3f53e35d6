package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** plantedEmbeddings evaluates only the micro-tier hash per element; its
  * cluster and group-pattern terms come from driver-built tables and its
  * group draws from one per-row array. The reference below is the
  * per-element four-hash SQL formula the corpus was defined by (and the
  * oracle replays): both must produce the identical corpus, and the
  * driver tables must equal Spark's md5/conv for every key. */
class PlantedCorpusSpec extends SparkSpec {

  private val reference =
    """transform(sequence(0, 63), d -> CAST(CAST(
      |  CAST(conv(substring(md5(concat('pc:', CAST(vec_id % 10 AS STRING),
      |    ':', CAST(d AS STRING))), 1, 15), 16, 10) AS BIGINT)
      |    % 2001 - 1000 +
      |  CAST(conv(substring(md5(concat('ps:', CAST(d DIV 16 AS STRING),
      |    ':', CAST(CAST(conv(substring(md5(concat('pg:',
      |      CAST(d DIV 16 AS STRING), ':', CAST(vec_id AS STRING))),
      |      1, 15), 16, 10) AS BIGINT) % 8 AS STRING),
      |    ':', CAST(d AS STRING))), 1, 15), 16, 10) AS BIGINT)
      |    % 201 - 100 +
      |  CAST(conv(substring(md5(concat('pj:', CAST(vec_id AS STRING),
      |    ':', CAST(d AS STRING))), 1, 15), 16, 10) AS BIGINT)
      |    % 21 - 10
      |  AS DOUBLE) / 1000.0D AS FLOAT))""".stripMargin

  test("plantedEmbeddings equals the per-element formula over ids 0..1999") {
    val ids = spark.range(2000).select(col("id").as("vec_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map(r =>
        (r.getLong(0), r.getInt(1),
          r.getSeq[Float](2).map(java.lang.Float.floatToIntBits)))
    val got = Similarity.plantedEmbeddings(ids)
    assert(got.columns.toSeq == Seq("vec_id", "label", "embedding"))
    val want = ids.select(col("vec_id"),
      (col("vec_id") % 10).cast("int").as("label"),
      expr(reference).as("embedding"))
    val (g, w) = (rows(got), rows(want))
    assert(g.length == 2000)
    val bad = g.zip(w).filter { case (a, b) => a != b }.map(_._1._1)
    assert(bad.isEmpty, s"vectors differ for ids ${bad.take(10).mkString(",")}")
  }

  test("driver-built hash tables equal Spark's md5/conv for every key") {
    def h60(s: String) = s"CAST(conv(substring(md5($s), 1, 15), 16, 10) AS BIGINT)"
    def table(n: Int, term: String) = spark.range(n)
      .select(col("id"), expr(term)).orderBy("id").collect().map(_.getLong(1))
    val centers = table(10 * 64, h60(
      "concat('pc:', CAST(id DIV 64 AS STRING), ':', CAST(id % 64 AS STRING))") +
      " % 2001 - 1000")
    assert(centers.toSeq == Similarity.PlantedCenters.toSeq)
    val groups = table(8 * 64, h60(
      "concat('ps:', CAST((id % 64) DIV 16 AS STRING), ':', " +
        "CAST(id DIV 64 AS STRING), ':', CAST(id % 64 AS STRING))") +
      " % 201 - 100")
    assert(groups.toSeq == Similarity.PlantedGroupTerms.toSeq)
  }
}
