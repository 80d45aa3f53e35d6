package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** The planted-neighbor corpus (q164–q166) must make the ANN recall
  * audits DISCRIMINATE (r15 verdict item 1): on the isotropic synthetic
  * embeddings the recall columns read 0–3/50 — PQ's information-
  * theoretic worst case — so residual-vs-raw and multiprobe-vs-single
  * comparisons measured noise against noise. The planted corpus derives
  * separable similarity mass in-query (10 clusters ±1000, 5 sub-groups
  * ±100, micro-jitter ±10, all from the portable md5 hash), and this
  * spec pins both the geometry and the resulting recall ladder.
  *
  * The corpus here is plantedEmbeddings over ids 0..499 — the same
  * id set as sf0.01's embeddings table, so these assertions pin the
  * very numbers the driver's correctness gate hashes. Everything is
  * integer-exact and deterministic: the measured sums are stable, the
  * bounds below leave slack only for intentional parameter retunes.
  */
class PlantedRecallSpec extends SparkSpec {

  private def ids(n: Int) =
    spark.range(n).select(col("id").as("vec_id"))

  private lazy val planted500 = Similarity.plantedEmbeddings(ids(500))

  test("planted geometry: clusters dwarf the in-cluster product tier") {
    // for vec 0: every same-cluster distance (group tier ±100 + micro
    // ±10) must sit far below every cross-cluster distance (center tier
    // ±1000) — the separable-similarity-mass property the coarse
    // quantizer keys on
    val q = Similarity.quantized(planted500).localCheckpoint(false)
    val q0 = q.filter(col("vec_id") === 0)
      .select(col("qd").as("pqd"), col("qq").as("pqq"))
    val dists = q.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .withColumn("l2",
        expr("CAST(qq + pqq - 2 * vec_dot(qd, pqd) AS BIGINT)"))
      .withColumn("same", col("vec_id") % 10 === 0)
      .groupBy("same")
      .agg(min("l2").as("mn"), max("l2").as("mx"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val (_, sameMax) = dists(true)
    val (crossMin, _) = dists(false)
    assert(crossMin > 4 * sameMax,
      s"cross-cluster min L2² ($crossMin) must dwarf same-cluster max " +
        s"($sameMax)")
  }

  test("planted geometry: true top-5 stay inside the query's cluster") {
    val q = Similarity.quantized(planted500).localCheckpoint(false)
    val queries = q.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qd").as("pqd"),
        col("qq").as("pqq"))
    val top5 = q.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("l2",
        expr("CAST(qq + pqq - 2 * vec_dot(qd, pqd) AS BIGINT)"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("l2").asc, col("vec_id").asc)))
      .filter(col("rk") <= 5)
      .select("query_id", "vec_id")
      .collect()
    assert(top5.length == 50)
    top5.foreach { r =>
      val (qid, vid) = (r.getLong(0), r.getLong(1))
      assert(vid % 10 == qid % 10, s"top-5 of $qid crosses clusters: $vid")
    }
  }

  test("recall ladder: residual >> raw ≈ chance; multiprobe >= residual") {
    def sumMatch(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum("n_match")).head().getLong(0)
    val raw = sumMatch(Similarity.ivfPq(planted500, 10, 3, 4, 8, 2, 5))
    val res = sumMatch(Similarity.ivfPqResidual(planted500, 10, 3, 4, 8, 2, 5))
    val multi = sumMatch(
      Similarity.ivfPqResidualMultiprobe(planted500, 10, 3, 4, 8, 2, 2, 5))
    // chance = 5 hits in ~49 candidates ⇒ E[sum] ≈ 5; measured at 500
    // ids: raw 7 (raw-vector codebooks encode CLUSTER identity — within
    // a list the codes collapse and ranking falls to the id tie-break,
    // Jégou 2011 §III.C's motivation), residual 20 (codes recover the
    // planted per-subspace groups), multiprobe 22. NOTE the superset
    // advantage is NOT a theorem: post-ADC recall is not monotone in
    // nprobe (at sf0.1 q166 reads 11 vs q165's 12 — an added candidate
    // with an underestimated ADC displaces a true hit), so only the
    // deterministic 500-id values are pinned here; the sf0.1 inversion
    // is documented in COVERAGE.md and the q166 scaladoc.
    assert(raw >= 3 && raw <= 15, s"raw PQ should sit near chance, got $raw")
    assert(res >= 18, s"residual PQ should be well above chance, got $res")
    assert(res >= 2 * raw, s"residual ($res) should dominate raw ($raw)")
    assert(multi >= res, s"multiprobe ($multi) beats single-probe ($res) " +
      "at this corpus size (deterministic — see note above)")
    // the q169 stage: exact re-ranking of the ADC top-20 shortlist must
    // recover what 12-bit codes cannot rank (measured 22 → 44 of 50 at
    // 500 ids; 11 → 27 at sf0.1) — the refinement's whole point
    val rerank = Similarity
      .ivfPqResidualMultiprobe(planted500, 10, 3, 4, 8, 2, 2, 5, rerank = 20)
      .agg(sum("n_match_rerank")).head().getLong(0)
    assert(rerank >= multi + 10,
      s"exact rerank ($rerank) should clearly lift ADC top-5 ($multi)")
  }

  test("declared k_factor operating point holds the recall floor at the " +
    "sf0.1 corpus") {
    // q169's EXACT pipeline and parameters on the 2000-id planted
    // corpus (the sf0.1 id set — these are the driver-gate numbers):
    // the knee the retired RerankSweep measured (OPTIMIZATION_r19.md
    // "Retired flags and probes"; shortlist = k_factor × topk = 50) must
    // recover ≥ 35/50 where the unrefined ADC top-5 reads 11/50. A
    // k_factor retune that silently degrades the serving recall fails
    // here, not in a probe nobody re-runs. (At 5000 ids the same
    // shortlist reads 14/50 — list occupancy 2.5×, ambiguity mass
    // 2.5×, exactly the scaling the k_factor rule predicts: the
    // shortlist budget must follow the probed-list size.)
    val topk = 5
    val rerank = Similarity
      .ivfPqResidualMultiprobe(Similarity.plantedEmbeddings(ids(2000)),
        10, 3, 4, 8, 2, 2, topk,
        rerank = Similarity.RerankKFactor * topk)
      .agg(sum("n_match_rerank")).head().getLong(0)
    assert(rerank >= 35,
      s"k_factor=${Similarity.RerankKFactor} shortlist must hold the " +
        s"measured 35/50 sf0.1 floor, got $rerank")
  }
}
