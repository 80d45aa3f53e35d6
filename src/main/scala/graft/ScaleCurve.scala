package graft

/** Time-vs-scale-factor curves for the heavy query families (scratch
  * tooling, not library surface): runs each named query at sf0.01,
  * sf0.1 and the ScaleGen-synthesized sf1 (10× of sf0.1), reporting
  * min-of-reps wall time and output rows per scale. The growth columns
  * are the evidence SCALE.md records: a banded/bucketed/superstep
  * family should grow roughly linearly in rows between sf0.1 and sf1;
  * anything super-linear gets a diagnosis.
  *
  * Runs on the Bench session (`HarnessTuning`) at 32 threads.
  *
  * Run ScaleGen first (builds /tmp/graft_sf1), then:
  *   sbt "runMain graft.ScaleCurve"                  # default set
  *   sbt "runMain graft.ScaleCurve q139_pagerank"    # subset
  *   sbt "runMain graft.ScaleCurve q163_cohort_retention /tmp/graft_sf1z"
  *                                     # subset against a variant corpus
  *                                     # (e.g. ScaleGen's zipf output)
  */
object ScaleCurve {
  val DefaultQueries: Seq[String] = Seq(
    // graph: supersteps over pre-partitioned edges
    "q139_pagerank", "q148_personalized_pagerank", "q149_weighted_pagerank",
    "q151_connected_components", "q156_warmstart_pagerank",
    "q159_incremental_cc",
    // ANN: model-state training + list-bucketed serving
    "q143_ivf_learned", "q147_ivf_multiprobe", "q150_ivf_incremental",
    "q157_ivf_pq", "q158_jl_ivf", "q160_residual_pq", "q161_jl_ivf_pq",
    "q162_residual_multiprobe",
    // planted-corpus serving stack (corpus derives from vec_id, so it
    // scales with the SF dir; q169 carries the exact-rerank stage)
    "q164_planted_ivf_pq", "q169_planted_rerank",
    // dedup: banded/bucketed candidate generation
    "q27_minhash_neardup", "q84_span_dedup", "q109_incremental_dedup",
    // corpus pipelines
    "q133_corpus_pipeline", "q152_bpe_train",
    // lexicon family (r17): corpus derives from doc_id, so the draws
    // are honestly fresh at every SF — the vocabulary-bound (q172) vs
    // corpus-bound (q173/q174) cost split is the claim under test
    "q171_lex_profile", "q172_lex_bpe_train", "q173_lex_bm25",
    "q174_lex_rarity", "q175_lex_heaps", "q176_lex_langid",
    "q177_lex_gopher", "q178_lex_pipeline", "q179_lex_drift",
    "q180_lex_bpe_bylang", "q181_lex_bpe_encode",
    // r18: the tokenizer-store pair (train split + encode-from-store),
    // the multilingual mixture+packing and the abstain langid
    "q182_lex_bpe_store", "q183_lex_bpe_encode_store",
    "q184_lex_mix_pack", "q185_lex_langid_abstain",
    "q186_lex_mix_pack_bpe", "q187_multilex_pipeline",
    // merge/upsert: full-outer joins + per-key argmaxes — the nightly
    // 100 TB merge shapes (r15 verdict item 4)
    "q33_sticky_merge", "q34_title_dedup", "q35_findings_dedup",
    "q82_compaction")

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) SparkEntry.names(args(0)) else DefaultQueries
    val sf1Dir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val sfs = Seq(
      "sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1",
      "sf1" -> sf1Dir)
    require(new java.io.File(s"$sf1Dir/orders.parquet").exists(),
      s"run graft.ScaleGen first to build $sf1Dir")
    val spark = HarnessTuning.session("32")

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    for (n <- names) {
      val cells = sfs.map { case (tag, dir) =>
        noop(SparkEntry.queries(n)(spark, dir)) // warm
        val best = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          noop(SparkEntry.queries(n)(spark, dir))
          (System.nanoTime() - t0) / 1e9
        }.min
        val rows = SparkEntry.queries(n)(spark, dir).count()
        (tag, best, rows)
      }
      val g01 = cells(1)._2 / cells(0)._2
      val g1 = cells(2)._2 / cells(1)._2
      println(f"[curve] $n%-28s " +
        cells.map(c => f"${c._1}=${c._2}%.2fs/${c._3}%d").mkString(" ") +
        f" growth x10: ${g01}%.1f then ${g1}%.1f")
    }
    spark.stop()
  }
}
