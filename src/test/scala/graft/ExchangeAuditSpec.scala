package graft

/** EXECUTED-plan exchange-count pins for the heavy shuffle-shape claims
  * (r17 verdict item 5) — PlanAuditSpec bans product joins structurally;
  * the remaining structural regression risk is a SILENT EXTRA SHUFFLE
  * (the r13 q139 lesson: AQE re-exchanged both checkpointed sides on
  * every superstep until the plan was pinned). These pins assert the
  * final ADAPTIVE plan's exchange count (post-execution, ReusedExchange
  * excluded — the retired ExplainAudit's counting discipline,
  * OPTIMIZATION_r19.md "Retired flags and probes") at sf0.001, so any
  * future edit that re-introduces a re-exchange fails here by count.
  *
  * The pinned numbers are the ADJUDICATED shapes, not aspirations —
  * each entry's comment says which exchanges are corpus-sized (the
  * scale claim) and which are band/vertex-sized plumbing. q101's
  * zero-shuffle bucketed-join pin lives in ScaleTechniquesSpec. */
class ExchangeAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Count exchange NODES in the executed adaptive plan: execute first
    * (the pre-execution string is the unfinalised AQE skeleton), skip
    * ReusedExchange lines (they embed the referenced exchange's
    * description — a reuse is the OPPOSITE of an extra shuffle). */
  private def executedExchanges(name: String): Int = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.executedPlan.toString.split("\n").count(l =>
      !l.contains("ReusedExchange") &&
        (l.contains("Exchange hashpartitioning") ||
          l.contains("Exchange rangepartitioning")))
  }

  // (query, pinned executed-exchange count) — rationale per entry:
  private val pins: Seq[(String, Int, String)] = Seq(
    // q139/q148/q149: the EDGE corpus shuffles ONCE into the
    // checkpointed pre-partitioned frame at construction; the returned
    // plan's exchanges are the per-superstep VERTEX-sized rank
    // aggregates (5 supersteps × contribution aggregate), the final
    // rank join and the serving sort — none corpus-sized, and a
    // re-exchange of the checkpointed edge side would raise the count
    // by the superstep fan-in (the r13 regression this pin guards).
    ("q139_pagerank", 10, "5 superstep aggs + degree/rank plumbing"),
    ("q148_personalized_pagerank", 10, "q139's shape, teleport-biased"),
    ("q149_weighted_pagerank", 10, "q139's shape, weighted contribs"),
    // q156 warm phase (r19): the base phase runs behind the stored-rank
    // lazy checkpoint, so the returned plan is the 2 warm superstep
    // aggs (2 exchanges), r0's warm-rank exchange + the final
    // base-rank exchange feeding their BROADCAST joins (vertex-sized —
    // the stored table rides a broadcast, never a corpus shuffle), the
    // two per-phase degree/base plumbing exchanges and the serving
    // sorts. The shared flagged edge table is checkpointed
    // pre-partitioned ONCE and BOTH phases' superstep joins read it
    // exchange-free (the filter view preserves hash(src)) — an edge
    // re-exchange would raise this by the superstep fan-in.
    ("q156_warmstart_pagerank", 8, "2 warm superstep aggs + rank/degree plumbing"),
    // q109: ONE batch-sized equi-shuffle of today's delta against the
    // stored signature index side plus the band-sized report
    // aggregates — the incremental-dedup contract (cost tracks the
    // batch, not the store).
    ("q109_incremental_dedup", 4, "batch-keyed join + report aggs"),
    // q85: the TWO-shuffle BM25 shape — the (doc, term) tf collapse
    // and the df re-aggregate; the corpus stats and query sides ride
    // broadcasts, and the serving top-k is a final single-partition
    // sort (TakeOrdered, no range exchange).
    ("q85_bm25", 4, "tf collapse + df agg + score agg plumbing"),
    // q187: the union of its parents' audited shapes — the store
    // training runs at construction (bounded argmax collects, not plan
    // nodes); the returned plan's exchanges are the content-hash dedup
    // window, the quality/decontam/token joins on doc_id, the
    // band-sized budget aggregates + bounded-window cutoff, and the
    // final doc-order sort. A silent extra corpus shuffle (e.g. the
    // quality stage regrowing its r18-review self-join) raises this.
    ("q187_multilex_pipeline", 22, "gates + survivor budgets + audit"),
    // q184: the fused mixPack shape (r19). The budget plan and the
    // budget-cutoff survivor set enter as checkpoints (Scan
    // ExistingRDD), so the cumulative cutoff's ONE shared (lang,
    // source, bucket) prefix exchange runs once, inside the survivor
    // checkpoint; what remains is the packer's fused (lang, chunk)
    // window exchange + the per-lang chunk-offset prefix, the doc_id
    // audit join, the (lang, source) audit aggregate/plan join and the
    // serving sort. Re-duplicating the cutoff DAG (no survivor
    // checkpoint) or splitting a fused prefix raises this.
    ("q184_lex_mix_pack", 16, "packer prefix + audit join/agg over the checkpointed plan and survivors"))

  test("the tokenizer store's SERVING pass stays a batch-pass plan: " +
    "construction runs ZERO jobs and the executed exchange set is pinned") {
    // Training leaks into the serving path as eager CONSTRUCTION jobs
    // (the trainer's per-round argmax collects block at build time),
    // not as plan nodes — so the no-retrain pin counts jobs submitted
    // while the encode frame is CONSTRUCTED from a prebuilt store
    // (must be zero: all model state arrives as inputs), and the
    // executed plan's exchange count is pinned as the shape regression
    // guard (delta-vocab distinct + skipped census + dict join pair +
    // accounting agg + census join + serving sort = 9 at sf0.001's
    // no-broadcast sizes).
    import graft.operators.{Corpus, Lexicon}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val (merges, dict) = Corpus.bpeStore(Lexicon.multiLexBase(docs), 8)
    // The async listener bus may still hold queued JobStart events from
    // the training collects above when the listener attaches — count
    // only jobs that STARTED after this point, so a slow bus can't
    // leak training jobs into the construction census.
    val attachedAt = System.currentTimeMillis()
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.time >= attachedAt) jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val df =
      try {
        val d = Corpus.bpeEncodeAgainstStore(merges, dict,
          Lexicon.multiLexDelta(docs))
        Thread.sleep(1000) // listener bus is async; give events time
        d
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs == 0,
      s"encode-against-store construction submitted $jobs job(s) — " +
        "training state must arrive as inputs, never be recomputed")
    df.queryExecution.toRdd.foreach(_ => ())
    val n = df.queryExecution.executedPlan.toString.split("\n").count(l =>
      !l.contains("ReusedExchange") &&
        (l.contains("Exchange hashpartitioning") ||
          l.contains("Exchange rangepartitioning")))
    assert(n == 9, s"serving pass plans $n exchanges (pinned 9) — " +
      "the batch-pass shape changed")
  }

  test("executed adaptive plans keep their pinned exchange counts " +
    "(one-corpus-shuffle claims stay one corpus shuffle)") {
    val got = pins.map { case (name, want, why) =>
      (name, want, executedExchanges(name), why)
    }
    val bad = got.filter(g => g._2 != g._3)
    assert(bad.isEmpty, bad.map(g =>
      s"${g._1}: pinned ${g._2} but executed plan has ${g._3} " +
        s"exchanges (${g._4})").mkString("; "))
  }
}
