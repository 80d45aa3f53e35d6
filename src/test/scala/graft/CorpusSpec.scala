package graft

import graft.operators.Corpus
import org.apache.spark.sql.expressions.Window
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Corpus-construction operators: the q77 two-phase packing core against
  * the naive one-task window it replaces, and the packing arithmetic on a
  * hand-computed stream. */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("packOffsets == one-level window cumsum on a multi-chunk corpus") {
    val rnd = new scala.util.Random(77)
    val docs = (0L until 200L).map(id =>
      (id, Seq("en", "de", "zh")(rnd.nextInt(3)), 1L + rnd.nextInt(50)))
      .toDF("doc_id", "lang", "n_tokens")
    // chunkDocs = 7 forces ~29 chunks; the naive form is the spec oracle
    val fast = Corpus.packOffsets(docs, 16, 7)
      .select("doc_id", "seq_offset", "first_seq", "last_seq", "n_seqs")
      .orderBy("doc_id").collect()
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = docs
      .withColumn("seq_offset", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("first_seq", expr("seq_offset div 16"))
      .withColumn("last_seq", expr("(seq_offset + n_tokens - 1) div 16"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .select("doc_id", "seq_offset", "first_seq", "last_seq", "n_seqs")
      .orderBy("doc_id").collect()
    assert(fast.toSeq == naive.toSeq)
  }

  test("packing arithmetic: spans and boundaries") {
    // one lang, budget 10: docs of 4, 8, 10, 25 tokens
    // offsets 0, 4, 12, 22 → seqs [0,0], [0,1], [1,2], [2,4]
    val docs = Seq((0L, "en", 4L), (1L, "en", 8L), (2L, "en", 10L),
      (3L, "en", 25L)).toDF("doc_id", "lang", "n_tokens")
    val out = Corpus.packOffsets(docs, 10, 100)
      .orderBy("doc_id")
      .select("seq_offset", "first_seq", "last_seq", "n_seqs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 0L, 0L, 1L), (4L, 0L, 1L, 2L),
      (12L, 1L, 2L, 2L), (22L, 2L, 4L, 3L)))
  }

  test("salted two-phase source cap == one-level window (random corpus)") {
    // same shape as q78 with the doc table swapped for a random frame:
    // phase-1 per-(source, salt) top-k is a superset of the global top-k,
    // so phase 2 must reproduce the naive ranks exactly
    val rnd = new scala.util.Random(78)
    val docs = (0L until 300L).map(id => (id, s"s${rnd.nextInt(4)}"))
      .toDF("doc_id", "source")
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(concat('78:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000000"))
      .withColumn("salt", col("doc_id") % 8)
    val w1 = Window.partitionBy("source", "salt").orderBy("bucket", "doc_id")
    val w2 = Window.partitionBy("source").orderBy("bucket", "doc_id")
    val twoPhase = docs
      .withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= 40)
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= 40)
      .select("source", "rank", "doc_id")
      .orderBy("source", "rank").collect()
    val naive = docs
      .withColumn("rank", row_number().over(w2)).filter(col("rank") <= 40)
      .select("source", "rank", "doc_id")
      .orderBy("source", "rank").collect()
    assert(twoPhase.toSeq == naive.toSeq)
    assert(naive.length == 4 * 40) // every source capped
  }

  test("streams are independent per language") {
    val docs = Seq((0L, "en", 9L), (1L, "de", 9L), (2L, "en", 9L))
      .toDF("doc_id", "lang", "n_tokens")
    val out = Corpus.packOffsets(docs, 10, 100)
      .orderBy("doc_id").select("seq_offset").as[Long].collect()
    assert(out.toSeq == Seq(0L, 0L, 9L)) // de restarts at 0
  }

  /** The physical plans (the initial one and every AQE re-plan) of the
    * SQL executions `body` runs, including those a `localCheckpoint`
    * runs inside: q76 checkpoints after its LM join, so the returned
    * frame's own plan is a scan of the checkpoint and shows no join. */
  private def sqlPlans[A](body: => A): (A, String) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add(u.physicalPlanDescription)
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.ListenerDrain(sc)
      (a, plans.asScala.mkString("\n"))
    } finally sc.removeSparkListener(listener)
  }

  test("q76 LM join degrades to a shuffle join when broadcast cannot fit (r9 watch)") {
    // The LM side carries no forced broadcast() hint; AQE measures the
    // actual bytes and picks. Shrinking both broadcast thresholds to -1
    // models an adversarial web-scale vocabulary: the plan must fall back
    // to a shuffled join — never a driver-side OOM — with identical rows.
    val sf = "/root/testdata/sf0.001"
    def q76() = graft.operators.Corpus.q76RarityScore(graft.Tables.T(spark, sf))
    val (baseRows, basePlans) = sqlPlans(q76().collect().toSeq)
    assert(baseRows.nonEmpty)
    assert(basePlans.contains("BroadcastHashJoin"),
      "an sf0.001 LM fits, so AQE must broadcast it")
    val prevStatic = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val (rows, plans) = sqlPlans(q76().collect().toSeq)
      assert(plans.contains("SortMergeJoin") || plans.contains("ShuffledHashJoin"),
        "the LM join must run as a shuffle join")
      assert(!plans.contains("BroadcastHashJoin"),
        "LM join must not broadcast when the threshold forbids it")
      assert(rows == baseRows, "fallback join changed the result")
      // on Spark's defaults (a cluster's confs) the fallback is sort-merge
      withSparkDefaults {
        val (smjRows, smjPlans) = sqlPlans(q76().collect().toSeq)
        assert(smjPlans.contains("SortMergeJoin") &&
          !smjPlans.contains("BroadcastHashJoin"),
          "default confs must plan the LM join as a sort-merge join")
        assert(smjRows == baseRows, "sort-merge fallback changed the result")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      prevAqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("chunking: window/stride/overlap geometry and the short final chunk") {
    // 10 words, width 4, stride 3 → starts 0,3,6,9; last chunk 1 word
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val out = Corpus.chunk(docs, width = 4, stride = 3)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toList
    assert(out == List((0, 0, 4), (1, 3, 4), (2, 6, 4), (3, 9, 1)))
  }

  test("chunking: overlapping windows share their overlap words exactly") {
    val docs = Seq((1L, "w0 w1 w2 w3 w4")).toDF("doc_id", "text")
    val withText = Corpus.chunk(docs, width = 4, stride = 2)
    // rebuild each chunk's words from the hash by hashing the expected
    // slices — chunk 0 = w0..w3, chunk 1 = w2..w4 (overlap w2 w3)
    val hashes = withText.select("chunk_hash").collect().map(_.getString(0)).toList
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hashes == List(h("w0 w1 w2 w3"), h("w2 w3 w4"), h("w4")))
  }

  test("chunking: a doc shorter than one window is a single whole chunk") {
    val docs = Seq((1L, "only three words")).toDF("doc_id", "text")
    val out = Corpus.chunk(docs).collect()
    assert(out.length == 1 && out.head.getInt(3) == 3)
  }

  test("temperature mix: alpha=0.5 upsamples small sources; targets track shares") {
    // raw shares 90%/10%; sqrt-temperature shares 75%/25% — the small
    // source's keep RATE (target/n_docs) must exceed the big one's, and
    // the total target stays within rounding of the 40% budget
    val rows = (0L until 900L).map(i => (i, "big")) ++
      (900L until 1000L).map(i => (i, "small"))
    val plan = Corpus.temperatureMixPlan(rows.toDF("doc_id", "source"))
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("share"),
          r.getAs[Long]("target"), r.getAs[Long]("thr")))).toMap
    val (nb, shb, tb, thrb) = plan("big")
    val (ns, shs, tsm, thrs) = plan("small")
    assert(nb == 900L && ns == 100L)
    assert(math.abs(shb - 0.75) < 1e-9 && math.abs(shs - 0.25) < 1e-9)
    assert(tsm.toDouble / ns > tb.toDouble / nb)
    assert(tb + tsm <= 401)
    assert(thrs > thrb) // ppm thresholds realize the rate ordering
    assert(thrs <= 1000000L)
  }

  test("temperature mix: a source whose target exceeds its size clamps at keep-all") {
    // sqrt-temperature gives the 1-doc source share 1/101 of a 4000-doc
    // budget → target ≈ 40 ≫ n_docs = 1; the ppm threshold must clamp at
    // exactly 1e6 (keep everything), not overflow past it
    val rows = (0L until 10000L).map(i => (i, "big")) ++ Seq((10000L, "one"))
    val plan = Corpus.temperatureMixPlan(rows.toDF("doc_id", "source"))
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("target"), r.getAs[Long]("thr")))).toMap
    assert(plan("one")._1 > 1L)
    assert(plan("one")._2 == 1000000L)
  }

  // ── q120 BPE pair counting ──────────────────────────────────────────

  private def bpe(rows: Seq[(Long, String)], limit: Int = 30) =
    Corpus.bpePairs(rows.toDF("doc_id", "text"), limit)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList

  test("bpe: pair counts are word-frequency-weighted with </w> terminators") {
    // vocab {ab: 2, b: 1} → pairs (a,b)×2, (b,</w>)×2+1
    val out = bpe(Seq((1L, "ab ab"), (2L, "b")))
    assert(out == List(("b", "</w>", 3L), ("a", "b", 2L)))
  }

  test("bpe: case folding and whitespace runs collapse before counting") {
    val out = bpe(Seq((1L, "  Ab   aB "), (2L, "AB")))
    assert(out == List(("a", "b", 3L), ("b", "</w>", 3L)))
  }

  test("bpe: equal counts tie-break by (lhs, rhs) and the cut respects it") {
    // each word once: pairs all count 1 → pure lexicographic order
    val out = bpe(Seq((1L, "ba dc")), limit = 3)
    assert(out == List(
      ("a", "</w>", 1L), ("b", "a", 1L), ("c", "</w>", 1L)))
  }

  test("q152 bpe training: merges, counts and compression trace match " +
    "hand-computed rounds; greedy left-to-right apply on repeats") {
    // corpus: "aaab" ×3, "ab" ×2 → vocab {aaab: 3, ab: 2}
    // round 1 pairs: (a,a) 3+3=6 | (a,b) 3+2=5 | (b,</w>) 5 →
    //   merge (a,a)=aa cnt 6; aaab → (aa)(a)(b)(</w>) [greedy l2r],
    //   ab unchanged → symbols: 3·4 + 2·3 = 18
    // round 2 pairs: (aa,a) 3 | (a,b) 3+2=5 | (b,</w>) 5 → tie 5/5 →
    //   (a,b) before (b,</w>) lexicographically; merge (a,b)=ab cnt 5 →
    //   aaab = (aa)(ab)(</w>), ab = (ab)(</w>) → symbols 3·3 + 2·2 = 13
    // round 3: (aa,ab) 3 | (ab,</w>) 5 → merge (ab,</w>) cnt 5 →
    //   symbols 3·2 + 2·1 = 8
    val rows = ((1 to 3).map(i => (i.toLong, "aaab")) ++
      Seq((4L, "ab"), (5L, "ab"))).toSeq
    val got = Corpus.bpeTrain(rows.toDF("doc_id", "text"), 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5))).toList
    assert(got == List(
      (1, "a", "a", "aa", 6L, 18L),
      (2, "a", "b", "ab", 5L, 13L),
      (3, "ab", "</w>", "ab</w>", 5L, 8L)))
  }

  test("q180 keyed bpe training: the fused per-language run restricted " +
    "to one language equals bpeTrain on that language's docs alone, " +
    "and the two languages learn different merges") {
    val de = ((1 to 3).map(i => (i.toLong, "de", "aaab")) ++
      Seq((4L, "de", "ab"), (5L, "de", "ab"))).toSeq
    val en = ((6 to 9).map(i => (i.toLong, "en", "xyz")) ++
      Seq((10L, "en", "xy"))).toSeq
    val docs = (de ++ en).toDF("doc_id", "lang", "text")
    val keyed = Corpus.bpeTrainByLang(docs, 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5), r.getLong(6)))
    for (lg <- Seq("de", "en")) {
      val alone = Corpus.bpeTrain(
        docs.filter(col("lang") === lg).select("doc_id", "text"), 3)
        .collect().map(r => (lg, r.getInt(0), r.getString(1),
          r.getString(2), r.getString(3), r.getLong(4), r.getLong(5)))
      assert(keyed.filter(_._1 == lg).toList == alone.toList,
        s"keyed $lg diverges from the standalone trainer")
    }
    // disjoint alphabets -> disjoint merge tables
    assert(keyed.filter(_._1 == "de").map(_._5).toSet
      .intersect(keyed.filter(_._1 == "en").map(_._5).toSet).isEmpty)
  }

  test("q181 keyed bpe encode: per-(lang, source) accounting equals " +
    "bpeEncode run on each language's documents alone") {
    val docs = Seq(
      (1L, "de", "aaab", "s1"), (2L, "de", "aaab", "s1"),
      (3L, "de", "aaab ab", "s2"), (4L, "de", "ab", "s2"),
      (5L, "en", "xyz", "s1"), (6L, "en", "xyz", "s1"),
      (7L, "en", "xy", "s2")).toDF("doc_id", "lang", "text", "source")
    val keyed = Corpus.bpeEncodeByLang(docs, 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    for (lg <- Seq("de", "en")) {
      val alone = Corpus.bpeEncode(
        docs.filter(col("lang") === lg).select("doc_id", "text", "source"), 3)
        .collect().map(r => (lg, r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      assert(keyed.filter(_._1 == lg).toList == alone.toList,
        s"keyed encode for $lg diverges from the standalone encoder")
    }
  }

  test("q155 bpe encode: per-source token accounting matches the " +
    "hand-trained tokenizer") {
    // same corpus as the training test, split across two sources; after
    // the 3 hand-computed merges: aaab = (aa)(ab</w>) = 2 tokens,
    // ab = (ab</w>) = 1 token
    val rows = Seq(
      (1L, "aaab", "s1"), (2L, "aaab", "s1"), (3L, "aaab ab", "s2"),
      (4L, "ab", "s2"))
    val got = Corpus.bpeEncode(
      rows.toDF("doc_id", "text", "source"), 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    // s1: 2 docs, 2 words (aaab aaab), 4 tokens, 2000 pm
    // s2: 2 docs, 3 words (aaab ab ab), 2+1+1 = 4 tokens, 1333 pm
    assert(got == List(
      ("s1", 2L, 2L, 4L, 2000L),
      ("s2", 2L, 3L, 4L, 1333L)))
  }

  test("q152 bpe training survives a word collapsing to ONE symbol " +
    "(r14 advice: sequence(0, -1) OOB regression)") {
    // corpus dominated by single-char word "a": round 1 merges
    // (a, </w>) → the word's whole sequence becomes the single symbol
    // 'a</w>', which contributes NO pairs in round 2 — pre-fix the pair
    // explode threw element_at(syms, 0) out-of-bounds here
    val rows = ((1 to 9).map(i => (i.toLong, "a")) ++
      Seq((10L, "ab"))).toSeq
    val got = Corpus.bpeTrain(rows.toDF("doc_id", "text"), 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(4))).toList
    // r1: (a,</w>) 9 beats (b,</w>) 1 and (a,b) 1 → 'a' collapses.
    // r2: only "ab" = (a)(b)(</w>) has pairs → (a,b) 1 ties (b,</w>) 1,
    //     lex order picks (a,b). r3: (ab,</w>) 1.
    assert(got == List(
      (1, "a", "</w>", 9L),
      (2, "a", "b", 1L),
      (3, "ab", "</w>", 1L)))
  }

  test("q183 encode-from-store: seen words read the dictionary, unseen " +
    "words apply the stored merges, unencodable words are counted") {
    // store trained on the q152 hand corpus (de): merges (a,a), (a,b),
    // (ab,</w>) — dict: aaab → 2 tokens, ab → 1 token
    val base = ((1 to 3).map(i => (i.toLong, "de", "aaab", "s0")) ++
      Seq((4L, "de", "ab", "s0"), (5L, "de", "ab", "s0")))
      .toDF("doc_id", "lang", "text", "source")
    // batch: two seen words, one UNSEEN (aab — merge application gives
    // (aa)(b)(</w>) = 3), one unencodable ('x|y'), plus an 'en' doc the
    // store never trained (falls through to raw character sequences)
    val batch = Seq(
      (100L, "de", "aaab ab aab x|y", "s1"),
      (101L, "en", "ab", "s1")).toDF("doc_id", "lang", "text", "source")
    val got = Corpus.bpeEncodeFromStore(base, batch, 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toList
    assert(got == List(
      // de/s1: 3 encodable words (2+1+3 = 6 tokens), 1 OOV, 1 skipped
      ("de", "s1", 1L, 3L, 1L, 1L, 6L, 2000L),
      // en/s1: no stored merges -> char-level (a)(b)(</w>) = 3 tokens
      ("en", "s1", 1L, 1L, 1L, 0L, 3L, 3000L)))
  }

  test("q183 word table: dictionary and merge-application token counts " +
    "agree on every seen word (BPE determinism)") {
    val base = ((1 to 3).map(i => (i.toLong, "de", "aaab", "s0")) ++
      Seq((4L, "de", "ab", "s0"), (5L, "de", "ab aaab b", "s0")))
      .toDF("doc_id", "lang", "text", "source")
    val (merges, dict) = Corpus.bpeStore(base, 3)
    // re-encode the TRAINING vocabulary itself: every word is seen, so
    // dict_tokens must be non-null and equal chain_tokens row by row
    val rows = Corpus.bpeEncodeWordTable(merges, dict,
      dict.select("lang", "word")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("dict_tokens")))
      assert(r.getAs[Int]("dict_tokens") == r.getAs[Int]("chain_tokens"),
        s"dict/chain diverge on ${r.getAs[String]("word")}")
      assert(!r.getAs[Boolean]("is_oov"))
    }
  }

  test("q186 bpeDocTokens: per-document counts off the stored tokenizer, " +
    "unencodable-only docs dropped (the packer's n_tokens >= 1 contract)") {
    // q183's hand store: de merges (a,a),(a,b),(ab,</w>) — aaab = 2,
    // ab = 1, unseen aab = 3 (merge application)
    val base = ((1 to 3).map(i => (i.toLong, "de", "aaab", "s0")) ++
      Seq((4L, "de", "ab", "s0"), (5L, "de", "ab", "s0")))
      .toDF("doc_id", "lang", "text", "source")
    val docs = Seq(
      (100L, "de", "aaab ab aab", "s1"), // 2+1+3 = 6 tokens
      (101L, "de", "ab ab", "s1"),       // 2
      (102L, "de", "x|y c\\d", "s1"),    // nothing encodable -> dropped
      (103L, "en", "ab", "s2")           // no en merges -> char-level 3
    ).toDF("doc_id", "lang", "text", "source")
    val (merges, dict) = Corpus.bpeStore(base, 3)
    val got = Corpus.bpeDocTokens(merges, dict, docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == Set(
      (100L, "de", "s1", 6L), (101L, "de", "s1", 2L),
      (103L, "en", "s2", 3L)))
  }

  test("the tokenizer store survives a parquet round-trip: encode " +
    "against the re-read artifact equals direct encode (the persisted-" +
    "artifact lifecycle, end to end)") {
    // the deployment shape: merges + dictionary land as parquet, a
    // LATER job reads them back and serves — values must be identical
    val base = ((1 to 3).map(i => (i.toLong, "de", "aaab", "s0")) ++
      Seq((4L, "de", "ab", "s0"), (5L, "de", "ab aaab b", "s0")))
      .toDF("doc_id", "lang", "text", "source")
    val batch = Seq((100L, "de", "aaab ab aab", "s1"))
      .toDF("doc_id", "lang", "text", "source")
    val (merges, dict) = Corpus.bpeStore(base, 3)
    val dir = java.nio.file.Files.createTempDirectory("tokstore").toString
    merges.toDF("round", "lang", "lhs", "rhs", "cnt")
      .write.mode("overwrite").parquet(s"$dir/merges")
    dict.write.mode("overwrite").parquet(s"$dir/dict")
    val merges2 = spark.read.parquet(s"$dir/merges")
      .orderBy("lang", "round")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val dict2 = spark.read.parquet(s"$dir/dict")
    val direct = Corpus.bpeEncodeAgainstStore(merges, dict, batch)
      .collect().map(_.toSeq).toSeq
    val fromDisk = Corpus.bpeEncodeAgainstStore(merges2, dict2, batch)
      .collect().map(_.toSeq).toSeq
    assert(direct == fromDisk && direct.nonEmpty)
  }

  test("q184 mixPack: audit equals a local replay — budgets, targets, " +
    "one-document adherence and packing footprint") {
    // deterministic synthetic corpus: 2 languages with unequal mass (the
    // α = 0.5 temperature must upsample the small one), 3 sources each
    val rnd = new scala.util.Random(184)
    val docs = (0L until 400L).map { id =>
      val lang = if (id % 10 < 8) "big" else "sml"
      val src = s"s${rnd.nextInt(3)}"
      val n = 1 + rnd.nextInt(30)
      (id, lang, src, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "lang", "source", "text")
    val got = Corpus.mixPack(docs, 16, 7, seed = 184)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9)))).toMap
    // local replay with the same arithmetic (sums in the same sorted
    // order, HALF_UP rounding like Spark/DuckDB round())
    def rnd0(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    // regenerate the corpus with the SAME rng sequence
    val rnd2 = new scala.util.Random(184)
    val rows = (0L until 400L).map { id =>
      val lang = if (id % 10 < 8) "big" else "sml"
      val src = s"s${rnd2.nextInt(3)}"
      val n = 1L + rnd2.nextInt(30)
      (id, lang, src, n, h60(s"184:$id"))
    }
    val masses = rows.groupBy(r => (r._2, r._3)).view
      .mapValues(rs => (rs.size.toLong, rs.map(_._4).sum)).toMap
    val langMass = rows.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    val langs = langMass.keys.toSeq.sorted
    val totalMass = langs.map(langMass).sum
    val wSum = langs.map(l => math.pow(langMass(l).toDouble, 0.5)).sum
    val budget = langs.map { l =>
      l -> rnd0(rnd0(totalMass * 0.4) *
        (math.pow(langMass(l).toDouble, 0.5) / wSum))
    }.toMap
    val targets = masses.keys.toSeq.sorted.map { case (l, s) =>
      val wsSum = masses.keys.filter(_._1 == l).toSeq.sorted
        .map(k => math.pow(masses(k)._2.toDouble, 0.5)).sum
      (l, s) -> rnd0(budget(l) *
        (math.pow(masses((l, s))._2.toDouble, 0.5) / wsSum))
    }.toMap
    val keptDocs = rows.groupBy(r => (r._2, r._3)).flatMap { case (k, rs) =>
      var cum = 0L
      rs.sortBy(r => (r._5, r._1)).takeWhile { r =>
        val in = cum < targets(k); cum += r._4; in }
    }.toSeq
    val packed = keptDocs.groupBy(_._2).flatMap { case (_, rs) =>
      var off = 0L
      rs.sortBy(_._1).map { r =>
        val (first, last) = (off / 16, (off + r._4 - 1) / 16)
        off += r._4
        (r._1, r._2, r._3, r._4, first, last)
      }
    }
    val localAudit = masses.keys.map { k =>
      val ks = packed.filter(p => (p._2, p._3) == k).toSeq
      k -> (masses(k)._1, masses(k)._2, budget(k._1), targets(k),
        ks.size.toLong, ks.map(_._4).sum,
        ks.map(p => p._6 - p._5 + 1).sum,
        if (ks.isEmpty) -1L else ks.map(_._6).max)
    }.toMap
    assert(got.keySet == localAudit.keySet)
    for (k <- got.keySet) assert(got(k) == localAudit(k), s"cell $k")
    // the declared adherence contract: every supplied cell lands within
    // one document of its target; upsampling favors the small language
    for (k <- got.keySet) {
      val (_, mass, _, target, _, keptTokens, _, _) = got(k)
      if (mass <= target) assert(keptTokens == mass)
      else {
        assert(keptTokens >= target, s"$k under target with supply")
        assert(keptTokens - target < 30, s"$k overshoots by a document+")
      }
    }
    val keepRate = langs.map(l => l ->
      (budget(l).toDouble / langMass(l))).toMap
    assert(keepRate("sml") > keepRate("big"))
  }

  test("bpe vocabulary excludes words carrying the reserved '|' and '\\' " +
    "bytes (delimiter/escape contract)") {
    // '|' would corrupt symbol boundaries; '\' would diverge between
    // Spark's escaped string literals and DuckDB's raw ones. Both words
    // are dropped from the vocabulary; clean words train normally.
    val rows = Seq((1L, "cc a|b c\\d cc", "s1"))
    val got = Corpus.bpeTrain(rows.map(r => (r._1, r._2)).toDF("doc_id", "text"), 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4))).toList
    // vocab: {cc: 2} only → round-1 pairs (c,c) 2 ties (c,</w>) 2;
    // '</w>' < 'c' lexicographically, so (c, </w>) wins the tie-break
    assert(got == List(("c", "</w>", 2L)))
    val enc = Corpus.bpeEncode(rows.toDF("doc_id", "text", "source"), 1)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toList
    // words counted post-filter: 2 (the two "cc"), each (c)(c</w>) = 2 tokens
    assert(enc == List(("s1", 2L, 4L)))
  }
}
