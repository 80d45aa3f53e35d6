package graft.operators

import graft.Tables.T
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The VOCABULARY-REALISTIC synthetic corpus — the r16 planted-ANN move
  * applied to the text families (r16 verdict item 1). The shipped
  * document generator's 31-word vocabulary caps every vocabulary-driven
  * measurement: BPE training curves are flat because the vocab cannot
  * grow, BM25's idf and the rarity score ride a document-frequency
  * distribution no real corpus has, and the reference's own inputs are
  * natural German/English prose (reference: study_scraper/claims.py:57-251,
  * study_scraper/fulltext.py:66-183) whose statistics this corpus
  * imitates structurally:
  *
  *   - ZIPF WORD FREQUENCIES: each token draws a lexicon rank by
  *     exact-integer inverse-CDF Pareto — m uniform in [1, M] from the
  *     portable 60-bit md5 hash, rank = (M+1)^4 DIV m^4, so
  *     p(rank) ∝ rank^(−1.25) over a 30 000-word lexicon (top word
  *     ≈ 16% of the stream, the natural-language shape). The ~7.6%
  *     tail mass beyond the lexicon draws a COMPOUND word — two
  *     independent sub-ranks off the hash's high bits, spelled as two
  *     fixed-4-syllable halves (16 chars; no plain spelling reaches
  *     that length, so the encodings cannot collide) — giving a
  *     V² ≈ 9·10⁸ type space: the vocabulary keeps Heaps-growing at
  *     any corpus scale instead of saturating at V (measured: 5.5k
  *     types at 34k running words, 29k at 323k, 734k at 9.6M), and
  *     the compounds are the hapax tail a real corpus is largely
  *     made of. Clamping the tail instead would plant an artificial
  *     second hot word (ScaleGen's lesson).
  *   - ZIPF'S LAW OF ABBREVIATION: the word FORM spells the rank in
  *     base-16 consonant-vowel syllables, one syllable per digit —
  *     frequent words are short ("ki"), rare words long ("nedeturo") —
  *     so BPE merge training sees the real structure (shared syllable
  *     n-grams, length anti-correlated with frequency) instead of a
  *     closed word list.
  *   - REALISTIC DOC-LENGTH SPREAD: base length uniform in [8, 100]
  *     words with a 5% heavy tail up to ~500 — mean ≈ 64.
  *
  * Everything derives in-query from doc_id via the portable hash
  * (md5 → first 15 hex digits → BIGINT — identical on Spark and
  * DuckDB), so the read-only testdata stays untouched, the oracle
  * replays the construction exactly (one arithmetic, two renderers
  * below — [[textSql]] is the single definition), and ScaleGen's sf1
  * corpus gets a naturally 10×-larger lexicon draw for free: scale
  * cells over this corpus measure TRUE vocabulary growth (Heaps'
  * law), not copy-suffix degeneracy.
  *
  * All arithmetic is exact integers (the one device the whole planted
  * family uses): no transcendentals, no FP, ANSI-safe — the Pareto
  * draw that would be floor(x^(−1/(s−1))) in doubles is the exact
  * rational ((M+1)/m)^4 computed as (M+1)^4 DIV m^4, bit-identical on
  * any engine with 64-bit integer division.
  */
object Lexicon {

  /** Inverse-CDF modulus: m uniform in [1, M]; chosen so (M+1)^4 and
    * M^4 both fit in a 64-bit long with headroom. */
  val M = 31623L

  /** (M+1)^4 — the exact-integer Pareto numerator. */
  val K: Long = { val a = M + 1; a * a * a * a }

  /** Lexicon size: ranks beyond V redraw uniformly in [1, V]. */
  val V = 30000L

  /** 16 consonant-vowel syllables, one per base-16 digit of the rank. */
  val SylTab = "badekifomulanepirosatuvezyhogibu"

  /** Fixed BM25 query over the lexicon, one term per df decade:
    * rank 2 ("ki", in most documents), rank 50 ("foki", ~7% of docs),
    * rank 2000 ("pihoba", ~0.1%), rank 25000 ("nedeturo", tail-floor
    * rare — absent entirely at small SFs, exercising the
    * missing-term path). */
  val LexQueryTerms: Seq[String] = Seq("ki", "foki", "pihoba", "nedeturo")

  /** Engine dialect for the one shared arithmetic: the hash renderer,
    * integer-division token, long-literal form, string cast, [0, n)
    * list builder, lambda map, array→string join, and 3-field struct. */
  private final case class Dialect(
    hash: String => String, div: String, L: Long => String,
    str: String => String, list0: String => String,
    map: (String, String, String) => String,
    strAgg: String => String,
    struct3: (String, String, String) => String)

  private val spark = Dialect(
    in => s"CAST(conv(substring(md5($in), 1, 15), 16, 10) AS BIGINT)",
    "DIV", x => s"${x}L", e => s"CAST($e AS STRING)",
    n => s"sequence(0L, ($n) - 1L)",
    (a, v, b) => s"transform($a, $v -> $b)",
    a => s"array_join($a, ' ')",
    (rr, t1, t2) => s"named_struct('rr', $rr, 't1', $t1, 't2', $t2)")

  private val duck = Dialect(
    in => s"('0x' || substr(md5($in), 1, 15))::BIGINT",
    "//", x => s"$x", e => s"CAST($e AS VARCHAR)",
    n => s"range(0, $n)",
    (a, v, b) => s"list_transform($a, $v -> $b)",
    a => s"array_to_string($a, ' ')",
    (rr, t1, t2) => s"struct_pack(rr := $rr, t1 := $t1, t2 := $t2)")

  /** Doc length in words: 8 + (h mod 93) base, plus a 5% tail of up to
    * 399 extra — seeds 171 (length) / 1710 (per-position word) for the
    * single-language corpus, 176/1760 for the multi-language one. */
  private def nWordsSql(d: Dialect, seedLen: Int): String = {
    val hl = d.hash(s"concat('$seedLen:', ${d.str("doc_id")})")
    s"(8 + $hl % 93 + (CASE WHEN ($hl ${d.div} 128) % 20 = 0" +
      s" THEN ($hl ${d.div} 4096) % 400 ELSE 0 END))"
  }

  /** One base-16 digit → one syllable of the given table expression
    * (a literal for the single-language corpus, a per-row CASE over
    * `lang` for the multi-language one). */
  private def syl(tab: String, e: String): String =
    s"substring($tab, CAST(1 + 2 * ($e) AS INT), 2)"

  /** The document text — ONE definition of the whole derivation,
    * rendered per engine: positions → hashes → (pareto rank, two tail
    * sub-ranks) structs → syllable-spelled words → space-joined text.
    *
    * Ranks within the lexicon spell by their base-16 digits (1–4
    * syllables, ≤ 8 chars). The ~7.6% TAIL mass beyond V spells as a
    * COMPOUND of two fixed-4-syllable halves (exactly 16 chars — no
    * plain spelling reaches that length, so the encodings cannot
    * collide): the type space is V² ≈ 9·10⁸, so the vocabulary keeps
    * Heaps-growing at ANY corpus scale instead of saturating at V —
    * real vocabularies do not saturate, and the tail compounds are
    * the hapax legomena a real corpus is half made of. */
  private def textSql(d: Dialect, tab: String = s"'$SylTab'",
                      seedLen: Int = 171, seedTok: Int = 1710): String = {
    val hw = d.hash(
      s"concat('$seedTok:', ${d.str("doc_id")}, ':', ${d.str("p")})")
    val hashes = d.map(d.list0(nWordsSql(d, seedLen)), "p", hw)
    val m = s"(1 + hh % ${d.L(M)})"
    val rr = s"${d.L(K)} ${d.div} ($m * $m * $m * $m)"
    val t1 = s"1 + (hh ${d.div} 65536) % ${d.L(V)}"
    val t2 = s"1 + ((hh ${d.div} 65536) ${d.div} ${d.L(V)}) % ${d.L(V)}"
    val pairs = d.map(hashes, "hh", d.struct3(rr, t1, t2))
    val dv = d.div
    def sy(e: String) = syl(tab, e)
    // fixed four syllables, leading zeros kept — the compound-half form
    def spell4(r: String) =
      s"${sy(s"$r $dv 4096")} || ${sy(s"($r $dv 256) % 16")} ||" +
        s" ${sy(s"($r $dv 16) % 16")} || ${sy(s"$r % 16")}"
    // variable length (Zipf abbreviation); the 4-digit branch IS spell4
    def spell(r: String) =
      s"CASE WHEN $r < 16 THEN ${sy(r)}" +
        s" WHEN $r < 256 THEN ${sy(s"$r $dv 16")} || ${sy(s"$r % 16")}" +
        s" WHEN $r < 4096 THEN ${sy(s"$r $dv 256")} ||" +
        s" ${sy(s"($r $dv 16) % 16")} || ${sy(s"$r % 16")}" +
        s" ELSE ${spell4(r)} END"
    val word =
      s"CASE WHEN s.rr <= ${d.L(V)} THEN ${spell("s.rr")}" +
        s" ELSE ${spell4("s.t1")} || ${spell4("s.t2")} END"
    d.strAgg(d.map(pairs, "s", word))
  }

  /** The synthetic corpus as a Spark frame — documents' schema (doc_id,
    * lang, source, text, n_chars) with the text replaced by the
    * heavy-tailed derivation; lang/source ride along so per-stratum
    * operators (rarity's per-language LM, encode's per-source stats)
    * exercise their grouping on it. Pure map-side codegen'd
    * expressions — no shuffle, no UDF, no state; at 100 TB this is a
    * scan-speed derivation like every planted corpus in the suite. */
  def lexDocuments(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("text", expr(textSql(spark)))
      .withColumn("n_chars", length(col("text")))

  /** The identical corpus as a DuckDB CTE (MATERIALIZED — every lex
    * oracle reads it several times). */
  val lexDocsCte: String =
    s"""lexdocs AS MATERIALIZED (
       |  SELECT doc_id, lang, source, text, length(text) AS n_chars
       |  FROM (SELECT doc_id, lang, source, ${textSql(duck)} AS text
       |    FROM documents))""".stripMargin

  /** q171 — the df-distribution profile: word counts bucketed by
    * binary order of magnitude (band = bit-length of the count — exact
    * integers, no log()), with per-band word/occurrence totals and the
    * lexicographically first word as a fingerprint. THE sanity row for
    * the corpus realism claim: a real zipf corpus fills every band
    * from 1 to log2(top-word count) with geometrically decaying word
    * counts — the 31-word generator fills two. Run at successive SFs,
    * the Σ n_words column IS the Heaps-law vocabulary-growth curve
    * (SCALE.md lex section).
    *
    * 100 TB shape: one partially-aggregated (word) shuffle — the
    * vocabulary collapse every corpus statistic in this family rides —
    * then a band-sized re-aggregate. */
  def q171LexProfile(t: T): DataFrame = {
    // per-document histogram, not the occurrence explode (the
    // bpeVocab0/q76 device, r18 optimization round): sum(n_occ) ≡ the
    // occurrence count; the synthetic corpus never renders an empty
    // token (every word is ≥1 syllable) but the filter keeps the
    // operator honest on arbitrary text, matching tokens()' semantics.
    val counts = lexDocuments(t.documents)
      .select(explode(expr("token_counts(text)")).as(Seq("w", "n_occ")))
      .where(col("w") =!= "")
      .groupBy("w").agg(sum("n_occ").as("c"))
    counts
      .groupBy(length(expr("bin(c)")).as("band"))
      .agg(count(lit(1)).as("n_words"), sum("c").as("n_occ"),
        min("c").as("min_c"), max("c").as("max_c"),
        min("w").as("first_word"))
      .orderBy("band")
  }

  /** q172 — BPE merge training (q152's operator verbatim) on the
    * vocabulary-realistic corpus: the training loop finally sees a
    * vocabulary that grows with the corpus, so its scale curve
    * measures real vocab-size dependence (SCALE.md) instead of the
    * 31-word cap, and the learned merges are syllables — the
    * structure the generator planted. */
  def q172LexBpeTrain(t: T): DataFrame =
    Corpus.bpeTrain(lexDocuments(t.documents), 8)

  /** q173 — BM25 (q85's operator verbatim) with [[LexQueryTerms]]:
    * one term per df decade of a REAL idf spread — the common term
    * contributes almost nothing (idf ≈ ln(1 + N/(N−0.5)) ≈ 0), the
    * rare term dominates any document containing it, and the
    * tail-floor term is absent at small SFs (missing-term path). */
  def q173LexBm25(t: T): DataFrame =
    Retrieval.bm25(lexDocuments(t.documents), LexQueryTerms)

  /** q174 — corpus-NORMALIZED rarity scoring over the lex corpus: the
    * q76 learn-then-apply shape, but the score is the document's mean
    * token frequency as an exact per-million share of its language's
    * token mass — freq_ppm = Σ(n_occ·wc)·10^6 DIV (n_tokens·N_lang) —
    * so the tier thresholds are SCALE-FREE (q76's absolute-count
    * thresholds drift with corpus size; a ppm share does not: the
    * expected value is Σ p_r² ≈ 30 000 ppm at every SF). Pure integer
    * arithmetic end to end — no doubles anywhere, one exactness class
    * stronger than q76.
    *
    * 100 TB shape: q76's — one (doc, term, n_occ) collapse feeding
    * both the per-language LM and the apply join, plus a 5-row
    * language-mass join. */
  def q174LexRarity(t: T): DataFrame =
    Corpus.rarityScorePpm(lexDocuments(t.documents),
      rarePpmLt = RarePpmLt, midPpmLt = MidPpmLt)

  /** ppm tier cuts: measured on the shipped corpora (freq_ppm mean
    * 40 744 at sf0.001 vs 40 745 at sf0.01 — the scale-free claim,
    * measured) — rare ≈ bottom quartile, common ≈ top quartile. */
  val RarePpmLt = 36000L
  val MidPpmLt = 45000L

  /** q175 — HEAPS-LAW type-token curve: the vocabulary at three NESTED
    * deterministic sample fractions of the corpus (1% / 10% / 100% by
    * the replayable doc-hash bucket, the q51/q75 sampling device) in
    * one pass — the type-token growth report a corpus-curation
    * pipeline ships with every crawl snapshot (is the vocabulary still
    * growing, i.e. is more data still buying new types?). Emits one
    * row per fraction: docs, running tokens, distinct types, and
    * tokens-per-type in exact per-mille.
    *
    * 100 TB shape: NO per-fraction rescan and no distinct-expand —
    * the corpus collapses once to (word → min sample bucket) and once
    * to (doc → token count); a word is IN fraction f's vocabulary iff
    * its minimum containing-doc bucket clears f, so the three
    * vocabularies are three conditional counts over the WORD-sized
    * aggregate and the three token totals three conditional sums over
    * the DOC-sized one. The two 1-row summaries join on a literal key
    * (hash join, no nested loop) and explode into the three rows. */
  def q175LexHeaps(t: T): DataFrame = {
    val dw = lexDocuments(t.documents)
      .withColumn("b", expr(
        s"${TextDedup.h60(175, "CAST(doc_id AS STRING)")} % 100"))
      .select(col("doc_id"), col("b"),
        explode(expr("token_counts(text)")).as(Seq("w", "n_occ")))
      .localCheckpoint(false) // feeds the word-level AND doc-level collapse
    val wmin = dw.groupBy("w").agg(min("b").as("mb"))
      .agg(count_if(col("mb") < 1).as("v1"),
        count_if(col("mb") < 10).as("v10"),
        count(lit(1)).as("v100"))
    val dl = dw.groupBy("doc_id", "b").agg(sum("n_occ").as("nt"))
      .agg(count_if(col("b") < 1).as("d1"),
        count_if(col("b") < 10).as("d10"),
        count(lit(1)).as("d100"),
        sum(when(col("b") < 1, col("nt")).otherwise(0L)).as("t1"),
        sum(when(col("b") < 10, col("nt")).otherwise(0L)).as("t10"),
        sum("nt").as("t100"))
    dl.withColumn("k", lit(1))
      .join(wmin.withColumn("k", lit(1)), Seq("k"))
      .select(explode(expr(
        """array(
          |  struct(1 AS pct, d1 AS n_docs, t1 AS n_tokens, v1 AS vocab),
          |  struct(10 AS pct, d10 AS n_docs, t10 AS n_tokens, v10 AS vocab),
          |  struct(100 AS pct, d100 AS n_docs, t100 AS n_tokens,
          |    v100 AS vocab))""".stripMargin)).as("s"))
      .select(col("s.pct").as("pct"), col("s.n_docs").as("n_docs"),
        col("s.n_tokens").as("n_tokens"), col("s.vocab").as("vocab"),
        // zero guard: an empty sample bucket is a DEFINED 0 row — the
        // engines disagree on integer division by zero (Spark NULLs,
        // DuckDB throws), so the guard is what keeps the oracle gate
        // engine-symmetric on tiny or filtered corpora
        expr("CASE WHEN s.vocab = 0 THEN 0L" +
          " ELSE s.n_tokens * 1000L DIV s.vocab END")
          .as("tokens_per_type_pm"))
      .orderBy("pct")
  }

  // ── the MULTI-LANGUAGE corpus (q176/q177) ──────────────────────────

  /** 16 consonants × 5 vowels: language i spells base-16 digit c with
    * syllable cons(c) + vowel((c + i) mod 5), so the five 16-syllable
    * inventories are pairwise DISJOINT (the same consonant carries a
    * different vowel in every language) while each language still mixes
    * all five vowels. Disjoint inventories mean no word FORM can belong
    * to two languages — so whatever confusion the langid audit reports
    * is purely the coverage failure mode (a document containing none of
    * a language's frequent words), the honest residual a stopword
    * classifier has on short documents, not form collisions the corpus
    * planted by accident. */
  val MultiCons = "bdfghklmnprstvwz"
  val MultiVowels = "aeiou"

  /** The documents table's language values, in the fixed tie-break
    * order q176's langid argmax uses (the same >=-chain DEVICE as
    * q30's langid; q30's own four-language order is en>de>es>fr). */
  val MultiLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Language i's 32-char syllable table. */
  def sylTabFor(i: Int): String =
    (0 until 16).map(c =>
      s"${MultiCons(c)}${MultiVowels((c + i) % 5)}").mkString

  /** Language i's k most frequent word forms (ranks 1..k ≤ 15 are
    * single syllables) — the per-language stopword lists the langid
    * scores against. Rank 0 never occurs (ranks start at 1). */
  def topWords(i: Int, k: Int): Seq[String] = {
    val tab = sylTabFor(i)
    (1 to k).map(r => tab.substring(2 * r, 2 * r + 2))
  }

  /** Per-row syllable-table selector — plain CASE, identical SQL on
    * both engines. */
  private val multiTab: String =
    "(CASE " + MultiLangs.zipWithIndex.map { case (l, i) =>
      s"WHEN lang = '$l' THEN '${sylTabFor(i)}'"
    }.mkString(" ") + s" ELSE '${sylTabFor(0)}' END)"

  /** The multi-language corpus: the [[lexDocuments]] derivation with
    * the syllable table selected by the document's OWN lang column
    * (fresh seeds 176/1760, so the draws are independent of the
    * single-language corpus). Same zipf ranks, same doc-length spread,
    * same compound tail — only the spelling differs per language,
    * which is exactly the structure an n-gram/stopword language
    * identifier keys on. Pure map-side derivation like every planted
    * corpus. */
  def multiLexDocuments(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("text", expr(textSql(spark, multiTab, 176, 1760)))
      .withColumn("n_chars", length(col("text")))

  /** The multi-language text derivation through the SPARK renderer —
    * for the SQL entry point's langid model (SqlEntry.langidSql), so
    * the `spark.sql` surface replays the identical corpus the
    * DataFrame operator derives. */
  def multiLexTextSparkSql: String = textSql(spark, multiTab, 176, 1760)

  /** The identical multi-language corpus as a DuckDB CTE — the
    * unfiltered rendering of [[multiLexDocsCteNamed]], so the corpus
    * derivation has exactly ONE definition and the q182/q183/q186
    * oracles cannot silently diverge from q176–q181's. */
  val multiLexDocsCte: String = multiLexDocsCteNamed("mlexdocs", "TRUE")

  /** A named, row-filtered rendering of the same CTE — the q182/q183
    * oracles derive the base corpus (`doc_id % 10 != 0`) and today's
    * batch (`= 0`) without materializing the rows the predicate drops
    * (the filter sits UNDER the text derivation, matching the Spark
    * side's pushed-down doc_id predicate). */
  def multiLexDocsCteNamed(name: String, pred: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT doc_id, lang, source, text, length(text) AS n_chars
       |  FROM (SELECT doc_id, lang, source,
       |      ${textSql(duck, multiTab, 176, 1760)} AS text
       |    FROM documents WHERE $pred))""".stripMargin

  /** Yesterday's corpus / today's batch split of the multi-language
    * corpus — the q150/q159/q179 store convention (doc_id % 10). The
    * doc_id predicate sits on the SCAN side of the text derivation
    * (Catalyst pushes it through the deterministic projection), so the
    * dropped rows never pay text synthesis. */
  def multiLexBase(documents: DataFrame): DataFrame =
    multiLexDocuments(documents).where(col("doc_id") % 10 =!= 0)
  def multiLexDelta(documents: DataFrame): DataFrame =
    multiLexDocuments(documents).where(col("doc_id") % 10 === 0)

  /** How many of language i's top-[[LangidK]] words appear in `words`
    * (multiplicity counted — q30's stopHits form). */
  val LangidK = 10

  /** q176 — stopword-overlap LANGUAGE ID on a corpus where it can
    * finally discriminate (the r16-verdict text-realism item, applied
    * to q30's langid: on the shipped 31-word generator every language
    * reads the same text, so the predicted-language column measured
    * only the tie-break). Each document scores its token stream
    * against the five languages' top-10 word lists and predicts the
    * argmax with a fixed de>en>es>fr>zh tie order (q30's >=-chain
    * device; q30's own order is en>de>es>fr); the output is
    * the CONFUSION MATRIX — (true_lang, predicted_lang, n_docs,
    * sum_words, sum_hits) — the audit a langid stage ships. With
    * disjoint inventories a wrong language never scores a hit, so the
    * off-diagonal rows are exactly the zero-hit ties (short documents
    * whose words are all rarer than rank 10) landing on 'de' — the
    * honest coverage-failure residual, measurable per language.
    *
    * 100 TB shape: map-side scoring (array HOFs over each row's
    * tokens), one partially-aggregated 25-cell group-by — the same
    * scan-bound profile as q30. */
  def q176LexLangid(t: T): DataFrame =
    q176LexLangidOver(multiLexDocuments(t.documents))

  /** The scoring + matrix core over any derived (doc_id, lang, text)
    * corpus frame — public for the spec's Scala-recomputed matrix.
    * With `abstain` the classifier emits 'und' for zero-hit documents
    * (one `when` ahead of the tie chain) instead of letting the fixed
    * tie order assign them to 'de' — the production contract (q185):
    * a document containing NONE of any language's frequent words is a
    * coverage failure, not evidence for the tie-break's first entry,
    * and the matrix gives that residual its own predicted_lang row
    * ('und' rows have sum_hits = 0 by construction). */
  def q176LexLangidOver(mdocs: DataFrame,
                        abstain: Boolean = false): DataFrame = {
    val hitCols = MultiLangs.zipWithIndex.map { case (l, i) =>
      val lits = topWords(i, LangidK).map(w => s"'$w'").mkString(", ")
      expr(s"size(filter(words, w -> w IN ($lits)))").as(s"s_$l")
    }
    val scored = mdocs
      .withColumn("words", TextDedup.tokens(col("text")))
      .select(col("doc_id") +: col("lang") +:
        size(col("words")).as("n_words") +: hitCols: _*)
    val best = greatest(MultiLangs.map(l => col(s"s_$l")): _*)
    val tieChain =
      when(col("s_de") >= greatest(col("s_en"), col("s_es"),
        col("s_fr"), col("s_zh")), "de")
        .when(col("s_en") >= greatest(col("s_es"), col("s_fr"),
          col("s_zh")), "en")
        .when(col("s_es") >= greatest(col("s_fr"), col("s_zh")), "es")
        .when(col("s_fr") >= col("s_zh"), "fr")
        .otherwise("zh")
    val predicted =
      if (abstain) when(best === 0, "und").otherwise(tieChain) else tieChain
    scored
      .withColumn("predicted_lang", predicted)
      .withColumn("best_hits", best)
      .groupBy(col("lang").as("true_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("sum_words"),
        sum("best_hits").as("sum_hits"))
      .orderBy("true_lang", "predicted_lang")
  }

  /** q185 — q176's langid with the ABSTAIN path (r17 verdict item 3):
    * predicted_lang = 'und' when best_hits = 0, same matrix shape, so
    * the zero-hit coverage failures (measured 140 ppm at the 30×
    * corpus) report as their own row per true language instead of
    * polluting the 'de' column. Same map-side scoring, same 25(+5)-cell
    * partial aggregate. */
  def q185LexLangidAbstain(t: T): DataFrame =
    q176LexLangidOver(multiLexDocuments(t.documents), abstain = true)

  /** q180 — FUSED PER-LANGUAGE BPE TRAINING on the multi-language
    * corpus: one job, five tokenizers (`Corpus.bpeTrainByLang` — the
    * fused-Lloyd tagged-union discipline applied to BPE: one keyed
    * pair-count aggregate advances every language's model per round,
    * ≤5 argmax rows of driver state). On disjoint syllable inventories
    * the learned merge tables CANNOT coincide — each language learns
    * its own planted syllables (the per-domain-tokenizer claim,
    * measurable per row), while q172's single-table trainer would
    * average them away. 100 TB shape: |langs| tokenizers for one
    * corpus collapse + 8 vocab-sized rounds instead of |langs|
    * corpus passes. */
  def q180LexBpeByLang(t: T): DataFrame =
    Corpus.bpeTrainByLang(multiLexDocuments(t.documents), 8)

  /** q181 — PER-LANGUAGE BPE ENCODE: q180's trained tokenizers applied
    * corpus-wide (`Corpus.bpeEncodeByLang` — the q152→q155 train→apply
    * pair, keyed): each document tokenizes under ITS OWN language's
    * merge table via one explode + broadcast-dictionary join on
    * (lang, word), and the output is the per-(lang, source) token
    * accounting a multilingual corpus recipe budgets from. 100 TB
    * shape: q155's — dictionary-as-broadcast-state, one
    * partially-aggregated corpus pass. */
  def q181LexBpeEncodeByLang(t: T): DataFrame =
    // checkpoint: the trainer's vocabulary collapse and the encode
    // explode are two full corpus passes — one synthesis serves both
    // (r18 optimization round)
    Corpus.bpeEncodeByLang(
      multiLexDocuments(t.documents).localCheckpoint(false), 8)

  /** q182 — the TOKENIZER STORE BUILD (r17 verdict item 1): q180's
    * fused per-language trainer on YESTERDAY'S corpus only (doc_id %
    * 10 ≠ 0 — the q150/q159 store convention). The output rows ARE the
    * persisted artifact — the per-language merge tables in learned
    * order, with each merge's selection-time count and the
    * post-merge compression trace; [[q183LexBpeEncodeStore]] is the
    * serving pair that encodes today's batch against exactly this
    * model without retraining. Same plan shape as q180 on 90% of the
    * rows. */
  def q182LexBpeStore(t: T): DataFrame =
    Corpus.bpeTrainByLang(multiLexBase(t.documents), 8)

  /** q183 — ENCODE-FROM-STORE: today's batch (doc_id % 10 = 0)
    * tokenized against the q182 store (`Corpus.bpeEncodeFromStore`:
    * the store build runs once inside this self-contained query; the
    * BATCH pass never touches the base corpus). Seen words read the
    * stored dictionary; unseen words — the lexicon's compound hapax
    * tail guarantees a real OOV population in every batch — apply the
    * stored merges to their character sequence (standard BPE serving);
    * '|'/'\' words are counted, not dropped. Output: the per-(lang,
    * source) accounting with the OOV and skipped columns a serving
    * fleet monitors. The retired TokStoreProbe measured the seam this
    * declares: encode wall tracks the batch while the retrain leg
    * grows with the vocabulary (SCALE.md; OPTIMIZATION_r19.md "Retired
    * flags and probes"). */
  def q183LexBpeEncodeStore(t: T): DataFrame =
    Corpus.bpeEncodeFromStore(multiLexBase(t.documents),
      multiLexDelta(t.documents), 8)

  /** q184 — MULTILINGUAL MIXTURE + PACKING (r17 verdict item 2): the
    * per-language token-budget recipe over the multi-language corpus —
    * `Corpus.mixPack` with q77's sequence size and the corpus's own
    * (lang, source) strata. Low-resource languages upsample under the
    * α = 0.5 temperature, each cell's kept token mass lands within one
    * document of its target (LexiconSpec pins it), and the survivors'
    * per-language packing footprint closes the recipe: this row set is
    * the audit log a multilingual corpus build ships. */
  def q184LexMixPack(t: T): DataFrame =
    Corpus.mixPack(multiLexDocuments(t.documents), Corpus.SeqTokens,
      Corpus.ChunkDocs, seed = 184)

  /** q186 — the mixture+packing recipe in MODEL-TOKEN currency: q184's
    * audit with every mass/budget/target/offset denominated in BPE
    * tokens from the q182 store (`Corpus.bpeDocTokens` — per-document
    * counts via the stored dictionary + OOV merge application) instead
    * of whitespace words. This is the production form — a training
    * budget is a model-token budget — and the composition the store
    * exists for: train once (base split), then EVERY downstream stage
    * (q183's accounting, this recipe's budgets, q77's packing grid)
    * reads the same artifact. One extra corpus pass vs q184 (the
    * encode join); everything downstream identical. */
  def q186LexMixPackBpe(t: T): DataFrame = {
    // ONE synthesis of the multi-language corpus feeds both the store
    // build (base split) and the document-token pass (r18 optimization:
    // the pushed-down base filter re-synthesized 90% of the corpus the
    // bpeDocTokens pass synthesizes in full — 1.9 corpus derivations
    // collapsed to 1.0 + a cheap filtered re-read of the checkpoint).
    val docs = multiLexDocuments(t.documents).localCheckpoint(false)
    val (merges, dict) =
      Corpus.bpeStore(docs.where(col("doc_id") % 10 =!= 0), 8)
    Corpus.mixPackOver(
      Corpus.bpeDocTokens(merges, dict, docs),
      Corpus.SeqTokens, Corpus.ChunkDocs, seed = 186)
  }

  /** Each language's own top-8 stop list (the q177 re-grounding device
    * applied per language — rank-1..8 word forms of language i's
    * syllable table). */
  val MultiLexStops: Map[String, Seq[String]] =
    MultiLangs.zipWithIndex.map { case (l, i) => l -> topWords(i, 8) }.toMap

  /** q187 — the MULTILINGUAL end-to-end recipe in model-token
    * currency: [[Corpus.tokenPipeline]] over the multi-language
    * corpus — the gate battery (dedup, per-language five-rule Gopher,
    * decontamination) and THEN the q182-store token-budget mixture
    * over the survivors, one audit row per train doc. The composition
    * the whole r18 store family points at: every stage reads the same
    * artifact, and the budgets meter what cleaning actually left. */
  def q187MultilexPipeline(t: T): DataFrame = {
    // ONE synthesis shared by every stage (r18 optimization round): the
    // store build, the dedup canonicalizer, the quality battery, the
    // decontamination shingler and the token accounting each triggered
    // their own full multiLex text derivation (~7 synthesis passes per
    // run measured at sf0.1); the checkpointed corpus pays it once —
    // exactly the materialize-the-derived-stage discipline a deployed
    // pipeline runs (synthesis stands in for the cleaned-text read).
    val docs = multiLexDocuments(t.documents).localCheckpoint(false)
    val (merges, dict) =
      Corpus.bpeStore(docs.where(col("doc_id") % 10 =!= 0), 8)
    Corpus.tokenPipeline(docs, merges, dict, MultiLexStops, seed = 187)
  }

  /** q188 — STREAMING token metering against the stored tokenizer:
    * today's batch (the q182/q183 delta split) arrives as a stream and
    * every document is metered at INGESTION TIME by
    * [[Corpus.bpeTokenMeter]] — the stored merges compiled into one
    * stateless map-side projection, no vocabulary state, no shuffle,
    * no state store. The store lifecycle's streaming leg: q182 builds
    * the artifact, q183 serves it per batch, this serves it per ROW as
    * data lands (the shape an ingestion pipeline runs to meter token
    * mass before anything is persisted). */
  def q188StreamTokenMeter(t: T): DataFrame = {
    val (merges, _) = Corpus.bpeStore(multiLexBase(t.documents), 8)
    val delta = multiLexDelta(t.documents)
      .select("doc_id", "lang", "source", "text")
    graft.streaming.RoundTrip.run(t.spark, "graft_q188_", Seq(delta),
      noDataBatches = false) { case Seq(stream) =>
      Corpus.bpeTokenMeter(merges, stream)
    }.orderBy("doc_id")
  }

  /** q177's stop list: the single-language lexicon's top-8 word forms
    * (ranks 1..8) — the Gopher stop rule re-grounded in the corpus's
    * own frequent words, exactly how the rule ports to a non-English
    * corpus (Rae et al. 2021 use English function words because their
    * corpus is English). */
  val LexStops: Seq[String] =
    (1 to 8).map(r => SylTab.substring(2 * r, 2 * r + 2))

  /** q178 — the END-TO-END corpus pipeline (q133's operator —
    * dedup → quality → decontamination → mixture → sharding, per-doc
    * audit log) on the vocabulary-realistic corpus with the FULL
    * five-rule Gopher battery: q133 had to DROP r_stop because the
    * 31-word vocabulary made it reject every document; on the lexicon
    * corpus the rule reads a real distribution (q177 measures it at
    * ~0.2% fail), so the pipeline finally composes all five rules the
    * way a production corpus build does. Same stages, same seeds
    * (133/134 mixture/shard, 79 grams), same output schema — only the
    * corpus and the stop list differ.
    *
    * 100 TB shape: q133's — union of its stages' shapes, nothing new. */
  def q178LexPipeline(t: T): DataFrame =
    // checkpoint: the pipeline's dedup/quality/decontamination stages
    // each consumed their own full text synthesis (~5 passes per run) —
    // one materialization serves them all (r18 optimization round)
    Corpus.corpusPipeline(lexDocuments(t.documents).localCheckpoint(false),
      Some(LexStops))

  /** q179 — CROSS-SNAPSHOT CORPUS DRIFT: yesterday's corpus (doc_id %
    * 10 ≠ 0, the q150/q159 base convention) vs today's batch (doc_id %
    * 10 = 0), compared as df-band profiles — per band of the BASE
    * count (band 0 = types the base has never seen), the type count,
    * both occurrence masses, each side's share of its own token stream
    * in exact ppm, and the signed drift. This is the
    * distribution-shift alarm a recurring crawl ships before training:
    * mass drifting into band 0 / low bands = vocabulary churn or
    * corpus rot, mass drifting into the top band = boilerplate flood.
    * The incremental-family member for corpus statistics (q109 dedup,
    * q150 IVF, q156 PageRank, q159 CC maintain artifacts; this
    * monitors the distribution those jobs ingest).
    *
    * 100 TB shape: ONE partially-aggregated (word) collapse carrying
    * two conditional sums, a band-sized re-aggregate, and the totals
    * as unpartitioned window sums over that ≤64-row band frame (see
    * the inline note — a literal-key join to the 1-row totals frame
    * constant-folds into the nested-loop plan PlanAuditSpec bans).
    * All exact integers. */
  def q179LexDrift(t: T): DataFrame =
    q179LexDriftOver(lexDocuments(t.documents))

  /** The drift core over any derived (doc_id, text) corpus frame —
    * public for the spec's independently-recomputed profile. */
  def q179LexDriftOver(docs: DataFrame): DataFrame = {
    // per-document histogram (the bpeVocab0/q76 device, r18 optimization
    // round): the conditional masses re-weight by n_occ — identical
    // (cb, cd) per word; empty edge tokens filtered as in q171.
    val toks = docs
      .select((col("doc_id") % 10 === 0).as("is_delta"),
        explode(expr("token_counts(text)")).as(Seq("w", "n_occ")))
      .where(col("w") =!= "")
    val counts = toks.groupBy("w").agg(
      sum(when(!col("is_delta"), col("n_occ")).otherwise(0L)).as("cb"),
      sum(when(col("is_delta"), col("n_occ")).otherwise(0L)).as("cd"))
    val banded = counts
      .groupBy(when(col("cb") === 0L, 0)
        .otherwise(length(expr("bin(cb)"))).cast("int").as("band"))
      .agg(count(lit(1)).as("n_types"),
        sum("cb").as("occ_base"), sum("cd").as("occ_delta"),
        min("w").as("first_word"))
    // totals as unpartitioned window sums over the BAND-sized frame
    // (≤ 64 rows by construction — the single partition is free, and
    // unlike a literal-key join to a 1-row aggregate it cannot
    // constant-fold into a nested-loop plan, so the PlanAuditSpec ban
    // holds with no allowlist entry)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    banded
      .withColumn("tb", sum("occ_base").over(w))
      .withColumn("td", sum("occ_delta").over(w))
      .select(col("band"), col("n_types"), col("occ_base"), col("occ_delta"),
        expr("CASE WHEN tb = 0 THEN 0L ELSE occ_base * 1000000L DIV tb END")
          .as("share_base_ppm"),
        expr("CASE WHEN td = 0 THEN 0L ELSE occ_delta * 1000000L DIV td END")
          .as("share_delta_ppm"),
        col("first_word"))
      .withColumn("drift_ppm", col("share_delta_ppm") - col("share_base_ppm"))
      .orderBy("band")
  }

  /** q177 — the GOPHER RULE AUDIT on the vocabulary-realistic corpus:
    * q121's rule battery (TextAnalysis.gopherRules — same thresholds,
    * same rule set) with the stop list re-grounded in [[LexStops]],
    * aggregated to the per-rule failure report a curation pipeline
    * reviews before committing a filter config — one row per rule with
    * its failure count and exact per-mille failure rate, plus the
    * composite keep row. On the 31-word corpus the battery was
    * untestable end-to-end (r_stop rejected everything — q133 had to
    * drop it); here every rule reads a real distribution: the
    * doc-length spread fails r_wc at its natural rate, the
    * length-vs-frequency spelling moves mean word length across the
    * r_mwl band, and r_stop passes exactly the documents that contain
    * ≥2 of the corpus's own frequent words.
    *
    * 100 TB shape: q121's map-side rules collapsed into ONE global
    * partial aggregate (six counters per partition) — the cheapest
    * query in the family. */
  def q177LexGopherAudit(t: T): DataFrame = {
    val per = TextAnalysis.gopherRules(lexDocuments(t.documents), LexStops)
    val rules = Seq("r_wc", "r_mwl", "r_sym", "r_alpha", "r_stop", "keep")
    val aggs = count(lit(1)).as("n_docs") +: rules.map(r =>
      count_if(!col(r)).as(s"f_$r"))
    val one = per.agg(aggs.head, aggs.tail: _*)
    val rows = rules.map(r =>
      s"struct('$r' AS rule, f_$r AS n_fail," +
        s" CASE WHEN n_docs = 0 THEN 0L" +
        s" ELSE f_$r * 1000L DIV n_docs END AS fail_pm)").mkString(", ")
    one.select(col("n_docs"), explode(expr(s"array($rows)")).as("s"))
      .select(col("s.rule").as("rule"), col("n_docs"),
        col("s.n_fail").as("n_fail"), col("s.fail_pm").as("fail_pm"))
      .orderBy("rule")
  }
}
