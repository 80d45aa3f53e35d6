package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicBoolean

/** Benchmark main — one JSON line on stdout for the driver.
  *
  * Reps are INTERLEAVED round-robin (rep 1 of every query, then rep 2, …)
  * rather than back-to-back: a multi-minute host-contention window then
  * inflates at most one rep of each query instead of poisoning every rep
  * of whichever alphabetic block it sweeps (the r3/r4 artifact failure
  * mode). With ≥3 reps the reported median is contention-robust, and the
  * per-query min/max spread makes any remaining contamination visible in
  * the artifact instead of silently distorting it. Failures propagate
  * into the JSON as `"errors":{name:msg}` instead of being silently
  * recorded as -1 — a bench over failing queries is not a bench.
  *
  * DEADLINE-AWARE (r6): the r5 official run was killed at the driver's
  * time limit with nothing on stdout (rc=124, parsed=null) because 4 full
  * passes of the suite (65 queries then; 71 now) exceeded the budget
  * with no guard. Now a
  * wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET_S`, default 1500 s —
  * comfortably under the driver limit that accommodated r4's 2524 s run)
  * bounds the pass loop: after each completed pass the next pass is
  * projected from the last pass's duration and skipped if it would bust
  * the budget. The JSON is ALWAYS emitted with whatever completed — the
  * `estimator` field declares exactly what was measured — and a JVM
  * shutdown hook emits it even on SIGTERM, so a kill mid-pass still
  * yields a usable artifact instead of an empty one.
  *
  * COMPACT FINAL LINE (r7): the r6 official run DID emit its JSON
  * (rc=0) but the single ~8 KB line (queries + per-query spread) was
  * truncated in the driver's captured stdout tail → parsed=null. The
  * LAST stdout line is now a compact (<2 KB) parseable summary — median
  * per query only, errors only if any — while the full detail
  * (min/max spread, budget, pass count) goes to an EARLIER stdout line
  * and to `bench_detail.json` in the working directory.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // 5 reps (r8, was 3): this host's noisy-neighbor windows inflate
    // single reps 2-4×; a median-of-5 survives two contaminated reps
    // where median-of-3 survives one. The budget projection below still
    // bounds total wall time, so a slow host degrades to fewer passes
    // rather than a bust.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt.max(1)
    // untimed warm-up passes: JIT + whole-stage-codegen compile + page
    // cache + the one-time staging materialization all land here, so the
    // reported min/median/max spread measures host contention, not warm-up
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt.max(0)
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1500").toDouble
    val start = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - start) / 1e9

    // Floor tuning (AQE small-shuffle coalescing, compression off, scan
    // splits, shuffled-hash preference, serialized shuffle writer, tmpfs
    // scratch) is shared by every main via HarnessTuning — every knob is
    // a harness-scale latency call documented there; a 100 TB cluster
    // keeps the Spark defaults. The session also drops the WindowExec
    // "No Partition Defined" WARN of the bounded whole-frame windows
    // (q09 top-100 rank, q17/q23 share-of-total, q46 renumber), whose
    // hundreds of lines filled the r5 artifact's captured tail.
    val spark = HarnessTuning.session(cpus)

    // @volatile: the shutdown hook reads this from its own thread; a kill
    // mid-pass must not emit a stale errors map.
    @volatile var errors = Map.empty[String, String]
    // HEAVY-FAMILY SPACING (r15): the iterative/graph/streaming queries
    // are contiguous in alphabetical order (q148..q159 is one solid
    // block), so the r14 per-pass ROTATION still ran heavy queries
    // behind heavy queries in every pass — their medians carried each
    // other's residue (r14: q149 med 2.9 vs min 1.6, q150 max 4.6).
    // Declare the multi-job families (graph supersteps, Lloyd/BPE
    // training rounds, streaming round-trips, the similarity-join
    // showcase) and interleave them EVENLY among the one-job queries in
    // the base order; the per-pass rotation then varies each query's
    // predecessor within a schedule where no heavy query ever directly
    // follows another. Deterministic — runs stay reproducible.
    val heavyFamilies = Set(
      "q139_pagerank", "q148_personalized_pagerank", "q149_weighted_pagerank",
      "q151_connected_components", "q156_warmstart_pagerank",
      "q159_incremental_cc", "q67_clusters_at_scale",
      "q142_kmeans", "q143_ivf_learned", "q147_ivf_multiprobe",
      "q150_ivf_incremental", "q157_ivf_pq", "q158_jl_ivf",
      "q160_residual_pq", "q161_jl_ivf_pq", "q162_residual_multiprobe",
      "q164_planted_ivf_pq", "q165_planted_residual_pq",
      "q166_planted_multiprobe", "q167_planted_jl_ivf",
      "q168_planted_jl_ivf_pq", "q169_planted_rerank",
      "q152_bpe_train", "q155_bpe_encode", "q172_lex_bpe_train",
      "q180_lex_bpe_bylang", "q181_lex_bpe_encode",
      "q182_lex_bpe_store", "q183_lex_bpe_encode_store",
      "q186_lex_mix_pack_bpe",
      "q97_similarity_join",
      "q72_streaming_dedup", "q88_session_window", "q92_streaming_sessions",
      "q96_stateful_runs", "q98_streaming_neardup", "q99_stream_join",
      "q102_streaming_window", "q106_stream_enrich", "q110_streaming_upsert",
      "q134_streaming_hll", "q140_streaming_quantiles", "q153_streaming_topk")
    // a stale/misspelled heavy name would silently classify as light,
    // and the no-adjacent-heavies guarantee needs at least one light
    // per gap — assert the former, warn when the latter degrades
    locally {
      val unknown = heavyFamilies.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"heavyFamilies names not registered in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val names = {
      val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      val (heavy, light) = sorted.partition(q => heavyFamilies(q._1))
      if (light.size < heavy.size + 1)
        System.err.println(s"[bench] WARN: heavy-interleave spacing < 1 " +
          s"(${heavy.size} heavy vs ${light.size} light) — adjacent heavy " +
          "queries possible")
      if (heavy.isEmpty || light.isEmpty) sorted
      else {
        // place heavy query k after ceil((k+1)·L/H) lights — even spacing
        val out = collection.mutable.ArrayBuffer.empty[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]
        var li = 0
        for ((h, k) <- heavy.zipWithIndex) {
          val target = ((k + 1).toLong * light.size / (heavy.size + 1)).toInt
          while (li < target && li < light.size) { out += light(li); li += 1 }
          out += h
        }
        while (li < light.size) { out += light(li); li += 1 }
        out.toSeq
      }
    }
    // Materialize every output row (not just count()) so the measured
    // plan includes the final projection, same work the verify dump does.
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Samples land here incrementally (pass index -> query -> seconds) so
    // the shutdown hook can serialize a consistent partial artifact even
    // if the JVM is terminated mid-pass.
    val samplesByPass = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Double]]()
    @volatile var passesDone = 0
    @volatile var stopReason = ""

    // Returns (compactLine, detailLine). The COMPACT line is printed LAST
    // on stdout (the only thing guaranteed to survive the driver's
    // captured-tail window — r6's 8 KB line was truncated there); the
    // DETAIL line (spread/budget/pass bookkeeping) is printed before it
    // and also written to bench_detail.json.
    def emitJson(): (String, String) = {
      import scala.jdk.CollectionConverters._
      val byPass = samplesByPass.asScala.toMap
      val done = byPass.keys.toSeq.sorted
      val timedIdx = done.filter(_ >= warmup)
      // Prefer timed (post-warm-up) passes; if the budget died before any
      // completed, fall back to the last pass we have — cold numbers beat
      // no numbers, and the estimator says which one this is.
      val (useIdx, est) =
        if (timedIdx.nonEmpty)
          (timedIdx, s"median-of-${timedIdx.size}-interleaved-reps-after-$warmup-warmup" +
            (if (stopReason.nonEmpty) s" ($stopReason)" else ""))
        else
          (done.takeRight(1), s"single-cold-pass" +
            (if (stopReason.nonEmpty) s" ($stopReason)" else ""))
      val samples: Map[String, Vector[Double]] = names.map { case (n, _) =>
        n -> useIdx.flatMap(i => byPass.get(i).flatMap(_.get(n))).toVector
      }.toMap
      def median(xs: Vector[Double]): Double = {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      val results = names.map { case (name, _) =>
        val xs = samples(name)
        name -> (if (xs.isEmpty) (-1.0, -1.0, -1.0) else (median(xs), xs.min, xs.max))
      }
      def esc(s: String): String =
        s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }
      def fmt(d: Double): String = f"$d%.3f"
      // 2 decimals on the compact line: every byte counts toward staying
      // inside the capture window; ms precision lives in the detail line.
      def fmt2(d: Double): String = f"$d%.2f"
      // r9: even with 2-decimal values the compact line hit ~2.6 KB at 81
      // queries and the driver captures a 2,000-char stdout tail — the
      // line was truncated mid-token and BENCH_r09 parsed null. The long
      // query names are the bulk (~19 chars each), so the COMPACT line
      // keys on the unique leading qNN token ("q27":1.94); full names
      // stay in the detail line / bench_detail.json. Falls back to full
      // names if a future query breaks qNN uniqueness.
      val shortable = names.map(_._1.takeWhile(_ != '_')).distinct.size == names.size
      def key(n: String): String = if (shortable) n.takeWhile(_ != '_') else n
      // Failed/unsampled queries are OMITTED from the timing maps rather
      // than carried as a -1.0 sentinel (r9 advice: a consumer summing
      // medians would silently subtract); they appear solely in `errors`.
      // decimals = 2: fixed 2; 1: fixed 1; 3 (r14, the intermediate
      // fallback step): trailing zeros trimmed and ≥1 s values at 1
      // decimal — sub-second floor queries keep their centisecond
      // precision, multi-second ones lose the digit that matters least.
      def qsAt(decimals: Int): String = results.collect {
        case (k, (med, _, _)) if med >= 0 =>
          val v =
            if (decimals == 1) f"$med%.1f"
            else if (decimals == 2) fmt2(med)
            else {
              val s = if (med >= 1.0) f"$med%.1f" else fmt2(med)
              val t = if (s.contains('.'))
                s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
              else s
              if (t.isEmpty) "0" else t
            }
          s""""${key(k)}":$v"""
      }.mkString("{", ",", "}")
      val qs = qsAt(2)
      val spread = results.collect { case (k, (med, mn, mx)) if med >= 0 =>
        s""""$k":{"med":${fmt(med)},"min":${fmt(mn)},"max":${fmt(mx)}}""" }.mkString("{", ",", "}")
      val errJson = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
      val total = results.collect { case (_, (med, _, _)) if med >= 0 => med }.sum
      // estimator is declared in the artifact so cross-round comparisons
      // are never silently apples-to-oranges (r01/r02 reported the LAST
      // rep; r03/r04 min-of-2 sequential; r05 onward median of interleaved
      // reps; r06 onward budget-bounded; r07 onward compact final line)
      val errPart = if (errors.isEmpty) "" else s""","errors":$errJson"""
      // Contention self-description (r7 ask): a contaminated median is only
      // honest if the artifact says so. Queries whose median exceeds 1.5×
      // their min get a compact med/min entry — on a quiet host this object
      // is empty and costs ~12 bytes; on a noisy one it names exactly the
      // queries whose official number to distrust (r7's q27 4.03 med vs
      // 1.70 min was visible only in bench_detail.json).
      // Capped at the 8 worst med/min ratios, then trimmed further until
      // the WHOLE compact line fits a 1900-byte budget (r12: at 132
      // queries the base line alone is ~1.85 KB against the driver's
      // ~2 KB captured tail, so even a small contended map could
      // truncate the artifact it exists to annotate — drop the least
      // contended entries first, never the timings).
      val hotAll = results.collect {
        case (k, (med, mn, _)) if mn > 0 && med > mn * 1.5 =>
          (med / mn, s""""${key(k)}":{"med":${fmt2(med)},"min":${fmt2(mn)}}""")
      }.sortBy(-_._1).take(8).map(_._2)
      // "fmt":2 marks the r10+ compact schema (qNN short keys, empty-map
      // elision) so cross-round tooling can branch explicitly instead of
      // sniffing which optional keys appear (r10 advice).
      def mkCompact(hotEntries: Seq[String], decimals: Int): String = {
        val hotPart = if (hotEntries.isEmpty) ""
          else s""","contended":${hotEntries.mkString("{", ",", "}")}"""
        s"""{"metric":"total","fmt":2,"value":${fmt2(total)},"unit":"sec","estimator":"${esc(est)}","queries":${qsAt(decimals)}$errPart$hotPart,"sf":"$sfDir"}"""
      }
      val compact = {
        var hot: Seq[String] = hotAll
        var line = mkCompact(hot, 2)
        while (line.length > 1900 && hot.nonEmpty) {
          hot = hot.init
          line = mkCompact(hot, 2)
        }
        // r13: at 146 queries the base line is ~1.88 KB against the
        // driver's ~2 KB captured tail — if dropping every contended
        // entry still can't fit, degrade precision in two steps (r14):
        // first the adaptive mode (trailing zeros trimmed, ≥1 s values
        // at 1 decimal — the sub-second floor band keeps centiseconds),
        // then the all-1-decimal floor. ms precision always stays in
        // the detail line / bench_detail.json.
        if (line.length <= 1900) line
        else {
          val adaptive = mkCompact(Nil, 3)
          if (adaptive.length <= 1900) adaptive else mkCompact(Nil, 1)
        }
      }
      val detail =
        s"""{"kind":"bench_detail","spread":$spread,"errors":$errJson,"budget_s":${fmt(budgetS)},"elapsed_s":${fmt(elapsedS)},"passes_done":$passesDone,"warmup":$warmup,"reps":$reps,"sf":"$sfDir"}"""
      (compact, detail)
    }

    val printed = new AtomicBoolean(false)
    def emitOnce(): Unit =
      if (printed.compareAndSet(false, true)) {
        val (compact, detail) = emitJson()
        try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
          (detail + "\n").getBytes("UTF-8"))
        catch { case _: Throwable => () } // detail is best-effort; never block the compact line
        println(detail)
        println(compact) // LAST line: the parseable artifact
        System.out.flush()
      }
    // Last-resort guard: a driver kill (SIGTERM from `timeout`) mid-pass
    // still flushes the partial artifact. rc stays non-zero but parsed
    // results exist.
    Runtime.getRuntime.addShutdownHook(new Thread(() => emitOnce()))

    // rep-major loop: every query's rep r runs before any query's rep r+1
    val maxPasses = warmup + reps
    var lastPassS = 0.0
    var pass = 0
    while (pass < maxPasses && stopReason.isEmpty) {
      // Project the next pass from the last one (+15% headroom); never
      // skip the FIRST pass — an empty artifact helps no one, and a
      // single pass at sf0.1 is far under any sane budget.
      if (pass > 0 && elapsedS + lastPassS * 1.15 > budgetS) {
        stopReason = f"stopped after $pass/$maxPasses passes: next ~${lastPassS}%.0fs pass would bust ${budgetS}%.0fs budget"
      } else {
        val t0 = elapsedS
        val m = collection.mutable.Map.empty[String, Double]
        // Rotate the within-pass order per pass (r14): with a FIXED order
        // every query always runs behind the SAME predecessor, so a heavy
        // neighbor's residue (GC debt, shuffle-file cleanup, page-cache
        // eviction) lands on the same victim in every rep and the median
        // keeps the bias instead of averaging it out (r13: q129 median
        // 1.57 s vs min 0.29 s, always directly behind the q128 scan).
        // A deterministic rotation gives each query a different
        // predecessor each pass; median-of-5 then mixes five
        // neighborhoods. No randomness — runs stay reproducible.
        val off = if (names.isEmpty) 0 else (pass * names.size / maxPasses) % names.size
        val ordered = names.drop(off) ++ names.take(off)
        for ((name, fn) <- ordered if !errors.contains(name)) {
          try { m(name) = once(fn) }
          catch {
            case e: Throwable =>
              errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          }
        }
        samplesByPass.put(pass, m.toMap)
        pass += 1
        passesDone = pass
        lastPassS = elapsedS - t0
      }
    }
    emitOnce()
    spark.stop()
  }
}
