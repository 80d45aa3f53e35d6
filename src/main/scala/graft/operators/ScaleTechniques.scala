package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-design techniques for the 100 TB target — SURVEY.md §4's
  * MergeTree-locality mapping, exercised and asserted in tests:
  *
  *  - **Bucketed co-located joins**: both sides written with `bucketBy` on
  *    the join key join WITHOUT a shuffle (the ClickHouse ORDER-BY-key
  *    locality equivalent). At 100 TB this converts the nightly fact⋈fact
  *    join from a full network shuffle into a map-side zip of bucket files.
  *  - **Skew salting**: explode the hot side's key space by a salt factor,
  *    replicate the small side per salt, aggregate away the salt — AQE
  *    handles moderate skew automatically; salting is the explicit fix for
  *    pathological keys (the reference's Destatis year-slicing instinct,
  *    connectors/destatis_connector.py:337-367, applied to joins).
  *  - **Partitioned, sorted writes**: `partitionBy(month)` +
  *    `sortWithinPartitions` ≈ PARTITION BY toYYYYMM + ORDER BY key
  *    (sql/create_dataset_topics_table.sql:15-16): partition pruning from
  *    the directory layout, min/max row-group skipping from the sort.
  */
object ScaleTechniques {

  /** Write both sides bucketed on the join key into the session warehouse;
    * subsequent joins on that key shuffle neither side. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Salted equi-join for a skewed key: the big side gets a deterministic
    * salt from a secondary column, the small side is replicated across all
    * salt values; the join key becomes (key, salt). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltCol: String, salts: Int): DataFrame = {
    val salted = big.withColumn("__salt", pmod(xxhash64(col(saltCol)), lit(salts)))
    val saltValues = small.sparkSession.range(salts)
      .select(col("id").cast("long").as("__salt"))
    val smallSalted = small.crossJoin(saltValues) // one copy per salt value
    salted.join(smallSalted, Seq(key, "__salt")).drop("__salt")
  }

  /** Partitioned + sorted write (partition pruning + row-group
    * skipping). `options` reach the parquet writer — the deployment
    * knobs ride here, e.g. `parquet.bloom.filter.enabled#<col>` for a
    * bloom on the hot lookup key and `parquet.block.size` to size row
    * groups so the sort's min/max stats prune at sub-file granularity
    * (the retired IoPruneProbe measured both against the flat layout:
    * SCALE.md I/O section has the cells, OPTIMIZATION_r19.md "Retired
    * flags and probes" the probe). */
  def writePartitionedSorted(df: DataFrame, path: String,
                             partCol: String, sortCols: Seq[String],
                             options: Map[String, String] = Map.empty): Unit =
    df.sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .options(options)
      .partitionBy(partCol)
      .parquet(path)

  /** Count shuffle exchanges in a DataFrame's executed plan (test probe). */
  def shuffleCount(df: DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  /** q103 — the skew-salting technique as a declared round-trip: the
    * orders⋈customer join runs through [[saltedJoin]] (8-way salt on a
    * deterministic hash of the order key, customer side replicated per
    * salt), then aggregates per nation. Salting is semantics-neutral —
    * the oracle replays the PLAIN join+aggregate — but changes the
    * shuffle key from `custkey` to `(custkey, salt)`, splitting a
    * pathological hot customer across 8 reducers. AQE's skew-join
    * handles moderate cases automatically; explicit salting is the
    * 100 TB fix for a single key too hot for any one executor even
    * after AQE splits (ScaleTechniquesSpec pins salted == plain rows).
    */
  def q103SaltedJoin(t: graft.Tables.T): DataFrame = {
    import graft.Serve._
    saltedJoin(
      t.orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      t.customer.select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
      "o_custkey", "o_orderkey", 8)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .smallSort("c_nationkey")
  }

  /** Per-JVM injective (sfDir → id) assignment for q101's catalog table
    * names (table identifiers can't carry a raw path). */
  private val sfIds = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val sfIdSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  // Per-invocation run ids come from TmpDirs.nextRunId(): two concurrent
  // q101 executions (or a late re-execution of a previously returned
  // frame) must never share a table name/path with mode overwrite — a
  // write could race another run's read. Fresh names per call; the data
  // dirs live under the shutdown-swept scratch root and stay MBs-scale
  // across a bench's passes.

  /** q101 — the bucketed co-located join as a declared round-trip: write
    * orders and customer bucketed on the customer key (8 buckets, sorted
    * within) into catalog tables, then join the TABLES and aggregate
    * revenue per market segment. The join carries no Exchange on either
    * side — the bucket files ARE the shuffle output, paid once at write
    * time (ScaleTechniquesSpec asserts the zero-shuffle plan; the only
    * exchange in the whole query is the final 5-group aggregate). At
    * 100 TB this is the nightly fact⋈dim pattern: bucket both tables on
    * the join key at ingest and every downstream join of the pair skips
    * its network shuffle. EAGER like q82: construction writes the two
    * bucketed tables.
    *
    * Table names and external paths are keyed INJECTIVELY by the sf dir
    * (a per-JVM id assigned per distinct path — no lossy sanitization,
    * so two dirs differing only in punctuation can never collide) AND a
    * per-invocation run id (r12 advice: a concurrent execution, or a
    * late re-execution of a previously returned frame, must never race
    * another run's overwrite of a shared path); the data lives under
    * the JVM-scoped scratch root (shutdown-hook cleaned), NOT the
    * default warehouse in cwd.
    */
  def q101BucketedJoin(t: graft.Tables.T): DataFrame = {
    import graft.Serve._
    val spark = t.spark
    val run = graft.TmpDirs.nextRunId()
    val key = s"sf${sfIds.computeIfAbsent(t.sfDir, _ => sfIdSeq.incrementAndGet())}_r$run"
    val root = graft.TmpDirs.keyed("graft_q101_", s"${t.sfDir}#r$run")
    def write(df: DataFrame, name: String, bucketCol: String): String = {
      val table = s"graft_q101_${name}_$key"
      df.write.mode("overwrite")
        .bucketBy(8, bucketCol).sortBy(bucketCol)
        .option("path", s"$root/$name")
        .format("parquet")
        .saveAsTable(table)
      table
    }
    val ot = write(t.orders.select("o_orderkey", "o_custkey", "o_totalprice"),
      "orders", "o_custkey")
    val ct = write(t.customer.select("c_custkey", "c_mktsegment"),
      "customer", "c_custkey")
    spark.table(ot)
      .join(spark.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .smallSort("c_mktsegment")
  }

  /** q137 — percentiles WITHOUT the global sort: p50/p90/p99 of line-item
    * price (integer cents) per return flag AND globally, read from the
    * mergeable `hist_sketch` quantile histogram
    * (`functions/HistSketch.scala`). The sketch leg is the 100 TB shape:
    * a 7.5 KiB buffer partial-aggregates map-side, one tiny shuffle of
    * (grain, cell) rows, and the cumulative walk runs over
    * post-aggregate-small cells. The global grain is NOT a second pass:
    * it is the per-flag sketches merged POINTWISE (cells summed by
    * position) — re-aggregation across grains exactly like q135's HLL
    * register rollup — and `merge_matches_direct` pins cell-for-cell
    * equality against a directly-computed global sketch.
    *
    * The sketch rows then COLLECT — the design point of a mergeable
    * summary: the coordinator holds one ≤7.7 KiB sketch per grain (the
    * grain domain is a 3-letter enum, so ≤5 rows at any scale) and runs
    * the cumulative walk, the pointwise ALL merge, the merge-vs-direct
    * check and the rank-guide arithmetic locally in exact Long math —
    * r12 ran those as three chained 1-row checkpoint jobs and paid 2.3 s
    * of barriers for <0.1 s of work.
    *
    * The EXACT percentiles beside the estimates come from sketch-GUIDED
    * selection, not a per-grain global sort: the cumulative walk yields,
    * for each quantile, the bucket holding rank ⌈q·n⌉ and the rank's
    * offset within it; a closed-form RANGE disjunction on the value
    * column (each candidate bucket's [lb, next-lb) span — ≤12 long
    * comparisons, no per-row bucket function) prunes the raw rows
    * map-side to just the candidate buckets (≈ the mass of three
    * ≤6.25%-wide value slices), and only that sliver computes its bucket
    * index for the ≤12-row guide join and gets sorted. Identical to the
    * naive rank walk BY CONSTRUCTION
    * (the rank-target value lies in its bucket: cum_before < target ≤
    * cum), which is exactly what the DuckDB oracle replays — so the
    * match is between two genuinely different algorithms. Each `okNN`
    * pins the geometry bound est ≤ exact ≤ est·17/16 in pure integer
    * arithmetic (exact·16 ≤ est·17 — no FP anywhere in the query).
    * Worst-case honesty: a single-bucket value distribution makes the
    * pruned sliver the whole grain — but then the sort's key domain is
    * one bucket's ≤1/16-relative width, and the adversary needs every
    * row inside it. Re-expresses the reference's summary percentile
    * reporting (study_scraper/status.py:80-222,
    * transform/polls.py:212-214) at sketch scale. */
  def q137HistQuantiles(t: graft.Tables.T): DataFrame =
    histQuantiles(t.lineitem)

  def histQuantiles(lineitem: DataFrame): DataFrame = {
    import graft.Serve._
    val spark = lineitem.sparkSession
    import spark.implicits._
    // explicit NOT-NULL pins on the base columns (free parquet-stat
    // filters): without them cents — and therefore the bucket expression
    // joined on below — stays nullable, and the join's inferred
    // isnotnull(pos) pushes the whole CASE + bin() chain into the scan
    // as a DataFilter, evaluating it twice per row (measured ~2× on the
    // exact leg's scan stage)
    val vals = lineitem
      .filter(col("l_returnflag").isNotNull && col("l_extendedprice").isNotNull)
      .select(col("l_returnflag").as("grain"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
    // per-flag AND direct-global sketches out of ONE scan: ROLLUP expands
    // each input row into both grouping sets map-side, where partial
    // aggregation absorbs them — the grand-total row IS the direct global
    // sketch (grouping() = 1), with no second pass over raw rows.
    //
    // The sketch rows COLLECT: that is the design point of a mergeable
    // 7.5 KiB summary — the coordinator holds one sketch per grain and
    // reads quantiles from it locally (the Agarwal et al. mergeable-
    // summaries contract; every production sketch store works this way).
    // Bound: one row per return flag plus the rollup total — the grain
    // domain is a three-letter enum, ≤ 5 rows × 7.7 KiB at ANY scale
    // factor. The cumulative walk, the pointwise ALL-grain merge, the
    // merge-vs-direct check, and the ≤12-entry rank guide are exact Long
    // arithmetic on those cells (shared with the in-plan SQL consumers
    // via HistSketch.bucketOf/lowerBound — same closed forms), replacing
    // what r12 ran as three chained 1-row checkpoint jobs (measured: the
    // barriers, not the work, were 2.3 s of the 3.2 s wall).
    val skRows = vals.rollup("grain").agg(expr("hist_sketch(cents)").as("h"),
      grouping(col("grain")).cast("int").as("g")).collect()
    val perFlag: Seq[(String, Array[Long])] = skRows.toSeq
      .filter(_.getInt(2) == 0)
      .map(r => (r.getString(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val direct = skRows.filter(_.getInt(2) == 1).head.getSeq[Long](1).toArray
    val mergedAll = perFlag.map(_._2)
      .foldLeft(new Array[Long](960))((acc, h) => {
        var j = 0; while (j < 960) { acc(j) += h(j); j += 1 }; acc
      })
    val mergeMatchesDirect = java.util.Arrays.equals(mergedAll, direct)
    // ⌈q·n⌉ rank targets in pure integer arithmetic
    val quantiles = Seq[(String, Long => Long)](
      ("p50", n => (n + 1) / 2),
      ("p90", n => (n * 9 + 9) / 10),
      ("p99", n => (n * 99 + 99) / 100))
    // per grain (flags + pointwise-merged ALL): cum walk → for each
    // quantile the first bucket with cum ≥ target, its lower bound (the
    // estimate), and the rank's in-bucket offset target − cum_before
    val grains = perFlag :+ (("ALL", mergedAll))
    val walked = grains.map { case (grain, h) =>
      val cum = h.scanLeft(0L)(_ + _).drop(1) // cum(j) = rows in buckets ≤ j
      val n = cum(959)
      var fp = 0L
      var j = 0; while (j < 960) { fp += h(j) * (j + 1); j += 1 }
      val picks = quantiles.map { case (tag, target) =>
        val t = target(n)
        val pos = cum.count(_ < t) // first bucket with cum ≥ t
        val rk = t - (if (pos == 0) 0L else cum(pos - 1))
        (tag, pos, graft.functions.HistSketch.lowerBound(pos), rk)
      }
      ((grain, n, picks(0)._3, picks(1)._3, picks(2)._3, fp,
        mergeMatchesDirect),
        picks.map { case (tag, pos, _, rk) => (grain, tag, pos, rk) })
    }
    val est = broadcast(walked.map(_._1).toDF("grain", "n", "p50_est",
      "p90_est", "p99_est", "hist_fp", "merge_matches_direct"))
    // ≤12-row guide: one (grain, bucket, in-bucket rank) per quantile
    val guide = walked.flatMap(_._2).toDF("ggrain", "tag", "pos", "rk")
    // map-side prune to candidate buckets, then sort only the sliver.
    // The prune is a closed-form RANGE disjunction on cents — the driver
    // knows each candidate bucket's [lowerBound(pos), lowerBound(pos+1))
    // value range, and ≤12 long comparisons per row beat evaluating the
    // length(bin())-based bucket function on every corpus row (and beat
    // the r12 shape, where the bucket join's inferred isnotnull(pos)
    // pushed that function into the scan twice). Only the surviving
    // ~6%-of-mass sliver computes its bucket index for the guide join.
    val rangeCond = walked.flatMap(_._2).map(_._3).distinct.sorted
      .map { pos =>
        val lb = graft.functions.HistSketch.lowerBound(pos)
        // bucket 0's value range is open below: bucketOf clamps negatives
        // into bucket 0, so its sliver must admit them too (a >= 0 floor
        // here would drop rows the sketch's rank walk counted, shifting
        // the exact pick whenever bucket 0 is a candidate)
        if (pos >= 959) col("cents") >= lb
        else if (pos == 0)
          col("cents") < graft.functions.HistSketch.lowerBound(1)
        else col("cents") >= lb &&
          col("cents") < graft.functions.HistSketch.lowerBound(pos + 1)
      }.reduce(_ || _)
    // clamp mirrors bucketOf (posSql on a raw negative would go negative)
    val posOf = expr(graft.functions.HistSketch.posSql("greatest(cents, 0L)"))
    val hits = vals
      .filter(rangeCond)
      .withColumn("pos", posOf)
      .join(broadcast(guide), Seq("pos"))
      .filter(col("ggrain") === col("grain") || col("ggrain") === "ALL")
    // rank selection inside the bucket: the sliver can still be large
    // when the distribution is broad (a 1/16-relative bucket at p99 of
    // this corpus holds ~30 k rows), so FIRST collapse it map-side to
    // (grain, tag, cents) counts — partial aggregation shrinks the
    // shuffle to distinct values — THEN one distributed cumulative
    // window finds the value whose running count crosses the in-bucket
    // rank (cum − c < rk ≤ cum picks exactly one value per tag). A
    // collect_list + sort_array here built and sorted the whole bucket
    // single-threaded per group.
    val slivers = hits
      .groupBy(col("ggrain").as("grain"), col("tag"), col("rk"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val picked = slivers
      .withColumn("cum", sum("c").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("grain", "tag").orderBy("cents")))
      .filter(col("cum") >= col("rk") && col("cum") - col("c") < col("rk"))
    val exactAggs = quantiles.map { case (tag, _) =>
      min(when(col("tag") === tag, col("cents"))).as(s"${tag}_exact")
    }
    val exact = picked.groupBy("grain").agg(exactAggs.head, exactAggs.tail: _*)
    def ok(e: String, x: String) = col(e) <= col(x) && col(x) * 16 <= col(e) * 17
    est.join(exact, Seq("grain"))
      .withColumn("ok50", ok("p50_est", "p50_exact"))
      .withColumn("ok90", ok("p90_est", "p90_exact"))
      .withColumn("ok99", ok("p99_est", "p99_exact"))
      .select("grain", "n", "p50_est", "p50_exact", "ok50", "p90_est",
        "p90_exact", "ok90", "p99_est", "p99_exact", "ok99", "hist_fp",
        "merge_matches_direct")
      .smallSort("grain")
  }

  /** q138 — Z-ORDER data layout + min/max file-skipping audit: assign
    * line items to 32 "files" under two layouts — LINEAR (equal-frequency
    * ranges of the part key alone) and ZORDER (equal-frequency ranges of
    * the 32-bit Morton code interleaving part key and supplier key) —
    * record each file's min/max footer stats for BOTH dimensions, and
    * measure how many files a 2-D box predicate (the middle ~10% of each
    * key range) could skip from the stats alone. The layouts see the same
    * rows, so `rows_matched` is identical across them and doubles as the
    * cross-layout consistency pin; the interesting columns are
    * `files_scanned`/`rows_scanned`, where interleaved ranges bound both
    * dimensions per file while linear ranges bound only one.
    *
    * 100 TB design — this IS the write-path decision the audit informs:
    * a petabyte table laid out z-ordered on its two hottest filter keys
    * lets every min/max-pruning reader (parquet row groups, Delta/Iceberg
    * file stats) skip on BOTH predicates, where a sort on one key prunes
    * only that key. Two scale choices matter in the plan itself:
    * (1) the equal-frequency cut points come from the mergeable
    * `hist_sketch` (q137) — one map-side sketch pass and a ≤960-cell
    * cumulative walk, NOT a global sort or `ntile` (which would shuffle
    * the corpus into one ordered partition: the RangePartitioner's
    * sample-then-cut idea, made deterministic); (2) file assignment is
    * one codegen'd array INDEX per row into a broadcast dense 960-entry
    * (bucket → file) lookup — no join, no shuffle, and no per-row
    * higher-order function (a filter() lambda here measured 50× slower:
    * HOFs are CodegenFallback); the only corpus shuffle is the 64-group
    * stats aggregate, fully partial-aggregated. Everything is integer
    * arithmetic (normalization is integer DIV, the Morton code is bit
    * algebra, cuts are histogram bucket positions), so DuckDB replays
    * identical values — the oracle's |{cut lb ≤ k}| equals the bucket-
    * position count by lb-monotonicity — and est/exact FP hazards never
    * arise. Extends the reference's
    * partition-layout instinct (sql/create_dataset_topics_table.sql:15-16,
    * PARTITION BY month + ORDER BY key) to the 2-D case its 1-D sort
    * cannot serve. */
  def q138ZorderLayout(t: graft.Tables.T): DataFrame =
    zorderSkipping(t.lineitem)

  /** Files per layout (also the cut-array length + 1). */
  val ZFiles = 32

  def zorderSkipping(lineitem: DataFrame): DataFrame = {
    import graft.Serve._
    val xy = lineitem.select(col("l_partkey").as("x"), col("l_suppkey").as("y"))
    // 1-row bounds + query box, broadcast everywhere (the q16/q83
    // pattern); lazily checkpointed because keyed — and therefore this
    // subtree — is referenced by both the sketch pass and the assignment
    // pass, and each reference would otherwise re-run the bounds scan
    val bounds = xy.agg(
        min("x").as("xmin"), max("x").as("xmax"),
        min("y").as("ymin"), max("y").as("ymax"))
      .withColumn("qxlo", expr("xmin + ((xmax - xmin) * 30) DIV 100"))
      .withColumn("qxhi", expr("xmin + ((xmax - xmin) * 40) DIV 100"))
      .withColumn("qylo", expr("ymin + ((ymax - ymin) * 30) DIV 100"))
      .withColumn("qyhi", expr("ymin + ((ymax - ymin) * 40) DIV 100"))
      .localCheckpoint(false)
    // 16-bit normalization (integer DIV; degenerate range guarded), then
    // the Morton interleave as plain bit algebra — codegen keeps all 32
    // terms in one whole-stage span
    val interleave = (0 until 16).map { i =>
      s"shiftleft(shiftright(xn, $i) & 1, ${2 * i}) + " +
        s"shiftleft(shiftright(yn, $i) & 1, ${2 * i + 1})"
    }.mkString(" + ")
    val keyed = xy.crossJoin(broadcast(bounds))
      .withColumn("xn", expr("((x - xmin) * 65535) DIV greatest(xmax - xmin, 1)"))
      .withColumn("yn", expr("((y - ymin) * 65535) DIV greatest(ymax - ymin, 1)"))
      .withColumn("z", expr(interleave))
      .withColumn("hit", col("x").between(col("qxlo"), col("qxhi")) &&
        col("y").between(col("qylo"), col("qyhi")))
    // per-layout equal-frequency cuts: hist_sketch + cumulative walk,
    // never a sort of the data. BOTH layouts' sketches come out of ONE
    // scan (two aggregate buffers side by side), and the whole walk —
    // running sum, the 31 rank cuts, the dense lookup — is in-row array
    // algebra on that single row: zero extra stages, a few 10⁴ one-time
    // lambda steps.
    //
    // Cut POSITIONS, not lower-bound values: file = |{cuts ≤ k}| over lb
    // values is exactly |{cut positions ≤ bucket(k)}| (lb is monotone in
    // pos and lb(p) ≤ k < lb(p+1) brackets k's own bucket), which lets
    // the per-row assignment be a dense array INDEX instead of a
    // higher-order filter — element_at is codegen'd; a per-corpus-row
    // filter() lambda here measured 50× slower (HOFs are
    // CodegenFallback).
    val sk = keyed.agg(
      expr("hist_sketch(z)").as("hz"), expr("hist_sketch(xn)").as("hx"))
    val cumOf = graft.functions.HistSketch.cumSql _
    // The lookup has a CLOSED FORM from the running sum alone: bucket p's
    // file id = |{j ∈ 1..31 : cutpos_j ≤ p}|, and cutpos_j ≤ p ⟺
    // cum[p+1] ≥ ⌈j·n/32⌉ (cumArr is sorted, cutpos is the first-reach
    // index), whose count over j is ⌊32·cum[p+1]/n⌋ capped at 31 — so no
    // intermediate cut array exists at all, and the map is one transform
    // over the running sum. The 1-row lazy checkpoint is a projection
    // barrier: without it CollapseProject inlines the 960-step fold into
    // every lambda iteration downstream (measured 6× blowup).
    val skCum = sk
      .withColumn("zcum", expr(cumOf("hz")))
      .withColumn("lcum", expr(cumOf("hx")))
      .localCheckpoint(false)
    val mapOf = (cum: String) =>
      s"transform($cum, c -> CAST(least(${ZFiles - 1}, " +
        s"($ZFiles * c) DIV element_at($cum, 960)) AS INT))"
    val cutsRow = skCum
      .select(expr(mapOf("zcum")).as("zmap"), expr(mapOf("lcum")).as("lmap"))
    val posOf = graft.functions.HistSketch.posSql _
    // map-side assignment: one array index per layout; the explode
    // doubles rows only AT the aggregate's input, where partial
    // aggregation absorbs them map-side
    val filed = keyed.crossJoin(broadcast(cutsRow))
      .withColumn("zfile", expr(s"element_at(zmap, (${posOf("z")}) + 1)"))
      .withColumn("lfile", expr(s"element_at(lmap, (${posOf("xn")}) + 1)"))
      .select(col("x"), col("y"), col("hit"),
        col("qxlo"), col("qxhi"), col("qylo"), col("qyhi"),
        explode(expr("array(struct('zorder' AS layout, zfile AS file), " +
          "struct('linear' AS layout, lfile AS file))")).as("lf"))
      .select(col("x"), col("y"), col("hit"),
        col("qxlo"), col("qxhi"), col("qylo"), col("qyhi"),
        col("lf.layout"), col("lf.file"))
    // the "footer": per-file min/max of BOTH dims + row counts; the box
    // constants ride through the aggregate via max() (they are per-row
    // constants from the 1-row broadcast)
    val stats = filed.groupBy("layout", "file")
      .agg(count(lit(1)).as("nr"),
        min("x").as("fxmin"), max("x").as("fxmax"),
        min("y").as("fymin"), max("y").as("fymax"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("nr_in_box"),
        max("qxlo").as("qxlo"), max("qxhi").as("qxhi"),
        max("qylo").as("qylo"), max("qyhi").as("qyhi"))
    stats
      .withColumn("scanned",
        col("fxmax") >= col("qxlo") && col("fxmin") <= col("qxhi") &&
          col("fymax") >= col("qylo") && col("fymin") <= col("qyhi"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_files"),
        sum("nr").as("n_rows"),
        sum(when(col("scanned"), 1L).otherwise(0L)).as("files_scanned"),
        sum(when(col("scanned"), col("nr")).otherwise(0L)).as("rows_scanned"),
        sum("nr_in_box").as("rows_matched"))
      .withColumn("scan_pct", expr("(rows_scanned * 100) DIV n_rows"))
      .select("layout", "n_files", "n_rows", "files_scanned", "rows_scanned",
        "scan_pct", "rows_matched")
      .smallSort("layout")
  }

  /** q141 — BLOOM-FILTER SKIPPING INDEX for text search, q138's sibling:
    * min/max footers prune RANGE predicates; a per-file Bloom filter
    * over the file's distinct word-bigram hashes prunes CONTAINMENT
    * predicates (`WHERE text ~ 'term'`), which min/max can never serve.
    * Documents land in 32 "files" (doc_id % 32) each carrying a 2 KiB
    * `bloom_bits` index over its distinct bigram hashes; FOUR probe
    * terms chosen on a deterministic RARITY LADDER (doc frequency
    * closest to 1/200, 1/50, 1/20, 1/5 of the corpus) are tested
    * against every file's bloom. The audit reports per probe: files the
    * index would scan vs files truly containing the term, false
    * positives (the bloom's price), the structural no-false-negatives
    * guarantee, and docs matched — making the real lesson measurable:
    * SELECTIVITY, not the index, bounds skipping. A rare term prunes
    * most files; a 20%-df term is in every file and the index honestly
    * scans them all.
    *
    * 100 TB design: this is the Delta/Iceberg bloom-column story — the
    * index is one 2 KiB array per file built by a single distinct-gram
    * aggregate at write time (the same one-corpus-shuffle shape as
    * q131's eval-set bloom), and probing is driver-free map work over
    * the 32-row stats frame — the query planner's file-pruning pass,
    * not a data pass. Extends the reference's text-search path
    * (ILIKE %q% scans, transform/search.py:36-88 ported as q45) with
    * the index that makes it affordable at petabyte scale. */
  def q141BloomSkipping(t: graft.Tables.T): DataFrame =
    bloomSkipping(t.documents)

  /** Rarity-ladder divisors: probe term k targets df ≈ corpus/divisor. */
  val BloomProbeDivisors: Seq[Int] = Seq(200, 50, 20, 5)

  def bloomSkipping(documents: DataFrame): DataFrame = {
    import graft.Serve._
    val bigramsOf = when(size(col("w")) >= 2,
      zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    // per-doc DISTINCT bigram hashes + file id; one corpus pass,
    // checkpointed because three branches reuse it (file blooms,
    // probe-term selection, ground truth)
    val bg = documents
      .select(col("doc_id"), TextDedup.tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(array_distinct(bigramsOf)).as("g"))
      .select(col("doc_id"),
        expr("CAST(doc_id % 32 AS INT)").as("file"),
        expr(TextDedup.h60(141, "g")).as("bh"))
      .localCheckpoint(false)
    // the write-time index: one bloom per file over its distinct gram
    // hashes — 32 rows × 2 KiB
    val blooms = bg.select("file", "bh").distinct()
      .groupBy("file").agg(expr("bloom_bits(bh)").as("bf"))
    // probe terms: per rarity divisor, the bigram whose doc frequency
    // is closest to corpus/divisor (total order: distance, then hash —
    // min(struct) keeps the pick deterministic)
    val nd = documents.agg(count(lit(1)).as("nd"))
    val qterms = bg.groupBy("bh").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .select(col("bh"), col("df"), col("nd"), explode(
        expr(s"array(${BloomProbeDivisors.mkString(", ")})")).as("target_div"))
      .withColumn("dist", expr("abs(df - nd DIV target_div)"))
      .groupBy("target_div")
      .agg(min(struct(col("dist"), col("bh"), col("df"))).as("m"))
      .select(col("target_div"), col("m.bh").as("qbh"), col("m.df").as("df"))
      .localCheckpoint(false) // reused by the probe and the truth legs
    // q131's 3-probe bit test against the broadcast term list
    val probeCond = Seq(1L, 16384L, 268435456L).map { d =>
      val bp = s"((qbh DIV $d) % 16384)"
      s"((shiftrightunsigned(element_at(bf, CAST($bp DIV 64 AS INT) + 1), " +
        s"CAST($bp % 64 AS INT)) & 1) = 1)"
    }.mkString("(", " AND ", ")")
    val probes = blooms.crossJoin(broadcast(qterms))
      .withColumn("hit", expr(probeCond))
    // ground truth: which files actually contain each probe term
    val matched = bg.join(broadcast(qterms), col("bh") === col("qbh"))
    val fileTruth = matched.select("target_div", "file")
      .distinct().withColumn("contains", lit(true))
    val docsMatched = matched.groupBy("target_div")
      .agg(countDistinct("doc_id").as("docs_matched"))
    probes.join(fileTruth, Seq("target_div", "file"), "left")
      .groupBy("target_div")
      .agg(max("df").as("df"),
        count(lit(1)).as("n_files_probed"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("files_bloom_hit"),
        sum(when(col("contains").isNotNull, 1L).otherwise(0L)).as("files_true"),
        sum(when(col("hit") && col("contains").isNull, 1L).otherwise(0L))
          .as("n_false_pos"),
        min(when(col("contains").isNotNull,
          when(col("hit"), 1).otherwise(0)).otherwise(1)).as("nfn"))
      .withColumn("no_false_negatives", col("nfn") === 1)
      .join(broadcast(docsMatched), Seq("target_div"))
      .select("target_div", "df", "n_files_probed", "files_bloom_hit",
        "files_true", "n_false_pos", "no_false_negatives", "docs_matched")
      .smallSort("target_div")
  }
}
