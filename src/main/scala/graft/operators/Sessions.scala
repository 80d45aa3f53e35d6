package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.T

/** Clickstream sessionization and funnel analysis over the events table —
  * the event-log curation stages a training-data pipeline runs upstream of
  * any per-user corpus construction (session boundaries decide what counts
  * as one interaction trace; funnels decide which traces reach an outcome).
  * Both are declarative window/join plans: no per-user driver loops, no
  * collect, and every shuffle is keyed by user_id, so the plans scale with
  * the user count and stay skew-safe as long as no single user dominates
  * the log (the same discipline as q07/q16).
  */
object Sessions {

  /** Gap (seconds) that closes a session: two consecutive events of one
    * user more than 8 h apart belong to different sessions. */
  val SessionGapSeconds = 28800L

  /** Conversion window per funnel step: a step counts only within 24 h of
    * the previous step's first occurrence. */
  val FunnelWindowHours = 24

  /** q86 — gap-based sessionization: per user, order events by (ts,
    * event_id) and open a new session whenever the gap to the previous
    * event exceeds [[SessionGapSeconds]]; emit one row per session with
    * its event count, start, duration, purchase count, and value total.
    *
    * 100 TB shape: ONE shuffle — the (user_id) window partitioning — and
    * the lag flag + running sum share it (one WindowExec pass, two frame
    * specs); the session aggregate groups on a superset of the window key
    * so it rides the same partitioning without a second exchange. Gap and
    * duration arithmetic is on unix_micros (exact integers), never on
    * float epochs — the oracle computes the identical integers, so the
    * session split is bit-reproducible across engines. */
  def q86Sessionize(t: T): DataFrame = sessionize(t.events)

  /** The reusable sessionization core over (user_id, event_id, ts,
    * event_type, value) rows — public so specs drive hand-built logs
    * through the identical pipeline. */
  def sessionize(events: DataFrame,
                 gapSeconds: Long = SessionGapSeconds): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val flagged = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_sess",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) > gapSeconds * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        ((max(col("us")) - min(col("us"))) / lit(1000000L)).cast("long").as("duration_s"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy("user_id", "session_seq")
  }

  /** SKEW-RESISTANT sessionization — the stated-and-measured mitigation
    * for [[sessionize]]'s one genuine hot-key failure mode (SCALE.md
    * skew section: a user owning ~13% of a 3M-row corpus makes q86
    * 1.9× slower, and the per-user window chain is a single task AQE
    * cannot split — the degradation grows with the hot user's share).
    *
    * Two-phase: (1) sessionize WITHIN (user, time-bucket) — the window
    * partition key gains the bucket, so the hot user's timeline splits
    * across ~#buckets parallel tasks; (2) stitch at the SESSION level —
    * re-apply the identical gap rule to the per-bucket partial sessions
    * (a partial's min/max event times are exactly the boundary events'
    * times, so the cross-bucket gap test equals the consecutive-event
    * gap test), then merge transitively via the same flag+running-sum
    * device and aggregate. The stitch window is still user-keyed, but
    * over SESSION rows (≈ true sessions + touched buckets), not events
    * — for the planted hot user that is hundreds of rows instead of
    * 390k. Degenerate worst case: a user whose every event is its own
    * session gains nothing (the session frame is the event frame);
    * such a user is gap-sparse, not hot, and does not skew the event
    * window either.
    *
    * BUCKET WIDTH is the one knob that matters (must exceed the gap;
    * SCALE.md skew section has the measured cells): too fine and the
    * partial-session frame degenerates to the event frame — at 24 h on
    * a corpus averaging ~1 event per user-day the probe measured 8.4 s
    * vs plain sessionize's 1.6 s, millions of one-event window
    * partitions — while at 168 h (≈ 20× the mean per-user event
    * spacing) the bucketed form matches plain sessionize at uniform
    * keys (1.38 s vs 1.45 s) and removes the hot-key penalty entirely
    * (zipf/uniform 1.00 vs plain's 1.65). Rule: pick the width so the
    * TYPICAL user touches ~1 bucket and only hot users split.
    *
    * Value-identical to [[sessionize]] by construction (within-bucket
    * splits have gap > threshold, so stitching can only re-join true
    * sessions; SessionsSpec pins crafted boundary logs, and the
    * retired SkewProbe asserted frame equality on the zipf corpus:
    * OPTIMIZATION_r19.md "Retired flags and probes"). The value total sums
    * in EXACT INTEGER CENTS inside the partials (values are 2-dp by
    * construction) and divides once at the end — long addition
    * associates, so the two-level partial-then-stitch sum carries no
    * FP re-association hazard against [[sessionize]]'s single-pass
    * double sum at any SF or bucket width. */
  def sessionizeBucketed(events: DataFrame,
                         gapSeconds: Long = SessionGapSeconds,
                         bucketHours: Int = 7 * 24): DataFrame = {
    val bucketUs = bucketHours * 3600L * 1000000L
    val gapUs = gapSeconds * 1000000L
    val wB = Window.partitionBy("user_id", "bucket")
      .orderBy(col("ts"), col("event_id"))
    val flagged = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("bucket", expr(s"us div $bucketUs"))
      .withColumn("new_sess",
        when(lag(col("us"), 1).over(wB).isNull ||
          col("us") - lag(col("us"), 1).over(wB) > gapUs, 1).otherwise(0))
      .withColumn("pseq", sum(col("new_sess"))
        .over(wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val partial = flagged
      .groupBy(col("user_id"), col("bucket"), col("pseq"))
      .agg(count(lit(1)).as("n"),
        min(col("us")).as("min_us"), max(col("us")).as("max_us"),
        min(col("ts")).as("min_ts"),
        count(when(col("event_type") === "purchase", 1)).as("np"),
        // exact integer cents: round() recovers the 2-dp decimal the
        // double cell is the nearest representation of
        sum(round(col("value") * 100).cast("long")).as("sv_cents"))
    val wU = Window.partitionBy("user_id")
      .orderBy(col("min_us"), col("bucket"), col("pseq"))
    val stitched = partial
      .withColumn("new_grp",
        when(lag(col("max_us"), 1).over(wU).isNull ||
          col("min_us") - lag(col("max_us"), 1).over(wU) > gapUs, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("new_grp"))
        .over(wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    stitched
      .groupBy(col("user_id"), col("session_seq"))
      .agg(sum(col("n")).as("n_events"),
        min(col("min_ts")).as("session_start"),
        ((max(col("max_us")) - min(col("min_us"))) / lit(1000000L))
          .cast("long").as("duration_s"),
        sum(col("np")).as("n_purchases"),
        // cents/100 is the correctly-rounded double of the exact 2-dp
        // decimal — the same value round(double-sum, 2) produces as
        // long as the single-pass sum's error stays under 0.005, which
        // session-sized sums guarantee on both engines
        round(sum(col("sv_cents")) / 100.0, 2).as("total_value"))
      .orderBy("user_id", "session_seq")
  }

  /** q170 — q86's exact semantics through the bucketed plan: the
    * declared query that puts the skew mitigation through the oracle
    * hash gate (same oracle text as q86 — one answer, two plans).
    * total_value sums in exact integer cents inside the partials (see
    * [[sessionizeBucketed]]), so the two-level sum carries no FP
    * re-association hazard against the oracle's single-pass sum —
    * swept green at all three SFs through the exact-repr gate. */
  def q170BucketedSessions(t: T): DataFrame = sessionizeBucketed(t.events)

  /** q88 — the same 8 h session semantics through Spark's NATIVE
    * `session_window` aggregation (SessionWindowStateStore-backed in
    * streaming; merge-on-overlap in batch). Sessions merge on CLOSED
    * intervals — two events exactly `gap` apart DO merge, i.e. the split
    * rule is `> gap`, identical to q86's (SessionsSpec pins the boundary
    * on both). session_end is last event + gap by definition, the one
    * output-shape difference from q86.
    *
    * 100 TB shape: one shuffle on user_id; the session merge is a
    * per-key sorted pass inside the aggregate exec, and in streaming the
    * SAME query shape runs incrementally with watermark-bounded state
    * (SessionsSpec proves batch/stream row parity on a replayed log). */
  def q88SessionWindow(t: T): DataFrame = sessionWindow(t.events)

  /** The reusable native-session core — also the streaming query shape
    * (callers swap in a readStream frame and add a watermark). The gap
    * default derives from [[SessionGapSeconds]] so q86 and q88 cannot
    * silently diverge when the constant is tuned. */
  def sessionWindow(events: DataFrame,
                    gap: String = s"$SessionGapSeconds seconds"): DataFrame =
    sessionWindowAgg(events, gap).orderBy("user_id", "session_start")

  /** The aggregate WITHOUT the serving sort — the streaming query shape
    * (append mode forbids a sort; q92 sorts after the sink readback). */
  def sessionWindowAgg(events: DataFrame,
                       gap: String = s"$SessionGapSeconds seconds"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value"))

  /** q89 — as-of join: each purchase picks up the value of the same
    * user's most recent strictly-earlier view (purchases before views on
    * timestamp ties, so a same-instant view never matches). Implemented
    * as the UNION + running-last window — the as-of pattern that scales:
    * one shuffle on the user key, no range join, no per-row subquery.
    *
    * 100 TB shape: the union is two filters over one scan (tag column,
    * no second read); the window is a single (user_id) partitioning with
    * an unbounded-preceding→1-preceding frame, so state per key is one
    * running value — never a buffered range. A time-bucketed variant
    * (bucket join + intra-bucket window) is the documented fallback when
    * one user's history exceeds a partition. */
  def q89AsofJoin(t: T): DataFrame = asofViewBeforePurchase(t.events)

  /** The reusable as-of core — public so specs drive hand-built logs
    * through the identical pipeline. */
  def asofViewBeforePurchase(events: DataFrame): DataFrame = {
    val u = events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        when(col("event_type") === "view", col("value")).as("vv"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("isp"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("isp").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    u.withColumn("prior_view_value", last(col("vv"), ignoreNulls = true).over(w))
      .filter(col("isp") === 1)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").as("purchase_value"), col("prior_view_value"))
      .orderBy("user_id", "event_id")
  }

  /** q108 — the SAME as-of attribution through the NATIVE operator
    * ([[graft.plans.AsOfJoin]]): logical node → injected planner
    * strategy → sort-merge physical exec with a single buffered row per
    * partition. Where q89's window composition logically carries an
    * unbounded-preceding frame, the native merge holds exactly one
    * candidate row — the operator-level statement of the same 100 TB
    * plan. Both sides shuffle once on user_id (identical movement to a
    * SortMergeJoin); tie on view time breaks to the larger view
    * event_id, and the matched view's id is carried as attribution
    * (which the q89 window form cannot produce without widening its
    * running state). AsOfJoinSpec pins parity with a window replay on
    * random tied corpora; the oracle replays the argmax in SQL. */
  def q108AsofNative(t: T): DataFrame = {
    val purchases = t.events.filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts", "value")
    val views = t.events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("v_event_id"),
        col("ts").as("v_ts"), col("value").as("v_value"))
    graft.plans.AsOf.join(purchases, views,
        "user_id", "v_user_id", "ts", "v_ts", "v_event_id")
      .select(col("user_id"), col("event_id"), col("ts"),
        round(col("value"), 2).as("purchase_value"),
        col("v_event_id").as("prior_view_id"),
        round(col("v_value"), 2).as("prior_view_value"))
      .orderBy("user_id", "event_id")
  }

  /** q87 — strict ordered funnel signup → view → click → purchase: a user
    * advances to step k+1 on the FIRST step-k+1 event strictly after
    * their step-k timestamp and within [[FunnelWindowHours]] of it; the
    * output is one row per step with the surviving user count.
    *
    * 100 TB shape: each step is a filter + equi-join on user_id + min
    * aggregate; the per-step frames shrink monotonically (one row per
    * surviving user), so after step 1 every join's build side is
    * broadcast-sized under AQE and the only full-table work is the
    * per-step event_type filter riding the same scan. Timestamps compare
    * at microsecond precision (plain timestamp <, no float epochs). */
  def q87Funnel(t: T): DataFrame = funnel(t.events)

  /** The reusable funnel core — public so specs drive hand-built logs
    * through the identical pipeline. */
  def funnel(events: DataFrame,
             windowHours: Int = FunnelWindowHours): DataFrame = {
    val e = events.select(col("user_id"), col("ts"), col("event_type"))
    def step(prev: DataFrame, prevT: String, typ: String, outT: String): DataFrame =
      e.filter(col("event_type") === typ)
        .join(prev.select(col("user_id"), col(prevT)), Seq("user_id"))
        .filter(col("ts") > col(prevT) &&
          col("ts") <= col(prevT) + expr(s"INTERVAL $windowHours HOURS"))
        .groupBy("user_id").agg(min(col("ts")).as(outT))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = step(s1, "t1", "view", "t2")
    val s3 = step(s2, "t2", "click", "t3")
    val s4 = step(s3, "t3", "purchase", "t4")
    Seq(("signup", s1), ("view", s2), ("click", s3), ("purchase", s4)).zipWithIndex
      .map { case ((typ, df), i) =>
        df.agg(count(lit(1)).as("users"))
          .select(lit(i + 1).as("step"), lit(typ).as("event_type"), col("users")) }
      .reduce(_ unionByName _)
      .orderBy("step")
  }

  /** q123 — the DECLARED fixed-width RANGE join: company-wide returned
    * shipments in the 3-day window after each urgent order was placed.
    * The query states the naive `l_shipdate BETWEEN o_orderdate AND
    * o_orderdate + 2 days` predicate with NO equi-key; the
    * RangeJoinRewrite optimizer rule (registered by GraftExtensions,
    * `plans/RangeJoinRewrite.scala`) plans it as the exact bucketed
    * equi-join — without the rule Spark's only plan is a
    * BroadcastNestedLoopJoin over every (order, shipment) pair, which is
    * exactly what PlanAuditSpec asserts this query does NOT plan.
    * RangeJoinRewriteSpec pins rewrite ≡ naive, boundary inclusivity,
    * negative-domain bucketing, and multiplicity. */
  def q123RangeJoin(t: T): DataFrame = {
    val o = t.orders
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_date"))
    val l = t.lineitem
      .filter(col("l_returnflag") === "R")
      .select(col("l_shipdate").cast("date").as("ship_date"), col("l_quantity"))
    o.join(l, col("ship_date") >= col("o_date") &&
        col("ship_date") <= date_add(col("o_date"), 2))
      .groupBy("o_orderkey", "o_date")
      .agg(count(lit(1)).as("n_shipments"),
        round(sum("l_quantity"), 2).as("qty"))
      .orderBy("o_orderkey")
  }

  /** q124 — the TIMESTAMP form of the declared range join: campaign-level
    * exposure attribution with NO user key — every purchase anywhere in
    * the 2 hours after each signup (the q99 stream-stream interval join's
    * batch analog, minus the per-user equi-key that would have bounded
    * it). Stock Spark's only plan is the nested-loop product over
    * signups × purchases; RangeJoinRewrite bins the time axis at the
    * 2-hour window width (exact microseconds from the day-time interval
    * literal) and plans the bucketed equi-join — PlanAuditSpec's
    * no-product-join assertion covers this query too. Counts are exact
    * integers; the value sum rounds at 2 dp. */
  def q124TsRangeJoin(t: T): DataFrame = {
    val s = t.events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("ts").as("s_ts"))
    val p = t.events.filter(col("event_type") === "purchase")
      .select(col("ts").as("p_ts"), col("value"))
    s.join(p, col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"))
      .groupBy("signup_id", "s_ts")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("value"), 2).as("purchase_value"))
      .orderBy("signup_id")
  }

  /** Retention horizon (day offsets 0..7) for the cohort matrix. */
  val RetentionDays = 7

  /** q163 — COHORT RETENTION: the canonical event-analytics matrix the
    * funnel/session family was missing. Users cohort by their FIRST
    * signup day; cell (cohort_day, offset) counts the cohort's distinct
    * users with a purchase exactly `offset` days later, with retention
    * in exact per-mille (the q155 integer-ratio device). Cells with
    * zero actives are EMITTED (cohorts cross-join the 0..7 offset
    * range before the left join), so the matrix shape is dense and the
    * hash pins the zeros too.
    *
    * 100 TB shape: two user-keyed shuffles — the per-user min-signup
    * aggregate and the distinct (user, day) purchase projection — meet
    * in one equi-join on user_id; the final (cohort, offset) aggregate
    * is cohort-sized. No windows, no driver state; skew-safe unless a
    * single user dominates the log (the family's standing discipline).
    * Dates are day-truncated timestamps compared as dates, and
    * date_diff is exact integer days on both engines. */
  def q163CohortRetention(t: T): DataFrame =
    cohortRetention(t.events, RetentionDays)

  def cohortRetention(events: DataFrame, horizon: Int): DataFrame = {
    import graft.Serve._
    // cohort assignment: first signup DAY per user (min over exact ts,
    // then truncate — same value as min over days, one fewer cast)
    val cohorts = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"), to_date(col("first_ts")).as("cohort_day"))
      .localCheckpoint(false) // feeds sizes AND the activity join
    val sizes = cohorts.groupBy("cohort_day")
      .agg(count(lit(1)).as("n_cohort"))
    // distinct purchase days per user (pre-aggregated before the join)
    val active = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val hits = cohorts.join(active, Seq("user_id"))
      .withColumn("offset", datediff(col("day"), col("cohort_day")))
      .filter(col("offset") >= 0 && col("offset") <= horizon)
      .groupBy("cohort_day", "offset")
      .agg(countDistinct("user_id").as("n_active"))
    // dense matrix: every (cohort_day, offset) cell exists — the
    // offset range explodes in-row (no join, no product plan)
    val grid = sizes.withColumn("offset",
      explode(sequence(lit(0), lit(horizon))))
    grid.join(hits, Seq("cohort_day", "offset"), "left")
      .select(col("cohort_day"), col("offset"), col("n_cohort"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        expr("coalesce(n_active, 0) * 1000 DIV n_cohort")
          .as("retention_pm"))
      .smallSort("cohort_day", "offset")
  }
}
