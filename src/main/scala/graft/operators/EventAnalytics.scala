package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-stream analytics over the (user, timestamp, type) shape — the
  * funnel/retention queries the reference's operators ran against their
  * event warehouse via delegated HiveQL, restated as engine operators.
  * Timestamps are the engine's BIGINT-nanoseconds contract
  * ([[graft.queries.T.events]]).
  */
object EventAnalytics {

  /** The session cut: consecutive events of one user more than 30 minutes
    * apart start a new session — the q14Sessionize gap the oracles
    * replay, in the engine's nanosecond timestamps. */
  val SessionGapNanos: Long = 1800L * 1000000000L
  /** Prior days [[eventAnomaly]] z-scores each day against: one week. */
  private val AnomalyTrailingDays = 7
  /** Decay periods after which [[timeDecayedPopularity]] weighs an event
    * 0: below 2^-36 of the newest event's weight, noise by construction. */
  private val DecayMaxShift = 36
  /** Preceding same-session events [[nextEventExamples]] keeps as
    * context: the oracle's three lags. */
  private val NextEventHistory = 3

  /** The funnel family's skew guard: keep each user's EARLIEST `cap`
    * step-typed events ((ts, et) tie-broken, so the slice is
    * deterministic), via a spillable per-user window sort BEFORE any
    * collect — a single bot/power user with millions of step-typed
    * events would otherwise materialize one unbounded array in the
    * aggregation buffer. cap = 0 passes through untouched (no window
    * pass is added). Expects the (user_id, ts, et) projection.
    */
  private def sliceEarliest(typed: DataFrame, cap: Int): DataFrame =
    keepEarliest(typed, Seq(col("user_id")), Seq(col("ts"), col("et")), cap)

  /** The generic form of the skew guard: keep each partition group's
    * EARLIEST `cap` rows under `orderCols` (which must fully tie-break
    * for determinism). cap = 0 passes through with no window added.
    */
  private def keepEarliest(df: DataFrame, partitionCols: Seq[Column],
      orderCols: Seq[Column], cap: Int): DataFrame =
    if (cap == 0) df
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(partitionCols: _*).orderBy(orderCols: _*)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= cap)
        .drop("__rn")
    }

  /** Append a per-user session sequence under the gap rule (new session
    * when ts − prev > gapNanos; prev NULL starts one): ONE lag + running
    * sum over a shared (user, orderCols) window sort. `orderCols` must
    * start with the `ts` column and fully tie-break. Every gap-session
    * operator here routes through THIS definition — the boundary
    * convention (strict >; see the session_window open/closed note in
    * [[graft.streaming.Streams.sessionTranscripts]]) must never diverge
    * between them.
    */
  private def withSessionSeq(df: DataFrame, userCol: String,
      orderCols: Seq[Column], gapNanos: Long, out: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(orderCols: _*)
    df.withColumn("__new",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") - lag(col("ts"), 1).over(w) > gapNanos, 1L)
          .otherwise(0L))
      .withColumn(out, sum(col("__new")).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .drop("__new")
  }

  /** Ordered-funnel conversion: how many users performed `steps` in order
    * (strictly increasing timestamps — an equal-timestamp pair does NOT
    * advance, matching the SQL min-chain `ts > prev` the oracle replays).
    * Matching is greedy-earliest, which is equivalent to the sequential
    * "min ts of step k+1 after step k's min" chain. Output: one row per
    * step — (step, step_name, users_reached), users_reached
    * monotonically non-increasing.
    *
    * Scale shape: events are filtered to the step types map-side, then ONE
    * groupBy(user) collects each user's (ts, type) list — per-user input
    * is that user's step-typed events only, the classic funnel bound; the
    * greedy fold is a per-row linear scan. No corpus-wide window, no
    * self-join per step (an n-step chain as n joins would shuffle the
    * event table n times).
    *
    * `maxEventsPerUser` is the skew guard (the pattern of the other
    * operators' K-caps): a single bot/power user with millions of
    * step-typed events would otherwise materialize one unbounded array in
    * the aggregation buffer. With a cap, each user keeps only their
    * EARLIEST `maxEventsPerUser` step-typed events — sliced by a
    * spillable per-user window sort BEFORE the collect, so the array is
    * ≤ cap — and the funnel depth is computed over that slice. Users at
    * or under the cap are untouched (the greedy-earliest chain over all
    * events equals the chain over the earliest-cap slice whenever the
    * chain completes inside it); a conversion whose k-th step first
    * occurs after the user's cap-th event is not counted — the documented
    * bound, deterministic via the (ts, et) tie-broken slice order.
    * 0 = uncapped (no window pass is added).
    */
  def funnel(df: DataFrame, user: Column, tsNanos: Column, eventType: Column,
      steps: Seq[String], maxEventsPerUser: Int = 0): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size, s"duplicate steps: $steps")
    require(maxEventsPerUser >= 0,
      s"maxEventsPerUser must be >= 0 (0 = uncapped), got $maxEventsPerUser")
    val n = steps.size
    val stepArr = array(steps.map(lit): _*)
    val typed = df
      .select(user.as("user_id"), tsNanos.as("ts"), eventType.as("et"))
      .filter(col("et").isin(steps: _*))
    val depths = sliceEarliest(typed, maxEventsPerUser)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("ts"), col("et")))).as("evs"))
      .select(col("user_id"),
        aggregate(col("evs"),
          struct(lit(0).as("d"), lit(Long.MinValue).as("t")),
          (acc, e) =>
            when(acc.getField("d") < n &&
                e.getField("et") === element_at(stepArr, acc.getField("d") + 1) &&
                e.getField("ts") > acc.getField("t"),
              struct((acc.getField("d") + 1).as("d"),
                e.getField("ts").as("t")))
            .otherwise(acc),
          acc => acc.getField("d")).as("depth"))
    val counts = depths
      .select(explode(sequence(lit(1), lit(n))).as("step"), col("depth"))
      .groupBy(col("step"))
      .agg(sum(when(col("depth") >= col("step"), 1L).otherwise(0L))
        .as("__reached"))
    // anchor on a literal step frame so the contract "one row per step"
    // holds even when NO user has any step-typed event (the aggregation
    // above is empty then, but the report must still show zeros)
    df.sparkSession.range(1, n + 1)
      .select(col("id").cast("int").as("step"))
      .join(counts, Seq("step"), "left")
      .select(col("step"),
        element_at(stepArr, col("step")).as("step_name"),
        coalesce(col("__reached"), lit(0L)).as("users_reached"))
  }

  /** Funnel LATENCY: for every user on the greedy chain of [[funnel]],
    * the time from their step-1 match to each later step they reached —
    * reported per step as (users_reached, p50, p90) in nanoseconds. The
    * "how long does conversion take" half of the funnel readout;
    * percentiles are DISCRETE (values drawn from the data — exact longs,
    * bit-identical in any engine; interpolated percentiles are avoided
    * for the usual cross-engine float reason). Step 1's latency is 0 by
    * definition; steps no user reached emit no row (there is no latency
    * to summarize — unlike [[funnel]]'s zero-anchored counts).
    *
    * Scale shape: the [[funnel]] fold with the chain timestamps carried
    * in the accumulator (bounded by |steps|), one posexplode of those
    * ≤ |steps| entries per user, and per-step percentiles via
    * [[graft.operators.Quantiles.discPicks]] (bit-equal to
    * `percentile_disc` — QuantilesSpec): per-(step, latency) counts and
    * a spillable ordered pick, NOT the aggregate, whose final merge
    * would hold a step's ENTIRE latency set (≈ one value per reaching
    * user — |steps| groups over corpus-sized users) in one task's
    * OpenHashMap. The user count rides the same pass (rowCountCol).
    * `maxEventsPerUser` is
    * [[funnel]]'s skew guard with [[funnel]]'s exact semantics: each
    * user's earliest-cap step-typed slice feeds the chain, so a
    * conversion completed only past the cap contributes no latency row.
    */
  def funnelLatency(df: DataFrame, user: Column, tsNanos: Column,
      eventType: Column, steps: Seq[String],
      maxEventsPerUser: Int = 0): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size, s"duplicate steps: $steps")
    require(maxEventsPerUser >= 0,
      s"maxEventsPerUser must be >= 0 (0 = uncapped), got $maxEventsPerUser")
    val n = steps.size
    val stepArr = array(steps.map(lit): _*)
    val typed = df
      .select(user.as("user_id"), tsNanos.cast("long").as("ts"),
        eventType.as("et"))
      .filter(col("et").isin(steps: _*))
    val chains = sliceEarliest(typed, maxEventsPerUser)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("ts"), col("et")))).as("evs"))
      .select(col("user_id"),
        aggregate(col("evs"),
          struct(lit(0).as("d"), lit(Long.MinValue).as("t"),
            array().cast("array<long>").as("ch")),
          (acc, e) =>
            when(acc.getField("d") < n &&
                e.getField("et") === element_at(stepArr, acc.getField("d") + 1) &&
                e.getField("ts") > acc.getField("t"),
              struct((acc.getField("d") + 1).as("d"),
                e.getField("ts").as("t"),
                concat(acc.getField("ch"), array(e.getField("ts"))).as("ch")))
            .otherwise(acc),
          acc => acc.getField("ch")).as("ch"))
      .filter(size(col("ch")) > 0)
    val lats = chains
      .select(element_at(col("ch"), 1).as("t0"),
        posexplode(col("ch")).as(Seq("pos", "tk")))
      .select((col("pos") + 1).cast("int").as("step"),
        (col("tk") - col("t0")).as("lat"))
    // the pick returns DOUBLE exactly like percentile_disc; the value is
    // drawn from the data (an exact long), so cast back — a latency would
    // need to exceed 2^53 ns (~104 days) before the round-trip could lose
    // a ulp, and keeping the column integral is what lets the oracle
    // compare exactly. `lat` is never null, so rowCountCol == count(*).
    Quantiles.discPicks(lats, Seq("step"),
        Seq(("__p50", "lat", 0.5), ("__p90", "lat", 0.9)),
        rowCountCol = Some("users_reached"))
      .select(col("step"), element_at(stepArr, col("step")).as("step_name"),
        col("users_reached"), col("__p50").cast("long").as("p50_nanos"),
        col("__p90").cast("long").as("p90_nanos"))
  }

  /** RFM segmentation (recency / frequency / monetary — the classic
    * customer-value grid): per user, days since their last qualifying
    * event (relative to the dataset's last event day, so the report is
    * self-contained and replayable), the count of qualifying events, and
    * the exact DECIMAL(18,2) sum of `value` (decimal, not float — a money
    * SUM's float order is engine-chosen); each dimension then scores 1–5
    * by NTILE over (metric, user_id) — rank-based quintiles with a unique
    * tiebreak, so equal metrics land deterministically and both engines
    * replay the standard SQL NTILE distribution. Higher score = better:
    * more recent, more frequent, bigger spend.
    *
    * Scale shape: events collapse to one row per user in a 2-phase
    * aggregation before anything else; the three NTILEs are global sorts
    * of |users| rows — the RFM contract (rank quintiles over the whole
    * user base). At 10⁹ users swap the NTILEs for KLL quantile cuts
    * (the [[Layout]] curriculum machinery) and accept the sketch's rank
    * error; here the exact ranks are the gate.
    */
  def rfmSegments(df: DataFrame, user: Column, tsNanos: Column,
      qualifying: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = 86400000000000L
    val asOf = broadcast(df
      .select(tsNanos.cast("long").as("__ts"))
      .agg(expr(s"max(__ts div $day)").as("__asof")))
    val perUser = df
      .select(user.as("user_id"), tsNanos.cast("long").as("__ts"),
        qualifying.as("__q"), value.cast("decimal(18,2)").as("__v"))
      .filter(col("__q"))
      .select(col("user_id"), expr(s"__ts div $day").as("__day"), col("__v"))
      .groupBy(col("user_id"))
      .agg(max(col("__day")).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col("__v")).as("monetary"))
      .crossJoin(asOf)
      .select(col("user_id"),
        (col("__asof") - col("__last")).cast("int").as("recency_days"),
        col("frequency"), col("monetary"))
    val r = Window.orderBy(col("recency_days").desc, col("user_id"))
    val f = Window.orderBy(col("frequency"), col("user_id"))
    val m = Window.orderBy(col("monetary"), col("user_id"))
    perUser
      .withColumn("r_score", ntile(5).over(r))
      .withColumn("f_score", ntile(5).over(f))
      .withColumn("m_score", ntile(5).over(m))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
  }

  /** Per-variant conversion stats for experiment analysis: users grouped
    * by `variant`, conversion = the user has ≥ 1 row with `converted`
    * true. Output: (variant, n_users, n_converted, cvr), one row per
    * variant. A user's variant must be a function of the user (a hash
    * bucket, an assignment column) — a user appearing under two variants
    * is counted in both, which is an experiment-integrity bug upstream,
    * not something this report papers over.
    *
    * Scale shape: one (user, variant) 2-phase aggregation collapses the
    * event table to a row per user, then a |variants|-row aggregation —
    * both partial-aggregated; events never shuffle wider than
    * (user, variant, bit).
    */
  def conversionByVariant(df: DataFrame, user: Column, variant: Column,
      converted: Column): DataFrame =
    df.select(user.as("user_id"), variant.as("variant"), converted.as("__c"))
      .groupBy(col("user_id"), col("variant"))
      .agg(max(when(col("__c"), 1L).otherwise(0L)).as("__conv"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("__conv")).as("n_converted"))
      .select(col("variant"), col("n_users"), col("n_converted"),
        (col("n_converted").cast("double") / col("n_users").cast("double"))
          .as("cvr"))

  /** Two-proportion z-test between variants `a` and `b` (the standard
    * pooled-SE A/B readout): one row — per-variant counts and rates, the
    * absolute lift (cvr_a − cvr_b), and
    * z = lift / sqrt(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ the pooled rate.
    * Every step is a two-operand IEEE op in a FIXED order (sqrt is
    * correctly rounded), so the oracle replays it bit-for-bit; a variant
    * with zero or universal conversion yields an infinite/NaN z — gate on
    * the counts before reading z there.
    */
  def abTestZ(df: DataFrame, user: Column, variant: Column,
      converted: Column, a: String, b: String): DataFrame = {
    val s = conversionByVariant(df, user, variant, converted)
    def side(v: String, suffix: String) =
      s.filter(col("variant").cast("string") === v)
        .select(col("n_users").as(s"n_$suffix"),
          col("n_converted").as(s"conv_$suffix"),
          col("cvr").as(s"cvr_$suffix"))
    side(a, "a").crossJoin(side(b, "b"))
      .withColumn("lift", col("cvr_a") - col("cvr_b"))
      .withColumn("__pooled",
        (col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"))
      .withColumn("z",
        col("lift") / sqrt(col("__pooled") * (lit(1.0) - col("__pooled")) *
          (lit(1.0) / col("n_a").cast("double") +
            lit(1.0) / col("n_b").cast("double"))))
      .drop("__pooled")
  }

  /** Session-aware event-transition counts — the Markov/Sankey source
    * table behind "where do users go after X" product analytics: for each
    * pair of CONSECUTIVE events by the same user within one session
    * (gap ≤ [[SessionGapNanos]], the [[graft.queries.Relational.q14Sessionize]]
    * gap rule), count the (from_type → to_type) transition. Output: one
    * row per observed ordered pair — (from_type, to_type, n_transitions,
    * n_users) — with n_users the number of distinct users who made that
    * transition at least once.
    *
    * Ordering inside a user is (ts, `tieBreak`); pass a unique-per-row
    * column (an event id) so equal-timestamp events order identically in
    * any engine — without it the transition multiset is
    * nondeterministic exactly at ts collisions.
    *
    * Scale shape: ONE window pass partitioned by user (Spark's window
    * sort spills; no per-user array materializes — the funnel's
    * collect-and-fold is wrong here because transitions need adjacency,
    * not a custom fold), then two partial-aggregated groupBys over
    * (type, type, user) / (type, type) rows — narrow strings, cardinality
    * ≤ |event types|² · |users| and typically far below it. Events never
    * shuffle wider than (user, ts, type, tiebreak).
    */
  def eventTransitions(df: DataFrame, user: Column, tsNanos: Column,
      eventType: Column, tieBreak: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("tb"))
    val byUser = df.select(user.as("user_id"), tsNanos.cast("long").as("ts"),
        eventType.as("et"), tieBreak.as("tb"))
      .select(col("user_id"), col("et"), col("ts"),
        lag(col("et"), 1).over(w).as("prev_et"),
        lag(col("ts"), 1).over(w).as("prev_ts"))
      .filter(col("prev_et").isNotNull &&
        col("ts") - col("prev_ts") <= SessionGapNanos)
    byUser
      .groupBy(col("prev_et").as("from_type"), col("et").as("to_type"),
        col("user_id"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("__c")).as("n_transitions"),
        count(lit(1)).as("n_users"))
  }

  /** Retention cohorts: users grouped by their first-active epoch day, and
    * for each day offset 0..`maxOffset`, how many of that cohort were
    * active. Day = integer division of the nanosecond timestamp (exact;
    * no timezone math — the engine's UTC contract). Output:
    * (cohort_day, day_offset, users).
    *
    * Scale shape: the (user, day) distinct projection collapses the event
    * table to at most users × active-days rows before anything else; the
    * cohort min and the offset count are two more partial-aggregated
    * groupBys over those narrow rows.
    */
  def retentionCohorts(df: DataFrame, user: Column, tsNanos: Column,
      maxOffset: Int = 7): DataFrame = {
    require(maxOffset >= 0, s"maxOffset must be >= 0, got $maxOffset")
    // `div` is INTEGRAL division — Column./ is double division, and a
    // ~1.7e18 nanosecond timestamp is far past 2^53, so the double round
    // trip would land whole events on the wrong day
    val days = df
      .select(user.as("user_id"), tsNanos.cast("long").as("__ts"))
      .select(col("user_id"), expr("__ts div 86400000000000").as("day"))
      .distinct()
    val cohorts = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, Seq("user_id"))
      .select(col("cohort_day"),
        (col("day") - col("cohort_day")).cast("int").as("day_offset"))
      .filter(col("day_offset") <= maxOffset)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("users"))
  }

  /** Trailing-window anomaly screen over daily event volumes — the
    * model-free "did a feed break / spike today" monitor: per event type,
    * each day's count is z-scored against the mean/std of the
    * [[AnomalyTrailingDays]] OBSERVED days before it (days with zero
    * events don't appear — calendar gaps are the upstream signal
    * [[graft.operators.Diagnostics.sourceDrift]] catches content-wise;
    * this screen reads volumes). Output: (event_type, day, n_events,
    * mean_prior, std_prior, z), only rows with a full prior (a partial
    * prior makes z noise); z is NULL when the prior is constant (std 0 — a division
    * there would manufacture ±Inf alerts from one-count jitter).
    *
    * Determinism: counts and the frame sums (Σx, Σx²) are exact longs;
    * mean/var/z is a fixed-order IEEE chain with the variance floored at
    * 0 before sqrt (the exact-math identity can land one ulp negative).
    *
    * Scale shape: events collapse to (type, day) rows FIRST (one
    * partial-aggregated groupBy — the only corpus-sized exchange), then
    * one window per event type over its day series (|types| × |days|
    * rows — trivially small at any corpus scale).
    */
  def eventAnomaly(df: DataFrame, eventType: Column, tsNanos: Column): DataFrame = {
    val daily = df.select(eventType.as("event_type"),
        tsNanos.cast("long").as("__ts"))
      .select(col("event_type"), expr("__ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-AnomalyTrailingDays, -1)
    val nD = lit(AnomalyTrailingDays.toDouble)
    val withSums = daily
      .withColumn("__np", count(lit(1)).over(w))
      .withColumn("__s", sum(col("n_events")).over(w))
      .withColumn("__s2", sum(col("n_events") * col("n_events")).over(w))
      .filter(col("__np") === AnomalyTrailingDays)
    val mean = col("__s").cast("double") / nD
    val variance = greatest(lit(0.0),
      (col("__s2").cast("double") -
        col("__s").cast("double") * col("__s").cast("double") / nD) /
        (nD - lit(1.0)))
    withSums
      .withColumn("mean_prior", mean)
      .withColumn("std_prior", sqrt(variance))
      .withColumn("z", when(col("std_prior") > 0,
        (col("n_events").cast("double") - col("mean_prior")) /
          col("std_prior")))
      .select(col("event_type"), col("day"), col("n_events"),
        col("mean_prior"), col("std_prior"), col("z"))
  }

  /** Session-scoped conversion attribution — the first-touch/last-touch
    * report behind "which channel gets credit for this purchase":
    * sessions are cut at [[SessionGapNanos]] (the [[eventTransitions]] gap
    * rule), and every conversion event is attributed to the FIRST and the
    * LAST non-conversion event earlier in its own session. Output: one
    * row per touch type — (touch_type, n_first_touch, n_last_touch) —
    * the two classic attribution models side by side (they disagree
    * exactly where multi-step paths exist, which is the point of reading
    * both). Conversions with no preceding touch in their session are
    * counted under touch_type "(none)".
    *
    * Ordering inside a user is (ts, `tieBreak`) — pass a unique column so
    * equal-timestamp events attribute identically in any engine.
    *
    * Scale shape: TWO window passes over the same user partitioning (the
    * session cumsum, then the first/last frame — Catalyst fuses them
    * into one sort), then a touch-type-sized aggregation; events never
    * shuffle wider than (user, ts, type, tiebreak). The window sort
    * spills, so a bot user is slow but not fatal.
    */
  def conversionAttribution(df: DataFrame, user: Column, tsNanos: Column,
      eventType: Column, tieBreak: Column, conversion: Column): DataFrame = {
    val base = withSessionSeq(
      df.select(user.as("u"), tsNanos.cast("long").as("ts"),
        eventType.as("et"), tieBreak.as("tb"), conversion.as("conv")),
      "u", Seq(col("ts"), col("tb")), SessionGapNanos, "sess")
    val wSess = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u"), col("sess")).orderBy(col("ts"), col("tb"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val attributed = base
      .withColumn("first_touch",
        first(when(!col("conv"), col("et")), ignoreNulls = true).over(wSess))
      .withColumn("last_touch",
        last(when(!col("conv"), col("et")), ignoreNulls = true).over(wSess))
      .filter(col("conv"))
      .select(coalesce(col("first_touch"), lit("(none)")).as("ft"),
        coalesce(col("last_touch"), lit("(none)")).as("lt"))
    val byFirst = attributed.groupBy(col("ft").as("touch_type"))
      .agg(count(lit(1)).as("n_first_touch"))
    val byLast = attributed.groupBy(col("lt").as("touch_type"))
      .agg(count(lit(1)).as("n_last_touch"))
    byFirst.join(byLast, Seq("touch_type"), "full_outer")
      .select(col("touch_type"),
        coalesce(col("n_first_touch"), lit(0L)).as("n_first_touch"),
        coalesce(col("n_last_touch"), lit(0L)).as("n_last_touch"))
  }

  /** Three-step session path mining — the "what do users actually do"
    * readout one hop deeper than [[eventTransitions]]: every consecutive
    * (e1 → e2 → e3) triple whose BOTH gaps fall inside one session
    * (each step-to-step gap ≤ [[SessionGapNanos]] — the same boundary rule
    * as the transition operator, applied per hop), counted across the
    * corpus with the number of distinct users walking the path.
    * Output: (step1, step2, step3, n_paths, n_users), most-walked first
    * with the (step1, step2, step3) lexicographic tiebreak.
    *
    * Determinism: adjacency comes from two `lag`s over the same
    * (ts, tieBreak) user ordering as [[eventTransitions]] — the caller's
    * unique tiebreak makes the walk order (and so every triple)
    * well-defined at timestamp collisions.
    *
    * Scale shape: ONE window pass partitioned by user (two lags share
    * one sort lineage), then the two-level (triple, user) / (triple)
    * partial-aggregated groupBys — output cardinality is bounded by
    * |event types|³, never by the corpus. Events shuffle once, as
    * (user, ts, type, tiebreak).
    */
  def sessionPaths(df: DataFrame, user: Column, tsNanos: Column,
      eventType: Column, tieBreak: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("tb"))
    df.select(user.as("user_id"), tsNanos.cast("long").as("ts"),
        eventType.as("et"), tieBreak.as("tb"))
      .select(col("user_id"), col("et"), col("ts"),
        lag(col("et"), 1).over(w).as("e2"),
        lag(col("ts"), 1).over(w).as("ts2"),
        lag(col("et"), 2).over(w).as("e1"),
        lag(col("ts"), 2).over(w).as("ts1"))
      .filter(col("e1").isNotNull &&
        col("ts") - col("ts2") <= SessionGapNanos &&
        col("ts2") - col("ts1") <= SessionGapNanos)
      .groupBy(col("e1").as("step1"), col("e2").as("step2"),
        col("et").as("step3"), col("user_id"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("step1"), col("step2"), col("step3"))
      .agg(sum(col("__c")).as("n_paths"), count(lit(1)).as("n_users"))
      .orderBy(col("n_paths").desc, col("step1"), col("step2"), col("step3"))
  }

  /** Session transcript assembly — the SFT/dialog data-prep shape: events
    * sessionize per user (gap rule, the [[sessionPaths]] convention) and
    * each session becomes ONE ordered multi-turn transcript record
    * ("role: content" lines joined by newline), the unit a
    * conversation-tuning pipeline tokenizes. Turn order is (ts, role,
    * content) — fully tie-broken, so the assembled text is deterministic
    * under any partitioning. NULL content reads as '' (a missing payload
    * must not null the whole transcript).
    *
    * Output: (user_id, session_seq 1-based, session_start, n_turns,
    * duration_ns, n_chars, transcript) — consumers hash or tokenize
    * `transcript` downstream.
    *
    * `maxTurnsPerSession` is the funnel-family skew guard: a bot session
    * with millions of events would otherwise assemble one unbounded
    * string in the aggregation buffer; with a cap each session keeps its
    * EARLIEST cap turns (same window sort, one extra row_number). 0 =
    * uncapped.
    *
    * Scale shape: the lag/cumsum session assignment and the optional cap
    * share one per-user window sort (spillable, user-partitioned — no
    * global sort); then ONE groupBy(user, session) assembles each
    * transcript via array_sort(collect_list) over that session's turns
    * only. Events shuffle once, as (user, ts, role, content).
    */
  def sessionTranscripts(df: DataFrame, user: Column, tsNanos: Column,
      role: Column, content: Column,
      maxTurnsPerSession: Int = 0): DataFrame = {
    require(maxTurnsPerSession >= 0,
      s"maxTurnsPerSession must be >= 0 (0 = uncapped), got $maxTurnsPerSession")
    val sessioned = withSessionSeq(
      df.select(user.as("user_id"), tsNanos.cast("long").as("ts"),
        // role coalesces too: concat(NULL, ...) would NULL the line and
        // array_join would then DROP it while n_turns still counts it
        coalesce(role, lit("")).as("role"),
        coalesce(content, lit("")).as("content")),
      "user_id", Seq(col("ts"), col("role"), col("content")),
      SessionGapNanos, "session_seq")
    keepEarliest(sessioned,
        Seq(col("user_id"), col("session_seq")),
        Seq(col("ts"), col("role"), col("content")), maxTurnsPerSession)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_turns"),
        min(col("ts")).as("session_start"),
        (max(col("ts")) - min(col("ts"))).as("duration_ns"),
        array_join(transform(
          array_sort(collect_list(
            struct(col("ts"), col("role"), col("content")))),
          t => concat(t.getField("role"), lit(": "),
            t.getField("content"))), "\n").as("transcript"))
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("n_turns"), col("duration_ns"),
        length(col("transcript")).cast("long").as("n_chars"),
        col("transcript"))
  }

  /** Next-event training examples — the session-based sequence-model
    * dataset (next-item recommendation, behavioral LM pretraining): for
    * every event with at least one same-session predecessor, emit
    * (context = up to [[NextEventHistory]] preceding event types in order,
    * label = this event's type). Sessionization is the [[sessionPaths]]
    * gap rule; `tieBreak` (a unique column — event id) makes equal-ts
    * ordering deterministic.
    *
    * Output: (user_id, ts, tie, next_et, ctx, ctx_len) — one row per
    * qualifying event, `ctx` the '>'-joined history oldest-first.
    *
    * Scale shape: the session assignment and the history lags share one
    * per-user sort lineage (the (user, session) window orders by the
    * same keys, so no second exchange is required beyond the key
    * refinement); everything else is map-only projection. Output is
    * corpus-sized by design — it IS the training set.
    */
  def nextEventExamples(df: DataFrame, user: Column, tsNanos: Column,
      eventType: Column, tieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sessioned = withSessionSeq(
      df.select(user.as("user_id"), tsNanos.cast("long").as("ts"),
        eventType.as("et"), tieBreak.as("tb")),
      "user_id", Seq(col("ts"), col("tb")), SessionGapNanos, "__sess")
    val ws = Window.partitionBy(col("user_id"), col("__sess"))
      .orderBy(col("ts"), col("tb"))
    val lags = (NextEventHistory to 1 by -1).map(k => lag(col("et"), k).over(ws))
    sessioned
      .withColumn("__ctx",
        filter(array(lags: _*), x => x.isNotNull))
      .filter(size(col("__ctx")) >= 1)
      .select(col("user_id"), col("ts"), col("tb").as("tie"),
        col("et").as("next_et"),
        array_join(col("__ctx"), ">").as("ctx"),
        size(col("__ctx")).cast("int").as("ctx_len"))
  }

  /** Event-type association pairs (market-basket over user behavior):
    * for every unordered pair of event types, how many users did BOTH,
    * each type's own user count, and the lift
    * `n_both · N / (n_a · n_b)` — lift > 1 means the behaviors co-occur
    * beyond what their individual popularity predicts ([[sessionPaths]]
    * reads ORDER within a session; this reads per-user co-occurrence
    * across the whole history). Output: (type_a, type_b, n_both, n_a,
    * n_b, n_users, lift) with type_a < type_b, lift-descending with the
    * pair tiebreak.
    *
    * Determinism: all counts are exact longs; lift is one fixed-shape
    * IEEE double expression over them — any engine replays it
    * bit-for-bit.
    *
    * Scale shape: events collapse FIRST to the distinct (user, type)
    * frame (one partial-aggregated exchange — the only corpus-sized
    * shuffle); the pair self-join is user-keyed over rows bounded by
    * |types| per user, so its output is ≤ |types|²/2 per user and the
    * final agg is |types|²-sized. The type marginals and the user total
    * are dimension-sized one-row/|types|-row frames broadcast into the
    * result.
    */
  def eventPairs(df: DataFrame, user: Column, eventType: Column): DataFrame = {
    val ut = df.select(user.as("user_id"), eventType.as("et")).distinct()
      .localCheckpoint(false)
    val marg = ut.groupBy(col("et")).agg(count(lit(1)).as("n_et"))
    // countDistinct, NOT distinct+count(1): NULL user ids must not count
    // toward N (the oracle's COUNT(DISTINCT user_id) excludes them)
    val nUsers = ut.agg(countDistinct(col("user_id")).as("__n"))
    val a = ut.select(col("user_id"), col("et").as("type_a"))
    val b = ut.select(col("user_id"), col("et").as("type_b"))
    a.join(b, Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(marg.select(col("et").as("type_a"),
        col("n_et").as("n_a"))), Seq("type_a"))
      .join(broadcast(marg.select(col("et").as("type_b"),
        col("n_et").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"), col("__n").as("n_users"),
        ((col("n_both").cast("double") * col("__n").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("type_a"), col("type_b"))
  }

  /** Time-decayed event popularity — the feed/trending readout that a raw
    * count cannot give: each event contributes `2^-age`, where age is the
    * number of whole `halfLifeDays`-day periods between the event and the
    * dataset's newest event (so yesterday's burst outranks last month's
    * even when the old total is larger). Output: (event_type, n_events,
    * decayed), hottest first with the type tiebreak.
    *
    * Determinism: the decay is EXACT binary arithmetic, not a float pow
    * chain — each event's weight is the integer `2^(36 - age)` (0 beyond
    * [[DecayMaxShift]] = 36 periods: a contribution below 2^-36 of the
    * newest event's is noise by construction, and the cutoff is part of
    * the contract), weights sum as DECIMAL(38,0), and the single IEEE
    * division by `2^36` happens once per output row. Any engine
    * replays it bit-for-bit — no cross-row float addition anywhere.
    *
    * Scale shape: one map-side projection (period index off the
    * timestamp), a one-row broadcast for the as-of period (the same
    * pattern as [[rfmSegments]]' as-of day), then ONE 2-phase
    * groupBy(type) over (type, weight) longs — the corpus shuffles
    * nothing but partial sums. |types|-row output at any scale.
    */
  def timeDecayedPopularity(df: DataFrame, eventType: Column,
      tsNanos: Column, halfLifeDays: Int = 7): DataFrame = {
    require(halfLifeDays > 0, s"halfLifeDays must be positive, got $halfLifeDays")
    val period = 86400L * 1000000000L * halfLifeDays
    val base = df.select(eventType.as("et"), tsNanos.cast("long").as("ts"))
      .select(col("et"), expr(s"ts div $period").as("hl"))
    val asOf = broadcast(base.agg(max(col("hl")).as("__asof")))
    base.crossJoin(asOf)
      .select(col("et"),
        when(col("__asof") - col("hl") <= DecayMaxShift,
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST($DecayMaxShift - (__asof - hl) AS INT))"))
          .otherwise(0L).as("wfp"))
      .groupBy(col("et").as("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("wfp").cast("decimal(38,0)")).as("__w"))
      .select(col("event_type"), col("n_events"),
        (col("__w").cast("double") / lit(math.pow(2.0, DecayMaxShift)))
          .as("decayed"))
      .orderBy(col("decayed").desc, col("event_type"))
  }

  /** Per-type inter-arrival cadence — the bot/automation screen over
    * event timing: for every event type, the distribution of gaps between
    * a user's CONSECUTIVE events of that type (n_gaps, exact discrete
    * p50/p95 in nanoseconds, IEEE mean). A scripted client shows a p95
    * within a hair of its p50 (metronomic posting); organic behavior
    * spreads decades. Complements [[funnelLatency]] (which times BETWEEN
    * steps) with same-type rhythm.
    *
    * Determinism: gaps are exact long differences over the
    * (ts, tieBreak) user ordering; the discrete pick returns actual data
    * values (== `percentile_disc` bit-for-bit — QuantilesSpec); the mean
    * is one IEEE division of an exact integer sum (Σ gap·count over
    * distinct gaps ≡ Σ gap over rows — integer arithmetic, order-free).
    *
    * Scale shape: events shuffle ONCE to the (user, type) window
    * partitioning, then collapse to per-(type, gap) DISTINCT-value
    * counts ([[graft.operators.Quantiles.discPicks]]) from which the
    * count, the exact DECIMAL sum (weightedSums) and both picks all
    * derive — the `percentile_disc` aggregate this replaces buffered a
    * type's ENTIRE gap set (corpus/|types| values) in one task's
    * OpenHashMap with no spill path; the pick's per-type ordered
    * cumulative is a sort-based window that spills.
    */
  def eventCadence(df: DataFrame, user: Column, tsNanos: Column,
      eventType: Column, tieBreak: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("et")).orderBy(col("ts"), col("tb"))
    val gaps = df.select(user.as("user_id"), tsNanos.cast("long").as("ts"),
        eventType.as("et"), tieBreak.as("tb"))
      .select(col("et").as("event_type"),
        (col("ts") - lag(col("ts"), 1).over(w)).as("gap"))
      .filter(col("gap").isNotNull)
    // `gap` is never null here, so rowCountCol == count(*) == n_gaps.
    // DECIMAL(38,0) sum: a type's total gap mass is |users| · span
    // nanoseconds, which overflows BIGINT long before 100 TB (ANSI
    // would throw); DuckDB's SUM(BIGINT) is HUGEINT-backed already
    Quantiles.discPicks(gaps, Seq("event_type"),
        Seq(("__p50", "gap", 0.5), ("__p95", "gap", 0.95)),
        rowCountCol = Some("n_gaps"),
        weightedSums = Seq(("__s", "gap", "decimal(38,0)")))
      .select(col("event_type"), col("n_gaps"),
        col("__p50").cast("bigint").as("p50_gap_ns"),
        col("__p95").cast("bigint").as("p95_gap_ns"),
        (col("__s").cast("double") / col("n_gaps").cast("double"))
          .as("mean_gap_ns"))
      .orderBy(col("event_type"))
  }
}
