package graft.operators

import graft.Query
import graft.api.Barrier._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Dec._
import graft.sources.Tables

/** Event-time semantics in batch (SURVEY.md §2.1 I1–I3, C8): tumbling /
  * sliding / session windows over the events stream table, plus the
  * as-of join. The same `window()` / `session_window()` expressions run
  * unchanged under Structured Streaming (see graft.streaming) — batch
  * here is the replay/backfill path of the identical pipeline.
  *
  * Scale design: time-window groupBys hash-partition on (window, key) —
  * event-time bucketing is embarrassingly parallel. The session window
  * and the as-of join shuffle once on user_id and sort within partition;
  * no self-join, no per-user collect.
  */
object Temporal {

  /** I1 `stream_tumble` — 1-hour tumbling windows per event type. */
  def streamTumble(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        outCents(sum(cents2(col("value"))), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** I2 `stream_slide` — 1-hour windows sliding every 30 minutes; each
    * event lands in exactly 2 overlapping windows (Spark expands rows
    * per window assignment — an ExpandExec feeding the usual 2-phase
    * agg, still one shuffle).
    */
  def streamSlide(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts_utc"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_events"))
      .orderBy(col("window_start"))

  /** I3 `stream_session` — per-user sessions with a 30-minute inactivity
    * gap. Boundary semantics (empirically pinned in TemporalSpec): a
    * session spans [first, last+gap] INCLUSIVE — an event at exactly
    * last+gap merges into the session; only strictly later events open a
    * new one. Hence the oracle's strict `> INTERVAL '30 minutes'` break.
    */
  def streamSession(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts_utc"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        outCents(sum(cents2(col("value"))), 2).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** C8 `join_asof` — for each purchase, the latest signup of the same
    * user at/before it (event_id breaks same-microsecond ties).
    *
    * Formulated as a running MAX over a (user_id)-partitioned window
    * rather than an inequality self-join: ONE shuffle + one sort, versus
    * a join that explodes per-user signup×purchase pairs. This is the
    * shape that survives 100 TB — the sort-merge as-of.
    */
  def joinAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_utc"))
      .withColumn("signup_ts",
        max(when(col("event_type") === "signup", col("ts_utc"))).over(w))
      .filter(col("event_type") === "purchase" && col("signup_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("signup_ts"))
      .orderBy(col("event_id"))
  }

  /** `join_asof_fwd` — the FORWARD as-of: each purchase matched to the
    * EARLIEST signup at/after it (the symmetric twin of joinAsof's
    * backward match; e.g. attribute a trial purchase to the account
    * created after it). Same one-shuffle window shape, mirrored frame:
    * running MIN over [currentRow, unboundedFollowing]. Gating both
    * directions pins the frame arithmetic at both boundary orientations.
    */
  def joinAsofFwd(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_utc"))
      .withColumn("next_signup_ts",
        min(when(col("event_type") === "signup", col("ts_utc"))).over(w))
      .filter(col("event_type") === "purchase" && col("next_signup_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("next_signup_ts"))
      .orderBy(col("event_id"))
  }

  /** `join_asof_nearest` — the NEAREST-direction as-of (pandas
    * merge_asof direction='nearest'): each purchase matched to the
    * signup minimizing |Δt|, ties to the earlier side — the standard
    * alignment for sensor fusion / log correlation where "closest
    * reading" beats "latest reading". Composed from the two
    * directional windows in ONE pass: both frames share the same
    * (partition, order), so the plan keeps joinAsof's one-shuffle
    * sort-merge shape — one Exchange + one Sort feeding two frame
    * evaluations, never an inequality self-join. µs-exact distance
    * compare via unix_micros (the oracle compares INTERVALs — same
    * total order on exact µs values).
    */
  def joinAsofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val order = Seq(col("ts_utc"), col("event_id"))
    val wb = Window.partitionBy(col("user_id")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("user_id")).orderBy(order: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_utc"))
      // pre-projected window argument: a composite arg gets extracted
      // into its own Window operator per use — a real column keeps the
      // backward max and forward min in ONE WindowExec over one sort
      .withColumn("signup_ts0",
        when(col("event_type") === "signup", col("ts_utc")))
      .withColumn("prev_signup", max(col("signup_ts0")).over(wb))
      .withColumn("next_signup", min(col("signup_ts0")).over(wf))
      .filter(col("event_type") === "purchase" &&
        (col("prev_signup").isNotNull || col("next_signup").isNotNull))
      .withColumn("signup_ts",
        when(col("prev_signup").isNull, col("next_signup"))
          .when(col("next_signup").isNull, col("prev_signup"))
          .when(unix_micros(col("ts_utc")) - unix_micros(col("prev_signup")) <=
                unix_micros(col("next_signup")) - unix_micros(col("ts_utc")),
            col("prev_signup"))
          .otherwise(col("next_signup")))
      .select(col("event_id"), col("user_id"), col("signup_ts"))
      .orderBy(col("event_id"))
  }

  /** The (user, day) activity aggregate with each row's PREDECESSOR day
    * attached (lag over the user's day-ordered window) — the shared
    * spine of the gap-filling family. Each observed row then OWNS the
    * gap run (prev_day, day]: exploding `sequence(prev_day+1, day)`
    * emits the row's own day plus every missing day before it, which
    * densifies the calendar in ONE pass over the aggregate — no
    * calendar table, no self-join, and the raw fact table is scanned
    * exactly once (a spans+join formulation re-evaluates the aggregate
    * subtree: column pruning makes the two copies non-identical, so
    * exchange reuse cannot dedupe them and the 100 TB scan runs twice
    * — pinned against in PlanBudgetSpec).
    */
  private def dailyWithGapRuns(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts_utc")).as("day"), col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        outCents(sum(cents2(col("value"))), 2).as("total_value"))
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("prev_value", lag(col("total_value"), 1).over(w))
      .select(col("user_id"), col("day"), col("n_events"),
        col("total_value"), col("prev_day"), col("prev_value"),
        explode(sequence(
          coalesce(date_add(col("prev_day"), 1), col("day")),
          col("day"))).as("cal_day"))
  }

  /** `ts_gapfill` — time-series densification: per-user DAILY activity
    * (event count + summed value) with every missing calendar day
    * inside the user's [first, last] span zero-filled. Gap days
    * surface as count 0 / value 0.0 — what a downstream anomaly
    * detector or training-data coverage audit needs.
    *
    * Scale shape: the raw scan collapses to the (user, day) aggregate
    * first; the lag window re-shuffles only aggregate-sized data on
    * user_id; the calendar explode is bounded by span length (days),
    * not event count. One fact scan, two aggregate-sized shuffles,
    * zero joins.
    */
  def tsGapfill(spark: SparkSession, sfDir: String): DataFrame =
    dailyWithGapRuns(spark, sfDir)
      .select(col("user_id"), col("cal_day").cast("timestamp").as("day_ts"),
        when(col("cal_day") === col("day"), col("n_events")).otherwise(lit(0L))
          .as("n_events"),
        when(col("cal_day") === col("day"), col("total_value")).otherwise(lit(0.0))
          .as("total_value"))
      .orderBy(col("user_id"), col("day_ts"))

  /** `ts_locf` — last-observation-carried-forward over the densified
    * calendar: gap days (no observation) inherit the most recent prior
    * day's value instead of zero — the standard fill for LEVEL metrics
    * (balances, gauges, model-quality series) where absence means
    * "unchanged", not "zero". The gap-run formulation makes the carry
    * LOCAL: every generated gap day sits in (prev_day, day), so its
    * fill is exactly the lagged row's value — no running
    * last(ignoreNulls) window over the densified output needed. Same
    * one-scan/two-shuffle/zero-join shape as ts_gapfill; the first
    * calendar day is always observed, so the output is total.
    */
  def tsLocf(spark: SparkSession, sfDir: String): DataFrame =
    dailyWithGapRuns(spark, sfDir)
      .select(col("user_id"), col("cal_day").cast("timestamp").as("day_ts"),
        when(col("cal_day") === col("day"), col("total_value"))
          .otherwise(col("prev_value")).as("filled_value"))
      .orderBy(col("user_id"), col("day_ts"))

  /** `ts_interp` — LINEAR interpolation over the densified calendar:
    * gap days take the straight line between the surrounding
    * observations — the standard fill for continuously-varying
    * metrics (rates, temperatures, learned-metric series) where LOCF's
    * step function understates the trend. The gap-run formulation
    * again makes the fill LOCAL: every generated gap day lies strictly
    * inside (prev_day, day), so both interpolation endpoints
    * (prev_value @ prev_day, total_value @ day) ride the SAME lagged
    * row — no second window over the densified output, no join. Same
    * one-scan / two-aggregate-sized-shuffle / zero-join shape as
    * ts_gapfill; observed days pass their exact value through.
    *
    * Determinism: the blend is computed in double with an identical
    * operation order in both engines — (cur − prev) · (Δ₁/Δ₂) with the
    * fraction parenthesized first — and ROUND-6 gated; the inputs are
    * exact decimal(38,2) sums, so the only float steps are the two
    * multiplies/divides themselves.
    */
  def tsInterp(spark: SparkSession, sfDir: String): DataFrame =
    dailyWithGapRuns(spark, sfDir)
      .select(col("user_id"), col("cal_day").cast("timestamp").as("day_ts"),
        round(
          when(col("cal_day") === col("day"), col("total_value").cast("double"))
            .otherwise(col("prev_value").cast("double") +
              (col("total_value").cast("double") -
                col("prev_value").cast("double")) *
              (datediff(col("cal_day"), col("prev_day")).cast("double") /
                datediff(col("day"), col("prev_day")).cast("double"))), 6)
          .as("value_interp"))
      .orderBy(col("user_id"), col("day_ts"))

  /** `ts_islands` — gaps-and-islands streak analysis: per user, the
    * number of maximal runs of CONSECUTIVE active days, the longest
    * such streak, and total active days — the engagement-streak /
    * uptime-run shape (also how a pipeline finds contiguous coverage
    * spans in a training-data calendar).
    *
    * Spark-first: the classic island key `day − row_number` (constant
    * exactly within a consecutive run) turns streak detection into
    * plain grouping — no self-join, no iterative merging. Plan: one
    * distinct-days aggregate, ONE user_id window, then both the
    * (user, island) count and the per-user rollup ride the SAME
    * user_id partitioning (HashPartitioning(user) satisfies any
    * clustering keyed on a superset), so the whole cascade costs two
    * data shuffles regardless of streak length — state never exceeds
    * the distinct-day table.
    */
  def tsIslands(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts_utc")).as("day"))
      .distinct()
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        sum(col("len")).as("active_days"))
      .orderBy(col("user_id"))
  }

  /** `ts_resample` — OHLC downsampling: per (user, 6-hour bucket) the
    * opening value (earliest event), high, low, closing value (latest
    * event), event count and decimal volume — the standard resample →
    * bar-chart/feature-extraction shape for any metric stream.
    *
    * Determinism: "first/last in bucket" must not depend on scan
    * order, so open/close ride TWO row_number windows over the same
    * (user, bucket) partition ordered by (ts, event_id) asc/desc —
    * Spark evaluates both in one WindowExec pair over ONE shuffle
    * (identical partition keys), and the tie-break key makes the
    * chosen row unique in both engines. The bucket is an explicit
    * epoch-anchored µs formula (`unix_micros div 6h`), not an
    * engine-specific time_bucket whose anchor could differ. High/low/
    * count/volume are order-independent aggregates.
    *
    * Scale shape: one shuffle on user_id (window), then a map-side-
    * combined aggregate on (user, bucket) — buckets nest inside the
    * window partitioning, so AQE coalesces without a second exchange;
    * state is bounded by bars, not events.
    */
  def tsResample(spark: SparkSession, sfDir: String): DataFrame = {
    val bucketUs = 21600000000L // 6 hours in microseconds
    // exact integer floor-to-bucket (x - pmod(x, b) ≡ (x // b) * b for
    // any sign) — a double-division floor only matches the oracle's
    // integer `//` while half-ulp(quotient) < 1/bucketUs, a margin that
    // silently erodes for finer buckets or far-future timestamps
    val bucket = timestamp_micros(
      unix_micros(col("ts_utc")) -
        pmod(unix_micros(col("ts_utc")), lit(bucketUs)))
    // ONE ascending sort serves both ends of the bucket: the last row
    // (the former DESC row_number()==1, which forced a second
    // opposite-order WindowExec and a second sort) is rn_a == cnt with
    // cnt riding the same ordered spec's unbounded frame — identical
    // row under the (ts, event_id) total order
    val wAsc = Window.partitionBy(col("user_id"), col("bucket_ts"))
      .orderBy(col("ts_utc").asc, col("event_id").asc)
    val wCnt = wAsc.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_utc"), col("value"),
        bucket.as("bucket_ts"))
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("cnt", count(lit(1)).over(wCnt))
      .groupBy(col("user_id"), col("bucket_ts"))
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_a") === col("cnt"), col("value"))).as("close"),
        count(lit(1)).as("n_events"),
        outCents(sum(cents2(col("value"))), 2).as("volume"))
      .orderBy(col("user_id"), col("bucket_ts"))
  }

  /** `ts_autocorr` — pooled within-user lag-1 autocorrelation of event
    * values per event type: each user's own event sequence (per type)
    * yields (value, previous value) pairs, and the Pearson
    * correlation of those pairs — pooled across users — measures how
    * strongly consecutive values predict each other. The
    * "is this metric sticky" screen for monitoring and feature
    * engineering.
    *
    * Spark-first shape: ONE lag window partitioned by
    * (user_id, event_type) — millions of small partitions, never a
    * handful of fat per-metric ones, so the shuffle is skew-free by
    * construction (the per-SERIES formulation would put a whole
    * metric's history in one task; the per-user pooling keeps window
    * state O(1) per row and parallelism at user-cardinality). The
    * correlation itself is a native 2-phase moment aggregate
    * (Welford merges, map-side combined). Merge order perturbs last
    * ulps → ROUND-6, the ttest discipline.
    */
  def tsAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_utc"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_utc"),
        col("event_id"), col("value"))
      .withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("value"), col("prev")), 6).as("acf1"))
      .orderBy(col("event_type"))
  }

  /** `ts_decompose` — classical additive seasonal decomposition of the
    * daily revenue series: trend = centered 7-day moving average,
    * seasonal = the day-of-week mean of the detrended series
    * (re-centered to sum to zero, so trend keeps the level), residual
    * = observed − trend − seasonal. The anomaly-vs-seasonality
    * separator behind every "is Monday always like this" dashboard.
    *
    * Spark-first shape: the fact stream collapses to ONE daily
    * aggregate (decimal-exact), and everything after runs over the
    * calendar-sized series — a centered ROWS frame, a 7-row
    * day-of-week aggregate broadcast back, row-local arithmetic.
    * Day-of-week is the PORTABLE epoch-day mod 7 (the engines'
    * dayofweek() origins differ); the moving average is the only
    * engine-order-sensitive float (window aggregation internals) —
    * ROUND-6 absorbs its last-ulp variance, the mom/markov precedent.
    */
  def tsDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    // calendar-sized daily series behind a lazy barrier: three branches
    // consume it (seasonal means, centering, the output join) and the
    // fact scan + aggregate must run ONCE, not once per branch
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(outCents(sum(cents2(col("value"))), 2).as("total"))
      .barrier(eager = false)
    val wTrend = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend", avg(col("total")).over(wTrend))
      .withColumn("dow",
        pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(7)))
    val seasonal = trended
      .groupBy(col("dow"))
      .agg(avg(col("total") - col("trend")).as("raw_seasonal"))
    val center = seasonal.agg(avg(col("raw_seasonal")).as("season_mean"))
    trended
      .join(broadcast(seasonal), Seq("dow"))
      .crossJoin(broadcast(center))
      .select(col("day").cast("timestamp").as("day_ts"),
        col("dow").cast("long").as("dow"), col("total"),
        round(col("trend"), 6).as("trend"),
        round(col("raw_seasonal") - col("season_mean"), 6).as("seasonal"),
        round(col("total") - col("trend") -
          (col("raw_seasonal") - col("season_mean")), 6).as("residual"))
      .orderBy(col("day_ts"))
  }

  /** `ts_rolling_stats` — trailing-window monitoring statistics per
    * event row: the last-10-observations count, mean, sample stddev
    * and the resulting rolling z-score over each user's own series —
    * the alerting primitive ("is THIS point abnormal vs its recent
    * past") that global z-scores (dq_anomaly) and robust audits
    * (dq_outlier_mad) can't give because their baseline is static.
    *
    * Spark-first shape: ONE (user)-partitioned ordered window carries
    * all four outputs — O(1) state per row, skew-free partitioning.
    * Determinism: mean/stddev are ROUND-6 (windowed moment removal
    * order is engine-internal); the z denominator is null-guarded —
    * stddev is NULL at n=1 in both engines, and 2-decimal values make
    * a true zero-variance window impossible beyond n=1, so no
    * near-zero-denominator cliff exists on this column type.
    */
  def tsRollingStats(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    val mean = avg(col("value")).over(w)
    val sd = stddev_samp(col("value")).over(w)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_utc"), col("value"))
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_mean", round(mean, 6))
      .withColumn("roll_sd", round(sd, 6))
      .withColumn("z", round(when(sd.isNotNull && sd =!= 0.0,
        (col("value") - mean) / sd), 6))
      .drop("ts_utc")
      .orderBy(col("user_id"), col("event_id"))
  }

  /** `ts_ewma` — exponentially-weighted moving average (α = 1/2) of
    * daily revenue, truncated to an 8-term trailing window: the
    * smoothing baseline beside ts_rolling_stats' flat window (recent
    * days dominate; the truncation error is ≤ 2⁻⁸ of the oldest
    * retained weight — below ROUND-6 at these magnitudes).
    *
    * Cross-engine exactness discipline: a recursive EWMA is a
    * float-accumulation whose error COMPOUNDS differently per engine,
    * so the truncated form is computed CLOSED-FORM instead — integer
    * cents × power-of-two weights (2⁷⁻ⁱ for lag i), summed exactly in
    * int64 (≤ daily-cents·255), with the per-row weight denominator
    * counting only the lags that exist (the series head reweights
    * itself). ONE IEEE division at the end, ROUND-6.
    *
    * Scale shape: one map-combined daily aggregate, then eight lags
    * over ONE calendar-sized window — no self-join, no recursion.
    */
  def tsEwma(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val w = Window.orderBy(col("day"))
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(cents2(col("value"))).as("cents"))
    val terms = (0 to 7).map { i =>
      val c = if (i == 0) col("cents") else lag(col("cents"), i).over(w)
      val wt = 1L << (7 - i)
      (when(c.isNotNull, c * wt).otherwise(lit(0L)),
        when(c.isNotNull, lit(wt)).otherwise(lit(0L)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    daily
      .withColumn("ewma",
        round(num.cast("double") / den.cast("double") / 100.0, 6))
      .select(col("day").cast("timestamp").as("day_ts"),
        outCents(col("cents"), 2).as("revenue"), col("ewma"))
      .orderBy(col("day_ts"))
  }

  /** `ts_cusum` — CUSUM drift screening per event type: the maximum
    * absolute cumulative deviation from the series mean over the
    * time-ordered value sequence — the classic change-point statistic
    * (a mean shift mid-series makes the CUSUM excursion large; a
    * stable series random-walks near zero).
    *
    * Cross-engine exactness discipline: S_t = Σ_{i≤t}(v_i − μ) is
    * float-hostile (μ is a division), so the statistic is computed in
    * the n-SCALED integer domain: n·S_t = n·prefix_t − t·total (cents),
    * with (19,0)-widened DECIMAL products (exact to n·Σv ≈ 10³⁸ — int64
    * would wrap silently past 2⁶³ cents²); max and the final unscale
    * division are the only float steps, ROUND-6.
    *
    * Scale shape: ONE fact scan, ONE shuffle — the per-type count and
    * total ride whole-partition windows over the SAME (type) partitions
    * as the running sum (Spark evaluates all three in one WindowExec
    * pass over one sort); the former aggregate-and-join-back
    * formulation scanned the fact table twice for identical values.
    * Per-row state is O(1).
    */
  def tsCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val cents = cents2(col("value"))
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("ts_utc"),
        cents.as("cents"))
    val wn = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_utc"), col("event_id"))
    // all frames share (partition, order): ONE WindowExec, one sort
    val wAll = wn.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val w = wn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("cents")).over(wAll))
      .withColumn("prefix", sum(col("cents")).over(w))
      .withColumn("t", row_number().over(wn).cast("long"))
      .withColumn("scaled_dev",
        // (19,0)-widened products → both engines' int128 multiply path;
        // int64 would silently wrap in Spark past n·Σv ≈ 2^63 cents²
        abs(col("n").cast("decimal(19,0)") * col("prefix") -
          col("t").cast("decimal(19,0)") * col("total")))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        round(max(col("total")).cast("double") /
          max(col("n")).cast("double") / 100.0, 6).as("mean_value"),
        round(max(col("scaled_dev")).cast("double") /
          max(col("n")).cast("double") / 100.0, 6).as("max_abs_cusum"))
      .orderBy(col("event_type"))
  }

  /** `ts_peak_detect` — local-maximum peak detection over the daily
    * revenue series: a day is a peak when it strictly exceeds BOTH
    * neighbours; its prominence is the margin over the higher
    * neighbour. The alerting primitive behind "traffic spiked on
    * day X" — and, like ts_islands, a pure lag/lead shape.
    *
    * Exactness: revenue stays DECIMAL through the comparisons and the
    * prominence subtraction (order-free, engine-exact); doubles only
    * at output. Series endpoints are not peaks (a missing neighbour
    * fails the strict compare — the conservative convention).
    *
    * Scale shape: one map-combined daily aggregate, one calendar-sized
    * window, zero joins.
    */
  def tsPeakDetect(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val w = Window.orderBy(col("day"))
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(cents2(col("value"))).as("total_c"))
      .withColumn("prev_c", lag(col("total_c"), 1).over(w))
      .withColumn("next_c", lead(col("total_c"), 1).over(w))
      .filter(col("prev_c").isNotNull && col("next_c").isNotNull &&
        col("total_c") > col("prev_c") &&
        col("total_c") > col("next_c"))
      .select(col("day").cast("timestamp").as("day_ts"),
        outCents(col("total_c"), 2).as("revenue"),
        outCents(col("total_c") - greatest(col("prev_c"), col("next_c")), 2)
          .as("prominence"))
      .orderBy(col("day_ts"))
  }

  /** `ts_streaks` — monotone-increase runs over the daily revenue
    * series: every maximal streak of strictly-rising days with its
    * span, length, and decimal-exact gain — the "N days of growth in a
    * row" momentum readout (ts_islands is the calendar-contiguity
    * sibling; this one runs on the VALUE ordering).
    *
    * Spark-first shape: the rising flag is one lag over the daily
    * frame; runs group by the classic gaps-and-islands key (row_number
    * minus the running count of rising days — constant within a run);
    * per-run endpoints come from one aggregate. All comparisons and the
    * gain stay DECIMAL; zero joins, calendar-sized windows only.
    */
  def tsStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val w = Window.orderBy(col("day"))
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(cents2(col("value"))).as("total_c"))
      .withColumn("prev_c", lag(col("total_c"), 1).over(w))
      .withColumn("up",
        (col("prev_c").isNotNull && col("total_c") > col("prev_c"))
          .cast("long"))
      .withColumn("grp",
        row_number().over(w).cast("long") -
          sum(col("up")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
    daily.filter(col("up") === 1)
      .groupBy(col("grp"))
      .agg(min(col("day")).as("first_up_day"), max(col("day")).as("last_day"),
        count(lit(1)).as("rising_days"),
        outCents(max(col("total_c")) - min(col("prev_c")), 2)
          .as("gain"))
      .select(col("first_up_day").cast("timestamp").as("start_ts"),
        col("last_day").cast("timestamp").as("end_ts"),
        col("rising_days"), col("gain"))
      .orderBy(col("start_ts"))
  }

  /** `ts_downsample` — deviation-preserving downsampling of the daily
    * series to 10 buckets: each bucket is represented by its most
    * ANOMALOUS day (the max |value − bucket mean| point), so the
    * downsampled series keeps spikes a plain per-bucket average would
    * erase — the chart/alerting reduction for long metric series (the
    * LTTB family; this is its order-free, engine-exact member).
    *
    * Exactness: the argmax key is the n-scaled integer deviation
    * |n_b·v − Σ_b| in cents (no mean division anywhere), tie-broken by
    * day — selection is engine-exact; only the output cast is float.
    *
    * Scale shape: ntile bucketing + two window passes over the
    * calendar-sized daily frame; at fact scale the daily rollup
    * beneath is the only fact-wide shuffle.
    */
  def tsDownsample(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val w = Window.orderBy(col("day"))
    val wb = Window.partitionBy(col("bucket"))
    val pick = Window.partitionBy(col("bucket"))
      .orderBy(col("dev").desc, col("day"))
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(cents2(col("value"))).as("cents"))
      .withColumn("bucket", ntile(10).over(w).cast("long"))
      .withColumn("n_b", count(lit(1)).over(wb))
      .withColumn("sum_b", sum(col("cents")).over(wb))
      .withColumn("dev", abs(col("n_b") * col("cents") - col("sum_b")))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .select(col("bucket"), col("day").cast("timestamp").as("day_ts"),
        round(col("cents").cast("double") / 100.0, 2).as("revenue"),
        col("n_b").as("n_days_in_bucket"))
      .orderBy(col("bucket"))
  }

  /** `join_asof_tolerance` — the bounded as-of (pandas merge_asof's
    * `tolerance`): each purchase matches the latest signup at/before
    * it ONLY if the gap is within 1 hour — stale matches drop instead
    * of silently attributing to an hours-old signup. The missing
    * tolerance bound is the classic as-of correctness bug in log
    * correlation and feature lookup.
    *
    * Same one-shuffle running-MAX window shape as join_asof; the
    * tolerance is a µs-exact integer filter AFTER the match (the
    * match itself is unchanged — bounding inside the window would
    * need a range frame and buy nothing). Gap reported in exact µs.
    */
  def joinAsofTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_utc"))
      .withColumn("signup_ts",
        max(when(col("event_type") === "signup", col("ts_utc"))).over(w))
      .filter(col("event_type") === "purchase" &&
        col("signup_ts").isNotNull)
      .withColumn("gap_us",
        unix_micros(col("ts_utc")) - unix_micros(col("signup_ts")))
      .filter(col("gap_us") <= 3600000000L)
      .select(col("event_id"), col("user_id"), col("signup_ts"),
        col("gap_us"))
      .orderBy(col("event_id"))
  }

  /** `ts_anomaly_stl` — anomaly detection on the DESEASONALIZED
    * series: ts_decompose's residual (total − trend − seasonal) is
    * z-scored against its own distribution and every day is flagged
    * when |z| > 2 — the detector that catches a weekday spike a raw
    * z-score (dq_anomaly) would excuse as "Mondays are always high",
    * because trend and weekly seasonality are already removed. Every
    * day is emitted with its flag (not just hits), so the gate is
    * scale-stable and the output doubles as the inspection table.
    *
    * Exactness: the decomposition is the ts_decompose spine
    * (decimal rollup, decimal-avg trend and seasonal); z-scores are
    * computed from the ROUND-6 residuals — both engines feed
    * identical inputs into the final mean/σ formula, whose
    * calendar-sized double sums sit far inside ROUND-6.
    */
  def tsAnomalyStl(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    // lazy barrier on the calendar-sized daily series: the seasonal,
    // centering, residual-stats and output branches all consume it —
    // one fact scan + aggregate, not one per branch
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(outCents(sum(cents2(col("value"))), 2).as("total"))
      .barrier(eager = false)
    val wTrend = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend", avg(col("total")).over(wTrend))
      .withColumn("dow",
        pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(7)))
    val seasonal = trended.groupBy(col("dow"))
      .agg(avg(col("total") - col("trend")).as("raw_seasonal"))
    val center = seasonal.agg(avg(col("raw_seasonal")).as("season_mean"))
    val resid = trended
      .join(broadcast(seasonal), Seq("dow"))
      .crossJoin(broadcast(center))
      .select(col("day"), col("total"),
        round(col("total") - col("trend") -
          (col("raw_seasonal") - col("season_mean")), 6).as("residual"))
    val stats = resid.agg(
      avg(col("residual").cast("double")).as("mu"),
      stddev_samp(col("residual").cast("double")).as("sigma"))
    resid.crossJoin(broadcast(stats))
      .select(col("day").cast("timestamp").as("day_ts"),
        col("total").cast("double").as("revenue"),
        col("residual").cast("double").as("residual"),
        round((col("residual") - col("mu")) / col("sigma"), 6).as("z"))
      .withColumn("is_anomaly", abs(col("z")) > 2.0)
      .orderBy(col("day_ts"))
  }

  /** `ts_cross_corr` — lagged cross-correlation between the daily
    * 'view' and 'purchase' value series: Pearson corr(view_t,
    * purchase_{t+ℓ}) for every lead/lag ℓ ∈ [−7, +7] — "does browsing
    * volume predict purchasing volume days later, and at what offset?"
    * The lead-indicator scan behind demand forecasting and campaign
    * lift attribution; ts_autocorr is its self-series special case.
    *
    * Exactness: daily conditional sums are exact DECIMAL (the
    * agg_corr_matrix admission/widening discipline — (9,2) admitted by
    * explicit filter, (19,2)-widened products into (29,4)); per-lag
    * power sums stay decimal until the final identical-text corr
    * formula, ROUND-6 on a ratio-scale output. A zero-variance side
    * yields NULL via NULLIF, the same in both engines.
    *
    * Scale shape: the fact stream collapses to the calendar-bounded
    * daily frame in ONE map-combined shuffle; the 15-lag × days pair
    * frame is a broadcast self-join of that tiny aggregate — the
    * window-vs-join choice is free here because BOTH sides are
    * calendar-sized, never fact-sized. At 100 TB nothing after the
    * first aggregate grows with the data.
    */
  def tsCrossCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val dec0 = lit(0).cast("decimal(18,2)")
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(when(col("event_type") === "view",
        col("value").cast("decimal(18,2)")).otherwise(dec0)).as("x0"),
        sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(18,2)")).otherwise(dec0)).as("y0"))
      .filter(col("x0").between(-9999999.99, 9999999.99) &&
        col("y0").between(-9999999.99, 9999999.99))
      .select(col("day"), col("x0").cast("decimal(9,2)").as("x"),
        col("y0").cast("decimal(9,2)").as("y"))
      // calendar-sized series behind a lazy barrier: both sides of the
      // lag self-join consume it — one fact scan, not two
      .barrier(eager = false)
    val lags = spark.range(1)
      .select(explode(sequence(lit(-7), lit(7))).as("lag"))
    def sq(a: Column, b: Column) =
      sum((a.cast("decimal(19,2)") * b).cast("decimal(29,4)"))
        .cast("double")
    val a = daily.select(col("day"), col("x"))
    val b = daily.select(col("day").as("bday"), col("y"))
    val stats = lags.crossJoin(a)
      .join(broadcast(b),
        col("bday") === date_add(col("day"), col("lag").cast("int")))
      .groupBy(col("lag"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sq(col("x"), col("x")).as("sxx"), sq(col("x"), col("y")).as("sxy"),
        sq(col("y"), col("y")).as("syy"))
    stats.select(col("lag").cast("long").as("lag"),
      col("n").cast("long").as("n_days"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), lit(0.0)), 6)
        .as("xcorr"))
      .orderBy(col("lag"))
  }

  /** `ts_burstiness` — the Goh–Barabási burstiness coefficient
    * B = (σ−μ)/(σ+μ) of inter-event gaps, pooled per event type:
    * B → −1 for a metronome, 0 for a Poisson process, → +1 for
    * extreme bursts. The one-number answer to "is this traffic
    * bursty?" that capacity planning and anomaly baselining start
    * from — and a direct measure of how badly an event-time partition
    * will skew (dq_partition_skew's statistical cousin).
    *
    * Exactness: gaps are exact integer µs from ONE lag window per
    * (type, user) stream (the analytics_markov ordering contract:
    * ts, event_id); Σg is int64-exact, Σg² rides DECIMAL(38,0)
    * (int64 would wrap at ~10⁵ day-scale µs gaps — the ts_cusum
    * lesson); μ, σ and B are identical-text double formulas over
    * exact sums, ROUND-6 on the ratio-scale B.
    *
    * Scale shape: one shuffle on (type, user) for the lag window,
    * then a constant-state per-type aggregate. The window never
    * sees more than one user's stream per partition slice.
    */
  def tsBurstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val gaps = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts_utc")).as("us"), col("event_id"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
    val s = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("gap")).cast("double").as("sg"),
        sum((col("gap").cast("decimal(19,0)") * col("gap"))
          .cast("decimal(38,0)")).cast("double").as("sgg"))
    val mu = col("sg") / col("n")
    val sigma = sqrt((col("sgg") - col("sg") * col("sg") / col("n")) /
      (col("n") - 1))
    s.select(col("event_type"), col("n").cast("long").as("n_gaps"),
      round(mu / lit(1000000.0), 6).as("mean_gap_sec"),
      round(sigma / lit(1000000.0), 6).as("sd_gap_sec"),
      round((sigma - mu) / (sigma + mu), 6).as("burstiness"))
      .orderBy(col("event_type"))
  }

  /** `ts_theil_sen` — the Theil–Sen robust trend: the median of all
    * pairwise day-to-day slopes of the daily revenue series. Immune
    * to ~29% outlier contamination where the OLS slope
    * (analytics_elasticity's machinery) chases a single spiked day —
    * the trend estimator a monitoring system wants on dirty
    * operational series.
    *
    * Scale shape: the O(n²) pair set is over the CALENDAR frame
    * (C(30,2) = 435 pairs), never the fact table — the fact stream
    * collapses to daily decimal sums in one map-combined shuffle
    * first. On an unbounded calendar the same estimator runs on a
    * coarser resample (ts_downsample) or the repeated-median variant;
    * the pair explosion never touches row scale. Median = mean of the
    * two middle order statistics (rank window over 435 rows),
    * tie-broken deterministically by day pair.
    *
    * Exactness: slopes are doubles of exact decimal diffs over exact
    * integer day gaps — identical division both engines; the median
    * picks VALUES (engine-identical), and the final mean-of-two +
    * ROUND-6 matches text.
    */
  def tsTheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      .barrier()
    val a = daily.toDF("day_a", "rev_a")
    val b = daily.toDF("day_b", "rev_b")
    val slopes = a.join(b, col("day_a") < col("day_b"))
      .select(col("day_a"), col("day_b"),
        ((col("rev_b") - col("rev_a")).cast("double") /
          datediff(col("day_b"), col("day_a")).cast("double"))
          .as("slope"))
    // count rides the same ordered spec's unbounded frame: ONE
    // WindowExec evaluates rank and total over one sort
    val w = Window.orderBy(col("slope"), col("day_a"), col("day_b"))
    val ranked = slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    ranked
      .filter(col("rn") === expr("(cnt + 1) DIV 2") ||
        col("rn") === expr("cnt DIV 2 + 1"))
      .agg(max(col("cnt")).as("n_pairs"),
        round(avg(col("slope")), 6).as("sen_slope"))
      .select(col("n_pairs"), col("sen_slope"))
  }

  /** `ts_spectral` — the discrete-Fourier periodogram of the daily
    * revenue series: for each integer frequency k (1..15 cycles over
    * the span), the spectral power share |Σ x̂_t·e^{−2πikt/n}|²/ΣP —
    * "which cycle dominates this series?" answered directly, where
    * ts_decompose ASSUMES weekly seasonality and ts_autocorr reads
    * lags one at a time. The k at the share peak is the data-derived
    * season length a decomposition should use.
    *
    * Exactness: the series is centered (the DC term would swamp the
    * spectrum) with exact decimal daily sums and a one-row broadcast
    * mean; cos/sin are the only transcendentals — both engines
    * evaluate the IDENTICAL argument text `2 * pi() * k * t / nd` on
    * identical doubles, and the output is the NORMALIZED share
    * (ratio-scale), so sub-ulp libm drift enters at ~1e-14 relative —
    * invisible at ROUND-6 (the raw power, at (Σ|x|)² magnitude, is
    * deliberately not a column — the analytics_anova lesson).
    *
    * Scale shape: fact scale collapses to the calendar frame once;
    * the k×t product frame is 15×days rows; the share rides a window
    * over 15 rows. Nothing after the first aggregate grows with data.
    */
  def tsSpectral(spark: SparkSession, sfDir: String): DataFrame = {
    // calendar-sized series behind a lazy barrier: the moment scalar
    // and the periodogram terms both consume it — one fact scan
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      .barrier(eager = false)
    // exact decimal total / exact count — NOT avg(double), whose
    // partition-order sum would put engine-divergent noise into xc
    val stats = daily.agg(count(lit(1)).as("nd"),
      min(col("day")).as("d0"),
      (sum(col("rev")).cast("double") / count(lit(1))).as("mu"))
    val terms = daily.crossJoin(broadcast(stats))
      .select(datediff(col("day"), col("d0")).cast("long").as("t"),
        (col("rev").cast("double") - col("mu")).as("xc"), col("nd"))
      .select(col("t"), col("xc"), col("nd"),
        explode(sequence(lit(1), lit(15))).as("k"))
    val spec = terms
      .groupBy(col("k"))
      .agg(max(col("nd")).as("nd"),
        sum(col("xc") * expr("cos(2 * pi() * k * t / nd)")).as("a"),
        sum(col("xc") * expr("sin(2 * pi() * k * t / nd)")).as("b"))
      .select(col("k").cast("long").as("k"), col("nd"),
        (col("a") * col("a") + col("b") * col("b")).as("p"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    spec.select(col("k"),
      round(col("nd").cast("double") / col("k"), 6).as("period_days"),
      round(col("p") / sum(col("p")).over(wAll), 6).as("power_share"))
      .orderBy(col("k"))
  }

  /** `ts_mann_kendall` — the Mann–Kendall nonparametric trend TEST on
    * the daily revenue series: S = Σ_{i<j} sign(x_j − x_i) (exact
    * integer over decimal comparisons), tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, and the
    * continuity-corrected Z. The estimator/test pair with
    * ts_theil_sen: Sen says HOW STEEP, Mann–Kendall says WHETHER the
    * monotone trend is significant — the standard combination on
    * dirty monitoring series precisely because neither assumes
    * normality.
    *
    * Exactness: S and every tie term are exact int64; Var(S) and Z
    * are identical-text double formulas over exact integers, the
    * Z branch chosen by S's exact sign (CASE text identical), output
    * ROUND-6; the trend label derives from the ROUNDED |z| vs 1.96.
    *
    * Scale shape: the pair set is calendar-bounded (the ts_theil_sen
    * argument); the tie table is a groupBy over ≤n distinct values.
    */
  def tsMannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      .barrier()
    val a = daily.toDF("day_a", "rev_a")
    val b = daily.toDF("day_b", "rev_b")
    val sAgg = a.join(b, col("day_a") < col("day_b"))
      .agg(sum(signum((col("rev_b") - col("rev_a")).cast("double"))
        .cast("long")).as("s"))
    val ties = daily.groupBy(col("rev")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)),
        lit(0L)).as("tie_term"))
    val n = daily.agg(count(lit(1)).as("n"))
    val varS = (col("n") * (col("n") - 1) * (col("n") * 2 + 5) -
      col("tie_term")).cast("double") / lit(18.0)
    val z = when(col("s") > 0,
        (col("s") - lit(1)).cast("double") / sqrt(varS))
      .when(col("s") < 0,
        (col("s") + lit(1)).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    sAgg.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
      .select(col("n").cast("long").as("n_days"), col("s").as("s_stat"),
        round(varS, 6).as("var_s"), round(z, 6).as("z"))
      .withColumn("trend",
        when(abs(col("z")) <= 1.96, "none")
          .when(col("z") > 0, "increasing").otherwise("decreasing"))
  }

  /** `ts_hampel` — the Hampel robust outlier filter on the daily
    * revenue series: each day compares against the MEDIAN of its ±3-day
    * window, flagged when |x − med| exceeds 3·1.4826·MAD (the
    * normal-consistent robust sigma). Unlike the z-score family
    * (dq_anomaly, ts_rolling_stats) a single spike cannot drag its own
    * baseline — median and MAD have a 50% breakdown point, which is
    * why Hampel is the standard despiking pass on operational series.
    *
    * Exactness: window medians and MADs are NEAREST-RANK picks of
    * exact decimals by pure integer cumulative tests (2·cum ≥ n — the
    * agg_weighted_median discipline, no interpolation, no division);
    * the flag compares ROUND-6 doubles on both sides (deviation vs
    * 4.4478·MAD) so boundary membership is engine-exact.
    *
    * Scale shape: everything after the daily collapse is
    * calendar-bounded — the ±3-day band self-join fans out ≤7 rows
    * per day and both rank picks ride day-partitioned windows over
    * that small frame. At unbounded history the window is a bounded
    * ROWS frame per series — still never fact-scale.
    */
  def tsHampel(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      .barrier()
    val pairs = daily.toDF("cday", "x")
      .join(daily.toDF("day", "v"),
        datediff(col("day"), col("cday")).between(-3, 3))
    def rankPick(df: DataFrame, key: String, value: String, out: String) = {
      // both frames share (partition, order): ONE WindowExec, one sort
      val wBase = Window.partitionBy(col(key)).orderBy(col(value))
      val cum = wBase
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = wBase
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      df.groupBy(col(key), col(value)).agg(count(lit(1)).as("w"))
        .withColumn("cum", sum(col("w")).over(cum))
        .withColumn("n", sum(col("w")).over(tot))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy(col(key)).agg(min(col(value)).as(out))
    }
    val med = rankPick(pairs.select(col("cday"), col("v")),
      "cday", "v", "med")
    val devs = pairs.join(med, Seq("cday"))
      .select(col("cday"), abs(col("v") - col("med")).as("dev"))
    val mad = rankPick(devs, "cday", "dev", "mad")
    import graft.functions.Dec._
    daily.toDF("cday", "x")
      .join(med, Seq("cday")).join(mad, Seq("cday"))
      .select(col("cday").cast("timestamp").as("day_ts"),
        outDec(col("x"), 18, 2).as("revenue"),
        outDec(col("med"), 18, 2).as("med7"),
        outDec(col("mad"), 18, 2).as("mad7"),
        round(abs(col("x") - col("med")).cast("double"), 6).as("abs_dev"),
        (round(abs(col("x") - col("med")).cast("double"), 6) >
          round(lit(4.4478) * col("mad").cast("double"), 6))
          .as("is_outlier"))
      .orderBy(col("day_ts"))
  }

  /** `ts_stl_strength` — forecastability profile of the daily revenue
    * series: trend strength F_t = max(0, 1 − var(resid)/var(detrended
    * + resid… precisely: var(R)/var(T+R)) and seasonal strength
    * F_s = max(0, 1 − var(R)/var(S+R)) from the ts_decompose spine
    * (Hyndman's STL-strength statistics). One pair of numbers that
    * says whether a decomposition-based forecast (analytics_forecast_
    * naive) can work at all on this series — the triage step before
    * any model choice; ts_spectral finds WHICH cycle, this says HOW
    * MUCH of the variance it explains.
    *
    * Exactness: the spine reuses ts_decompose's decimal rollup and
    * ROUND-6 component columns, so variance inputs are bit-identical
    * across engines; each component is then fingerprinted as the
    * exact scaled integer round(x·10⁶) in DECIMAL(19,0) and the
    * three variances come from exact DECIMAL power sums of those
    * integers (commutative — bit-identical in any summation order,
    * the eb_smooth prior discipline), converted once to doubles via
    * identical formula text, ROUND-6 on the two ratio-scale
    * strengths. DECIMAL(19,0) per-row keeps the DuckDB twin's
    * product width at 38; sums ride wider decimal headroom.
    *
    * Scale: everything after the daily collapse is calendar-bounded
    * (the ts_decompose argument).
    */
  def tsStlStrength(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    // lazy barrier: seasonal/centering/variance branches share ONE
    // fact scan + daily aggregate (the ts_decompose fix)
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(outCents(sum(cents2(col("value"))), 2).as("total"))
      .barrier(eager = false)
    val wTrend = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("trend", avg(col("total")).over(wTrend))
      .withColumn("dow",
        pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(7)))
    val seasonal = trended.groupBy(col("dow"))
      .agg(avg(col("total") - col("trend")).as("raw_seasonal"))
    val center = seasonal.agg(avg(col("raw_seasonal")).as("season_mean"))
    val comps = trended
      .join(broadcast(seasonal), Seq("dow"))
      .crossJoin(broadcast(center))
      .select(
        round(col("raw_seasonal") - col("season_mean"), 6).as("s"),
        round(col("total") - col("trend") -
          (col("raw_seasonal") - col("season_mean")), 6).as("r"),
        round(col("trend"), 6).as("t"))
    def varOf(x: Column, n: Column, sx: Column, sxx: Column) =
      (sxx - sx * sx / n) / (n - 1)
    // Exact scaled-integer fingerprints of the ROUND-6 components:
    // the only order-sensitive step (the cross-row sum) rides
    // commutative DECIMAL integer arithmetic, never double addition.
    def fp(c: Column) = round(c * lit(1000000.0), 0).cast("decimal(19,0)")
    val ints = comps.select(fp(col("r")).as("ri"), fp(col("s")).as("si"),
        fp(col("t")).as("ti"))
      .withColumn("sri", (col("si") + col("ri")).cast("decimal(19,0)"))
      .withColumn("tri", (col("ti") + col("ri")).cast("decimal(19,0)"))
    val agg = ints.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("ri")).cast("double") / lit(1000000.0)).as("sr"),
      (sum(col("ri") * col("ri")).cast("double") /
        lit(1000000000000.0)).as("srr"),
      (sum(col("sri")).cast("double") / lit(1000000.0)).as("ssr"),
      (sum(col("sri") * col("sri")).cast("double") /
        lit(1000000000000.0)).as("ssrr"),
      (sum(col("tri")).cast("double") / lit(1000000.0)).as("str"),
      (sum(col("tri") * col("tri")).cast("double") /
        lit(1000000000000.0)).as("strr"))
    val varR = varOf(col("r"), col("n"), col("sr"), col("srr"))
    val varSR = varOf(col("s"), col("n"), col("ssr"), col("ssrr"))
    val varTR = varOf(col("t"), col("n"), col("str"), col("strr"))
    agg.select(col("n").cast("long").as("n_days"),
      round(greatest(lit(0.0), lit(1.0) - varR / varTR), 6)
        .as("trend_strength"),
      round(greatest(lit(0.0), lit(1.0) - varR / varSR), 6)
        .as("seasonal_strength"))
  }

  /** `ts_acf` — the autocorrelation function of the daily revenue
    * series at lags 1..14: corr(x_t, x_{t+ℓ}) over the overlapping
    * days — the Box–Jenkins identification plot (a spike at 7 = weekly
    * seasonality, slow decay = trend). ts_cross_corr's self-series
    * specialization and ts_autocorr's (per-user lag-1) full-curve
    * generalization; the confidence band ±1.96/√n is emitted so the
    * plot is self-contained.
    *
    * Exactness and scale: identical to ts_cross_corr — daily decimal
    * conditional sums with the corr_matrix admission/widening, per-lag
    * power sums decimal until the final identical-text formula,
    * everything after the first aggregate calendar-bounded.
    */
  def tsAcf(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("x0"))
      .filter(col("x0").between(-9999999.99, 9999999.99))
      .select(col("day"), col("x0").cast("decimal(9,2)").as("x"))
      // calendar-sized series behind a lazy barrier: both sides of the
      // lag self-join consume it — one fact scan, not two
      .barrier(eager = false)
    val lags = spark.range(1)
      .select(explode(sequence(lit(1), lit(14))).as("lag"))
    def sq(a: Column, b: Column) =
      sum((a.cast("decimal(19,2)") * b).cast("decimal(29,4)"))
        .cast("double")
    val a = daily.select(col("day"), col("x"))
    val b = daily.select(col("day").as("bday"), col("x").as("y"))
    lags.crossJoin(a)
      .join(broadcast(b),
        col("bday") === date_add(col("day"), col("lag").cast("int")))
      .groupBy(col("lag"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sq(col("x"), col("x")).as("sxx"), sq(col("x"), col("y")).as("sxy"),
        sq(col("y"), col("y")).as("syy"))
      .select(col("lag").cast("long").as("lag"),
        col("n").cast("long").as("n_pairs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), lit(0.0)),
          6).as("acf"),
        round(lit(1.96) / sqrt(col("n")), 6).as("conf_band"))
      .orderBy(col("lag"))
  }

  /** `ts_dow_hour_heatmap` — the day-of-week × hour activity matrix
    * (event count, value total, share of all activity): the staffing/
    * capacity heatmap every ops dashboard draws, and the empirical
    * basis for the load model behind dq_partition_skew. Day-of-week
    * uses the convention-free epoch-mod-7 form (0 = Thursday — the
    * fn_date_arith contract), hour from the UTC event time.
    *
    * Exactness: counts exact; value totals exact decimal → double;
    * shares one division each against a one-row broadcast total.
    * Scale: ONE map-combined groupBy over a ≤168-cell domain — the
    * histogram cost class at any data size.
    */
  def tsDowHourHeatmap(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val cells = Tables.events(spark, sfDir)
      .select(pmod(datediff(to_date(col("ts_utc")),
        lit("1970-01-01").cast("date")), lit(7)).cast("long").as("dow"),
        hour(col("ts_utc")).cast("long").as("hr"),
        cents2(col("value")).as("v"))
      .groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("n_events"),
        outCents(sum(col("v")), 2).as("value_total"))
      // 7×24-cell frame behind a lazy barrier: the total scalar and the
      // output both consume it — one fact scan, not two
      .barrier(eager = false)
    val tot = cells.agg(sum(col("n_events")).cast("double").as("t"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hr"), col("n_events"), col("value_total"),
        round(col("n_events") / col("t"), 6).as("share"))
      .orderBy(col("dow"), col("hr"))
  }

  /** `ts_holt` — Holt linear-trend double exponential smoothing of the
    * daily revenue series (α = 1/2, β = 1/4), with per-day level/trend
    * state, the one-step-ahead fitted value, and a 7-day-ahead forecast
    * fan (ŷ_{T+h} = l_T + h·b_T): the capacity-planning forecast one
    * notch above ts_ewma (which tracks level only and lags any trend).
    * Textbook init l₁ = y₁, b₁ = y₂ − y₁; updates for t ≥ 2. Requires a
    * series of ≥ 2 days (the corpus calendar is 30).
    *
    * Cross-engine exactness discipline: the recursion is genuinely
    * sequential, so instead of avoiding it (the ts_ewma closed form) it
    * is made BIT-DETERMINISTIC — daily totals enter as exact decimal
    * cents (order-free sums), and both engines then fold the IDENTICAL
    * IEEE expression l' = 0.5y + 0.5(l+b); b' = 0.25(l'−l) + 0.75b over
    * the same doubles in the same order (α, β dyadic → exact literals),
    * so every intermediate is bit-identical and ROUND-6 at output is
    * safe at any magnitude.
    *
    * Scale shape: the only data-sized work is ONE map-combined daily
    * aggregate; the fold runs over a single calendar-length array on one
    * row (aggregate() HOF over sort_array(collect_list)) — O(days)
    * state, no self-join, no driver collect. At 100 TB the day count is
    * still calendar-sized.
    */
  def tsHolt(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(cents2(col("value"))).as("cents"))
    val series = daily
      .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
        .as("s"))
      .select(transform(col("s"), x => x.getField("day")).as("days"),
        transform(col("s"), x => x.getField("cents").cast("double"))
          .as("ys"))
    val n = size(col("ys"))
    val y1 = element_at(col("ys"), 1)
    val y2 = element_at(col("ys"), 2)
    val path = aggregate(
      slice(col("ys"), lit(2), n - 1),
      array(struct(y1.as("l"), (y2 - y1).as("b"))),
      (acc: Column, y: Column) => {
        val l0 = element_at(acc, -1).getField("l")
        val b0 = element_at(acc, -1).getField("b")
        val lNew = lit(0.5) * y + lit(0.5) * (l0 + b0)
        val bNew = lit(0.25) * (lNew - l0) + lit(0.75) * b0
        concat(acc, array(struct(lNew.as("l"), bNew.as("b"))))
      })
    val withPath = series.withColumn("path", path)
    val lastDay = element_at(col("days"), -1)
    val lN = element_at(col("path"), -1).getField("l")
    val bN = element_at(col("path"), -1).getField("b")
    val fitRows = transform(sequence(lit(1), n), t => struct(
      element_at(col("days"), t).as("day"),
      lit(0).as("horizon"),
      element_at(col("ys"), t).as("y"),
      element_at(col("path"), t).getField("l").as("l"),
      element_at(col("path"), t).getField("b").as("b"),
      when(t > lit(1), element_at(col("path"), t - 1).getField("l") +
        element_at(col("path"), t - 1).getField("b")).as("yhat")))
    val fcRows = transform(sequence(lit(1), lit(7)), h => struct(
      date_add(lastDay, h).as("day"),
      h.as("horizon"),
      lit(null).cast("double").as("y"),
      lit(null).cast("double").as("l"),
      lit(null).cast("double").as("b"),
      (lN + h.cast("double") * bN).as("yhat")))
    withPath.select(explode(concat(fitRows, fcRows)).as("r"))
      .select(col("r.day").cast("timestamp").as("day_ts"),
        col("r.horizon").cast("long").as("horizon"),
        (col("r.y") / 100.0).as("revenue"),
        round(col("r.l") / 100.0, 6).as("level"),
        round(col("r.b") / 100.0, 6).as("trend"),
        round(col("r.yhat") / 100.0, 6).as("yhat"))
      .orderBy(col("day_ts"))
  }

  /** `ts_backtest` — rolling-origin one-step-ahead backtest of three
    * baseline forecasters over the daily revenue series: `naive`
    * (ŷ_t = y_{t−1}), `snaive7` (ŷ_t = y_{t−7}), and `combo_avg`
    * (ŷ_t = (y_{t−1}+y_{t−7})/2 — the classic equal-weight forecast
    * combination). Per method: evaluation count, MAE, RMSE, and MASE
    * (MAE scaled by the naive MAE over the same window — naive ≡ 1 by
    * construction, so snaive7/combo read as relative skill). This is
    * the model-selection step ts_holt/ts_ewma feed into: before
    * trusting any forecaster, beat the naives out of sample.
    *
    * Determinism: daily totals are exact integer cents, so every
    * error is an exact integer (combo errors ×2 — half-integers kept
    * integral), |e| sums are exact, and Σe² runs in DECIMAL(38,0)
    * (int64 wraps at scale — the ts_cusum lesson). MAE/RMSE/MASE are
    * single IEEE expressions over doubles of those exact integers,
    * ROUND-6.
    *
    * Scale shape: one map-combined daily aggregate is the only
    * data-sized work; the lag window and the method explode run on
    * the calendar-sized frame (30 rows at any corpus size).
    */
  def tsBacktest(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(cents2(col("value"))).as("c"))
    val w = Window.orderBy(col("day"))
    val errs = daily
      .withColumn("l1", lag(col("c"), 1).over(w))
      .withColumn("l7", lag(col("c"), 7).over(w))
      .filter(col("l7").isNotNull)
      .select((col("c") - col("l1")).as("e1"),
        (col("c") - col("l7")).as("e7"),
        (col("c") * 2 - col("l1") - col("l7")).as("e2"))
    val agg = errs.agg(count(lit(1)).as("n"),
      sum(abs(col("e1")).cast("decimal(38,0)")).as("a1"),
      sum(abs(col("e7")).cast("decimal(38,0)")).as("a7"),
      sum(abs(col("e2")).cast("decimal(38,0)")).as("a2"),
      sum(col("e1").cast("decimal(38,0)") * col("e1")).as("s1"),
      sum(col("e7").cast("decimal(38,0)") * col("e7")).as("s7"),
      sum(col("e2").cast("decimal(38,0)") * col("e2")).as("s2"))
    def nd(c: Column) = c.cast("double")
    agg.select(explode(array(
        struct(lit("combo_avg").as("method"), col("n").as("n_eval"),
          round(nd(col("a2")) / nd(col("n")) / 2.0 / 100.0, 6).as("mae"),
          round(sqrt(nd(col("s2")) / nd(col("n")) / 4.0) / 100.0, 6)
            .as("rmse"),
          round(nd(col("a2")) / (nd(col("a1")) * 2.0), 6).as("mase")),
        struct(lit("naive").as("method"), col("n").as("n_eval"),
          round(nd(col("a1")) / nd(col("n")) / 100.0, 6).as("mae"),
          round(sqrt(nd(col("s1")) / nd(col("n"))) / 100.0, 6).as("rmse"),
          round(nd(col("a1")) / nd(col("a1")), 6).as("mase")),
        struct(lit("snaive7").as("method"), col("n").as("n_eval"),
          round(nd(col("a7")) / nd(col("n")) / 100.0, 6).as("mae"),
          round(sqrt(nd(col("s7")) / nd(col("n"))) / 100.0, 6).as("rmse"),
          round(nd(col("a7")) / nd(col("a1")), 6).as("mase")))).as("r"))
      .select(col("r.method"), col("r.n_eval").cast("long").as("n_eval"),
        col("r.mae"), col("r.rmse"), col("r.mase"))
      .orderBy(col("method"))
  }

  val registry: Seq[Query] = Seq(
    Query("ts_backtest", tsBacktest _, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |l AS (
        |  SELECT c, LAG(c, 1) OVER (ORDER BY day) AS l1,
        |    LAG(c, 7) OVER (ORDER BY day) AS l7
        |  FROM daily),
        |e AS (
        |  SELECT c - l1 AS e1, c - l7 AS e7, c * 2 - l1 - l7 AS e2
        |  FROM l WHERE l7 IS NOT NULL),
        |a AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(ABS(e1) AS DECIMAL(38,0))) AS a1,
        |    SUM(CAST(ABS(e7) AS DECIMAL(38,0))) AS a7,
        |    SUM(CAST(ABS(e2) AS DECIMAL(38,0))) AS a2,
        |    SUM(CAST(e1 AS DECIMAL(38,0)) * e1) AS s1,
        |    SUM(CAST(e7 AS DECIMAL(38,0)) * e7) AS s7,
        |    SUM(CAST(e2 AS DECIMAL(38,0)) * e2) AS s2
        |  FROM e)
        |SELECT 'combo_avg' AS method, CAST(n AS BIGINT) AS n_eval,
        |  ROUND(CAST(a2 AS DOUBLE) / CAST(n AS DOUBLE) / 2.0 / 100.0, 6)
        |    AS mae,
        |  ROUND(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) / 4.0)
        |    / 100.0, 6) AS rmse,
        |  ROUND(CAST(a2 AS DOUBLE) / (CAST(a1 AS DOUBLE) * 2.0), 6) AS mase
        |FROM a
        |UNION ALL
        |SELECT 'naive', CAST(n AS BIGINT),
        |  ROUND(CAST(a1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6),
        |  ROUND(sqrt(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6),
        |  ROUND(CAST(a1 AS DOUBLE) / CAST(a1 AS DOUBLE), 6)
        |FROM a
        |UNION ALL
        |SELECT 'snaive7', CAST(n AS BIGINT),
        |  ROUND(CAST(a7 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6),
        |  ROUND(sqrt(CAST(s7 AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6),
        |  ROUND(CAST(a7 AS DOUBLE) / CAST(a1 AS DOUBLE), 6)
        |FROM a
        |ORDER BY method""".stripMargin)),
    Query("ts_holt", tsHolt _, Some(
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |idx AS (
        |  SELECT day, y,
        |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS INTEGER) AS t
        |  FROM daily),
        |nn AS (SELECT MAX(t) AS n, MAX(day) AS last_day FROM idx),
        |rec AS (
        |  SELECT i1.t AS t, i1.day AS day, i1.y AS y, i1.y AS l,
        |    i2.y - i1.y AS b
        |  FROM idx i1 JOIN idx i2 ON i1.t = 1 AND i2.t = 2
        |  UNION ALL
        |  SELECT i.t, i.day, i.y,
        |    CAST(0.5 AS DOUBLE) * i.y
        |      + CAST(0.5 AS DOUBLE) * (r.l + r.b) AS l,
        |    CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * i.y
        |        + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
        |      + CAST(0.75 AS DOUBLE) * r.b AS b
        |  FROM rec r JOIN idx i ON i.t = r.t + 1),
        |fin AS (
        |  SELECT r.l AS l, r.b AS b, nn.last_day AS last_day
        |  FROM rec r, nn WHERE r.t = nn.n),
        |fc AS (
        |  SELECT last_day + CAST(h.h AS INTEGER) AS day,
        |    CAST(h.h AS BIGINT) AS horizon,
        |    l + CAST(h.h AS DOUBLE) * b AS yhat
        |  FROM fin, (SELECT range AS h FROM range(1, 8)) h)
        |SELECT CAST(day AS TIMESTAMP) AS day_ts,
        |  CAST(0 AS BIGINT) AS horizon,
        |  y / CAST(100.0 AS DOUBLE) AS revenue,
        |  ROUND(l / CAST(100.0 AS DOUBLE), 6) AS level,
        |  ROUND(b / CAST(100.0 AS DOUBLE), 6) AS trend,
        |  ROUND((LAG(l) OVER (ORDER BY t) + LAG(b) OVER (ORDER BY t))
        |    / CAST(100.0 AS DOUBLE), 6) AS yhat
        |FROM rec
        |UNION ALL
        |SELECT CAST(day AS TIMESTAMP), horizon, NULL, NULL, NULL,
        |  ROUND(yhat / CAST(100.0 AS DOUBLE), 6)
        |FROM fc
        |ORDER BY day_ts""".stripMargin)),
    Query("ts_dow_hour_heatmap", tsDowHourHeatmap _, Some(
      """WITH c AS (
        |  SELECT date_diff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS dow,
        |    hour(CAST(ts AS TIMESTAMP)) AS hr,
        |    COUNT(*) AS n_events,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS DOUBLE) AS value_total
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n_events) AS DOUBLE) AS t FROM c)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
        |  n_events, value_total,
        |  ROUND(n_events / t.t, 6) AS share
        |FROM c, t ORDER BY dow, hr""".stripMargin)),
    Query("ts_acf", tsAcf _, Some(
      """WITH d0 AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS x0
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT day, CAST(x0 AS DECIMAL(9,2)) AS x FROM d0
        |  WHERE x0 BETWEEN -9999999.99 AND 9999999.99),
        |l AS (SELECT CAST(range AS INTEGER) AS lag FROM range(1, 15)),
        |s AS (
        |  SELECT l.lag, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(a.x) AS DOUBLE) AS sx, CAST(SUM(b.x) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(a.x AS DECIMAL(19,2)) * a.x AS DECIMAL(29,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(a.x AS DECIMAL(19,2)) * b.x AS DECIMAL(29,4))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(CAST(b.x AS DECIMAL(19,2)) * b.x AS DECIMAL(29,4))) AS DOUBLE) AS syy
        |  FROM l JOIN d a ON TRUE
        |  JOIN d b ON b.day = a.day + l.lag
        |  GROUP BY l.lag)
        |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
        |  ROUND((n * sxy - sx * sy) /
        |    NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0),
        |    6) AS acf,
        |  ROUND(1.96 / sqrt(n), 6) AS conf_band
        |FROM s ORDER BY lag""".stripMargin)),
    Query("ts_stl_strength", tsStlStrength _, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |      AS DOUBLE) AS total
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, total,
        |    AVG(total) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
        |    date_diff('day', DATE '1970-01-01', day) % 7 AS dow
        |  FROM daily),
        |s AS (
        |  SELECT dow, AVG(total - trend) AS raw_seasonal FROM t GROUP BY 1),
        |c AS (SELECT AVG(raw_seasonal) AS season_mean FROM s),
        |comps AS (
        |  SELECT ROUND(s.raw_seasonal - c.season_mean, 6) AS sv,
        |    ROUND(t.total - t.trend - (s.raw_seasonal - c.season_mean), 6)
        |      AS rv,
        |    ROUND(t.trend, 6) AS tv
        |  FROM t JOIN s ON t.dow = s.dow, c),
        |icomps AS (
        |  SELECT CAST(ROUND(rv * 1000000.0, 0) AS DECIMAL(19,0)) AS ri,
        |    CAST(ROUND(sv * 1000000.0, 0) AS DECIMAL(19,0)) AS si,
        |    CAST(ROUND(tv * 1000000.0, 0) AS DECIMAL(19,0)) AS ti
        |  FROM comps),
        |ic AS (
        |  SELECT ri, CAST(si + ri AS DECIMAL(19,0)) AS sri,
        |    CAST(ti + ri AS DECIMAL(19,0)) AS tri
        |  FROM icomps),
        |p AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(ri) AS DOUBLE) / 1000000.0 AS sr,
        |    CAST(SUM(ri * ri) AS DOUBLE) / 1000000000000.0 AS srr,
        |    CAST(SUM(sri) AS DOUBLE) / 1000000.0 AS ssr,
        |    CAST(SUM(sri * sri) AS DOUBLE) / 1000000000000.0 AS ssrr,
        |    CAST(SUM(tri) AS DOUBLE) / 1000000.0 AS str_,
        |    CAST(SUM(tri * tri) AS DOUBLE) / 1000000000000.0 AS strr
        |  FROM ic)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  ROUND(GREATEST(0.0, 1.0 -
        |    ((srr - sr * sr / n) / (n - 1)) /
        |    ((strr - str_ * str_ / n) / (n - 1))), 6) AS trend_strength,
        |  ROUND(GREATEST(0.0, 1.0 -
        |    ((srr - sr * sr / n) / (n - 1)) /
        |    ((ssrr - ssr * ssr / n) / (n - 1))), 6) AS seasonal_strength
        |FROM p""".stripMargin)),
    Query("ts_hampel", tsHampel _, Some(
      """WITH d AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS rev
        |  FROM events GROUP BY 1),
        |pr AS (
        |  SELECT a.day AS cday, a.rev AS x, b.rev AS v
        |  FROM d a JOIN d b
        |    ON date_diff('day', a.day, b.day) BETWEEN -3 AND 3),
        |mw AS (
        |  SELECT cday, v, COUNT(*) AS w FROM pr GROUP BY 1, 2),
        |mc AS (
        |  SELECT cday, v,
        |    SUM(w) OVER (PARTITION BY cday ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY cday) AS n
        |  FROM mw),
        |med AS (
        |  SELECT cday, MIN(v) AS med FROM mc WHERE cum * 2 >= n
        |  GROUP BY cday),
        |dv AS (
        |  SELECT pr.cday, abs(pr.v - med.med) AS dev
        |  FROM pr JOIN med ON pr.cday = med.cday),
        |dw AS (
        |  SELECT cday, dev, COUNT(*) AS w FROM dv GROUP BY 1, 2),
        |dc AS (
        |  SELECT cday, dev,
        |    SUM(w) OVER (PARTITION BY cday ORDER BY dev
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY cday) AS n
        |  FROM dw),
        |mad AS (
        |  SELECT cday, MIN(dev) AS mad FROM dc WHERE cum * 2 >= n
        |  GROUP BY cday)
        |SELECT CAST(d.day AS TIMESTAMP) AS day_ts,
        |  CAST(CAST(d.rev AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
        |  CAST(CAST(med.med AS DECIMAL(18,2)) AS DOUBLE) AS med7,
        |  CAST(CAST(mad.mad AS DECIMAL(18,2)) AS DOUBLE) AS mad7,
        |  ROUND(CAST(abs(d.rev - med.med) AS DOUBLE), 6) AS abs_dev,
        |  ROUND(CAST(abs(d.rev - med.med) AS DOUBLE), 6) >
        |    ROUND(4.4478 * CAST(mad.mad AS DOUBLE), 6) AS is_outlier
        |FROM d JOIN med ON med.cday = d.day
        |JOIN mad ON mad.cday = d.day
        |ORDER BY day_ts""".stripMargin)),
    Query("ts_mann_kendall", tsMannKendall _, Some(
      """WITH d AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS rev
        |  FROM events GROUP BY 1),
        |sp AS (
        |  SELECT CAST(SUM(CAST(sign(CAST(b.rev - a.rev AS DOUBLE))
        |    AS BIGINT)) AS BIGINT) AS s
        |  FROM d a JOIN d b ON a.day < b.day),
        |tt AS (
        |  SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
        |  FROM (SELECT COUNT(*) AS t FROM d GROUP BY rev)),
        |nn AS (SELECT COUNT(*) AS n FROM d),
        |f AS (
        |  SELECT nn.n, sp.s,
        |    CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - tt.tie_term
        |      AS DOUBLE) / 18.0 AS var_s
        |  FROM sp, tt, nn),
        |g AS (
        |  SELECT n, s, var_s,
        |    CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
        |         WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
        |         ELSE 0.0 END AS z
        |  FROM f)
        |SELECT CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS s_stat,
        |  ROUND(var_s, 6) AS var_s, ROUND(z, 6) AS z,
        |  CASE WHEN abs(ROUND(z, 6)) <= 1.96 THEN 'none'
        |       WHEN ROUND(z, 6) > 0 THEN 'increasing'
        |       ELSE 'decreasing' END AS trend
        |FROM g""".stripMargin)),
    Query("ts_spectral", tsSpectral _, Some(
      """WITH d AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS rev
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT COUNT(*) AS nd, MIN(day) AS d0,
        |    CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS mu
        |  FROM d),
        |x AS (
        |  SELECT date_diff('day', st.d0, d.day) AS t,
        |    CAST(d.rev AS DOUBLE) - st.mu AS xc, st.nd
        |  FROM d, st),
        |ks AS (SELECT CAST(range AS BIGINT) AS k FROM range(1, 16)),
        |sp AS (
        |  SELECT ks.k, MAX(x.nd) AS nd,
        |    SUM(x.xc * cos(2 * pi() * ks.k * x.t / x.nd)) AS a,
        |    SUM(x.xc * sin(2 * pi() * ks.k * x.t / x.nd)) AS b
        |  FROM ks, x GROUP BY ks.k),
        |p AS (SELECT k, nd, a * a + b * b AS p FROM sp)
        |SELECT k, ROUND(CAST(nd AS DOUBLE) / k, 6) AS period_days,
        |  ROUND(p / SUM(p) OVER (), 6) AS power_share
        |FROM p ORDER BY k""".stripMargin)),
    Query("ts_theil_sen", tsTheilSen _, Some(
      """WITH d AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS rev
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT a.day AS day_a, b.day AS day_b,
        |    CAST(b.rev - a.rev AS DOUBLE) /
        |      CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
        |  FROM d a JOIN d b ON a.day < b.day),
        |r AS (
        |  SELECT slope,
        |    ROW_NUMBER() OVER (ORDER BY slope, day_a, day_b) AS rn,
        |    COUNT(*) OVER () AS cnt
        |  FROM p)
        |SELECT CAST(MAX(cnt) AS BIGINT) AS n_pairs,
        |  ROUND(AVG(slope), 6) AS sen_slope
        |FROM r
        |WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1""".stripMargin)),
    Query("ts_burstiness", tsBurstiness _, Some(
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) -
        |      LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |        PARTITION BY event_type, user_id
        |        ORDER BY ts, event_id) AS gap
        |  FROM events),
        |s AS (
        |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(gap) AS DOUBLE) AS sg,
        |    CAST(SUM(CAST(CAST(gap AS DECIMAL(19,0)) * gap
        |      AS DECIMAL(38,0))) AS DOUBLE) AS sgg
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
        |  ROUND(sg / n / 1000000.0, 6) AS mean_gap_sec,
        |  ROUND(sqrt((sgg - sg * sg / n) / (n - 1)) / 1000000.0, 6)
        |    AS sd_gap_sec,
        |  ROUND((sqrt((sgg - sg * sg / n) / (n - 1)) - sg / n) /
        |    (sqrt((sgg - sg * sg / n) / (n - 1)) + sg / n), 6)
        |    AS burstiness
        |FROM s ORDER BY event_type""".stripMargin)),
    Query("ts_cross_corr", tsCrossCorr _, Some(
      """WITH d0 AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CASE WHEN event_type = 'view'
        |      THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS x0,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y0
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT day, CAST(x0 AS DECIMAL(9,2)) AS x,
        |    CAST(y0 AS DECIMAL(9,2)) AS y
        |  FROM d0 WHERE x0 BETWEEN -9999999.99 AND 9999999.99
        |    AND y0 BETWEEN -9999999.99 AND 9999999.99),
        |l AS (SELECT CAST(range AS INTEGER) AS lag FROM range(-7, 8)),
        |s AS (
        |  SELECT l.lag, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(a.x) AS DOUBLE) AS sx, CAST(SUM(b.y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(a.x AS DECIMAL(19,2)) * a.x AS DECIMAL(29,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(a.x AS DECIMAL(19,2)) * b.y AS DECIMAL(29,4))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(CAST(b.y AS DECIMAL(19,2)) * b.y AS DECIMAL(29,4))) AS DOUBLE) AS syy
        |  FROM l JOIN d a ON TRUE
        |  JOIN d b ON b.day = a.day + l.lag
        |  GROUP BY l.lag)
        |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
        |  ROUND((n * sxy - sx * sy) /
        |    NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0),
        |    6) AS xcorr
        |FROM s ORDER BY lag""".stripMargin)),
    Query("ts_anomaly_stl", tsAnomalyStl _, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, total,
        |    AVG(total) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
        |    date_diff('day', DATE '1970-01-01', day) % 7 AS dow
        |  FROM daily),
        |s AS (
        |  SELECT dow, AVG(total - trend) AS raw_seasonal FROM t GROUP BY 1),
        |c AS (SELECT AVG(raw_seasonal) AS season_mean FROM s),
        |r AS (
        |  SELECT t.day, t.total,
        |    ROUND(t.total - t.trend - (s.raw_seasonal - c.season_mean), 6)
        |      AS residual
        |  FROM t JOIN s ON t.dow = s.dow CROSS JOIN c),
        |st AS (
        |  SELECT AVG(residual) AS mu, stddev_samp(residual) AS sigma FROM r)
        |SELECT CAST(day AS TIMESTAMP) AS day_ts, total AS revenue,
        |  CAST(residual AS DOUBLE) AS residual,
        |  ROUND((residual - mu) / sigma, 6) AS z,
        |  abs(ROUND((residual - mu) / sigma, 6)) > 2.0 AS is_anomaly
        |FROM r CROSS JOIN st
        |ORDER BY day_ts""".stripMargin)),
    Query("join_asof_tolerance", joinAsofTolerance _, Some(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events),
        |m AS (
        |  SELECT *,
        |    MAX(CASE WHEN event_type = 'signup' THEN tsu END) OVER (
        |      PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_ts
        |  FROM e)
        |SELECT event_id, user_id, signup_ts,
        |  epoch_us(tsu) - epoch_us(signup_ts) AS gap_us
        |FROM m
        |WHERE event_type = 'purchase' AND signup_ts IS NOT NULL
        |  AND epoch_us(tsu) - epoch_us(signup_ts) <= 3600000000
        |ORDER BY event_id""".stripMargin)),
    Query("ts_streaks", tsStreaks _, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT day, total_dec, LAG(total_dec) OVER w AS prev_dec,
        |    CASE WHEN LAG(total_dec) OVER w IS NOT NULL
        |      AND total_dec > LAG(total_dec) OVER w THEN 1 ELSE 0 END AS up,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
        |  FROM daily WINDOW w AS (ORDER BY day)),
        |g AS (
        |  SELECT *, rn - SUM(up) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM f)
        |SELECT CAST(MIN(day) AS TIMESTAMP) AS start_ts,
        |  CAST(MAX(day) AS TIMESTAMP) AS end_ts,
        |  COUNT(*) AS rising_days,
        |  CAST(MAX(total_dec) - MIN(prev_dec) AS DOUBLE) AS gain
        |FROM g WHERE up = 1
        |GROUP BY grp ORDER BY start_ts""".stripMargin)),
    Query("ts_downsample", tsDownsample _, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT day, cents,
        |    CAST(NTILE(10) OVER (ORDER BY day) AS BIGINT) AS bucket
        |  FROM daily),
        |d AS (
        |  SELECT bucket, day, cents,
        |    COUNT(*) OVER (PARTITION BY bucket) AS n_b,
        |    SUM(cents) OVER (PARTITION BY bucket) AS sum_b
        |  FROM b),
        |r AS (
        |  SELECT bucket, day, cents, n_b,
        |    abs(n_b * cents - sum_b) AS dev,
        |    ROW_NUMBER() OVER (PARTITION BY bucket
        |      ORDER BY abs(n_b * cents - sum_b) DESC, day) AS rn
        |  FROM d)
        |SELECT bucket, CAST(day AS TIMESTAMP) AS day_ts,
        |  ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
        |  CAST(n_b AS BIGINT) AS n_days_in_bucket
        |FROM r WHERE rn = 1 ORDER BY bucket""".stripMargin)),
    Query("ts_cusum", tsCusum _, Some(
      """WITH e AS (
        |  SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS tsu,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(cents) AS total
        |  FROM e GROUP BY 1),
        |p AS (
        |  SELECT e.event_type, n, total,
        |    SUM(cents) OVER (PARTITION BY e.event_type
        |      ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY e.event_type
        |      ORDER BY tsu, event_id) AS BIGINT) AS t
        |  FROM e JOIN s ON e.event_type = s.event_type),
        |d AS (
        |  SELECT event_type, n, total,
        |    abs(CAST(n AS DECIMAL(19,0)) * prefix
        |      - CAST(t AS DECIMAL(19,0)) * total) AS scaled_dev
        |  FROM p)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
        |  ROUND(CAST(MAX(total) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
        |    / 100.0, 6) AS mean_value,
        |  ROUND(CAST(MAX(scaled_dev) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
        |    / 100.0, 6) AS max_abs_cusum
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("ts_peak_detect", tsPeakDetect _, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
        |  FROM events GROUP BY 1),
        |l AS (
        |  SELECT day, total_dec,
        |    LAG(total_dec) OVER w AS prev_dec,
        |    LEAD(total_dec) OVER w AS next_dec
        |  FROM daily WINDOW w AS (ORDER BY day))
        |SELECT CAST(day AS TIMESTAMP) AS day_ts,
        |  CAST(total_dec AS DOUBLE) AS revenue,
        |  -- CASE, not greatest(): DuckDB's greatest() promotes DECIMAL
        |  -- operands to DOUBLE, losing the exact subtraction
        |  CAST(total_dec - CASE WHEN prev_dec >= next_dec
        |    THEN prev_dec ELSE next_dec END AS DOUBLE) AS prominence
        |FROM l
        |WHERE prev_dec IS NOT NULL AND next_dec IS NOT NULL
        |  AND total_dec > prev_dec AND total_dec > next_dec
        |ORDER BY day_ts""".stripMargin)),
    Query("ts_ewma", tsEwma _, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
        |  FROM events GROUP BY 1),
        |c AS (SELECT day, total_dec,
        |    CAST(total_dec * 100 AS BIGINT) AS cents FROM daily),
        |l AS (
        |  SELECT day, total_dec, cents AS c0,
        |    LAG(cents, 1) OVER w AS c1, LAG(cents, 2) OVER w AS c2,
        |    LAG(cents, 3) OVER w AS c3, LAG(cents, 4) OVER w AS c4,
        |    LAG(cents, 5) OVER w AS c5, LAG(cents, 6) OVER w AS c6,
        |    LAG(cents, 7) OVER w AS c7
        |  FROM c WINDOW w AS (ORDER BY day))
        |SELECT CAST(day AS TIMESTAMP) AS day_ts,
        |  CAST(total_dec AS DOUBLE) AS revenue,
        |  ROUND(CAST(128 * c0 + COALESCE(64 * c1, 0) + COALESCE(32 * c2, 0)
        |      + COALESCE(16 * c3, 0) + COALESCE(8 * c4, 0)
        |      + COALESCE(4 * c5, 0) + COALESCE(2 * c6, 0)
        |      + COALESCE(c7, 0) AS DOUBLE)
        |    / CAST(128 + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
        |      + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
        |      + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
        |      + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
        |      + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
        |      + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
        |      + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END AS DOUBLE)
        |    / 100.0, 6) AS ewma
        |FROM l ORDER BY day_ts""".stripMargin)),
    Query("ts_rolling_stats", tsRollingStats _, Some(
      """SELECT user_id, event_id, value,
        |  COUNT(*) OVER w AS roll_n,
        |  ROUND(AVG(value) OVER w, 6) AS roll_mean,
        |  ROUND(stddev_samp(value) OVER w, 6) AS roll_sd,
        |  ROUND((value - AVG(value) OVER w)
        |    / NULLIF(stddev_samp(value) OVER w, 0), 6) AS z
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin)),
    Query("ts_decompose", tsDecompose _, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, total,
        |    AVG(total) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
        |    date_diff('day', DATE '1970-01-01', day) % 7 AS dow
        |  FROM daily),
        |s AS (
        |  SELECT dow, AVG(total - trend) AS raw_seasonal FROM t GROUP BY 1),
        |c AS (SELECT AVG(raw_seasonal) AS season_mean FROM s)
        |SELECT CAST(t.day AS TIMESTAMP) AS day_ts,
        |  CAST(t.dow AS BIGINT) AS dow, t.total,
        |  ROUND(t.trend, 6) AS trend,
        |  ROUND(s.raw_seasonal - c.season_mean, 6) AS seasonal,
        |  ROUND(t.total - t.trend - (s.raw_seasonal - c.season_mean), 6)
        |    AS residual
        |FROM t JOIN s ON t.dow = s.dow CROSS JOIN c
        |ORDER BY day_ts""".stripMargin)),
    Query("ts_autocorr", tsAutocorr _, Some(
      """WITH l AS (
        |  SELECT event_type, value,
        |    LAG(value) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_pairs,
        |  ROUND(corr(value, prev), 6) AS acf1
        |FROM l WHERE prev IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("stream_tumble", streamTumble _, Some(
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin)),
    Query("stream_slide", streamSlide _, Some(
      """SELECT ws AS window_start, COUNT(*) AS n_events FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS ws,
        |         CAST(ts AS TIMESTAMP) AS tsu FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) - INTERVAL '30 minutes' AS ws,
        |         CAST(ts AS TIMESTAMP) AS tsu FROM events) t
        |WHERE tsu >= ws AND tsu < ws + INTERVAL '1 hour'
        |GROUP BY ws
        |ORDER BY ws""".stripMargin)),
    Query("stream_session", streamSession _, Some(
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_id, value FROM events),
        |m AS (
        |  SELECT *, CASE WHEN LAG(tsu) OVER w IS NULL
        |                   OR tsu - LAG(tsu) OVER w > INTERVAL '30 minutes'
        |                 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS sid FROM m)
        |SELECT user_id, MIN(tsu) AS session_start, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM g
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),
    Query("join_asof", joinAsof _, Some(
      """SELECT event_id, user_id, signup_ts FROM (
        |  SELECT event_id, user_id, event_type,
        |    MAX(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END)
        |      OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_ts
        |  FROM events) t
        |WHERE event_type = 'purchase' AND signup_ts IS NOT NULL
        |ORDER BY event_id""".stripMargin)),
    Query("join_asof_fwd", joinAsofFwd _, Some(
      """SELECT event_id, user_id, next_signup_ts FROM (
        |  SELECT event_id, user_id, event_type,
        |    MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END)
        |      OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_signup_ts
        |  FROM events) t
        |WHERE event_type = 'purchase' AND next_signup_ts IS NOT NULL
        |ORDER BY event_id""".stripMargin)),
    Query("join_asof_nearest", joinAsofNearest _, Some(
      """SELECT event_id, user_id,
        |  CASE WHEN prev_signup IS NULL THEN next_signup
        |       WHEN next_signup IS NULL THEN prev_signup
        |       WHEN tsu - prev_signup <= next_signup - tsu THEN prev_signup
        |       ELSE next_signup END AS signup_ts
        |FROM (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS tsu,
        |    MAX(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END)
        |      OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_signup,
        |    MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END)
        |      OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_signup
        |  FROM events) t
        |WHERE event_type = 'purchase'
        |  AND (prev_signup IS NOT NULL OR next_signup IS NOT NULL)
        |ORDER BY event_id""".stripMargin)),
    Query("ts_gapfill", tsGapfill _, Some(
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
        |cal AS (SELECT user_id,
        |    UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM spans)
        |SELECT c.user_id, CAST(c.day AS TIMESTAMP) AS day_ts,
        |  COALESCE(n_events, 0) AS n_events,
        |  COALESCE(total_value, 0.0) AS total_value
        |FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
        |ORDER BY c.user_id, day_ts""".stripMargin)),
    Query("ts_locf", tsLocf _, Some(
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
        |cal AS (SELECT user_id,
        |    UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM spans)
        |SELECT c.user_id, CAST(c.day AS TIMESTAMP) AS day_ts,
        |  LAST_VALUE(total_value IGNORE NULLS) OVER (
        |    PARTITION BY c.user_id ORDER BY c.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
        |ORDER BY c.user_id, day_ts""".stripMargin)),
    Query("ts_interp", tsInterp _, Some(
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_value
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT user_id, day, total_value,
        |    LAG(day) OVER w AS prev_day, LAG(total_value) OVER w AS prev_value
        |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |g AS (
        |  SELECT user_id, day, total_value, prev_day, prev_value,
        |    UNNEST(generate_series(COALESCE(prev_day + 1, day), day, INTERVAL 1 DAY))::DATE AS cal_day
        |  FROM l)
        |SELECT user_id, CAST(cal_day AS TIMESTAMP) AS day_ts,
        |  ROUND(CASE WHEN cal_day = day THEN CAST(total_value AS DOUBLE)
        |    ELSE CAST(prev_value AS DOUBLE) +
        |      (CAST(total_value AS DOUBLE) - CAST(prev_value AS DOUBLE)) *
        |      (CAST(date_diff('day', prev_day, cal_day) AS DOUBLE) /
        |       CAST(date_diff('day', prev_day, day) AS DOUBLE)) END, 6) AS value_interp
        |FROM g ORDER BY user_id, day_ts""".stripMargin)),
    Query("ts_islands", tsIslands _, Some(
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (
        |  SELECT user_id, day,
        |    day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
        |      AS INTEGER) AS grp
        |  FROM d),
        |i AS (
        |  SELECT user_id, grp, COUNT(*) AS len
        |  FROM g GROUP BY user_id, grp)
        |SELECT user_id, COUNT(*) AS n_streaks, MAX(len) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS active_days
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("ts_resample", tsResample _, Some(
      """WITH b AS (
        |  SELECT user_id, event_id, value,
        |    make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000) * 21600000000) AS bucket_ts,
        |    CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, bucket_ts ORDER BY tsu, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, bucket_ts ORDER BY tsu DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT user_id, bucket_ts,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS volume
        |FROM r
        |GROUP BY user_id, bucket_ts
        |ORDER BY user_id, bucket_ts""".stripMargin))
  )
}
