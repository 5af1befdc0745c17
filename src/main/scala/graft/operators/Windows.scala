package graft.operators

import graft.Query
import graft.api.Barrier._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Dec._
import graft.sources.Tables

/** Window operators (SURVEY.md §2.1 category E).
  *
  * Scale design: every window partitions by a high-cardinality key
  * (priority/customer/user), so `WindowExec` shuffles once on the
  * partition key and sorts within partitions — no global sort. The
  * rank-filter query E4 relies on Catalyst's `WindowGroupLimitExec`
  * rewrite (Spark ≥3.5): the `row_number <= k` predicate is pushed below
  * the shuffle so each map task emits only its local top-k per group.
  * E1 does NOT get the rewrite — its ntile(4) needs the whole partition
  * (both facts pinned in WindowsSpec plan tests).
  */
object Windows {

  /** E1 `win_rank` — row_number / rank / dense_rank / ntile over a
    * tie-free ordering, keeping the top 5 per priority.
    */
  def winRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("price").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        outDec(col("o_totalprice"), 18, 2).as("price"))
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .withColumn("tile", ntile(4).over(w))
      .filter(col("rn") <= 5)
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** E2 `win_lag` — lag/lead analytics per customer; day gaps computed
    * via epoch arithmetic (identical semantics in both engines, unlike
    * the engines' divergent datediff signatures).
    */
  def winLag(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days",
        ((unix_timestamp(col("o_orderdate")) - unix_timestamp(col("prev_date"))) / 86400)
          .cast("long"))
      .withColumn("next_orderkey", lead(col("o_orderkey"), 1).over(w))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** E3 `win_frame` — explicit ROWS frames: running decimal total and a
    * 3-row moving count per user over event time.
    */
  def winFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_utc"),
        cents2(col("value")).as("value_c"))
      .withColumn("running_total",
        outCents(sum(col("value_c"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .withColumn("moving_n",
        count(lit(1)).over(w.rowsBetween(-2, Window.currentRow)))
      .drop("value_c")
      .orderBy(col("user_id"), col("ts_utc"), col("event_id"))
  }

  /** E4 `win_topk_group` — top-3 orders per customer via rank filter
    * (optimized to WindowGroupLimit — pinned in WindowsSpec).
    */
  def winTopkGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("price").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        outDec(col("o_totalprice"), 18, 2).as("price"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** `win_range_frame` — value-based (RANGE) frame over event time: the
    * trailing-1-hour decimal sum per user. Unlike the ROWS frames in E3,
    * the frame is defined by timestamp VALUE, so peers at the same
    * microsecond share one frame and tie order cannot change the result
    * — deterministic by construction. Only SQL text can express interval
    * RANGE bounds (DataFrame rangeBetween takes long offsets).
    */
  def winRangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir).createOrReplaceTempView("events_rf")
    spark.sql(
      """SELECT user_id, event_id, ts_utc,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
        |    (PARTITION BY user_id ORDER BY ts_utc
        |     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS DOUBLE) AS hour_total
        |FROM events_rf
        |ORDER BY user_id, ts_utc, event_id""".stripMargin)
  }

  /** `win_dist` — distribution window functions: percent_rank and
    * cume_dist over a tie-free total order (decimal price DESC, key),
    * plus first_value = the partition's top price carried to every row.
    * percent_rank = (rank-1)/(N-1) and cume_dist = rank/N are exact
    * rational divisions of identical integer operands in both engines —
    * hash-safe without rounding.
    */
  def winDist(spark: SparkSession, sfDir: String): DataFrame = {
    val priced = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        outDec(col("o_totalprice"), 18, 2).as("price"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("price").desc, col("o_orderkey"))
    priced.select(col("o_orderkey"), col("o_orderpriority"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first(col("price")).over(w).as("top_price"))
      .orderBy(col("o_orderkey"))
  }

  /** `win_pattern` — sequential PATTERN detection (MATCH_RECOGNIZE-lite):
    * per-user runs of 3 CONSECUTIVE 'error' events completing within 24
    * hours — the alerting / incident-detection shape, and the row-
    * sequence primitive funnel_stages' first-touch semantics cannot
    * express (consecutive means adjacent in the user's event sequence,
    * no other type interleaved).
    *
    * Spark-first: a lag CASCADE — all four lagged columns share ONE
    * (partition, order), so Catalyst plans a single Window node over
    * one exchange + one sort (pinned in WindowsSpec; the etl_scd2
    * discipline). The time guard compares exact integer microseconds.
    * A self-join formulation would shuffle the stream once per pattern
    * position; this shape is one shuffle regardless of pattern length.
    */
  def winPattern(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_utc"))
      .withColumn("t1", lag(col("event_type"), 1).over(w))
      .withColumn("t2", lag(col("event_type"), 2).over(w))
      .withColumn("start_ts", lag(col("ts_utc"), 2).over(w))
      .withColumn("start_event_id", lag(col("event_id"), 2).over(w))
      .filter(col("event_type") === "error" && col("t1") === "error" &&
        col("t2") === "error" &&
        unix_micros(col("ts_utc")) - unix_micros(col("start_ts")) <= 86400000000L)
      .select(col("user_id"), col("start_event_id"),
        col("event_id").as("end_event_id"),
        col("start_ts"), col("ts_utc").as("end_ts"))
      .orderBy(col("user_id"), col("end_event_id"))
  }

  /** `win_ignore_nulls` — the IGNORE NULLS window surface over a
    * sparse column: per user, `value` is observed only on purchase
    * events; every event row carries the last observed purchase value
    * (`last_value … IGNORE NULLS` — LOCF as a pure window clause, the
    * SQL-surface twin of ts_locf), the first observation so far
    * (`first_value … IGNORE NULLS`), and the NEXT observation
    * (`lead(…, 1) IGNORE NULLS` — the forward-fill lookahead a
    * label-propagation or event-attribution pass needs). Values are
    * copied, never computed — the gate is exact without rounding.
    *
    * Scale shape: all three functions share ONE (user_id)-partitioned
    * (ts, event_id)-ordered window — one shuffle, one sort, O(1)
    * running state per row (the ignore-nulls variants track one extra
    * slot). Pinned in WindowsSpec.
    */
  def winIgnoreNulls(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_utc"),
        when(col("event_type") === "purchase", col("value"))
          .as("purchase_value"))
      .select(col("user_id"), col("event_id"), col("purchase_value"),
        last(col("purchase_value"), ignoreNulls = true).over(run)
          .as("carried"),
        first(col("purchase_value"), ignoreNulls = true).over(run)
          .as("first_seen"),
        lead(col("purchase_value"), 1, null, ignoreNulls = true).over(w)
          .as("next_seen"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** `win_running_distinct` — the cumulative distinct-user curve per
    * day (how many unique users has the product EVER seen, by day) —
    * the audience-growth chart, and the canonical example of a
    * running COUNT(DISTINCT) that must NOT be computed as one
    * (no engine supports distinct in a running frame; the naive
    * per-day re-scan is O(days × rows)).
    *
    * Spark-first shape: first-occurrence attribution — each user
    * contributes exactly once, at their min(day) (one map-combined
    * shuffle from fact scale to user scale, re-collapsed to day
    * scale), and the cumulative curve is then a plain running SUM
    * over the calendar-sized day frame. The left join back to the
    * distinct activity days keeps zero-new-user days on the curve.
    */
  def winRunningDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    // the (day × user) distinct frame (the DAU table) behind a lazy
    // barrier: the first-seen rollup and the day spine both consume
    // it — one fact scan + distinct, not two fact scans
    val ev = Tables.events(spark, sfDir)
      .select(to_date(col("ts_utc")).as("day"), col("user_id"))
      .distinct()
      .barrier(eager = false)
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
      .groupBy(col("first_day")).agg(count(lit(1)).as("n_new"))
    val days = ev.select(col("day")).distinct()
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(firstSeen, col("day") === col("first_day"), "left")
      .select(col("day"), coalesce(col("n_new"), lit(0L)).as("n_new_users"))
      .withColumn("cum_users", sum(col("n_new_users")).over(w))
      .select(col("day").cast("timestamp").as("day_ts"),
        col("n_new_users"), col("cum_users"))
      .orderBy(col("day_ts"))
  }

  /** `win_debounce` — alert debouncing: error events per user collapse
    * into BURSTS (a new burst opens when the gap from the previous
    * error exceeds 30 minutes), and only each burst's first event
    * "fires" — the rest are suppressed. The dedup an alerting pipeline
    * runs so one incident pages once, reported as one row per burst
    * with its suppressed count. The stateful-looking cooldown is
    * expressible statelessly because the burst boundary depends only
    * on the PREVIOUS event (lag), not on which events fired.
    *
    * Scale shape: one (user)-partitioned lag window marks boundaries,
    * a running sum of boundary flags keys the burst, one aggregate per
    * burst — the sessionize-without-session_window idiom, one shuffle.
    */
  def winDebounce(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("ts_utc"))
      .withColumn("brk",
        (lag(col("ts_utc"), 1).over(w).isNull ||
          unix_micros(col("ts_utc")) -
            unix_micros(lag(col("ts_utc"), 1).over(w)) > 1800000000L)
          .cast("long"))
      .withColumn("burst", sum(col("brk")).over(run))
      // rank-1 within the burst, not min(event_id): under late arrivals
      // the smallest id need not be the burst's first event in EVENT time
      // both ride ONE (partition, order) spec — the count takes the
      // unbounded frame, so one WindowExec evaluates rank and size
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("burst"))
          .orderBy(col("ts_utc"), col("event_id"))))
      .withColumn("n_burst", count(lit(1)).over(
        Window.partitionBy(col("user_id"), col("burst"))
          .orderBy(col("ts_utc"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("first_event_id"),
        col("ts_utc").as("burst_start"),
        (col("n_burst") - 1).as("n_suppressed"))
      .orderBy(col("user_id"), col("burst_start"))
  }

  /** `win_drawdown` — running-peak drawdown of cumulative daily
    * revenue: for each day, the cumulative total, the running peak,
    * and the percentage drawdown from that peak. The classic
    * "how far below the high-water mark" sweep — finance's risk
    * curve, and the same shape an SLO dashboard runs on cumulative
    * error budgets. Pure window composition: cumulative sum, then
    * running max OVER the cumulative series, then a row-local ratio.
    *
    * The series is daily NET revenue — purchases minus error-event
    * chargebacks — whose cumulative walk genuinely dips (a
    * purchases-only cumsum is monotone and the query would be
    * vacuously zero).
    *
    * Exactness: daily and cumulative net are EXACT DECIMAL
    * (associative cumsum — cluster-safe), the running max is a
    * decimal comparison (exact), the absolute drawdown is an exact
    * decimal difference, and the percentage is ROUND-6, NULL while
    * the peak is non-positive (identical CASE text both engines —
    * a negative-equity drawdown ratio is meaningless).
    *
    * Scale shape: the fact table collapses to the calendar frame in
    * ONE map-combined shuffle; both windows run over that tiny frame.
    * An unbounded-history cumsum at true scale partitions by epoch
    * (year) and carries forward one row per epoch — noted, not needed
    * at the calendar-bounded gate.
    */
  def winDrawdown(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val net = when(col("event_type") === "purchase", cents2(col("value")))
      .when(col("event_type") === "error", -cents2(col("value")))
      .otherwise(lit(0L))
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(net).as("rev"))
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum", sum(col("rev")).over(cum))
      .withColumn("peak", max(col("cum")).over(cum))
      .select(col("day").cast("timestamp").as("day_ts"),
        outCents(col("rev"), 2).as("net_revenue"),
        outCents(col("cum"), 2).as("cum_net"),
        outCents(col("peak"), 2).as("peak_net"),
        outCents(col("peak") - col("cum"), 2).as("drawdown"),
        when(col("peak") > 0,
          round((col("peak") - col("cum")).cast("double") /
            col("peak").cast("double"), 6)).as("drawdown_pct"))
      .orderBy(col("day_ts"))
  }

  val registry: Seq[Query] = Seq(
    Query("win_drawdown", winDrawdown _, Some(
      """WITH d AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(18,2))
        |      WHEN event_type = 'error'
        |      THEN -CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS rev
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT day, rev,
        |    SUM(rev) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d),
        |p AS (
        |  SELECT day, rev, cum,
        |    MAX(cum) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM c)
        |SELECT CAST(day AS TIMESTAMP) AS day_ts,
        |  CAST(CAST(rev AS DECIMAL(18,2)) AS DOUBLE) AS net_revenue,
        |  CAST(CAST(cum AS DECIMAL(18,2)) AS DOUBLE) AS cum_net,
        |  CAST(CAST(peak AS DECIMAL(18,2)) AS DOUBLE) AS peak_net,
        |  CAST(CAST(peak - cum AS DECIMAL(18,2)) AS DOUBLE) AS drawdown,
        |  CASE WHEN peak > 0 THEN
        |    ROUND(CAST(peak - cum AS DOUBLE) / CAST(peak AS DOUBLE), 6)
        |  END AS drawdown_pct
        |FROM p ORDER BY day_ts""".stripMargin)),
    Query("win_debounce", winDebounce _, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events WHERE event_type = 'error'),
        |b AS (
        |  SELECT *, CASE WHEN LAG(tsu) OVER w IS NULL
        |      OR epoch_us(tsu) - epoch_us(LAG(tsu) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY tsu, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst
        |  FROM b),
        |r AS (
        |  SELECT user_id, event_id, tsu,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, burst
        |      ORDER BY tsu, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id, burst) AS n_burst
        |  FROM g)
        |SELECT user_id, event_id AS first_event_id, tsu AS burst_start,
        |  CAST(n_burst - 1 AS BIGINT) AS n_suppressed
        |FROM r WHERE rn = 1
        |ORDER BY user_id, burst_start""".stripMargin)),
    Query("win_running_distinct", winRunningDistinct _, Some(
      """WITH ev AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
        |  FROM events),
        |fs AS (
        |  SELECT first_day, COUNT(*) AS n_new FROM (
        |    SELECT user_id, MIN(day) AS first_day FROM ev GROUP BY 1)
        |  GROUP BY 1),
        |days AS (SELECT DISTINCT day FROM ev)
        |SELECT CAST(day AS TIMESTAMP) AS day_ts,
        |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new_users,
        |  CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM days LEFT JOIN fs ON days.day = fs.first_day
        |ORDER BY day_ts""".stripMargin)),
    Query("win_ignore_nulls", winIgnoreNulls _, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
        |  FROM events)
        |SELECT user_id, event_id, purchase_value,
        |  last_value(purchase_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried,
        |  first_value(purchase_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_seen,
        |  lead(purchase_value, 1 IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS next_seen
        |FROM e ORDER BY user_id, event_id""".stripMargin)),
    Query("win_pattern", winPattern _, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events),
        |l AS (
        |  SELECT *, lag(event_type, 1) OVER w AS t1,
        |    lag(event_type, 2) OVER w AS t2,
        |    lag(tsu, 2) OVER w AS start_ts,
        |    lag(event_id, 2) OVER w AS start_event_id
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
        |SELECT user_id, start_event_id, event_id AS end_event_id,
        |  start_ts, tsu AS end_ts
        |FROM l
        |WHERE event_type = 'error' AND t1 = 'error' AND t2 = 'error'
        |  AND epoch_us(tsu) - epoch_us(start_ts) <= 86400000000
        |ORDER BY user_id, end_event_id""".stripMargin)),
    Query("win_dist", winDist _, Some(
      """SELECT o_orderkey, o_orderpriority,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  first_value(price) OVER w AS top_price
        |FROM (SELECT o_orderkey, o_orderpriority,
        |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |      FROM orders)
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY price DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),
    Query("win_rank", winRank _, Some(
      """SELECT * FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |    ROW_NUMBER() OVER w AS rn,
        |    RANK() OVER w AS rnk,
        |    DENSE_RANK() OVER w AS drnk,
        |    NTILE(4) OVER w AS tile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |               ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey))
        |WHERE rn <= 5
        |ORDER BY o_orderpriority, rn""".stripMargin)),
    Query("win_lag", winLag _, Some(
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  LAG(o_orderdate, 1) OVER w AS prev_date,
        |  CAST((epoch(o_orderdate) - epoch(LAG(o_orderdate, 1) OVER w)) / 86400 AS BIGINT) AS gap_days,
        |  LEAD(o_orderkey, 1) OVER w AS next_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),
    Query("win_frame", winFrame _, Some(
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts_utc,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DECIMAL(38,2)) AS DOUBLE) AS running_total,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, CAST(ts AS TIMESTAMP), event_id""".stripMargin)),
    Query("win_range_frame", winRangeFrame _, Some(
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts_utc,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
        |    (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
        |     RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS DOUBLE) AS hour_total
        |FROM events
        |ORDER BY user_id, CAST(ts AS TIMESTAMP), event_id""".stripMargin)),
    Query("win_topk_group", winTopkGroup _, Some(
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin))
  )
}
