package graft.operators

import graft.Query
import graft.api.Barrier._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Behavioural-analytics operators: funnel conversion and cohort
  * retention — the two classic product-analytics workloads a reporting
  * engine is asked for beyond plain rollups. Both are expressed as
  * conditional aggregates over ONE scan of the fact stream (no
  * per-stage self-joins, no event-sequence explode), the shape that
  * stays a single shuffle at 100 TB.
  */
object Analytics {

  /** `funnel_stages` — ordered funnel conversion over the event
    * stream: how many users progress view → click → purchase, where
    * each later stage must happen strictly AFTER the user's first
    * occurrence of the previous one. The standard product funnel.
    *
    * Spark-first shape: per-user FIRST-timestamp per stage as three
    * conditional `min`s in one groupBy — ONE scan, ONE shuffle on
    * user_id, map-side partial mins; the stage ordering is then a
    * row-local boolean cascade and the final count a single-row
    * reduce. The naive formulation (self-join per funnel stage)
    * shuffles the stream once per stage and explodes on hot users;
    * this one is insensitive to events-per-user skew because `min`
    * partial-aggregates before the exchange.
    *
    * First-touch semantics (min per stage, strict ordering between
    * FIRSTS) is the common "did the user ever complete the ordered
    * funnel" reading; per-journey sequence matching is the
    * sessionized variant (see stream_session / SessionStream).
    */
  def funnelStages(spark: SparkSession, sfDir: String): DataFrame = {
    def firstTs(stage: String) =
      min(when(col("event_type") === stage, col("ts_utc")))
    val stages = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(firstTs("view").as("t_view"), firstTs("click").as("t_click"),
        firstTs("purchase").as("t_purch"))
      .select(
        col("t_view").isNotNull.as("s1"),
        (col("t_view").isNotNull && col("t_click") > col("t_view"))
          .as("s2"),
        (col("t_view").isNotNull && col("t_click") > col("t_view") &&
          col("t_purch") > col("t_click")).as("s3"))
    stages.agg(
      count(lit(1)).as("n_users"),
      sum(col("s1").cast("long")).as("n_view"),
      sum(col("s2").cast("long")).as("n_click_after"),
      sum(col("s3").cast("long")).as("n_purchase_after"))
  }

  /** `cohort_retention` — the cohort-retention triangle over orders:
    * customers cohorted by FIRST-order year, and for each (cohort,
    * year-offset) the number of distinct customers still ordering.
    * The decaying diagonal a retention dashboard plots.
    *
    * Spark-first shape: ONE fact pass. The fact stream collapses to
    * the distinct (customer, active-year) frame first (one map-side-
    * combined shuffle); the cohort year is then a `min` WINDOW over
    * that frame's customer partitions — the agg+self-join formulation
    * read the fact table twice (once for the cohort table, once for
    * the activity side) for the identical result. Everything after
    * the distinct is (customer × years)-cardinality.
    */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val cy = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("oy"))
      .distinct()
      .withColumn("cy",
        min(col("oy")).over(Window.partitionBy(col("o_custkey"))))
    cy.groupBy(col("cy"), (col("oy") - col("cy")).as("off"))
      .agg(count(lit(1)).as("n_active"))
      .select(col("cy").cast("long").as("cohort_year"),
        col("off").cast("long").as("year_offset"), col("n_active"))
      .orderBy(col("cohort_year"), col("year_offset"))
  }

  /** `analytics_skyline` — the 2-D Pareto frontier (skyline) of parts:
    * all (retail price, size) trade-off points not dominated by any
    * part that is at-most-equal in both dimensions and strictly better
    * in one — the classic "cheapest-for-its-size" multi-objective
    * query (product search, config tuning, model-size/quality
    * frontiers).
    *
    * Spark-first shape with an explicit scale reduction BEFORE the
    * frontier: (1) a per-price `min(size)` aggregate — for a min/min
    * skyline only the smallest size at each distinct price can be on
    * the frontier, so the candidate set collapses from row count to
    * distinct-price count with ONE map-side-combined shuffle; (2) the
    * frontier itself is a running-min sweep over the price-ordered
    * candidates (a row survives iff no strictly-cheaper candidate is
    * as small), a single window pass instead of the naive O(n²)
    * dominance self-join. The sweep's unpartitioned window runs over
    * the already-collapsed aggregate (bounded by the price domain,
    * not the fact table); on a truly unbounded domain the same sweep
    * nests (per-partition local skyline → union → final sweep) because
    * skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)).
    */
  def skyline(spark: SparkSession, sfDir: String): DataFrame = {
    val best = Tables.part(spark, sfDir)
      .groupBy(col("p_retailprice").as("price"))
      .agg(min(col("p_size")).as("size"))
    val sweep = Window.orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    best
      .withColumn("best_before", min(col("size")).over(sweep))
      .filter(col("best_before").isNull ||
        col("size") < col("best_before"))
      .select(col("price"), col("size"))
      .orderBy(col("price"))
  }

  /** `analytics_markov` — the first-order Markov transition matrix of
    * the event stream: for every (from, to) event-type pair, how often
    * a user's next event follows it and the row-normalized transition
    * probability — the behavioural fingerprint session-analysis and
    * synthetic-journey generators start from.
    *
    * Spark-first shape: successor pairing is `lag` over ONE
    * (user_id)-partitioned, (ts, event_id)-ordered window — one
    * shuffle of (user, type, ts) triples, no self-join on consecutive
    * rows; the pair counts are a map-side-combined 25-cell aggregate,
    * and row normalization is a second window over that tiny matrix
    * (5 partitions), never over the stream.
    */
  def markov(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
    val norm = Window.partitionBy(col("from_type"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_utc"), col("event_id"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("prob", round(col("n_trans").cast("double") /
        sum(col("n_trans")).over(norm).cast("double"), 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** `analytics_mom` — month-over-month revenue: monthly totals with
    * the previous month attached and the percent change — the
    * period-over-period delta every reporting dashboard leads with.
    *
    * Spark-first: the monthly rollup is one 2-phase decimal aggregate
    * (~80 rows for this corpus's seven years); the lag + pct-change
    * ride ONE window over that aggregate — the global (unpartitioned)
    * window is over rollup-sized data, bounded by the calendar, never
    * by the fact table. Revenue is decimal-exact; only the final
    * ratio is float (identical op order both engines, ROUND-6).
    */
  def mom(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy(col("month_ts"))
    Tables.orders(spark, sfDir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("timestamp")
        .as("month_ts"))
      .agg(graft.functions.Dec.outCentsWide(
        sum(graft.functions.Dec.cents2(col("o_totalprice")).cast("decimal(38,0)")), 2)
        .as("revenue"))
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("mom_pct",
        round((col("revenue") - col("prev_revenue")) / col("prev_revenue")
          * lit(100.0), 6))
      .orderBy(col("month_ts"))
  }

  /** `analytics_ttest` — Welch's two-sample t statistic (and
    * Welch–Satterthwaite degrees of freedom) between every pair of
    * event types' value distributions — the significance screen an
    * experimentation pipeline runs before trusting a mean difference.
    *
    * Spark-first: ONE scan builds the 5-row (n, mean, variance)
    * moment table (2-phase native aggregates — Welford merges, no
    * per-group collect); the pair grid is a broadcast self-join of
    * that materialized table and the t/df arithmetic is row-local.
    * Same shape as agg_hll_intersect: the checkpoint exists because
    * the aliased self-join defeats exchange reuse and would otherwise
    * rescan the stream once per side. Moment merge order perturbs the
    * last ulps → ROUND-6 on t and df (identical formula text in both
    * engines).
    */
  def ttest(spark: SparkSession, sfDir: String): DataFrame = {
    val mom = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("m"),
        var_samp(col("value")).as("v"))
      .barrier()
    val a = mom.select(col("event_type").as("type_a"), col("n").as("na"),
      col("m").as("ma"), col("v").as("va"))
    val b = mom.select(col("event_type").as("type_b"), col("n").as("nb"),
      col("m").as("mb"), col("v").as("vb"))
    val sa = col("va") / col("na"); val sb = col("vb") / col("nb")
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        round((col("ma") - col("mb")) / sqrt(sa + sb), 6).as("t_stat"),
        round(pow(sa + sb, 2) /
          (pow(sa, 2) / (col("na") - 1) + pow(sb, 2) / (col("nb") - 1)), 6)
          .as("df"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** `analytics_basket` — market-basket association over orders: for
    * every pair of part brands bought together in one order, the
    * co-occurrence count and the classic association measures
    * (support, confidence, lift) — the affinity screen behind
    * recommendations and assortment planning.
    *
    * Spark-first shape: NO pair self-join of the fact table. The
    * distinct (order, brand) item set collapses to one sorted
    * basket array per order (`collect_set` is BOUNDED here — by the
    * order's line count ∩ the 25-brand domain, never by corpus
    * size), and the pair fan-out is a row-local nested `transform`
    * over that array: ONE Generate, ≤ C(b,2) rows per order. The
    * equivalent items⋈items self-join shuffles the item set twice
    * and rescans it per side (the ttest/hll_intersect aliasing
    * trap); this shape shuffles it once. The basket table (order
    * cardinality, bounded arrays) is a per-(JVM, lineitem+part
    * content) parquet artifact (Materialize.once — the signature-table
    * policy): THREE consumers read it — pair counts, per-brand totals,
    * the order count — and unmaterialized each would re-run the
    * scan+distinct+aggregate chain once per query run. Brand totals
    * and the order-count scalar are
    * dimension-sized broadcasts. All ratios are single IEEE
    * divisions of exact integer counts (products taken in int64
    * first), so ROUND-6 is engine-stable.
    */
  def basket(spark: SparkSession, sfDir: String): DataFrame = {
    // The basket table is a per-snapshot MATERIALIZED artifact (the
    // signature-table policy): collect_set dedups in-aggregate — ONE
    // shuffle builds the distinct sorted basket, state bounded by the
    // order's line count ∩ brand domain — and the parquet artifact is
    // built once per (JVM, lineitem content), not per query run.
    val baskets = graft.sources.Materialize.once(spark, sfDir,
      Seq("lineitem", "part"), "brand_baskets")(
      Tables.lineitem(spark, sfDir)
        .join(broadcast(Tables.part(spark, sfDir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
        .groupBy(col("okey"))
        .agg(sort_array(collect_set(col("brand"))).as("basket")))
    // the pair-count table is the persisted co-occurrence matrix of an
    // association pipeline (the third consumer-facing artifact rung
    // here: baskets -> pair counts); the measures below stay per-query
    val pairs = graft.sources.Materialize.once(spark, sfDir,
      Seq("lineitem", "part"), "brand_pair_counts")(
      baskets
        .select(explode(expr(
          "flatten(transform(basket, (x, i) -> " +
            "transform(slice(basket, i + 2, size(basket)), " +
            "y -> struct(x AS brand_a, y AS brand_b))))")).as("p"))
        .select(col("p.brand_a"), col("p.brand_b"))
        .groupBy(col("brand_a"), col("brand_b"))
        .agg(count(lit(1)).as("n_co")))
    // baskets hold DISTINCT brands: explode count = per-brand order
    // count. Checkpointed too — BOTH pair sides broadcast it, and
    // unmaterialized the explode+aggregate would run once per side.
    val per = baskets.select(explode(col("basket")).as("brand"))
      .groupBy(col("brand")).agg(count(lit(1)).as("n_ord"))
      .barrier()
    val tot = baskets.agg(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(per.select(col("brand").as("brand_a"),
        col("n_ord").as("n_a"))), Seq("brand_a"))
      .join(broadcast(per.select(col("brand").as("brand_b"),
        col("n_ord").as("n_b"))), Seq("brand_b"))
      .crossJoin(broadcast(tot))
      .select(col("brand_a"), col("brand_b"), col("n_co"), col("n_a"),
        col("n_b"),
        round(col("n_co").cast("double") / col("n_orders").cast("double"), 6)
          .as("support"),
        round(col("n_co").cast("double") / col("n_a").cast("double"), 6)
          .as("confidence"),
        round((col("n_co") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
      .orderBy(col("brand_a"), col("brand_b"))
  }

  /** `analytics_rfm` — RFM customer segmentation: per-customer
    * recency (days since last order, against the corpus max date),
    * frequency (order count), monetary (decimal revenue), each
    * quartile-scored with `ntile(4)` so 4 = best, concatenated into
    * the classic "444" segment label.
    *
    * Spark-first shape: ONE map-side-combined aggregate collapses the
    * fact table to customer cardinality; the corpus max date is a
    * one-row broadcast. All three exact quartiles ride ONE
    * sortedPrefixSums pass: each customer explodes into three
    * (metric, sort_val) rows ordered metric-first — a single
    * range-sharded ranking — then ntileFromRank (exact integer NTILE
    * arithmetic) and a custkey pivot-back. Because EVERY customer
    * contributes all three metrics and the metric labels sort
    * "f" < "m" < "r", the per-metric rank base and size are pure
    * arithmetic on the prefix-sum grand total (n_m = tot_rn/3;
    * rank bases 1, n+1, 2n+1) — no stats re-pass, no re-join against
    * the customer aggregate: the pivot reconstructs recency/
    * frequency/monetary from the exact integer sort keys (monetary
    * cents derive from the DECIMAL sum, so cents/100.0 is the
    * correctly-rounded double — bit-identical to CAST(dec AS DOUBLE),
    * with no double×100 truncation hazard). Bit-identical to three
    * window NTILEs with no single-partition sort even at 10⁹
    * customers; every ranking carries the unique custkey tie-break so
    * bucket assignment is engine-deterministic.
    */
  def rfm(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val cust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(dec2(col("o_totalprice"))).cast("decimal(18,2)").as("mon_dec"))
    // corpus max = max of per-customer last orders: derived from the
    // ALREADY-built customer aggregate, not a second fact-table scan
    val maxd = cust.agg(max(col("last_order")).as("corpus_max"))
    val G = graft.api.GraftOps
    val m3 = cust.crossJoin(broadcast(maxd))
      .select(col("o_custkey"),
        datediff(col("corpus_max"), col("last_order")).cast("long")
          .as("recency_days"),
        col("frequency"),
        (col("mon_dec") * 100).cast("long").as("mon_cents"))
      .select(col("o_custkey"), explode(array(
        struct(lit("r").as("metric"),
          (-col("recency_days")).as("sort_val")),
        struct(lit("f").as("metric"), col("frequency").as("sort_val")),
        struct(lit("m").as("metric"), col("mon_cents").as("sort_val"))))
        .as("x"))
      .select(col("o_custkey"), col("x.metric").as("metric"),
        col("x.sort_val").as("sort_val"))
    // The ranked metric snapshot is a per-(JVM, orders content) parquet
    // artifact (the signature-table policy, like basket's brand_baskets):
    // the prefix-sum pass collects shard offsets at plan-construction
    // time, so unmaterialized EVERY build of this query re-paid the
    // ranking jobs; the artifact is customer-cardinality — exactly the
    // scored-customer snapshot a production RFM pipeline persists.
    val ranked = graft.sources.Materialize.once(spark, sfDir,
      Seq("orders"), "rfm_ranked3")(
      G.sortedPrefixSums(m3,
        Seq(col("metric"), col("sort_val"), col("o_custkey")), Seq.empty,
        withTotals = true))
    // metric-first ordering + equal 3-way split ⇒ per-metric rank base
    // is arithmetic on the grand total ("f" < "m" < "r" ASC)
    val nM = call_function("div", col("tot_rn"), lit(3L))
    val rnk0 = when(col("metric") === "f", lit(1L))
      .when(col("metric") === "m", nM + 1)
      .otherwise(nM * 2 + 1)
    ranked
      .withColumn("score",
        G.ntileFromRank(col("rnk") - rnk0 + 1, nM, 4))
      .groupBy(col("o_custkey"))
      .agg(max(when(col("metric") === "r", -col("sort_val")))
          .as("recency_days"),
        max(when(col("metric") === "f", col("sort_val"))).as("frequency"),
        (max(when(col("metric") === "m", col("sort_val")))
          .cast("double") / 100.0).as("monetary"),
        max(when(col("metric") === "r", col("score"))).as("r_score"),
        max(when(col("metric") === "f", col("score"))).as("f_score"),
        max(when(col("metric") === "m", col("score"))).as("m_score"))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"))
      .withColumn("segment", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
      .orderBy(col("o_custkey"))
  }

  /** `analytics_pareto` — cumulative-contribution (80/20) analysis:
    * the smallest prefix of parts, by revenue descending, that
    * covers 80 % of total revenue — the concentration query behind
    * "which SKUs carry the business" and dataset-curation "which
    * sources carry the token mass".
    *
    * Spark-first shape: the fact table collapses to a per-part
    * decimal revenue aggregate first (ONE 2-phase shuffle); the
    * running sum, total, and 80 %-cut all ride windows over that
    * part-cardinality table. Exactness discipline: revenue is summed
    * as DECIMAL, then scaled to int64 ten-thousandths, so the
    * running sum and the 5·cum < 4·total cut are EXACT integer
    * arithmetic — no float accumulation order, no decimal-overflow
    * divergence between engines (decimal×int promotion rules
    * differ; int64 math doesn't). Only the final percentage is one
    * IEEE division, ROUND-6ed. The rank + running sum ride
    * GraftOps.sortedPrefixSums (range-partitioned shards + offset
    * broadcast), so no single-partition window exists even when the
    * key domain is unbounded; the total is a one-row broadcast.
    */
  def pareto(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    // Exact int64 ten-thousandths-of-a-dollar at the LINE level:
    // price and discount are 2-decimal quantities, so cents × percent
    // is exact integer revenue — the running sum never touches float
    // or near-cap decimal promotion (decimal(38,·)×int diverges
    // between engines; int64 doesn't).
    val centsEp = cents2(col("l_extendedprice"))
    val centsDisc = cents2(col("l_discount"))
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum(centsEp * (lit(100L) - centsDisc)).as("rev_i"))
    // the grand total rides the prefix-sum pass (withTotals) —
    // a separate rev.agg() branch would re-run the fact scan+aggregate
    graft.sources.Materialize.once(spark, sfDir,
        Seq("lineitem"), "pareto_rev_ranked")(
      // part-cardinality revenue ranking snapshot — artifact per the
      // signature-table policy (prefix sums collect offsets at build)
      graft.api.GraftOps.sortedPrefixSums(rev,
        Seq(col("rev_i").desc, col("l_partkey")), Seq("rev_i"),
        withTotals = true))
      .withColumnRenamed("cum_rev_i", "cum_i")
      .withColumnRenamed("tot_rev_i", "total_i")
      .filter((col("cum_i") - col("rev_i")) * 5 < col("total_i") * 4)
      .select(col("l_partkey"), col("rnk"),
        (col("rev_i").cast("double") / 10000.0).as("revenue"),
        round(col("cum_i").cast("double") * 100.0 /
          col("total_i").cast("double"), 6).as("cum_pct"))
      .orderBy(col("rnk"))
  }

  /** `analytics_cohort_ltv` — the revenue companion of the retention
    * triangle: per (first-order-year cohort, year offset) the period
    * revenue, the cohort's CUMULATIVE revenue through that offset, and
    * the running revenue per cohort member (LTV) — the curve a
    * payback-period analysis reads.
    *
    * Spark-first shape: ONE fact pass (the cohort_retention rewrite).
    * The fact stream collapses to per-(customer, year) decimal revenue
    * first; the cohort year is a `min` window over that frame's
    * customer partitions, and the frame sits behind a lazy checkpoint
    * barrier because TWO branches consume it (the cohort-size rollup —
    * a customer's first-year row marks its cohort — and the revenue
    * rollup). The agg+join formulation read the fact table twice.
    * Exactness discipline: period AND cumulative revenue accumulate in
    * DECIMAL through the window — a double running sum would expose
    * the two engines' different window-aggregation orders (segment
    * trees vs streaming); decimal is order-free (decimal sums of
    * per-(customer, year) decimal sums re-associate exactly). Only the
    * final per-member ratio is one IEEE division, ROUND-6.
    */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val perCY = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), year(col("o_orderdate")).as("oy"))
      .agg(sum(cents2(col("o_totalprice"))).as("rev_cy"))
      .withColumn("cy",
        min(col("oy")).over(Window.partitionBy(col("o_custkey"))))
      .barrier(eager = false)
    // each customer has exactly one oy === cy row (its first year)
    val sz = perCY.filter(col("oy") === col("cy"))
      .groupBy(col("cy")).agg(count(lit(1)).as("n_cust"))
    val w = Window.partitionBy(col("cy")).orderBy(col("off"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perCY
      .groupBy(col("cy"), (col("oy") - col("cy")).as("off"))
      .agg(sum(col("rev_cy").cast("decimal(38,0)")).as("rev_c"))
      .withColumn("cum_c", sum(col("rev_c")).over(w))
      .join(broadcast(sz), Seq("cy"))
      .select(col("cy").cast("long").as("cohort_year"),
        col("off").cast("long").as("year_offset"),
        outCentsWide(col("rev_c"), 2).as("revenue"),
        outCentsWide(col("cum_c"), 2).as("cum_revenue"),
        round(outCentsWide(col("cum_c"), 2) / col("n_cust").cast("double"),
          6).as("ltv_per_cust"))
      .orderBy(col("cohort_year"), col("year_offset"))
  }

  /** `analytics_forecast_naive` — the seasonal-naive forecast and its
    * backtest: predict each day's revenue as the SAME WEEKDAY last
    * week (`lag 7` over the daily series), score with the absolute
    * error, and roll the series up to the backtest verdict (MAE and
    * MAPE over the forecastable days). The baseline every real
    * forecasting pipeline must beat — and the standard way to gate a
    * fancier model's deployment.
    *
    * Spark-first shape: one decimal daily aggregate; lag and error
    * are row-local over the calendar-sized series; the backtest
    * summary is a second tiny aggregate attached via a one-row
    * broadcast (no second scan). Revenue and forecast stay
    * decimal-exact; only MAE/MAPE are ROUND-6 doubles.
    */
  def forecastNaive(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val w = Window.orderBy(col("day"))
    // calendar-sized scored series behind a lazy barrier: the backtest
    // verdict and the output both consume it — one fact scan, not two
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(sum(cents2(col("value"))).as("total_c"))
      .withColumn("fc_c", lag(col("total_c"), 7).over(w))
      .withColumn("err_c", abs(col("total_c") - col("fc_c")))
      .barrier(eager = false)
    val verdict = daily.filter(col("fc_c").isNotNull)
      .agg(count(lit(1)).as("n_scored"),
        round(avg(outCents(col("err_c"), 2)), 6).as("mae"),
        // nullif guard: a zero-revenue day would divide by zero, and
        // Spark (NULL) and DuckDB (inf) disagree there; as NULL both
        // engines' AVG drops the day from MAPE identically
        round(avg(outCents(col("err_c"), 2) /
          nullif(outCents(col("total_c"), 2), lit(0.0))) * 100.0, 6)
          .as("mape_pct"))
    daily.crossJoin(broadcast(verdict))
      .select(col("day").cast("timestamp").as("day_ts"),
        outCents(col("total_c"), 2).as("total"),
        outCents(col("fc_c"), 2).as("forecast"),
        outCents(col("err_c"), 2).as("abs_err"),
        col("n_scored"), col("mae"), col("mape_pct"))
      .orderBy(col("day_ts"))
  }

  /** `analytics_attribution` — last-touch marketing attribution: each
    * purchase is credited to the user's most recent STRICTLY-preceding
    * touch event (view or click); purchases with no prior touch fall
    * into the 'direct' channel. The revenue-by-channel report every
    * attribution pipeline starts from (last-touch being the baseline
    * model the fancier ones are compared against).
    *
    * Spark-first shape: ONE window over the per-user event sequence —
    * `last(touch, ignoreNulls)` over rows (unbounded, -1) carries the
    * latest prior touch to every row without a self-join or an
    * event-sequence explode; the channel rollup is then a tiny
    * aggregate. One shuffle on user_id, insensitive to per-user event
    * skew beyond the window sort. Revenue accumulates in DECIMAL (the
    * order-free choice), one double cast at the end.
    */
  def attribution(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("view", "click"),
      col("event_type"))
    Tables.events(spark, sfDir)
      .withColumn("channel",
        coalesce(last(touch, ignoreNulls = true).over(w), lit("direct")))
      .filter(col("event_type") === "purchase")
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        outCents(sum(cents2(col("value"))), 2).as("revenue"))
      .orderBy(col("channel"))
  }

  /** `analytics_churn` — the monthly active/new/retained/churned
    * customer ledger over orders: per month, how many customers were
    * active, how many were first-ever active, how many were also
    * active the previous month, and how many of the previous month's
    * actives went silent. The subscription-health dashboard primitive.
    *
    * Spark-first shape: months as PORTABLE integer indices
    * (year·12 + month−1 — no date+interval arithmetic, whose result
    * types differ across engines), the activity set collapsed to
    * distinct (customer, month) FIRST (one map-combined shuffle from
    * fact scale down to customer×months), then lag/lead per customer
    * over that dimension-sized frame classifies every transition
    * row-locally — no month-to-month self-join. Churn at month m is
    * attributed from month m−1 rows whose next activity isn't m; the
    * left join back to active months drops the phantom max+1 month
    * structurally.
    */
  def churn(spark: SparkSession, sfDir: String): DataFrame = {
    val am = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("ym"))
      .distinct()
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("ym"))
    // (customer × active-month)-cardinality frame behind a lazy
    // barrier: the per-month rollup and the churn branch both consume
    // it — one fact scan + distinct + window, not two
    val flagged = am
      .withColumn("prev_ym", lag(col("ym"), 1).over(w))
      .withColumn("next_ym", lead(col("ym"), 1).over(w))
      .barrier(eager = false)
    val perMonth = flagged.groupBy(col("ym")).agg(
      count(lit(1)).as("n_active"),
      sum(when(col("prev_ym").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev_ym") === col("ym") - 1, 1L).otherwise(0L))
        .as("n_retained"))
    val churned = flagged
      .filter(col("next_ym").isNull || col("next_ym") =!= col("ym") + 1)
      .groupBy((col("ym") + 1).as("ym"))
      .agg(count(lit(1)).as("n_churned"))
    perMonth.join(churned, Seq("ym"), "left")
      .select((col("ym") / 12).cast("long").as("year"),
        pmod(col("ym"), lit(12)).cast("long") .plus(1).as("month"),
        col("n_active"), col("n_new"), col("n_retained"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("year"), col("month"))
  }

  /** `analytics_stickiness` — the DAU/WAU engagement ratio per week
    * over the event stream: average daily active users divided by
    * weekly active users — the standard "how often do actives come
    * back" product metric (its DAU/MAU sibling is the same shape one
    * date_trunc wider).
    *
    * Spark-first shape: ONE distinct (day, user) collapse from fact
    * scale (map-combined), then both the daily counts and the weekly
    * distinct-user counts derive from that dimension-sized frame —
    * the week re-collapse rides the same keys. Counts are exact
    * integers; the two ratios are single IEEE divisions over them,
    * ROUND-6. date_trunc('week') is ISO-Monday in both engines.
    */
  def stickiness(spark: SparkSession, sfDir: String): DataFrame = {
    val du = Tables.events(spark, sfDir)
      .select(to_date(col("ts_utc")).as("day"), col("user_id"))
      .distinct()
    // the (day × user) distinct frame — the DAU table a product
    // pipeline materializes — behind a lazy barrier: the daily and
    // weekly branches both consume it; one fact scan + distinct, not two
    val withWeek = du.withColumn("week",
      date_trunc("week", col("day")).cast("date"))
      .barrier(eager = false)
    val daily = withWeek.groupBy(col("week"), col("day"))
      .agg(count(lit(1)).as("dau"))
    val weekly = withWeek.select(col("week"), col("user_id")).distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("wau"))
    daily.groupBy(col("week"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("sum_dau"))
      .join(weekly, Seq("week"))
      .select(col("week").cast("timestamp").as("week_ts"), col("n_days"),
        round(col("sum_dau").cast("double") / col("n_days"), 6)
          .as("avg_dau"),
        col("wau"),
        round(col("sum_dau").cast("double") /
          (col("n_days") * col("wau")), 6).as("stickiness"))
      .orderBy(col("week_ts"))
  }

  /** `analytics_mutual_info` — mutual information (nats) between event
    * type and time-of-day quadrant, with both marginal entropies and
    * the normalized MI: the dependence screen a feature-selection or
    * drift-detection pass runs over categorical pairs (is WHAT users
    * do associated with WHEN they do it).
    *
    * Spark-first shape: ONE fact-scale aggregate to the joint
    * |X|×|Y| contingency cells (map-combined; 20 cells here, bounded
    * by the category domains, never by row count); marginals and the
    * total re-aggregate the cells. All counts are exact integers; the
    * p·ln terms are doubles over a ≤20-element reduction, ROUND-6
    * (the float-sum-order band is ~1e-15 of values O(1)). The hour
    * quadrant uses floor(hour/6.0) — exact at the boundaries because
    * multiples of 6 divide to exactly-representable integers in IEEE.
    */
  def mutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    // the contingency table is (event_types × 4) cells; SIX branches
    // consume it (marginals, total, MI, both entropies) — the lazy
    // checkpoint barrier makes the fact scan + aggregate run ONCE
    // (unbarriered, AQE planned each branch independently: 6 fact reads)
    val cells = Tables.events(spark, sfDir)
      .select(col("event_type").as("x"),
        floor(hour(col("ts_utc")) / 6.0).cast("long").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nxy"))
      .barrier(eager = false)
    val mx = cells.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val my = cells.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    val tot = cells.agg(sum(col("nxy")).cast("double").as("n"))
    val mi = cells.join(mx, Seq("x")).join(my, Seq("y"))
      .crossJoin(broadcast(tot))
      .agg(sum((col("nxy") / col("n")) *
        log(col("nxy").cast("double") * col("n") /
          (col("nx").cast("double") * col("ny").cast("double"))))
        .as("mi"))
    val hx = mx.crossJoin(broadcast(tot))
      .agg(sum(-(col("nx") / col("n")) * log(col("nx") / col("n")))
        .as("h_x"))
    val hy = my.crossJoin(broadcast(tot))
      .agg(sum(-(col("ny") / col("n")) * log(col("ny") / col("n")))
        .as("h_y"))
    mi.crossJoin(hx).crossJoin(hy)
      .select(round(col("mi"), 6).as("mi_nats"),
        round(col("h_x"), 6).as("h_x"), round(col("h_y"), 6).as("h_y"),
        round(col("mi") / sqrt(col("h_x") * col("h_y")), 6).as("nmi"))
  }

  /** `analytics_ab_srm` — the sample-ratio-mismatch (SRM) guardrail for
    * a hash-based A/B split: users assign to arms by md5 prefix (the
    * same content-addressed rule as pipeline_split — deterministic,
    * coordination-free, identical in both engines), and the χ²
    * goodness-of-fit statistic against the intended 50/50 tests the
    * assignment itself. SRM is the first check every experimentation
    * platform runs — a biased splitter invalidates the experiment
    * before any metric is read.
    *
    * Exactness: for a 50/50 split χ² reduces to (nA − nB)²/n — exact
    * int64 arithmetic until ONE final division, ROUND-6. The flag
    * compares against the df=1, α=0.05 critical value 3.841.
    *
    * Scale shape: distinct users (one map-combined shuffle), then a
    * map-side hash assign and a single global conditional aggregate.
    */
  def abSrm(spark: SparkSession, sfDir: String): DataFrame = {
    val arm = when(
      substring(md5(col("user_id").cast("string")), 1, 4) < "8000", "A")
      .otherwise("B")
    Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .select(arm.as("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"))
      .select(col("n_users"), col("n_a"), col("n_b"),
        round((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) /
          col("n_users").cast("double"), 6).as("chi2"),
        ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) >
          lit(3.841) * col("n_users").cast("double")).as("srm_detected"))
  }

  /** `analytics_survival_km` — the Kaplan–Meier retention curve over
    * user lifetimes: for each observed churn time t (days between a
    * user's first and last activity), the risk set, the churn count,
    * and the product-limit survival estimate S(t) = Π(1 − dᵢ/nᵢ).
    * Users still active on the corpus frontier day are right-CENSORED
    * (they leave the risk set without a churn event) — the whole point
    * of KM over a naive "fraction retained at t", which silently
    * treats them as churned.
    *
    * Spark-first shape: per-user (first, last) days in one
    * map-combined shuffle; the lifetime table collapses to the
    * distinct-lifetime frame — BOUNDED by the calendar day domain
    * (≤ corpus span in days at any user cardinality), so its
    * cumulative windows never see data-sized input; risk sets come
    * from one cumulative window (n_t = N − exits before t) and the
    * product via exp(Σ ln(factor)) on the SAME window. A zero factor (everyone
    * left churns at the last time) short-circuits to S=0 through an
    * explicit flag — Spark's ln(0) is NULL while DuckDB's is -inf,
    * so the guard is semantic, not cosmetic.
    */
  def survivalKm(spark: SparkSession, sfDir: String): DataFrame = {
    // Purchase lifetimes, not all-event lifetimes: every user is active
    // near-daily on this corpus (all-event lifetimes collapse to one
    // spell), while first→last PURCHASE spans vary — the "paying
    // lifetime" curve a retention team actually fits.
    // user-cardinality lifetime spans behind a lazy barrier: the
    // frontier scalar, the lifetime frame, and the risk-set count all
    // consume this — one fact scan, not one per consumer
    val perUser = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts_utc"))).as("first_day"),
        max(to_date(col("ts_utc"))).as("last_day"))
      .barrier(eager = false)
    val frontier = perUser.agg(max(col("last_day")).as("max_day"))
    val lifetimes = perUser.crossJoin(broadcast(frontier))
      .select(datediff(col("last_day"), col("first_day")).cast("long")
          .as("t"),
        (col("last_day") < col("max_day")).cast("long").as("churned"))
    val byT = lifetimes.groupBy(col("t"))
      .agg(count(lit(1)).as("n_exit"), sum(col("churned")).as("d"))
    val wOrd = Window.orderBy(col("t"))
    val cum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val n = lifetimes.count()
    byT
      .withColumn("n_risk", lit(n) - coalesce(sum(col("n_exit")).over(prev),
        lit(0L)))
      .filter(col("d") > 0)
      .withColumn("factor",
        (col("n_risk") - col("d")).cast("double") /
          col("n_risk").cast("double"))
      .withColumn("hit_zero", max((col("factor") === 0.0).cast("long"))
        .over(cum))
      .withColumn("km_survival",
        when(col("hit_zero") === 1, 0.0)
          .otherwise(round(exp(sum(log(col("factor"))).over(cum)), 6)))
      .select(col("t").as("t_days"), col("n_risk"), col("d").as("d_churned"),
        col("km_survival"))
      .orderBy(col("t_days"))
  }

  /** `analytics_elasticity` — log-log price elasticity of demand per
    * part brand: the OLS slope of ln(quantity) on ln(unit price) over
    * that brand's line items — THE price-sensitivity estimate a
    * pricing team fits, and the grouped-regression surface beside
    * agg_regression's per-type time trend.
    *
    * Spark-first shape: facts join the broadcast part dim; the five
    * OLS sums partial-aggregate map-side into one (brand)-keyed
    * shuffle — the closed-form slope needs no iteration.
    *
    * Exactness discipline: the per-row ln terms and their products are
    * IEEE-identical in both engines (same doubles in, correctly-
    * rounded ops), but a plain double SUM is merge-order-dependent —
    * and the slope's numerator cancels near-equal 10⁷-scale terms,
    * amplifying that band. So each term is QUANTIZED to DECIMAL(18,9)
    * per row and summed exactly (order-free); the formula then runs
    * once over exact inputs, ROUND-6.
    */
  def elasticity(spark: SparkSession, sfDir: String): DataFrame = {
    def q9(c: Column) = round(c, 9).cast("decimal(18,9)")
    val x = log(col("l_extendedprice") / col("l_quantity"))
    val y = log(col("l_quantity"))
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), x.as("x"), y.as("y"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(q9(col("x"))).cast("double").as("sx"),
        sum(q9(col("y"))).cast("double").as("sy"),
        sum(q9(col("x") * col("x"))).cast("double").as("sxx"),
        sum(q9(col("x") * col("y"))).cast("double").as("sxy"))
      .select(col("p_brand"), col("n").cast("long").as("n_lines"),
        round(expr("(n * sxy - sx * sy) / (n * sxx - sx * sx)"), 6)
          .as("elasticity"))
      .orderBy(col("p_brand"))
  }

  /** `analytics_conversion_window` — bounded-window conversion: of the
    * users who ever signed up, how many purchased within 7 days of
    * their FIRST signup — the activation metric behind every "D7
    * conversion" dashboard. funnel_stages answers "ever, in order";
    * this answers "in time", which is the version a growth team is
    * actually paged on.
    *
    * Spark-first shape: ONE fact pass — the first signup is a
    * conditional-min WINDOW over each user's partition (one shuffle
    * on user_id), the bounded-window test is then row-local on the
    * purchase rows, and the per-user then global collapses are
    * map-combined. The aggregate + purchases-join formulation read
    * the fact table twice for the identical result. The 7-day bound
    * is exact integer µs.
    */
  def conversionWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val wUser = Window.partitionBy(col("user_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_utc"))
      .withColumn("first_signup",
        min(when(col("event_type") === "signup", col("ts_utc")))
          .over(wUser))
      .filter(col("first_signup").isNotNull)
      .withColumn("converted",
        (col("event_type") === "purchase" &&
          unix_micros(col("ts_utc")) >= unix_micros(col("first_signup")) &&
          unix_micros(col("ts_utc")) - unix_micros(col("first_signup")) <=
            604800000000L).cast("long"))
      .groupBy(col("user_id"))
      .agg(max(col("converted")).as("conv"))
      .agg(count(lit(1)).as("n_signup_users"),
        sum(col("conv")).as("n_converted_7d"),
        round(sum(col("conv")).cast("double") /
          count(lit(1)).cast("double"), 6).as("conv_rate_7d"))
  }

  /** `analytics_anova` — one-way ANOVA of event value across event
    * types: the k-group generalization of analytics_ttest — "do the
    * five event types draw from one value distribution?" — reported as
    * the F statistic and the effect size η² (between-group share of
    * total variance). The screen an experimentation platform runs on a
    * multi-arm test before any pairwise drill-down.
    *
    * Cross-engine exactness (the agg_corr_matrix discipline): Σv and
    * Σv² are EXACT DECIMAL per group — (9,2) admission by explicit
    * filter, (19,2)-widened squares into (29,4) — and both stay
    * decimal through the second-stage group sum, so S1, S2 and N are
    * bit-identical across engines and cluster sizes. The ONLY
    * order-sensitive float op is the k-row Σ s1²/n (k = 5); its ≤4-ulp
    * wobble enters F and η² at ~1e-12 relative — invisible at ROUND-6
    * because both outputs are ratio-scale. Raw sums-of-squares are
    * deliberately NOT emitted: at 1e9 magnitude their last-ulp wobble
    * would straddle ROUND-6 boundaries.
    *
    * Scale shape: one map-side-combined groupBy(event_type) — constant
    * state per group (count + two decimal cells) — then a k-row final
    * combine. Same cost class as a grouped COUNT(*) at 100 TB.
    */
  def anova(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.events(spark, sfDir)
      .filter(col("value").between(-9999999.99, 9999999.99))
      .select(col("event_type"), col("value").cast("decimal(9,2)").as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum((col("v").cast("decimal(19,2)") * col("v"))
          .cast("decimal(29,4)")).as("s2"))
    val ssb = col("a") - col("s1t") * col("s1t") / col("n_total")
    val sst = col("s2t") - col("s1t") * col("s1t") / col("n_total")
    g.agg(count(lit(1)).as("k"), sum(col("n")).as("n_total"),
      sum(col("s1")).cast("double").as("s1t"),
      sum(col("s2")).cast("double").as("s2t"),
      sum(col("s1").cast("double") * col("s1").cast("double") / col("n"))
        .as("a"))
      .select(col("k").cast("long").as("k_groups"),
        col("n_total").cast("long").as("n_total"),
        round((ssb / (col("k") - 1)) /
          ((col("s2t") - col("a")) / (col("n_total") - col("k"))), 6)
          .as("f_stat"),
        round(ssb / sst, 6).as("eta_sq"))
  }

  /** `analytics_ab_cuped` — CUPED variance reduction for a hash-split
    * A/B readout: the experiment metric (each user's second-half value
    * total) is adjusted by its pre-period covariate (first-half total)
    * via θ = cov(X,Y)/var(X), shrinking the arm-difference variance by
    * the squared pre/post correlation — the standard trick that lets
    * an experimentation platform detect the same lift with ~(1−ρ²)×
    * the sample. Arms are the analytics_ab_srm md5 split; the period
    * boundary is the exact integer-µs midpoint of the corpus span
    * (data-derived, so corpus regeneration cannot strand it).
    *
    * Exactness: per-user X/Y are exact DECIMAL conditional sums; the
    * user table re-admits at (9,2) (explicit filter) and ALL pooled
    * power sums (Sx, Sy, Sxx, Sxy, Syy) and per-arm sums stay decimal
    * through the single global aggregate — θ, the raw/adjusted diffs
    * and the ρ² variance-reduction factor are identical-text double
    * formulas over exact inputs, ROUND-6, all ratio-scale.
    *
    * Scale shape: one-row bounds broadcast (the BM25 one-row-stats
    * pattern), ONE map-combined shuffle on user_id, then a single
    * global aggregate with constant state (11 decimal cells + 3
    * counts). No second fact-table pass, no per-arm subqueries.
    */
  def abCuped(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(min(unix_micros(col("ts_utc"))).as("mn"),
      max(unix_micros(col("ts_utc"))).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("mid"))
    val dec0 = lit(0).cast("decimal(18,2)")
    val perUser = ev.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        when(unix_micros(col("ts_utc")) < col("mid"),
          col("value").cast("decimal(18,2)")).otherwise(dec0).as("xv"),
        when(unix_micros(col("ts_utc")) >= col("mid"),
          col("value").cast("decimal(18,2)")).otherwise(dec0).as("yv"))
      .groupBy(col("user_id"))
      .agg(sum(col("xv")).as("x0"), sum(col("yv")).as("y0"))
      .filter(col("x0").between(-9999999.99, 9999999.99) &&
        col("y0").between(-9999999.99, 9999999.99))
      .select(col("user_id"), col("x0").cast("decimal(9,2)").as("x"),
        col("y0").cast("decimal(9,2)").as("y"))
    val isA =
      substring(md5(col("user_id").cast("string")), 1, 4) < "8000"
    def sq(a: Column, b: Column) =
      sum((a.cast("decimal(19,2)") * b).cast("decimal(29,4)"))
        .cast("double")
    val s = perUser.agg(
      count(lit(1)).cast("double").as("n"),
      sum(when(isA, 1L).otherwise(0L)).cast("double").as("n_a"),
      sum(when(!isA, 1L).otherwise(0L)).cast("double").as("n_b"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(when(isA, col("x")).otherwise(dec0)).cast("double").as("sx_a"),
      sum(when(isA, col("y")).otherwise(dec0)).cast("double").as("sy_a"),
      sq(col("x"), col("x")).as("sxx"), sq(col("x"), col("y")).as("sxy"),
      sq(col("y"), col("y")).as("syy"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varxN = col("n") * col("sxx") - col("sx") * col("sx")
    val varyN = col("n") * col("syy") - col("sy") * col("sy")
    val theta = covN / varxN
    val diffRaw = (col("sy") - col("sy_a")) / col("n_b") -
      col("sy_a") / col("n_a")
    val diffX = (col("sx") - col("sx_a")) / col("n_b") -
      col("sx_a") / col("n_a")
    s.select(col("n").cast("long").as("n_users"),
      col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
      round(theta, 6).as("theta"),
      round(diffRaw, 6).as("diff_raw"),
      round(diffRaw - theta * diffX, 6).as("diff_cuped"),
      round(covN * covN / (varxN * varyN), 6).as("var_reduction"))
  }

  /** `analytics_ci_bootstrap` — a 95% bootstrap confidence interval
    * for the mean order value via the POISSON bootstrap: replicate r
    * assigns each order a Poisson(1) weight drawn from
    * md5(orderkey:r), and the replicate mean is the weighted mean —
    * the multinomial resample's limit that needs NO global index, no
    * sampling-by-position, and no driver coordination. This is *the*
    * way to bootstrap at 100 TB: one pass × R replicates, each row
    * decides its own weights locally (the same content-addressed
    * policy as pipeline_split), and a cluster of any size produces
    * bit-identical draws.
    *
    * Determinism: the uniform is the first 8 md5 hex digits as an
    * integer in [0, 2³²); Poisson inversion compares against EXACT
    * integer thresholds ⌊CDF·2³²⌋ (branchless sum of ≥-tests), so
    * both engines draw identical weights — no float thresholds, no
    * RNG. The tail truncates at w = 6 (P(w>6 | λ=1) ≈ 8·10⁻⁵),
    * identically in both engines. Replicate means are exact-decimal
    * weighted sums; the CI is nearest-rank order statistics (ranks 3
    * and 98 of the 100 sorted means — ceil(0.025·R), ceil(0.975·R)),
    * tie-broken by replicate id.
    *
    * Scale shape: the R-fold explode is map-side; per-replicate
    * partial sums combine before the shuffle, so the exchange carries
    * O(R × partitions) rows regardless of data size. The rank window
    * runs over R rows. The point-estimate branch is a second, CHEAP
    * fact pass (count + decimal sum only) — deliberately NOT fused
    * into the replicate pass behind a barrier: a barrier forces the
    * full 15M-row md5 draw chain to materialize even for consumers
    * (like a bare count) whose column pruning would otherwise skip
    * it, and the two-branch form lets Catalyst prune each branch
    * independently (measured: the fused+barriered form cost 20 s at
    * sf0.1 under count() vs 0.45 s for this shape).
    */
  def ciBootstrap(spark: SparkSession, sfDir: String): DataFrame = {
    val reps = 100
    val thresholds = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L)
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    val u = conv(substring(md5(concat(col("o_orderkey").cast("string"),
      lit(":"), col("rep").cast("string"))), 1, 8), 16, 10).cast("long")
    val w = thresholds.map(t => when(u >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    val means = orders
      .select(col("o_orderkey"), col("p"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"))
      .withColumn("w", w)
      .groupBy(col("rep"))
      .agg(sum(col("w")).as("nw"), sum(col("p") * col("w")).as("sw"))
      .select(col("rep"),
        (col("sw").cast("double") / col("nw").cast("double")).as("m"))
    val ranked = means.withColumn("rn",
      row_number().over(Window.orderBy(col("m"), col("rep"))))
    val ci = ranked.agg(
      min(when(col("rn") === 3, col("m"))).as("ci_lo"),
      min(when(col("rn") === 98, col("m"))).as("ci_hi"))
    val pt = orders.agg(count(lit(1)).as("n_orders"),
      (sum(col("p")).cast("double") / count(lit(1))).as("point_mean"))
    pt.crossJoin(broadcast(ci))
      .select(col("n_orders"), lit(reps.toLong).as("n_resamples"),
        round(col("point_mean"), 6).as("point_mean"),
        round(col("ci_lo"), 6).as("ci_lo"),
        round(col("ci_hi"), 6).as("ci_hi"))
  }

  /** `analytics_did` — the 2×2 difference-in-differences readout:
    * md5-split arms × pre/post periods (the exact integer-µs corpus
    * midpoint, as in analytics_ab_cuped), per-cell mean event value,
    * and DiD = (B_post − B_pre) − (A_post − A_pre). The causal
    * estimator for a staggered rollout under the parallel-trends
    * assumption — the pre-period difference it subtracts is exactly
    * the selection bias a naive post-only comparison eats. CUPED
    * (variance) and DiD (bias) are the two standard corrections; the
    * engine provides both.
    *
    * Exactness: cell sums are exact DECIMAL conditional aggregates in
    * ONE pass (no per-cell subqueries); counts exact int64; the four
    * means and the DiD are identical-text double formulas, ROUND-6.
    *
    * Scale shape: one-row bounds broadcast + a single global
    * conditional aggregate — constant state (4 decimal cells + 4
    * counts), map-side combined. A COUNT(*)'s cost at 100 TB.
    */
  def did(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(min(unix_micros(col("ts_utc"))).as("mn"),
      max(unix_micros(col("ts_utc"))).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("mid"))
    val isA =
      substring(md5(col("user_id").cast("string")), 1, 4) < "8000"
    val pre = unix_micros(col("ts_utc")) < col("mid")
    val dec0 = lit(0).cast("decimal(18,2)")
    def cell(arm: Column, period: Column) = struct(
      sum(when(arm && period, col("value").cast("decimal(18,2)"))
        .otherwise(dec0)).cast("double").as("s"),
      sum(when(arm && period, 1L).otherwise(0L)).as("c"))
    val s = ev.crossJoin(broadcast(bounds))
      .agg(cell(isA, pre).as("ap"), cell(isA, !pre).as("aq"),
        cell(!isA, pre).as("bp"), cell(!isA, !pre).as("bq"))
    def m(cell: String) = col(s"$cell.s") / col(s"$cell.c")
    s.select(
      col("ap.c").as("n_a_pre"), col("aq.c").as("n_a_post"),
      col("bp.c").as("n_b_pre"), col("bq.c").as("n_b_post"),
      round(m("ap"), 6).as("mean_a_pre"),
      round(m("aq"), 6).as("mean_a_post"),
      round(m("bp"), 6).as("mean_b_pre"),
      round(m("bq"), 6).as("mean_b_post"),
      round((m("bq") - m("bp")) - (m("aq") - m("ap")), 6).as("did"))
  }

  /** `analytics_ratio_delta` — delta-method inference for a RATIO
    * metric: revenue per event, R = ΣY/ΣN over per-user (purchase
    * revenue, event count) pairs, with the linearized standard error
    * SE² ≈ (σ²_y − 2R·cov(y,n) + R²·σ²_n)/(n·μ_n²) and the 95% CI.
    * Ratio metrics (revenue/session, CTR, tokens/doc) violate the
    * i.i.d.-per-row assumption a naive t-test makes — the USER is the
    * randomization unit, not the event — and the delta method is the
    * standard correction every experimentation platform applies.
    * Completes the inference trio: ttest (means), CUPED (variance
    * reduction), delta method (ratio metrics).
    *
    * Exactness: per-user Y is an exact DECIMAL conditional sum
    * ((9,2)-admitted), N an exact int64; the five pooled power sums
    * are decimal/int64 exact (Σn² pure int64, Σy·n decimal×int64 —
    * exact in both engines at ≤(38,2)); the ratio, SE and CI are
    * identical-text double formulas over exact inputs, ROUND-6.
    *
    * Scale shape: ONE map-combined shuffle on user_id, then a single
    * constant-state global aggregate — the CUPED cost class.
    */
  def ratioDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val dec0 = lit(0).cast("decimal(18,2)")
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        col("value").cast("decimal(18,2)")).otherwise(dec0)).as("y0"),
        count(lit(1)).as("nn"))
      .filter(col("y0").between(-9999999.99, 9999999.99))
      .select(col("y0").cast("decimal(9,2)").as("y"), col("nn"))
    val s = per.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("nn")).cast("double").as("sn"),
      sum((col("y").cast("decimal(19,2)") * col("y"))
        .cast("decimal(29,4)")).cast("double").as("syy"),
      sum((col("y").cast("decimal(19,2)") * col("nn"))
        .cast("decimal(29,2)")).cast("double").as("syn"),
      sum(col("nn") * col("nn")).cast("double").as("snn"))
    val r = col("sy") / col("sn")
    val varY = (col("syy") - col("sy") * col("sy") / col("n")) /
      (col("n") - 1)
    val covYN = (col("syn") - col("sy") * col("sn") / col("n")) /
      (col("n") - 1)
    val varN = (col("snn") - col("sn") * col("sn") / col("n")) /
      (col("n") - 1)
    val muN = col("sn") / col("n")
    val se = sqrt((varY - lit(2.0) * r * covYN + r * r * varN) /
      (col("n") * muN * muN))
    s.select(col("n").cast("long").as("n_users"),
      round(r, 6).as("ratio"),
      round(se, 6).as("se"),
      round(r - lit(1.96) * se, 6).as("ci_lo"),
      round(r + lit(1.96) * se, 6).as("ci_hi"))
  }

  /** `analytics_auc` — ROC-AUC of a scalar score against a binary
    * label via the Mann–Whitney rank-sum identity (AUC = P(score_pos >
    * score_neg) with ½ credit for ties): the evaluation a quality
    * classifier, reranker, or dedup scorer is judged by. Binary task:
    * embeddings label 0 vs rest, scored by the vector's ROUND-6 first
    * component (any scalar scorer slots in).
    *
    * Spark-first shape — NO per-row global rank: rows collapse to the
    * DISTINCT-SCORE frame first (one map-combined shuffle), mid-ranks
    * come from a cumulative window over that score-domain-sized frame
    * (cum-before + (n+1)/2), and the rank-sum is Σ n_pos(s)·midrank(s).
    * A row-level rank() would single-partition-sort the corpus; this
    * form sorts only the score domain — the agg_weighted_median
    * discipline applied to ranking. The table is scanned once: every
    * row, a NULL score included, falls into exactly one score group, so
    * the row total is Σ n over the groups.
    *
    * Exactness: ties are decided on the ROUNDED score (bit-equal
    * across engines); counts and cum-counts are exact int64; mid-ranks
    * are half-integers and every partial sum stays < 2⁵³, so the
    * rank-sum is EXACT in double in any summation order — the only
    * inexact op is the final AUC division, ROUND-6.
    */
  def auc(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.embeddings(spark, sfDir)
      .select((col("label") === 0).as("pos"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("s"))
    val byScore = scored.groupBy(col("s"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"))
    val cum = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byScore
      .withColumn("cum_before", coalesce(sum(col("n")).over(cum), lit(0L)))
      .select(col("n"), col("np"),
        (col("cum_before") + (col("n") + 1) / lit(2.0)).as("midrank"))
    ranked.agg(
      sum(col("np")).as("n_pos0"),
      sum(col("np") * col("midrank")).as("rsum"),
      count(lit(1)).as("n_scores"),
      sum(col("n")).as("n_total"))
      .select(col("n_pos0").as("n_pos"),
        (col("n_total") - col("n_pos0")).as("n_neg"),
        col("n_scores"),
        round((col("rsum") -
          col("n_pos0") * (col("n_pos0") + 1) / lit(2.0)) /
          (col("n_pos0") * (col("n_total") - col("n_pos0")))
            .cast("double"), 6).as("auc"))
  }

  /** `analytics_power_mde` — the pre-experiment sample-size table:
    * for each relative MDE δ ∈ {1%, 2%, 5%, 10%}, the users-per-arm
    * needed to detect a δ·μ lift in per-user revenue at 80% power /
    * α = 0.05, via the standard n ≈ 16·σ²/(δμ)² rule of thumb
    * (16 ≈ 2(z₀.₉₇₅ + z₀.₈)²). The first question asked of every
    * proposed A/B test — "can this corpus even power that lift?" —
    * answered from ONE variance aggregate. Completes the
    * experimentation suite: srm (validity), ttest/anova (testing),
    * cuped/ratio_delta (precision), did (bias), power (planning).
    *
    * Exactness: per-user revenue moments from the ratio_delta decimal
    * power sums; μ, σ², and each n = CEIL(16σ²/(δμ)²) are
    * identical-text double formulas over exact sums — CEIL of
    * bit-identical doubles agrees across engines.
    *
    * Scale shape: one user-keyed shuffle + a constant-state global
    * aggregate, then a 4-row literal grid explode. A COUNT(*)'s cost.
    */
  def powerMde(spark: SparkSession, sfDir: String): DataFrame = {
    val dec0 = lit(0).cast("decimal(18,2)")
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase",
        col("value").cast("decimal(18,2)")).otherwise(dec0)).as("y0"))
      .filter(col("y0").between(-9999999.99, 9999999.99))
      .select(col("y0").cast("decimal(9,2)").as("y"))
    val s = per.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("y")).cast("double").as("sy"),
      sum((col("y").cast("decimal(19,2)") * col("y"))
        .cast("decimal(29,4)")).cast("double").as("syy"))
    val mu = col("sy") / col("n")
    val variance = (col("syy") - col("sy") * col("sy") / col("n")) /
      (col("n") - 1)
    s.select(col("n").cast("long").as("n_users"),
      round(mu, 6).as("baseline_mean"),
      round(sqrt(variance), 6).as("sd"), variance.as("v"), mu.as("m"))
      .select(col("n_users"), col("baseline_mean"), col("sd"),
        explode(array(lit(0.01), lit(0.02), lit(0.05), lit(0.10)))
          .as("mde_rel"), col("v"), col("m"))
      .select(col("mde_rel"), col("n_users"), col("baseline_mean"),
        col("sd"),
        ceil(lit(16.0) * col("v") /
          (col("mde_rel") * col("m") * (col("mde_rel") * col("m"))))
          .cast("long").as("n_per_arm"))
      .orderBy(col("mde_rel"))
  }

  /** `analytics_calibration` — the reliability diagram behind every
    * "is this classifier's score a probability?" audit: scores bin
    * into 10 equal-width buckets over the observed [min, max] range,
    * and each bin reports its size, mean score, and empirical
    * positive rate (embeddings label 0 vs rest, same task as
    * analytics_auc — AUC measures ranking, calibration measures the
    * score VALUES; a model can ace one and fail the other).
    *
    * Exactness: bin ids are floor((s−min)/(max−min)·10) clamped to 9,
    * computed from ROUND-6 scores and one-row broadcast bounds —
    * identical doubles both engines, so bin membership is exact; all
    * counts int64; means/rates ROUND-6.
    *
    * Scale shape: one-row bounds broadcast + ONE map-combined
    * groupBy(bin) — 10-ary state. The histogram cost class.
    */
  def calibration(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.embeddings(spark, sfDir)
      .select((col("label") === 0).as("pos"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("s"))
    val bounds = scored.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    scored.crossJoin(broadcast(bounds))
      .select(col("pos"), col("s"),
        least(floor((col("s") - col("lo")) / (col("hi") - col("lo")) *
          lit(10.0)).cast("long"), lit(9L)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        round(avg(col("s")), 6).as("mean_score"))
      .select(col("bin"), col("n"), col("n_pos"), col("mean_score"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"))
      .orderBy(col("bin"))
  }

  /** `analytics_funnel_windowed` — the conversion-window refinement of
    * funnel_stages: a later stage only counts if it happens within
    * 72 h of the user's FIRST previous-stage event (view → click ≤72h
    * → purchase ≤72h). Unwindowed funnels overcount (a purchase weeks
    * after the view is not that view's conversion); every product-
    * analytics tool exposes exactly this window parameter.
    *
    * Same scale shape as funnel_stages: per-user first-timestamp per
    * stage as conditional mins in ONE groupBy — one scan, one
    * user-keyed map-combined shuffle — then the window constraint is a
    * row-local exact integer-µs comparison and the rollup one
    * constant-state aggregate.
    */
  def funnelWindowed(spark: SparkSession, sfDir: String): DataFrame = {
    val winUs = 72L * 3600 * 1000000
    def firstUs(stage: String) =
      min(when(col("event_type") === stage, unix_micros(col("ts_utc"))))
    val stages = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(firstUs("view").as("t_view"), firstUs("click").as("t_click"),
        firstUs("purchase").as("t_purch"))
      .select(
        col("t_view").isNotNull.as("s1"),
        (col("t_view").isNotNull && col("t_click") > col("t_view") &&
          col("t_click") - col("t_view") <= winUs).as("s2"),
        (col("t_view").isNotNull && col("t_click") > col("t_view") &&
          col("t_click") - col("t_view") <= winUs &&
          col("t_purch") > col("t_click") &&
          col("t_purch") - col("t_click") <= winUs).as("s3"))
    stages.agg(
      count(lit(1)).as("n_users"),
      sum(col("s1").cast("long")).as("n_view"),
      sum(col("s2").cast("long")).as("n_click_72h"),
      sum(col("s3").cast("long")).as("n_purchase_72h"))
  }

  /** `analytics_gains` — the cumulative-gains (lift) chart behind
    * every targeting decision: users decile by their pre-period value
    * (the score a campaign would rank on), and each decile reports
    * its post-period purchase-response rate plus the cumulative share
    * of all responders captured down to that decile. "Target the top
    * 3 deciles, capture X% of responders" — the marketing-analytics
    * readout, and the business-facing twin of analytics_auc's
    * statistical one.
    *
    * Determinism: the decile ORDER BY ties-break on user_id (the
    * pipeline_curriculum NTILE contract); pre/post use the exact
    * µs corpus midpoint; scores are exact decimals; rates and shares
    * are single divisions of exact counts, ROUND-6.
    *
    * Scale: one user-keyed shuffle, then the USER-cardinality decile
    * rides sortedPrefixSums + ntileFromRank (range shards + offset
    * broadcast + exact integer NTILE arithmetic) — bit-identical to
    * the window NTILE with NO single-partition sort even at 10⁹
    * users. The rollup and cumulative windows are 10-ary.
    */
  def gains(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(min(unix_micros(col("ts_utc"))).as("mn"),
      max(unix_micros(col("ts_utc"))).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("mid"))
    val dec0 = lit(0).cast("decimal(18,2)")
    val perUser = ev.crossJoin(broadcast(bounds))
      .groupBy(col("user_id"))
      .agg(sum(when(unix_micros(col("ts_utc")) < col("mid"),
        col("value").cast("decimal(18,2)")).otherwise(dec0)).as("score"),
        max(when(unix_micros(col("ts_utc")) >= col("mid") &&
          col("event_type") === "purchase", 1L).otherwise(0L))
          .as("responded"))
    // n_all = tot_rn from the prefix-sum grand totals — no second
    // pass over the ranked snapshot for the denominator
    // user-cardinality score ranking snapshot — artifact per the
    // signature-table policy (prefix sums collect offsets at build)
    val ranked = graft.sources.Materialize.once(spark, sfDir,
      Seq("events"), "gains_user_ranked")(
      graft.api.GraftOps.sortedPrefixSums(perUser,
        Seq(col("score").desc, col("user_id")), Seq.empty,
        withTotals = true))
    val byDecile = ranked
      .withColumn("decile",
        graft.api.GraftOps.ntileFromRank(col("rnk"), col("tot_rn"), 10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("responded")).as("n_resp"))
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    byDecile
      .withColumn("cum_resp", sum(col("n_resp")).over(cum))
      .withColumn("tot_resp", sum(col("n_resp")).over(tot))
      .select(col("decile"), col("n_users"), col("n_resp"),
        round(col("n_resp").cast("double") /
          col("n_users").cast("double"), 6).as("response_rate"),
        round(col("cum_resp").cast("double") /
          col("tot_resp").cast("double"), 6).as("cum_gain"))
      .orderBy(col("decile"))
  }

  /** `analytics_seasonal_index` — the month-of-year seasonal index of
    * order revenue: each calendar month's average monthly total across
    * the corpus's seven years, divided by the overall monthly average.
    * Index 1.10 = "Novembers run 10% hot" — the multiplicative
    * seasonal profile demand planning and target-setting divide by,
    * computed from the multi-year orders table (ts_decompose's weekly
    * profile is the events-stream analogue; this is the yearly one).
    *
    * Exactness: (year, month) totals are exact decimals; the month
    * and overall averages are exact-sum / exact-count double
    * divisions; the index is one more division, ROUND-6. A partial
    * first/last calendar year contributes only the months it has —
    * n_years is per-month, not assumed constant.
    *
    * Scale shape: fact scale collapses to the (year × month) frame in
    * ONE map-combined shuffle; everything after is calendar-sized
    * (the one-row overall average broadcasts).
    */
  def seasonalIndex(spark: SparkSession, sfDir: String): DataFrame = {
    // (year × month)-cardinality frame behind a lazy barrier: the
    // overall-average scalar and the monthly rollup both consume it —
    // one fact scan, not two
    val ym = Tables.orders(spark, sfDir)
      .groupBy(year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .barrier(eager = false)
    val overall = ym.agg(
      (sum(col("rev")).cast("double") / count(lit(1))).as("overall_avg"))
    ym.groupBy(col("m"))
      .agg(count(lit(1)).as("n_years"),
        (sum(col("rev")).cast("double") / count(lit(1))).as("month_avg"))
      .crossJoin(broadcast(overall))
      .select(col("m").cast("long").as("month"), col("n_years"),
        round(col("month_avg"), 6).as("month_avg"),
        round(col("month_avg") / col("overall_avg"), 6)
          .as("seasonal_index"))
      .orderBy(col("month"))
  }

  /** `analytics_lead_time` — order-to-ship lead time distribution per
    * order priority: line-level days between order date and ship
    * date, with the count, mean, and EXACT p50/p90 per priority — the
    * fulfilment SLA table an operations dashboard leads with, and a
    * direct check that priority classes actually get faster handling.
    *
    * Exactness: lead times are exact integer days; the percentiles
    * are nearest-rank picks by pure INTEGER cumulative-weight tests
    * (2·cum ≥ n for p50, 10·cum ≥ 9·n for p90 — no division, the
    * agg_weighted_median discipline); the mean is exact-sum/count.
    *
    * Scale shape: orders⟗lineitem is the co-partitioned orderkey
    * equi-join both tables already hash on; the distribution then
    * collapses to (priority, distinct days) — day-domain-sized — and
    * the rank picks ride windows over that tiny frame.
    */
  def leadTime(spark: SparkSession, sfDir: String): DataFrame = {
    val joined = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("prio"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("days"))
    // `dw` is pre-projected: a composite window ARGUMENT (days * w)
    // gets extracted into its own Window operator by Catalyst — a real
    // column keeps all three sums in ONE WindowExec over one sort
    val byDay = joined.groupBy(col("prio"), col("days"))
      .agg(count(lit(1)).as("w"))
      .withColumn("dw", col("days") * col("w"))
    val wBase = Window.partitionBy(col("prio")).orderBy(col("days"))
    val cum = wBase.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val tot = wBase.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    byDay
      .withColumn("cumw", sum(col("w")).over(cum))
      .withColumn("n", sum(col("w")).over(tot))
      .withColumn("sumd", sum(col("dw")).over(tot))
      .groupBy(col("prio"))
      .agg(max(col("n")).as("n_lines"),
        round(max(col("sumd")).cast("double") /
          max(col("n")).cast("double"), 6).as("mean_days"),
        min(when(col("cumw") * 2 >= col("n"), col("days")))
          .as("p50_days"),
        min(when(col("cumw") * 10 >= col("n") * 9, col("days")))
          .as("p90_days"))
      .orderBy(col("prio"))
  }

  /** `analytics_rolling_retention` — the daily 7-day rolling
    * retention curve: for each activity day, the share of that day's
    * active users who are ALSO active exactly 7 days later. Daily
    * granularity where cohort_retention is yearly and analytics_churn
    * monthly — the curve a consumer product watches for launch-week
    * decay.
    *
    * Scale shape: the stream collapses to the DISTINCT (user, day)
    * activity table in one map-combined shuffle; the day+7 lookup is
    * a self-equi-join on (user, day+7) — co-partitioned on user, and
    * the day dimension is calendar-bounded so the join fan-out is
    * ≤ days per user. Exact integer counts, one ROUND-6 division.
    * Trailing days with no +7 observation window emit NULL retention
    * (identical CASE both engines), not a fake zero.
    */
  def rollingRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts_utc")).as("day"))
      .distinct()
      .barrier()
    val later = act.toDF("user_id", "day7")
    val maxDay = act.agg(max(col("day")).as("max_day"))
    act
      .join(later, later("user_id") === act("user_id") &&
        col("day7") === date_add(col("day"), 7), "left")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        count(col("day7")).as("n_retained"))
      .crossJoin(broadcast(maxDay))
      .select(col("day").cast("timestamp").as("day_ts"),
        col("n_active"), col("n_retained"),
        when(date_add(col("day"), 7) <= col("max_day"),
          round(col("n_retained").cast("double") /
            col("n_active").cast("double"), 6)).as("d7_retention"))
      .orderBy(col("day_ts"))
  }

  /** `analytics_new_vs_returning` — the daily new-vs-returning order
    * split: each order day reports how many orders came from
    * customers placing their FIRST-ever order that day vs repeat
    * customers, with the revenue split — the top-line acquisition/
    * retention mix every commerce dashboard opens with.
    *
    * Scale shape: ONE fact pass — the per-customer first-order date is
    * a `min` WINDOW over the orders' customer partitions (one shuffle
    * on o_custkey), classification is then row-local. The aggregate +
    * classify-join formulation read the fact table twice for the
    * identical result. The daily rollup is calendar×2-ary. Counts
    * exact; revenue exact decimal → double.
    */
  def newVsReturning(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val wCust = Window.partitionBy(col("o_custkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
        cents2(col("o_totalprice")).as("p"))
      .withColumn("first_day", min(col("day")).over(wCust))
      .select(col("day"),
        (col("day") === col("first_day")).as("is_new"), col("p"))
      .groupBy(col("day"))
      .agg(sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_returning"),
        outCents(sum(when(col("is_new"), col("p"))
          .otherwise(lit(0L))), 2)
          .as("rev_new"),
        outCents(sum(when(!col("is_new"), col("p"))
          .otherwise(lit(0L))), 2)
          .as("rev_returning"))
      .select(col("day").cast("timestamp").as("day_ts"), col("n_new"),
        col("n_returning"), col("rev_new"), col("rev_returning"))
      .orderBy(col("day_ts"))
  }

  /** `analytics_rfm_migration` — the customer-state migration matrix:
    * customers classify into value tiers (by total spend terciles —
    * exact NTILE(3) with custkey tie-break) separately in the
    * corpus's first and second half (exact day midpoint of the order
    * span), and the matrix counts every (tier_H1 → tier_H2)
    * transition including churn-to-absent and new-in-H2. The
    * state-transition view of RFM: "are my high-value customers
    * staying high-value" — analytics_markov's machinery applied to
    * customer tiers instead of event types.
    *
    * Determinism: halves split on the exact integer epoch-day
    * midpoint; tiers are NTILE with the custkey tie-break; absent
    * halves label 'none' by identical CASE. Scale: ONE half-tagged
    * customer aggregate (single scan, both halves), then both
    * terciles ride ONE sortedPrefixSums pass ordered half-first —
    * per-half rank = global rank minus the half's 2-row min-rank
    * broadcast, then ntileFromRank; customer-keyed FULL join, 4×4-ary
    * rollup. No single-partition NTILE window at any customer
    * cardinality.
    */
  def rfmMigration(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val bounds = o.agg(min(datediff(to_date(col("o_orderdate")),
      lit("1970-01-01").cast("date"))).as("mn"),
      max(datediff(to_date(col("o_orderdate")),
        lit("1970-01-01").cast("date"))).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("mid"))
    val G = graft.api.GraftOps
    val spend = o.crossJoin(broadcast(bounds))
      .withColumn("ed", datediff(to_date(col("o_orderdate")),
        lit("1970-01-01").cast("date")))
      .withColumn("half",
        when(col("ed") < col("mid"), "h1").otherwise("h2"))
      .groupBy(col("half"), col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    // per-half sizes ride the prefix-sum grand totals as a summed
    // 0/1 indicator (tot_is_h1): with half-first ordering the rank
    // bases are then pure arithmetic — rnk0(h1)=1, rnk0(h2)=n_h1+1 —
    // so the former per-half stats re-pass and its broadcast join
    // disappear entirely
    // half-tagged customer spend ranking snapshot — artifact per the
    // signature-table policy (prefix sums collect offsets at build)
    val ranked = graft.sources.Materialize.once(spark, sfDir,
      Seq("orders"), "rfm_migration_ranked")(
      G.sortedPrefixSums(
        spend.withColumn("is_h1",
          when(col("half") === "h1", 1L).otherwise(0L)),
        Seq(col("half"), col("spend").desc, col("o_custkey")),
        Seq("is_h1"), withTotals = true))
    val nH = when(col("half") === "h1", col("tot_is_h1"))
      .otherwise(col("tot_rn") - col("tot_is_h1"))
    val rnk0 = when(col("half") === "h1", lit(1L))
      .otherwise(col("tot_is_h1") + 1)
    // INTEGER tier codes through the aggregates: max(string) has an
    // immutable agg buffer, so the string form forced Sort +
    // SortAggregate twice over the customer frame (seen in the r10
    // plan audit); max over a LONG rides HashAggregate, and the
    // T1/T2/T3/none labels are reconstructed on the 16-row matrix.
    val tiersAll = ranked
      .withColumn("tier", G.ntileFromRank(col("rnk") - rnk0 + 1, nH, 3))
    def lbl(c: Column) =
      when(c.isNull, "none").otherwise(concat(lit("T"), c))
    // each customer appears ≤ once per half, so the full outer join of
    // the two halves IS a customer-keyed pivot: ONE pass over the
    // tiered frame (the join form evaluated the rank plan twice, once
    // per side) and one custkey shuffle instead of a shuffle join
    tiersAll
      .groupBy(col("o_custkey"))
      .agg(max(when(col("half") === "h1", col("tier"))).as("t1"),
        max(when(col("half") === "h2", col("tier"))).as("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_customers"))
      .select(lbl(col("t1")).as("from_tier"), lbl(col("t2")).as("to_tier"),
        col("n_customers"))
      .orderBy(col("from_tier"), col("to_tier"))
  }

  /** `analytics_ab_sequential` — the group-sequential A/B readout:
    * the md5-split arms' mean event value compared at three
    * interim looks (first 10/20/30 days) against the O'Brien–Fleming
    * spending boundary z > 2.004·√(K/k) (the classic K = 3 OBF
    * critical value) — peeking DONE RIGHT. A fixed-horizon test
    * peeked three times inflates false positives ~2×; the OBF
    * boundary spends almost no alpha early (first-look bar ≈ 3.47σ)
    * and preserves the overall 5% level. Completes the
    * experimentation suite's temporal dimension.
    *
    * Exactness: per-(look, arm) moments from ONE pass (3× map-side
    * explode of look ids, exact decimal value sums + int counts);
    * z uses the Welch-style unpooled variance from exact power sums;
    * significance derives from the ROUNDED z vs the ROUNDED boundary.
    *
    * Scale: explode ×3 then a 6-cell constant-state aggregate —
    * map-combined, one shuffle of 3×partitions rows.
    */
  def abSequential(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val day0 = ev.agg(min(to_date(col("ts_utc"))).as("d0"))
    val isA =
      substring(md5(col("user_id").cast("string")), 1, 4) < "8000"
    val looks = ev.crossJoin(broadcast(day0))
      .select(col("value").cast("decimal(9,2)").as("v"), isA.as("a"),
        datediff(to_date(col("ts_utc")), col("d0")).as("di"),
        explode(array(lit(10), lit(20), lit(30))).as("look_days"))
      .filter(col("di") < col("look_days"))
    def cell(arm: Boolean) = {
      val p = if (arm) col("a") else !col("a")
      Seq(sum(when(p, 1L).otherwise(0L)),
        sum(when(p, col("v")).otherwise(lit(0).cast("decimal(9,2)"))),
        sum(when(p, (col("v").cast("decimal(19,2)") * col("v"))
          .cast("decimal(29,4)")).otherwise(lit(0).cast("decimal(29,4)"))))
    }
    val aggs = (cell(true) ++ cell(false)).zip(
      Seq("na", "sa", "qa", "nb", "sb", "qb"))
      .map { case (c, n) => c.as(n) }
    val s = looks.groupBy(col("look_days")).agg(aggs.head, aggs.tail: _*)
    def m(sx: String, n: String) =
      col(sx).cast("double") / col(n).cast("double")
    def vr(q: String, sx: String, n: String) =
      (col(q).cast("double") -
        col(sx).cast("double") * col(sx).cast("double") /
          col(n).cast("double")) / (col(n).cast("double") - 1)
    val z = (m("sa", "na") - m("sb", "nb")) /
      sqrt(vr("qa", "sa", "na") / col("na") +
        vr("qb", "sb", "nb") / col("nb"))
    val k = (col("look_days") / 10).cast("double")
    val boundary = lit(2.004) * sqrt(lit(3.0) / k)
    s.select(col("look_days").cast("long").as("look_days"),
      col("na").as("n_a"), col("nb").as("n_b"),
      round(m("sa", "na") - m("sb", "nb"), 6).as("mean_diff"),
      round(z, 6).as("z"),
      round(boundary, 6).as("obf_boundary"))
      .withColumn("significant", abs(col("z")) > col("obf_boundary"))
      .orderBy(col("look_days"))
  }

  /** `analytics_eb_smooth` — empirical-Bayes smoothed per-user
    * purchase rates: each user's raw purchase share shrinks toward
    * the corpus rate by a Beta prior fit with method-of-moments
    * (α+β = m(1−m)/v − 1 on the raw-rate distribution), smoothed =
    * (k + α)/(n + α + β). The ranking statistic that stops a
    * 1-for-1 user outranking a 90-for-100 one — the same math every
    * CTR/conversion leaderboard and quality-score shrinkage uses.
    *
    * Exactness (the md5-prefix discipline applied to the prior): each
    * user's rate is fingerprinted as the exact scaled integer
    * rfp = (k·10⁶) DIV n, and the prior moments m, v come from exact
    * DECIMAL(38,0) power sums Σrfp, Σrfp² — commutative integer
    * arithmetic, bit-identical in ANY summation order and at any
    * cluster size (a double Σr/Σr² prior wobbles by partition order,
    * and one ulp in α/β can flip a ROUND-6 boundary in EVERY user's
    * smoothed_rate). The ≤1e-6 rate quantization shifts the prior by
    * O(1e-6) — far inside the shrinkage's own noise. Identical-text
    * double formulas both engines from the exact sums; one-row prior
    * broadcast back.
    *
    * Scale: one user-keyed shuffle, a one-row prior aggregate, one
    * map-side smooth. No sort, no window.
    */
  def ebSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("k"))
      .withColumn("r", col("k").cast("double") / col("n").cast("double"))
      .withColumn("rfp", expr("(k * 1000000) DIV n"))
      // user-cardinality frame behind a lazy barrier: the prior fit and
      // the smoothed output both consume it — one fact scan, not two
      .barrier(eager = false)
    val prior = per.agg(count(lit(1)).cast("double").as("u"),
      sum(col("rfp").cast("decimal(38,0)")).as("sfp"),
      sum((col("rfp") * col("rfp")).cast("decimal(38,0)")).as("sfp2"))
      .select(col("u"),
        (col("sfp").cast("double") / lit(1000000.0) / col("u")).as("m"),
        ((col("sfp2").cast("double") / lit(1000000000000.0) -
          (col("sfp").cast("double") / lit(1000000.0)) *
            (col("sfp").cast("double") / lit(1000000.0)) / col("u")) /
          (col("u") - lit(1.0))).as("v"))
      .select(col("m"), col("v"),
        (col("m") * (lit(1.0) - col("m")) / col("v") - 1).as("s"))
      .select((col("m") * col("s")).as("alpha"),
        ((lit(1.0) - col("m")) * col("s")).as("beta"))
    per.crossJoin(broadcast(prior))
      .select(col("user_id"), col("n").as("n_events"),
        col("k").as("n_purchases"),
        round(col("r"), 6).as("raw_rate"),
        round((col("k") + col("alpha")) /
          (col("n") + col("alpha") + col("beta")), 6).as("smoothed_rate"))
      .orderBy(col("user_id"))
  }

  /** `analytics_chi2` — χ² test of independence on the event_type ×
    * md5-arm contingency table, with degrees of freedom, Cramér's V
    * effect size, and the largest |standardized residual| (which cell
    * drives the signal). Completes the classical-test battery: ttest
    * (2 means), anova (k means), chi2 (categorical association) — the
    * guardrail that a hash split did not skew the event-type mix.
    *
    * Determinism: all counts and margins are exact int64; each cell's
    * expected value and χ² term are doubles of exact integers built
    * from the IDENTICAL expression text in both engines (bit-equal),
    * and the cross-cell summation — the one order-sensitive step — is
    * made order-FREE by pre-rounding each term to 9 dp and summing in
    * DECIMAL(28,9) (exact, commutative; ≤ R·C·0.5e-9 total bias,
    * invisible at the ROUND-6 output). Standardized residuals are
    * ROUND-6 before the max (order-free).
    *
    * Scale shape: one map-combined (type, arm) count aggregate — the
    * cell frame is domain-bounded (|types| × 2), so the margin windows
    * and the final fold run on a constant-size frame at any corpus
    * size. One shuffle total.
    */
  def chi2Independence(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .select(col("event_type").as("typ"),
        when(substring(md5(col("user_id").cast("string")), 1, 4) < "8000",
          "A").otherwise("B").as("arm"))
      .groupBy(col("typ"), col("arm"))
      .agg(count(lit(1)).as("o"))
    val m = cells
      .withColumn("rt", sum(col("o")).over(Window.partitionBy(col("typ"))))
      .withColumn("ct", sum(col("o")).over(Window.partitionBy(col("arm"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
    val od = col("o").cast("double")
    val ex = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val sres = (od - ex) /
      sqrt(ex * (lit(1.0) - col("rt").cast("double") / col("n").cast("double"))
        * (lit(1.0) - col("ct").cast("double") / col("n").cast("double")))
    m.select(col("typ"), col("arm"), col("n"),
        round((od - ex) * (od - ex) / ex, 9).cast("decimal(28,9)").as("t9"),
        round(sres, 6).as("sr6"))
      .agg(max(col("n")).as("nn"),
        countDistinct(col("typ")).as("r"),
        countDistinct(col("arm")).as("c"),
        sum(col("t9")).as("chi2dec"),
        max(abs(col("sr6"))).as("max_sr"))
      .select(col("nn").as("n_events"),
        ((col("r") - 1) * (col("c") - 1)).cast("long").as("df"),
        round(col("chi2dec").cast("double"), 6).as("chi2"),
        round(sqrt(col("chi2dec").cast("double") /
          (col("nn").cast("double") *
            least(col("r") - 1, col("c") - 1).cast("double"))), 6)
          .as("cramers_v"),
        round(col("max_sr"), 6).as("max_abs_std_resid"))
  }

  /** DuckDB lacks conv(): 8-hex md5 prefix → integer by per-digit
    * strpos arithmetic over a column named `h` (the Pipeline idiom).
    */
  private val hex8OfH: String = (1 to 8).map { i =>
    s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
  }.mkString("(", " + ", ")")

  val registry: Seq[Query] = Seq(
    Query("analytics_chi2", chi2Independence _, Some(
      """WITH e AS (
        |  SELECT event_type AS typ,
        |    CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |      < '8000' THEN 'A' ELSE 'B' END AS arm
        |  FROM events),
        |c AS (SELECT typ, arm, COUNT(*) AS o FROM e GROUP BY 1, 2),
        |m AS (
        |  SELECT typ, arm, o,
        |    SUM(o) OVER (PARTITION BY typ) AS rt,
        |    SUM(o) OVER (PARTITION BY arm) AS ct,
        |    SUM(o) OVER () AS n
        |  FROM c),
        |t AS (
        |  SELECT typ, arm, o, rt, ct, n,
        |    CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS ex
        |  FROM m),
        |s AS (
        |  SELECT typ, arm, n,
        |    CAST(ROUND((CAST(o AS DOUBLE) - ex) * (CAST(o AS DOUBLE) - ex)
        |      / ex, 9) AS DECIMAL(28,9)) AS t9,
        |    ROUND((CAST(o AS DOUBLE) - ex) / sqrt(ex
        |      * (1.0 - CAST(rt AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (1.0 - CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS sr6
        |  FROM t)
        |SELECT CAST(MAX(n) AS BIGINT) AS n_events,
        |  CAST((COUNT(DISTINCT typ) - 1) * (COUNT(DISTINCT arm) - 1)
        |    AS BIGINT) AS df,
        |  ROUND(CAST(SUM(t9) AS DOUBLE), 6) AS chi2,
        |  ROUND(sqrt(CAST(SUM(t9) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE)
        |    * CAST(LEAST(COUNT(DISTINCT typ) - 1, COUNT(DISTINCT arm) - 1)
        |      AS DOUBLE))), 6) AS cramers_v,
        |  ROUND(MAX(ABS(sr6)), 6) AS max_abs_std_resid
        |FROM s""".stripMargin)),
    Query("analytics_ab_sequential", abSequential _, Some(
      """WITH d0 AS (
        |  SELECT MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0
        |  FROM events),
        |e AS (
        |  SELECT CAST(value AS DECIMAL(9,2)) AS v,
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 4) < '8000' AS a,
        |    date_diff('day', d0.d0,
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS di
        |  FROM events, d0),
        |lk AS (
        |  SELECT l.look_days, e.v, e.a
        |  FROM (SELECT unnest([10, 20, 30]) AS look_days) l
        |  JOIN e ON e.di < l.look_days),
        |s AS (
        |  SELECT look_days,
        |    SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN a THEN v ELSE CAST(0 AS DECIMAL(9,2)) END) AS sa,
        |    SUM(CASE WHEN a THEN CAST(CAST(v AS DECIMAL(19,2)) * v AS DECIMAL(29,4)) ELSE CAST(0 AS DECIMAL(29,4)) END) AS qa,
        |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS nb,
        |    SUM(CASE WHEN NOT a THEN v ELSE CAST(0 AS DECIMAL(9,2)) END) AS sb,
        |    SUM(CASE WHEN NOT a THEN CAST(CAST(v AS DECIMAL(19,2)) * v AS DECIMAL(29,4)) ELSE CAST(0 AS DECIMAL(29,4)) END) AS qb
        |  FROM lk GROUP BY look_days),
        |f AS (
        |  SELECT look_days, na, nb,
        |    CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS mean_diff,
        |    (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) /
        |    sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) *
        |        CAST(sa AS DOUBLE) / na) / (na - 1)) / na +
        |      ((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) *
        |        CAST(sb AS DOUBLE) / nb) / (nb - 1)) / nb) AS z,
        |    2.004 * sqrt(3.0 / (look_days / 10)) AS obf
        |  FROM s)
        |SELECT CAST(look_days AS BIGINT) AS look_days,
        |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  ROUND(mean_diff, 6) AS mean_diff, ROUND(z, 6) AS z,
        |  ROUND(obf, 6) AS obf_boundary,
        |  abs(ROUND(z, 6)) > ROUND(obf, 6) AS significant
        |FROM f ORDER BY look_days""".stripMargin)),
    Query("analytics_eb_smooth", ebSmooth _, Some(
      """WITH per AS (
        |  SELECT user_id, COUNT(*) AS n,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT user_id, n, k, CAST(k AS DOUBLE) / n AS r,
        |    (k * 1000000) // n AS rfp FROM per),
        |pm AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS u,
        |    SUM(CAST(rfp AS DECIMAL(38,0))) AS sfp,
        |    SUM(CAST(rfp * rfp AS DECIMAL(38,0))) AS sfp2
        |  FROM r),
        |pv AS (
        |  SELECT CAST(sfp AS DOUBLE) / 1000000.0 / u AS m,
        |    (CAST(sfp2 AS DOUBLE) / 1000000000000.0 -
        |     (CAST(sfp AS DOUBLE) / 1000000.0) *
        |       (CAST(sfp AS DOUBLE) / 1000000.0) / u) / (u - 1.0) AS v
        |  FROM pm),
        |ab AS (
        |  SELECT m * (m * (1.0 - m) / v - 1) AS alpha,
        |    (1.0 - m) * (m * (1.0 - m) / v - 1) AS beta
        |  FROM pv)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events,
        |  CAST(k AS BIGINT) AS n_purchases,
        |  ROUND(r, 6) AS raw_rate,
        |  ROUND((k + alpha) / (n + alpha + beta), 6) AS smoothed_rate
        |FROM r, ab ORDER BY user_id""".stripMargin)),
    Query("analytics_new_vs_returning", newVsReturning _, Some(
      """WITH f AS (
        |  SELECT o_custkey AS ck,
        |    MIN(CAST(o_orderdate AS DATE)) AS first_day
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(o_orderdate AS DATE) = f.first_day AS is_new,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders JOIN f ON o_custkey = f.ck)
        |SELECT CAST(day AS TIMESTAMP) AS day_ts,
        |  CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_returning,
        |  CAST(CAST(SUM(CASE WHEN is_new THEN p
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2))
        |    AS DOUBLE) AS rev_new,
        |  CAST(CAST(SUM(CASE WHEN NOT is_new THEN p
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(18,2))
        |    AS DOUBLE) AS rev_returning
        |FROM j GROUP BY day ORDER BY day_ts""".stripMargin)),
    Query("analytics_rfm_migration", rfmMigration _, Some(
      """WITH b AS (
        |  SELECT (MIN(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE))) +
        |    MAX(date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)))) // 2 AS mid
        |  FROM orders),
        |h1 AS (
        |  SELECT o_custkey AS ck1, 'T' || CAST(NTILE(3) OVER (
        |    ORDER BY spend DESC, o_custkey) AS VARCHAR) AS tier_h1
        |  FROM (
        |    SELECT o_custkey,
        |      SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |    FROM orders, b
        |    WHERE date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) < b.mid
        |    GROUP BY o_custkey)),
        |h2 AS (
        |  SELECT o_custkey AS ck2, 'T' || CAST(NTILE(3) OVER (
        |    ORDER BY spend DESC, o_custkey) AS VARCHAR) AS tier_h2
        |  FROM (
        |    SELECT o_custkey,
        |      SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |    FROM orders, b
        |    WHERE date_diff('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) >= b.mid
        |    GROUP BY o_custkey))
        |SELECT COALESCE(tier_h1, 'none') AS from_tier,
        |  COALESCE(tier_h2, 'none') AS to_tier,
        |  COUNT(*) AS n_customers
        |FROM h1 FULL JOIN h2 ON ck1 = ck2
        |GROUP BY 1, 2 ORDER BY from_tier, to_tier""".stripMargin)),
    Query("analytics_rolling_retention", rollingRetention _, Some(
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |    AS day
        |  FROM events),
        |mx AS (SELECT MAX(day) AS max_day FROM act),
        |j AS (
        |  SELECT a.day, a.user_id,
        |    CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS ret
        |  FROM act a LEFT JOIN act b
        |    ON b.user_id = a.user_id AND b.day = a.day + 7)
        |SELECT CAST(j.day AS TIMESTAMP) AS day_ts,
        |  COUNT(*) AS n_active,
        |  CAST(SUM(ret) AS BIGINT) AS n_retained,
        |  CASE WHEN j.day + 7 <= mx.max_day THEN
        |    ROUND(CAST(SUM(ret) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |  END AS d7_retention
        |FROM j, mx GROUP BY j.day, mx.max_day ORDER BY day_ts""".stripMargin)),
    Query("analytics_seasonal_index", seasonalIndex _, Some(
      """WITH ym AS (
        |  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1, 2),
        |ov AS (
        |  SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS overall_avg
        |  FROM ym),
        |mo AS (
        |  SELECT m, COUNT(*) AS n_years,
        |    CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS month_avg
        |  FROM ym GROUP BY m)
        |SELECT CAST(m AS BIGINT) AS month, n_years,
        |  ROUND(month_avg, 6) AS month_avg,
        |  ROUND(month_avg / overall_avg, 6) AS seasonal_index
        |FROM mo, ov ORDER BY month""".stripMargin)),
    Query("analytics_lead_time", leadTime _, Some(
      """WITH j AS (
        |  SELECT o_orderpriority AS prio,
        |    date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |bd AS (
        |  SELECT prio, days, COUNT(*) AS w FROM j GROUP BY 1, 2),
        |c AS (
        |  SELECT prio, days, w,
        |    SUM(w) OVER (PARTITION BY prio ORDER BY days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(w) OVER (PARTITION BY prio) AS n,
        |    SUM(days * w) OVER (PARTITION BY prio) AS sumd
        |  FROM bd)
        |SELECT prio, CAST(MAX(n) AS BIGINT) AS n_lines,
        |  ROUND(CAST(MAX(sumd) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6)
        |    AS mean_days,
        |  CAST(MIN(CASE WHEN cumw * 2 >= n THEN days END) AS BIGINT)
        |    AS p50_days,
        |  CAST(MIN(CASE WHEN cumw * 10 >= n * 9 THEN days END) AS BIGINT)
        |    AS p90_days
        |FROM c GROUP BY prio ORDER BY prio""".stripMargin)),
    Query("analytics_gains", gains _, Some(
      """WITH b AS (
        |  SELECT (epoch_us(MIN(CAST(ts AS TIMESTAMP))) +
        |          epoch_us(MAX(CAST(ts AS TIMESTAMP)))) // 2 AS mid
        |  FROM events),
        |u AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < b.mid
        |      THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS score,
        |    MAX(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= b.mid
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS responded
        |  FROM events, b GROUP BY user_id, b.mid),
        |d AS (
        |  SELECT NTILE(10) OVER (ORDER BY score DESC, user_id) AS decile,
        |    responded
        |  FROM u),
        |g AS (
        |  SELECT decile, COUNT(*) AS n_users, SUM(responded) AS n_resp
        |  FROM d GROUP BY decile),
        |c AS (
        |  SELECT decile, n_users, n_resp,
        |    SUM(n_resp) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_resp,
        |    SUM(n_resp) OVER () AS tot_resp
        |  FROM g)
        |SELECT CAST(decile AS BIGINT) AS decile, n_users,
        |  CAST(n_resp AS BIGINT) AS n_resp,
        |  ROUND(CAST(n_resp AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
        |    AS response_rate,
        |  ROUND(CAST(cum_resp AS DOUBLE) / CAST(tot_resp AS DOUBLE), 6)
        |    AS cum_gain
        |FROM c ORDER BY decile""".stripMargin)),
    Query("analytics_funnel_windowed", funnelWindowed _, Some(
      """WITH s AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view'
        |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view,
        |    MIN(CASE WHEN event_type = 'click'
        |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_click,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_purch
        |  FROM events GROUP BY user_id),
        |f AS (
        |  SELECT t_view IS NOT NULL AS s1,
        |    t_view IS NOT NULL AND t_click > t_view
        |      AND t_click - t_view <= 259200000000 AS s2,
        |    t_view IS NOT NULL AND t_click > t_view
        |      AND t_click - t_view <= 259200000000
        |      AND t_purch > t_click
        |      AND t_purch - t_click <= 259200000000 AS s3
        |  FROM s)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_click_72h,
        |  CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchase_72h
        |FROM f""".stripMargin)),
    Query("analytics_power_mde", powerMde _, Some(
      """WITH u0 AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y0
        |  FROM events GROUP BY user_id),
        |u AS (
        |  SELECT CAST(y0 AS DECIMAL(9,2)) AS y FROM u0
        |  WHERE y0 BETWEEN -9999999.99 AND 9999999.99),
        |s AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(CAST(y AS DECIMAL(19,2)) * y AS DECIMAL(29,4))) AS DOUBLE) AS syy
        |  FROM u),
        |f AS (
        |  SELECT n, sy / n AS m,
        |    (syy - sy * sy / n) / (n - 1) AS v
        |  FROM s),
        |g AS (SELECT CAST(unnest([0.01, 0.02, 0.05, 0.10]) AS DOUBLE)
        |  AS mde_rel)
        |SELECT g.mde_rel, CAST(f.n AS BIGINT) AS n_users,
        |  ROUND(f.m, 6) AS baseline_mean, ROUND(sqrt(f.v), 6) AS sd,
        |  CAST(CEIL(16.0 * f.v /
        |    (g.mde_rel * f.m * (g.mde_rel * f.m))) AS BIGINT) AS n_per_arm
        |FROM f, g ORDER BY g.mde_rel""".stripMargin)),
    Query("analytics_calibration", calibration _, Some(
      """WITH sc AS (
        |  SELECT label = 0 AS pos,
        |    ROUND(CAST(embedding[1] AS DOUBLE), 6) AS s
        |  FROM embeddings),
        |b AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM sc),
        |x AS (
        |  SELECT pos, s,
        |    LEAST(CAST(FLOOR((s - lo) / (hi - lo) * 10.0) AS BIGINT),
        |      9) AS bin
        |  FROM sc, b)
        |SELECT bin, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  ROUND(AVG(s), 6) AS mean_score,
        |  ROUND(CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE), 6) AS pos_rate
        |FROM x GROUP BY bin ORDER BY bin""".stripMargin)),
    Query("analytics_auc", auc _, Some(
      """WITH sc AS (
        |  SELECT label = 0 AS pos,
        |    ROUND(CAST(embedding[1] AS DOUBLE), 6) AS s
        |  FROM embeddings),
        |b AS (
        |  SELECT s, COUNT(*) AS n,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np
        |  FROM sc GROUP BY s),
        |r AS (
        |  SELECT np,
        |    COALESCE(SUM(n) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (n + 1) / 2.0 AS midrank
        |  FROM b),
        |t AS (
        |  SELECT SUM(np) AS n_pos0, SUM(np * midrank) AS rsum,
        |    COUNT(*) AS n_scores
        |  FROM r),
        |tot AS (SELECT COUNT(*) AS n_total FROM sc)
        |SELECT CAST(n_pos0 AS BIGINT) AS n_pos,
        |  CAST(n_total - n_pos0 AS BIGINT) AS n_neg,
        |  CAST(n_scores AS BIGINT) AS n_scores,
        |  ROUND((rsum - n_pos0 * (n_pos0 + 1) / 2.0) /
        |    CAST(n_pos0 * (n_total - n_pos0) AS DOUBLE), 6) AS auc
        |FROM t, tot""".stripMargin)),
    Query("analytics_ratio_delta", ratioDelta _, Some(
      """WITH u0 AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y0,
        |    COUNT(*) AS nn
        |  FROM events GROUP BY user_id),
        |u AS (
        |  SELECT CAST(y0 AS DECIMAL(9,2)) AS y, nn FROM u0
        |  WHERE y0 BETWEEN -9999999.99 AND 9999999.99),
        |s AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(nn) AS DOUBLE) AS sn,
        |    CAST(SUM(CAST(CAST(y AS DECIMAL(19,2)) * y AS DECIMAL(29,4))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(CAST(y AS DECIMAL(19,2)) * nn AS DECIMAL(29,2))) AS DOUBLE) AS syn,
        |    CAST(SUM(nn * nn) AS DOUBLE) AS snn
        |  FROM u),
        |f AS (
        |  SELECT n, sy / sn AS r,
        |    (syy - sy * sy / n) / (n - 1) AS var_y,
        |    (syn - sy * sn / n) / (n - 1) AS cov_yn,
        |    (snn - sn * sn / n) / (n - 1) AS var_n,
        |    sn / n AS mu_n
        |  FROM s),
        |g AS (
        |  SELECT n, r,
        |    sqrt((var_y - 2.0 * r * cov_yn + r * r * var_n) /
        |      (n * mu_n * mu_n)) AS se
        |  FROM f)
        |SELECT CAST(n AS BIGINT) AS n_users, ROUND(r, 6) AS ratio,
        |  ROUND(se, 6) AS se, ROUND(r - 1.96 * se, 6) AS ci_lo,
        |  ROUND(r + 1.96 * se, 6) AS ci_hi
        |FROM g""".stripMargin)),
    Query("analytics_did", did _, Some(
      """WITH b AS (
        |  SELECT (epoch_us(MIN(CAST(ts AS TIMESTAMP))) +
        |          epoch_us(MAX(CAST(ts AS TIMESTAMP)))) // 2 AS mid
        |  FROM events),
        |e AS (
        |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 4) < '8000' AS is_a,
        |    epoch_us(CAST(ts AS TIMESTAMP)) < b.mid AS pre
        |  FROM events, b),
        |s AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN is_a AND pre THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS s_ap,
        |    SUM(CASE WHEN is_a AND pre THEN 1 ELSE 0 END) AS c_ap,
        |    CAST(SUM(CASE WHEN is_a AND NOT pre THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS s_aq,
        |    SUM(CASE WHEN is_a AND NOT pre THEN 1 ELSE 0 END) AS c_aq,
        |    CAST(SUM(CASE WHEN NOT is_a AND pre THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS s_bp,
        |    SUM(CASE WHEN NOT is_a AND pre THEN 1 ELSE 0 END) AS c_bp,
        |    CAST(SUM(CASE WHEN NOT is_a AND NOT pre THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS s_bq,
        |    SUM(CASE WHEN NOT is_a AND NOT pre THEN 1 ELSE 0 END) AS c_bq
        |  FROM e)
        |SELECT CAST(c_ap AS BIGINT) AS n_a_pre,
        |  CAST(c_aq AS BIGINT) AS n_a_post,
        |  CAST(c_bp AS BIGINT) AS n_b_pre,
        |  CAST(c_bq AS BIGINT) AS n_b_post,
        |  ROUND(s_ap / c_ap, 6) AS mean_a_pre,
        |  ROUND(s_aq / c_aq, 6) AS mean_a_post,
        |  ROUND(s_bp / c_bp, 6) AS mean_b_pre,
        |  ROUND(s_bq / c_bq, 6) AS mean_b_post,
        |  ROUND((s_bq / c_bq - s_bp / c_bp) -
        |    (s_aq / c_aq - s_ap / c_ap), 6) AS did
        |FROM s""".stripMargin)),
    Query("analytics_ci_bootstrap", ciBootstrap _, Some(
      s"""WITH o AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders),
        |r AS (SELECT CAST(range AS BIGINT) AS rep FROM range(0, 100)),
        |x AS (
        |  SELECT o.p, r.rep,
        |    md5(CAST(o.o_orderkey AS VARCHAR) || ':' ||
        |        CAST(r.rep AS VARCHAR)) AS h
        |  FROM o, r),
        |wts AS (
        |  SELECT p, rep,
        |    (CASE WHEN $hex8OfH >= 1580030168 THEN 1 ELSE 0 END) +
        |    (CASE WHEN $hex8OfH >= 3160060337 THEN 1 ELSE 0 END) +
        |    (CASE WHEN $hex8OfH >= 3950075421 THEN 1 ELSE 0 END) +
        |    (CASE WHEN $hex8OfH >= 4213413783 THEN 1 ELSE 0 END) +
        |    (CASE WHEN $hex8OfH >= 4279248373 THEN 1 ELSE 0 END) +
        |    (CASE WHEN $hex8OfH >= 4292415291 THEN 1 ELSE 0 END) AS w
        |  FROM x),
        |m AS (
        |  SELECT rep, CAST(SUM(p * w) AS DOUBLE) /
        |    CAST(SUM(w) AS DOUBLE) AS m
        |  FROM wts GROUP BY rep),
        |rk AS (
        |  SELECT m, ROW_NUMBER() OVER (ORDER BY m, rep) AS rn FROM m),
        |ci AS (
        |  SELECT MIN(CASE WHEN rn = 3 THEN m END) AS ci_lo,
        |    MIN(CASE WHEN rn = 98 THEN m END) AS ci_hi
        |  FROM rk),
        |pt AS (
        |  SELECT COUNT(*) AS n_orders,
        |    CAST(SUM(p) AS DOUBLE) / COUNT(*) AS point_mean
        |  FROM o)
        |SELECT CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(100 AS BIGINT) AS n_resamples,
        |  ROUND(point_mean, 6) AS point_mean,
        |  ROUND(ci_lo, 6) AS ci_lo, ROUND(ci_hi, 6) AS ci_hi
        |FROM pt, ci""".stripMargin)),
    Query("analytics_anova", anova _, Some(
      """WITH a AS (
        |  SELECT event_type, CAST(value AS DECIMAL(9,2)) AS v
        |  FROM events WHERE value BETWEEN -9999999.99 AND 9999999.99),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n, SUM(v) AS s1,
        |    SUM(CAST(CAST(v AS DECIMAL(19,2)) * v AS DECIMAL(29,4))) AS s2
        |  FROM a GROUP BY 1),
        |t AS (
        |  SELECT COUNT(*) AS k, SUM(n) AS n_total,
        |    CAST(SUM(s1) AS DOUBLE) AS s1t, CAST(SUM(s2) AS DOUBLE) AS s2t,
        |    SUM(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) AS a
        |  FROM g)
        |SELECT CAST(k AS BIGINT) AS k_groups,
        |  CAST(n_total AS BIGINT) AS n_total,
        |  ROUND(((a - s1t * s1t / n_total) / (k - 1)) /
        |    ((s2t - a) / (n_total - k)), 6) AS f_stat,
        |  ROUND((a - s1t * s1t / n_total) /
        |    (s2t - s1t * s1t / n_total), 6) AS eta_sq
        |FROM t""".stripMargin)),
    Query("analytics_ab_cuped", abCuped _, Some(
      """WITH b AS (
        |  SELECT (epoch_us(MIN(CAST(ts AS TIMESTAMP))) +
        |          epoch_us(MAX(CAST(ts AS TIMESTAMP)))) // 2 AS mid
        |  FROM events),
        |u0 AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < b.mid
        |      THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS x0,
        |    SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= b.mid
        |      THEN CAST(value AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS y0
        |  FROM events, b GROUP BY user_id, b.mid),
        |u AS (
        |  SELECT CAST(x0 AS DECIMAL(9,2)) AS x, CAST(y0 AS DECIMAL(9,2)) AS y,
        |    substr(md5(CAST(user_id AS VARCHAR)), 1, 4) < '8000' AS is_a
        |  FROM u0 WHERE x0 BETWEEN -9999999.99 AND 9999999.99
        |    AND y0 BETWEEN -9999999.99 AND 9999999.99),
        |s AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS DOUBLE) AS n_a,
        |    CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS DOUBLE) AS n_b,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(CASE WHEN is_a THEN x ELSE CAST(0 AS DECIMAL(9,2)) END) AS DOUBLE) AS sx_a,
        |    CAST(SUM(CASE WHEN is_a THEN y ELSE CAST(0 AS DECIMAL(9,2)) END) AS DOUBLE) AS sy_a,
        |    CAST(SUM(CAST(CAST(x AS DECIMAL(19,2)) * x AS DECIMAL(29,4))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(CAST(x AS DECIMAL(19,2)) * y AS DECIMAL(29,4))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(CAST(y AS DECIMAL(19,2)) * y AS DECIMAL(29,4))) AS DOUBLE) AS syy
        |  FROM u)
        |SELECT CAST(n AS BIGINT) AS n_users, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS theta,
        |  ROUND((sy - sy_a) / n_b - sy_a / n_a, 6) AS diff_raw,
        |  ROUND(((sy - sy_a) / n_b - sy_a / n_a) -
        |    ((n * sxy - sx * sy) / (n * sxx - sx * sx)) *
        |    ((sx - sx_a) / n_b - sx_a / n_a), 6) AS diff_cuped,
        |  ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS var_reduction
        |FROM s""".stripMargin)),
    Query("analytics_conversion_window", conversionWindow _, Some(
      """WITH fs AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup'
        |      THEN CAST(ts AS TIMESTAMP) END) AS first_signup
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT fs.user_id,
        |    MAX(CASE WHEN p_ts IS NOT NULL
        |      AND epoch_us(p_ts) >= epoch_us(first_signup)
        |      AND epoch_us(p_ts) - epoch_us(first_signup) <= 604800000000
        |      THEN 1 ELSE 0 END) AS conv
        |  FROM fs LEFT JOIN p ON fs.user_id = p.user_id
        |  WHERE first_signup IS NOT NULL
        |  GROUP BY 1)
        |SELECT COUNT(*) AS n_signup_users,
        |  CAST(SUM(conv) AS BIGINT) AS n_converted_7d,
        |  ROUND(CAST(SUM(conv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS conv_rate_7d
        |FROM c""".stripMargin)),
    Query("analytics_survival_km", survivalKm _, Some(
      """WITH pu AS (
        |  SELECT user_id,
        |    MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS first_day,
        |    MAX(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS last_day
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |fr AS (SELECT MAX(last_day) AS max_day FROM pu),
        |lt AS (
        |  SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT) AS t,
        |    CASE WHEN last_day < max_day THEN 1 ELSE 0 END AS churned
        |  FROM pu, fr),
        |byt AS (
        |  SELECT t, COUNT(*) AS n_exit, SUM(churned) AS d
        |  FROM lt GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM lt),
        |r AS (
        |  SELECT t, d, n - COALESCE(SUM(n_exit) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM byt, tot),
        |f AS (
        |  SELECT t, d, n_risk,
        |    CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS factor
        |  FROM r WHERE d > 0),
        |k AS (
        |  SELECT t, d, n_risk,
        |    MAX(CASE WHEN factor = 0.0 THEN 1 ELSE 0 END) OVER cw AS hit_zero,
        |    -- NULLIF: DuckDB's ln(0) ERRORS (Spark's returns NULL); the
        |    -- zero row and everything after it report S=0 via hit_zero
        |    SUM(ln(NULLIF(factor, 0.0))) OVER cw AS lsum
        |  FROM f WINDOW cw AS (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_churned,
        |  CASE WHEN hit_zero = 1 THEN 0.0
        |    ELSE ROUND(exp(lsum), 6) END AS km_survival
        |FROM k ORDER BY t_days""".stripMargin)),
    Query("analytics_elasticity", elasticity _, Some(
      """WITH m AS (
        |  SELECT p_brand,
        |    ln(l_extendedprice / l_quantity) AS x, ln(l_quantity) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |s AS (
        |  SELECT p_brand, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(18,9))) AS DOUBLE) AS sxy
        |  FROM m GROUP BY 1)
        |SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity
        |FROM s ORDER BY p_brand""".stripMargin)),
    Query("analytics_ab_srm", abSrm _, Some(
      """WITH u AS (
        |  SELECT DISTINCT user_id FROM events),
        |a AS (
        |  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |    < '8000' THEN 'A' ELSE 'B' END AS arm FROM u),
        |s AS (
        |  SELECT COUNT(*) AS n_users,
        |    SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS n_b
        |  FROM a)
        |SELECT CAST(n_users AS BIGINT) AS n_users,
        |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  ROUND((n_a - n_b) * (n_a - n_b) / CAST(n_users AS DOUBLE), 6)
        |    AS chi2,
        |  (n_a - n_b) * (n_a - n_b) > 3.841 * CAST(n_users AS DOUBLE)
        |    AS srm_detected
        |FROM s""".stripMargin)),
    Query("analytics_attribution", attribution _, Some(
      """WITH t AS (
        |  SELECT event_type, value,
        |    COALESCE(LAST_VALUE(
        |        CASE WHEN event_type IN ('view','click') THEN event_type END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      'direct') AS channel
        |  FROM events)
        |SELECT channel, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY channel ORDER BY channel""".stripMargin)),
    Query("analytics_churn", churn _, Some(
      """WITH am AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ym
        |  FROM orders),
        |f AS (
        |  SELECT o_custkey, ym,
        |    LAG(ym) OVER w AS prev_ym, LEAD(ym) OVER w AS next_ym
        |  FROM am WINDOW w AS (PARTITION BY o_custkey ORDER BY ym)),
        |pm AS (
        |  SELECT ym, COUNT(*) AS n_active,
        |    SUM(CASE WHEN prev_ym IS NULL THEN 1 ELSE 0 END) AS n_new,
        |    SUM(CASE WHEN prev_ym = ym - 1 THEN 1 ELSE 0 END) AS n_retained
        |  FROM f GROUP BY ym),
        |ch AS (
        |  SELECT ym + 1 AS ym, COUNT(*) AS n_churned FROM f
        |  WHERE next_ym IS NULL OR next_ym <> ym + 1 GROUP BY ym + 1)
        |SELECT CAST(pm.ym // 12 AS BIGINT) AS year,
        |  CAST(pm.ym % 12 AS BIGINT) + 1 AS month,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(n_new AS BIGINT) AS n_new,
        |  CAST(n_retained AS BIGINT) AS n_retained,
        |  CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned
        |FROM pm LEFT JOIN ch ON pm.ym = ch.ym
        |ORDER BY year, month""".stripMargin)),
    Query("analytics_stickiness", stickiness _, Some(
      """WITH du AS (
        |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
        |  FROM events),
        |ww AS (SELECT CAST(date_trunc('week', day) AS DATE) AS week, day,
        |    user_id FROM du),
        |daily AS (SELECT week, day, COUNT(*) AS dau FROM ww GROUP BY 1, 2),
        |weekly AS (
        |  SELECT week, COUNT(DISTINCT user_id) AS wau FROM ww GROUP BY 1),
        |agg AS (
        |  SELECT week, COUNT(*) AS n_days, SUM(dau) AS sum_dau
        |  FROM daily GROUP BY 1)
        |SELECT CAST(agg.week AS TIMESTAMP) AS week_ts,
        |  CAST(n_days AS BIGINT) AS n_days,
        |  ROUND(CAST(sum_dau AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS avg_dau,
        |  CAST(wau AS BIGINT) AS wau,
        |  ROUND(CAST(sum_dau AS DOUBLE) / CAST(n_days * wau AS DOUBLE), 6)
        |    AS stickiness
        |FROM agg JOIN weekly ON agg.week = weekly.week
        |ORDER BY week_ts""".stripMargin)),
    Query("analytics_mutual_info", mutualInfo _, Some(
      """WITH cells AS (
        |  SELECT event_type AS x,
        |    CAST(FLOOR(hour(CAST(ts AS TIMESTAMP)) / 6.0) AS BIGINT) AS y,
        |    COUNT(*) AS nxy
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT x, SUM(nxy) AS nx FROM cells GROUP BY 1),
        |my AS (SELECT y, SUM(nxy) AS ny FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nxy) AS DOUBLE) AS n FROM cells),
        |mi AS (
        |  SELECT SUM((nxy / n) * ln(CAST(nxy AS DOUBLE) * n /
        |    (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))) AS mi
        |  FROM cells JOIN mx USING (x) JOIN my USING (y), tot),
        |hx AS (SELECT SUM(-(nx / n) * ln(nx / n)) AS h_x FROM mx, tot),
        |hy AS (SELECT SUM(-(ny / n) * ln(ny / n)) AS h_y FROM my, tot)
        |SELECT ROUND(mi, 6) AS mi_nats, ROUND(h_x, 6) AS h_x,
        |  ROUND(h_y, 6) AS h_y,
        |  ROUND(mi / sqrt(h_x * h_y), 6) AS nmi
        |FROM mi, hx, hy""".stripMargin)),
    Query("analytics_forecast_naive", forecastNaive _, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT day, total_dec,
        |    LAG(total_dec, 7) OVER (ORDER BY day) AS fc_dec
        |  FROM daily),
        |e AS (SELECT day, total_dec, fc_dec,
        |    abs(total_dec - fc_dec) AS err_dec FROM f),
        |v AS (
        |  SELECT COUNT(*) AS n_scored,
        |    ROUND(AVG(CAST(err_dec AS DOUBLE)), 6) AS mae,
        |    ROUND(AVG(CAST(err_dec AS DOUBLE) / NULLIF(CAST(total_dec AS DOUBLE), 0))
        |      * 100.0, 6) AS mape_pct
        |  FROM e WHERE fc_dec IS NOT NULL)
        |SELECT CAST(day AS TIMESTAMP) AS day_ts,
        |  CAST(total_dec AS DOUBLE) AS total,
        |  CAST(fc_dec AS DOUBLE) AS forecast,
        |  CAST(err_dec AS DOUBLE) AS abs_err,
        |  n_scored, mae, mape_pct
        |FROM e CROSS JOIN v
        |ORDER BY day_ts""".stripMargin)),
    Query("analytics_cohort_ltv", cohortLtv _, Some(
      """WITH fy AS (
        |  SELECT o_custkey, MIN(year(o_orderdate)) AS cy
        |  FROM orders GROUP BY 1),
        |sz AS (SELECT cy, COUNT(*) AS n_cust FROM fy GROUP BY 1),
        |rev AS (
        |  SELECT fy.cy, year(o.o_orderdate) - fy.cy AS off,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders o JOIN fy USING (o_custkey) GROUP BY 1, 2),
        |c AS (
        |  SELECT cy, off, rev_dec,
        |    SUM(rev_dec) OVER (PARTITION BY cy ORDER BY off
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec
        |  FROM rev)
        |SELECT CAST(c.cy AS BIGINT) AS cohort_year,
        |  CAST(off AS BIGINT) AS year_offset,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(cum_dec AS DOUBLE) AS cum_revenue,
        |  ROUND(CAST(cum_dec AS DOUBLE) / CAST(n_cust AS DOUBLE), 6)
        |    AS ltv_per_cust
        |FROM c JOIN sz ON c.cy = sz.cy
        |ORDER BY cohort_year, year_offset""".stripMargin)),
    Query("analytics_basket", basket _, Some(
      """WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |pairs AS (
        |  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_co
        |  FROM items a JOIN items b
        |    ON a.okey = b.okey AND a.brand < b.brand
        |  GROUP BY 1, 2),
        |per AS (SELECT brand, COUNT(*) AS n_ord FROM items GROUP BY 1),
        |tot AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM items)
        |SELECT brand_a, brand_b, n_co, pa.n_ord AS n_a, pb.n_ord AS n_b,
        |  ROUND(CAST(n_co AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS support,
        |  ROUND(CAST(n_co AS DOUBLE) / CAST(pa.n_ord AS DOUBLE), 6) AS confidence,
        |  ROUND(CAST(n_co * n_orders AS DOUBLE) /
        |    CAST(pa.n_ord * pb.n_ord AS DOUBLE), 6) AS lift
        |FROM pairs
        |  JOIN per pa ON pairs.brand_a = pa.brand
        |  JOIN per pb ON pairs.brand_b = pb.brand, tot
        |ORDER BY brand_a, brand_b""".stripMargin)),
    Query("analytics_rfm", rfm _, Some(
      """WITH cust AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |    COUNT(*) AS frequency,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT MAX(o_orderdate) AS corpus_max FROM orders),
        |r AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', CAST(last_order AS DATE),
        |      CAST(corpus_max AS DATE)) AS BIGINT) AS recency_days,
        |    frequency, monetary
        |  FROM cust, mx),
        |s AS (
        |  SELECT o_custkey, recency_days, frequency, monetary,
        |    CAST(ntile(4) OVER (ORDER BY recency_days DESC, o_custkey) AS BIGINT) AS r_score,
        |    CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_score,
        |    CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m_score
        |  FROM r)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |    CAST(m_score AS VARCHAR) AS segment
        |FROM s ORDER BY o_custkey""".stripMargin)),
    Query("analytics_pareto", pareto _, Some(
      """WITH rev AS (
        |  SELECT l_partkey, CAST(SUM(
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |    (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
        |  ) AS BIGINT) AS rev_i
        |  FROM lineitem GROUP BY 1),
        |w AS (
        |  SELECT l_partkey, rev_i,
        |    CAST(ROW_NUMBER() OVER (ORDER BY rev_i DESC, l_partkey) AS BIGINT) AS rnk,
        |    CAST(SUM(rev_i) OVER (ORDER BY rev_i DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_i,
        |    CAST(SUM(rev_i) OVER () AS BIGINT) AS total_i
        |  FROM rev)
        |SELECT l_partkey, rnk,
        |  CAST(rev_i AS DOUBLE) / 10000.0 AS revenue,
        |  ROUND(CAST(cum_i AS DOUBLE) * 100.0 / CAST(total_i AS DOUBLE), 6) AS cum_pct
        |FROM w
        |WHERE (cum_i - rev_i) * 5 < total_i * 4
        |ORDER BY rnk""".stripMargin)),
    Query("analytics_mom", mom _, Some(
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_ts,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month_ts, revenue,
        |  LAG(revenue) OVER w AS prev_revenue,
        |  ROUND((revenue - LAG(revenue) OVER w) / LAG(revenue) OVER w * 100.0, 6) AS mom_pct
        |FROM m WINDOW w AS (ORDER BY month_ts)
        |ORDER BY month_ts""".stripMargin)),
    Query("analytics_ttest", ttest _, Some(
      """WITH s AS (
        |  SELECT event_type, COUNT(*) AS n, AVG(value) AS m,
        |    var_samp(value) AS v
        |  FROM events GROUP BY 1)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  a.n AS na, b.n AS nb,
        |  ROUND((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) AS t_stat,
        |  ROUND(pow(a.v / a.n + b.v / b.n, 2) /
        |    (pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1)), 6) AS df
        |FROM s a JOIN s b ON a.event_type < b.event_type
        |ORDER BY type_a, type_b""".stripMargin)),
    Query("funnel_stages", funnelStages _, Some(
      """WITH s AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purch
        |  FROM events GROUP BY user_id),
        |f AS (
        |  SELECT t_view IS NOT NULL AS s1,
        |    t_view IS NOT NULL AND t_click > t_view AS s2,
        |    t_view IS NOT NULL AND t_click > t_view AND t_purch > t_click AS s3
        |  FROM s)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after,
        |  CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after
        |FROM f""".stripMargin)),
    Query("cohort_retention", cohortRetention _, Some(
      """WITH fy AS (
        |  SELECT o_custkey, min(year(o_orderdate)) AS cy
        |  FROM orders GROUP BY o_custkey),
        |a AS (
        |  SELECT DISTINCT o.o_custkey, fy.cy, year(o.o_orderdate) - fy.cy AS off
        |  FROM orders o JOIN fy USING (o_custkey))
        |SELECT CAST(cy AS BIGINT) AS cohort_year,
        |  CAST(off AS BIGINT) AS year_offset, count(*) AS n_active
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("analytics_skyline", skyline _, Some(
      """WITH m AS (
        |  SELECT p_retailprice AS price, MIN(p_size) AS size
        |  FROM part GROUP BY 1),
        |s AS (
        |  SELECT price, size,
        |    MIN(size) OVER (ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_before
        |  FROM m)
        |SELECT price, size FROM s
        |WHERE best_before IS NULL OR size < best_before
        |ORDER BY price""".stripMargin)),
    Query("analytics_markov", markov _, Some(
      """WITH t AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, event_type AS to_type, COUNT(*) AS n_trans
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_trans,
        |  ROUND(CAST(n_trans AS DOUBLE) /
        |    CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS prob
        |FROM c ORDER BY from_type, to_type""".stripMargin))
  )
}
