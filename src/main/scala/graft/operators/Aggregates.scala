package graft.operators

import graft.Query
import graft.api.Barrier._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Dec._
import graft.sources.Tables

/** Aggregation operators (SURVEY.md §2.1 category D).
  *
  * Scale design: every query here is a declarative groupBy/rollup/cube —
  * Spark plans them as partial (map-side) HashAggregate → shuffle on the
  * group keys → final HashAggregate, so the shuffle carries one row per
  * (partition, group), not the raw data. Decimal casts happen *before*
  * aggregation (SURVEY §2.0.2) which keeps sums associative — correct on
  * any number of executors.
  */
object Aggregates {

  /** D1 `agg_pricing` — TPC-H Q1 shape over lineitem. */
  def aggPricing(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    // integer-cents money math (r16; see Dec.cents2 / OPTIMIZATION_r16.md):
    // identical values to the dec2 path, ~3x less scan-stage CPU; coarse
    // groups sum DECIMAL(38,0)-of-cents for 100TB-range headroom
    val revC = cents2(col("l_extendedprice")) * (lit(100L) - cents2(col("l_discount")))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        outCentsWide(sum(cents2(col("l_quantity")).cast("decimal(38,0)")), 2).as("sum_qty"),
        outCentsWide(sum(cents2(col("l_extendedprice")).cast("decimal(38,0)")), 2).as("sum_base_price"),
        outCentsWide(sum(revC.cast("decimal(38,0)")), 4)
          .as("sum_disc_price"),
        outCentsWide(sum((revC * (lit(100L) + cents2(col("l_tax"))))
          .cast("decimal(38,0)")), 6).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** D2 `agg_distinct` — COUNT(DISTINCT) planned as expand + 2-round agg;
    * distinct-aggregation dedups per shuffle partition before the final
    * round, so it scales without collecting keys to one node.
    */
  def aggDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** D3 `agg_rollup` — ROLLUP over region/nation; GROUPING rows labelled
    * 'ALL' (group cols never null in the data, so COALESCE is safe).
    */
  def aggRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        outDec(sum(dec2(col("c_acctbal"))), 18, 2).as("total_acctbal"))
      .select(coalesce(col("r_name"), lit("ALL")).as("r_label"),
        coalesce(col("n_name"), lit("ALL")).as("n_label"),
        col("n_cust"), col("total_acctbal"))
      .orderBy(col("r_label"), col("n_label"))
  }

  /** D4 `agg_cube` — CUBE over two order attributes. */
  def aggCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        outCentsWide(sum(cents2(col("o_totalprice")).cast("decimal(38,0)")), 2).as("total_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status_label"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority_label"),
        col("n_orders"), col("total_price"))
      .orderBy(col("status_label"), col("priority_label"))

  /** D5 `agg_having` — HAVING = filter over the aggregate. */
  def aggHaving(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        outCents(sum(cents2(col("o_totalprice"))), 2).as("total_price"))
      .filter(col("n_orders") >= 12)
      .orderBy(col("n_orders").desc, col("o_custkey"))

  /** D6 `agg_groupingsets` — GROUPING SETS ((lang),(source),()) — only
    * expressible via SQL text; the DataFrame API stops at rollup/cube.
    */
  def aggGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents_gs")
    spark.sql(
      """SELECT COALESCE(lang, 'ALL') AS lang_label,
        |  COALESCE(source, 'ALL') AS source_label,
        |  COUNT(*) AS n_docs,
        |  CAST(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_chars,
        |  MAX(n_chars) AS max_chars
        |FROM documents_gs
        |GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY lang_label, source_label""".stripMargin)
  }

  /** D7 `agg_approx` — HyperLogLog++ approximate distinct counts,
    * sketch-only. No oracle (sketches are engine-specific); the ±5%
    * accuracy bound vs exact COUNT(DISTINCT) is pinned in PipelineSpec.
    * At 100 TB this is the op you reach for instead of COUNT(DISTINCT):
    * constant-size sketch per partition, a plain 2-phase HashAggregate
    * with NO expand shuffle — PipelineSpec asserts the plan carries no
    * Expand node, which is the whole point of the operator.
    */
  def aggApprox(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** `agg_quantile` — EXACT percentiles (median, p90) of quantity per
    * return flag. Spark's `percentile` is the sort-based exact
    * aggregate; DuckDB's `quantile_cont` uses the same linear
    * interpolation, and l_quantity is integer-valued, so interpolated
    * midpoints are exact in double — cross-engine hash-safe without
    * rounding. (The approximate sketch variant, percentile_approx, is
    * engine-specific like HLL — the exact form is the oracle-gated
    * surface.)
    */
  def aggQuantile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        element_at(expr("percentile(l_quantity, array(0.5D, 0.9D))"), 1).as("median_qty"),
        element_at(expr("percentile(l_quantity, array(0.5D, 0.9D))"), 2).as("p90_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** `agg_argmax` — argmax/argmin as native aggregates: per event
    * type, WHICH event carried the extreme value (`max_by`/`min_by`),
    * not just the extreme itself — the "who, not how much" lookup
    * that otherwise costs a window + filter or a self-join back.
    *
    * Determinism discipline: `max_by` picks an ARBITRARY row among
    * tied maxima (both engines), and a 2-decimal value over 10⁵ rows
    * ties constantly — so the comparison key is the exact int64
    * `value_cents·10¹⁰ + event_id`, strictly monotonic in
    * (value, event_id): the selected row is unique by construction,
    * in-engine and across engines. One 2-phase aggregate, one
    * shuffle of 5 groups × constant state.
    */
  def aggArgmax(spark: SparkSession, sfDir: String): DataFrame = {
    val key = cents2(col("value")) *
      lit(10000000000L) + col("event_id")
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"),
        key.as("k"))
      .groupBy(col("event_type"))
      .agg(max_by(col("event_id"), col("k")).as("top_event_id"),
        max(col("value")).as("top_value"),
        min_by(col("event_id"), col("k")).as("bottom_event_id"),
        min(col("value")).as("bottom_value"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** `agg_skew_kurt` — population skewness and excess kurtosis of
    * value per event type, completing the moments family beyond
    * agg_stats/agg_regression: the distribution-shape screen (heavy
    * tails, asymmetry) a data-quality audit runs beside mean/stddev.
    *
    * Cross-engine exactness discipline: the engines' NATIVE
    * skewness/kurtosis disagree by definition (population vs
    * bias-corrected sample), so both sides compute the SAME central-
    * moment formula from raw power sums — and the power sums are
    * EXACT DECIMAL over an explicit admission domain, with every
    * product width chosen to stay under both engines' 38-digit cap
    * without precision-loss rounding (see the width proof at the
    * casts). The only floats are the final identical-text formula
    * over exact inputs — bit-deterministic, ROUND-6 as belt and
    * braces. One 2-phase shuffle, map-side partials.
    */
  def aggSkewKurt(spark: SparkSession, sfDir: String): DataFrame = {
    // Admission domain |value| <= 99999.99, enforced as an EXPLICIT
    // filter in BOTH engines (not a silent cast: Spark nulls an
    // overflowing cast while DuckDB errors — divergent). Inside the
    // domain every width below is provably exact: v (7,2); v2 =
    // (15,4) <= 1e14 unscaled; v3 <= 1e15 in (23,6); v4 <= 1e20 in
    // (29,8); sums over 10^5+ rows stay under 38 digits. The
    // (19,4)-widened left operands force DuckDB onto the int128
    // multiply path (it does NOT promote int64 operands even when the
    // result width exceeds 18 — measured overflow otherwise).
    val v = col("value").cast("decimal(7,2)")
    val v2 = (v * v).cast("decimal(15,4)")
    val v2w = v2.cast("decimal(19,4)")
    Tables.events(spark, sfDir)
      .filter(col("value").between(-99999.99, 99999.99))
      .select(col("event_type"), v.as("v"), v2.as("v2"),
        (v2w * v).cast("decimal(23,6)").as("v3"),
        (v2w * v2).cast("decimal(29,8)").as("v4"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("s1"),
        sum(col("v2")).cast("double").as("s2"),
        sum(col("v3")).cast("double").as("s3"),
        sum(col("v4")).cast("double").as("s4"))
      .select(col("event_type"), col("n"),
        round(expr(
          "(s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)) / " +
            "pow(s2/n - (s1/n)*(s1/n), 1.5)"), 6).as("skewness"),
        round(expr(
          "(s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n) " +
            "- 3*(s1/n)*(s1/n)*(s1/n)*(s1/n)) / " +
            "pow(s2/n - (s1/n)*(s1/n), 2) - 3"), 6).as("kurtosis_excess"))
      .orderBy(col("event_type"))
  }

  /** `agg_group_by_all` — the GROUP BY ALL / ORDER BY ALL SQL surface
    * (every non-aggregate select item becomes a group key; every
    * select item becomes a sort key): the dialect convenience both
    * engines ship (Spark 3.4+/DuckDB) and SQL-first users lean on —
    * gated with IDENTICAL query text in both engines, pinning that
    * the inferred key set matches the explicit one. Semantically a
    * plain 2-phase aggregate — one shuffle.
    */
  def aggGroupByAll(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .createOrReplaceTempView("lineitem_gba")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem_gba
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin)
  }

  /** `agg_quantile_disc` — DISCRETE (nearest-rank, type-1) percentiles
    * of quantity per return flag: the smallest value whose cumulative
    * rank reaches ⌈p·n⌉ — exact ELEMENT selection, complementing
    * agg_quantile's interpolating form (which can emit values not in
    * the data; medians of even groups differ between the two, which
    * is exactly why a percentile surface needs both).
    *
    * Spark-first shape: ONE window (partition by group, order by
    * value) carries row_number and the partition count; the three
    * percentile picks are conditional aggregates over the ranked
    * rows — no per-group collect, no second scan. Duplicate values
    * make the ⌈p·n⌉-ranked VALUE unique even though the ranked row
    * isn't, so no tie-break is needed for engine-exactness. At
    * extreme group cardinality the window sort dominates (same cost
    * class as any exact percentile); the approximate ladder
    * (agg_approx_quantile) is the documented swap.
    */
  def aggQuantileDisc(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // count rides the same (partition, order) with an unbounded frame:
    // ONE WindowExec, one sort (the agg_weighted_median fold)
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
    val wc = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    def pick(p: Double) =
      max(when(col("rn") === ceil(col("n") * p), col("l_quantity")))
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_quantity"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wc))
      .groupBy(col("l_returnflag"))
      .agg(pick(0.25).as("p25_qty"), pick(0.5).as("median_qty"),
        pick(0.9).as("p90_qty"), max(col("n")).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** `agg_winsorize` — per-group percentile clipping (winsorization),
    * the outlier-robust feature-scaling pass: per-lang p05/p95 cuts
    * from EXACT interpolated percentiles, values clipped into [p05,
    * p95], then per-lang raw-vs-winsorized means and clip counts.
    *
    * Scale shape: the classic two-pass stats-then-apply — pass 1
    * aggregates the cuts per group (column-pruned to (lang, n_chars));
    * pass 2 joins them back, and the cut table is GROUP-cardinality,
    * so that join is a broadcast at any corpus size. Clipping itself
    * is a row-local greatest/least. Means gated at ROUND 6 (sum-order
    * variance ~1e-13, six orders under the grain); clip counts exact.
    */
  def aggWinsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars").cast("double").as("v"))
    val pcts = "percentile(v, array(0.05D, 0.95D))"
    val cuts = docs.groupBy(col("lang")).agg(
      element_at(expr(pcts), 1).as("p05"),
      element_at(expr(pcts), 2).as("p95"))
    docs.join(broadcast(cuts), Seq("lang"))
      .select(col("lang"), col("v"),
        greatest(col("p05"), least(col("p95"), col("v"))).as("w"),
        (col("v") < col("p05")).as("lo"), (col("v") > col("p95")).as("hi"))
      .groupBy(col("lang"))
      .agg(round(avg(col("v")), 6).as("mean_raw"),
        round(avg(col("w")), 6).as("mean_winsor"),
        sum(col("lo").cast("long")).as("n_clip_lo"),
        sum(col("hi").cast("long")).as("n_clip_hi"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))
  }

  /** `agg_approx_quantile` — approximate percentiles via Spark's
    * KLL-style quantile sketch (`percentile_approx`, accuracy 10000):
    * the scale path next to agg_quantile's exact sort-based percentile,
    * the way agg_approx (HLL) sits next to agg_distinct. At 100 TB the
    * exact percentile's per-group value buffer is the bottleneck; the
    * sketch is constant-size per partition and merges associatively in
    * a plain 2-phase HashAggregate. No oracle (sketch internals are
    * engine-specific); rank-error vs the exact percentile is pinned in
    * AggregatesSpec.
    */
  def aggApproxQuantile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_approx(l_quantity, 0.5D, 10000)").as("approx_median_qty"),
        expr("percentile_approx(l_quantity, 0.9D, 10000)").as("approx_p90_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** `agg_decay` — exponential RECENCY-DECAY aggregation per user: the
    * feature-store staple score Σ w·x / Σ w with w = exp(-age/τ),
    * τ = 30 days, age measured from the stream's max timestamp. Recent
    * activity dominates, stale activity fades smoothly — the standard
    * alternative to hard sliding-window cutoffs for engagement /
    * propensity features.
    *
    * Determinism discipline: ages are EXACT integer microsecond
    * differences (unix_micros ↔ DuckDB epoch_us) divided once by the
    * exactly-representable constant τ_µs, so the only transcendental
    * is exp itself (≤1 ulp engine variance, five orders under the
    * ROUND-6 gate — the text_logprob precedent). The "now" scalar is a
    * one-row aggregate broadcast-cross-joined (tpch_q22's pattern),
    * never a whole-table window. One scan, one shuffle, map-side
    * partial sums; at 100 TB this is exactly an agg_pricing-shaped
    * plan plus one scalar probe.
    */
  def aggDecay(spark: SparkSession, sfDir: String): DataFrame = {
    val tauUs = 30.0 * 86400.0 * 1e6 // 30 days in µs, exactly representable
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts_utc")).as("ts_us"),
        col("value"))
    val now = ev.agg(max(col("ts_us")).as("now_us"))
    ev.crossJoin(broadcast(now))
      .select(col("user_id"), col("value"),
        exp(-((col("now_us") - col("ts_us")).cast("double") / lit(tauUs)))
          .as("w"))
      .groupBy(col("user_id"))
      .agg(round(sum(col("w") * col("value")), 6).as("decayed_value"),
        round(sum(col("w")), 6).as("decayed_weight"),
        round(sum(col("w") * col("value")) / sum(col("w")), 6)
          .as("recency_score"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** `agg_sketch_reagg` — the RE-AGGREGATABLE sketch pattern: daily
    * DataSketches-HLL sketches of the event stream's user ids (the
    * materialized per-partition rollup a 100 TB warehouse STORES),
    * then the global distinct estimate by UNIONING the sketches — no
    * second scan of the raw stream. This is the step beyond
    * agg_approx: approx_count_distinct answers ONE query, while a
    * stored sketch column answers every future rollup (week / month /
    * all-time / any group subset) at sketch cost — the reason sketch
    * columns exist in warehouse schemas. HLL union is register-wise
    * max, so union-of-daily-sketches is EXACTLY the sketch of the
    * whole stream (order/partitioning-invariant — pinned in
    * PipelineSpec, with the accuracy bound vs exact). Output rows are
    * the per-day estimates plus the rolled-up TOTAL row computed from
    * the daily sketches alone. No oracle (DataSketches registers are
    * engine-specific); estimates are deterministic integers.
    */
  def aggSketchReagg(spark: SparkSession, sfDir: String): DataFrame = {
    // calendar-sized sketch table behind a lazy barrier: the per-day
    // readout and the union re-aggregation both consume it — one fact
    // scan builds the sketches (exactly how a production rollup stores
    // them), not one per consumer
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"),
        count(lit(1)).as("n_events"))
      .barrier(eager = false)
    val perDay = daily.select(col("day").cast("string").as("scope"),
      hll_sketch_estimate(col("sk")).as("est_users"), col("n_events"))
    val total = daily
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"),
        sum(col("n_events")).as("n_events"))
      .select(lit("total").as("scope"), col("est_users"), col("n_events"))
    perDay.unionAll(total).orderBy(col("scope"))
  }

  /** `agg_hll_intersect` — sketch SET ALGEBRA: estimated audience
    * overlap |A ∩ B| between every pair of event types' user sets via
    * inclusion–exclusion over HLL sketches (est A + est B − est A∪B).
    * HLLs union losslessly but cannot intersect directly, so this is
    * the standard derived estimate (the error grows as the overlap
    * shrinks relative to the union — acceptable for audience-overlap /
    * cross-feature-reach questions, pinned ±15% in PipelineSpec
    * against the exact intersection at corpus overlap ratios).
    *
    * Scale shape: ONE scan builds a constant-size sketch per event
    * type (2-phase aggregate, 5 rows out); the pairwise grid is a
    * broadcast self-join of that 5-row sketch table — the raw stream
    * is never rescanned or shuffled per pair. At 100 TB the sketch
    * table is what a warehouse stores per day/segment; every overlap
    * question after that is sketch-only arithmetic.
    */
  def aggHllIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    // Materialized: the grid self-join references the sketch table
    // twice under different aliases, and the renamed projections defeat
    // exchange reuse — an unmaterialized plan would scan the raw stream
    // once PER SIDE (pinned against in PipelineSpec). The checkpoint is
    // five sketch rows; at warehouse scale it's the stored rollup.
    val sk = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      .barrier()
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        (hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b")) -
          hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
          .as("est_intersect"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** `agg_approx_freq` — Count-Min-Sketch frequency estimation: the
    * third sketch in the family (HLL distinct counts, KLL quantiles,
    * CMS per-key frequencies). One pass builds a constant-size sketch
    * (eps 0.1%, confidence 99%, fixed seed — deterministic) merged in
    * a plain 2-phase aggregate; point frequencies are then O(1) probes
    * of the sketch, here for custkeys 1-5. At 100 TB this answers
    * "how often does key X occur" for ad-hoc keys without a group-by
    * shuffle of the full table or a stored per-key table. No oracle
    * (sketch internals are engine-specific); the CMS guarantee
    * (est ≥ exact, est ≤ exact + eps·N w.h.p.) is pinned in
    * PipelineSpec.
    */
  def aggApproxFreq(spark: SparkSession, sfDir: String): DataFrame = {
    val cms = graft.api.GraftOps.cmsBuild(
      Tables.orders(spark, sfDir), col("o_custkey"))
    graft.api.GraftOps.cmsEstimates(spark, cms, 1L to 5L,
      keyName = "o_custkey", estName = "est_orders")
  }

  /** `agg_filter` — the SQL `FILTER (WHERE ...)` aggregate clause: one
    * pass computing differently-conditioned aggregates per group, the
    * way a SQL-first user writes conditional rollups (the declarative
    * twin of the `sum(when(...))` idiom used across this repo — e.g.
    * tpch_q12/funnel_stages). Catalyst plans every FILTER'd aggregate
    * into the SAME 2-phase HashAggregate over one scan — no per-filter
    * passes, no Expand (pinned in PlanBudgetSpec-style assertion).
    */
  def aggFilter(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem_f")
    spark.sql(
      """SELECT l_returnflag,
        |  COUNT(*) AS n_rows,
        |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_finished,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_discount > 0.05) AS DECIMAL(18,2)) AS DOUBLE)
        |    AS qty_discounted,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_tax < 0.02) AS DECIMAL(18,2)) AS DOUBLE)
        |    AS qty_lowtax
        |FROM lineitem_f
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** `agg_entropy` — Shannon entropy of the source mix per language
    * over documents: how concentrated is each language's provenance?
    * The diversity/skew diagnostic a curation pipeline tracks per
    * slice (a lang whose entropy collapses is being fed by one
    * scraper).
    *
    * Algebraic form: H = ln n − (Σ c·ln c)/n over the per-(lang,
    * source) counts c — both Σc and Σc·ln c are plain sums of the
    * count table, so the operator is TWO nested 2-phase aggregates
    * ((lang, source) then lang) with no window, no self-join, and no
    * per-group probability materialization; the naive -Σ p ln p form
    * needs the total BEFORE scoring each row (a window or join back).
    * ln is the only transcendental → ROUND-6 gate.
    */
  def aggEntropy(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        round(log(sum(col("c")).cast("double")) -
          sum(col("c").cast("double") * log(col("c").cast("double"))) /
            sum(col("c")).cast("double"), 6).as("entropy"))
      .orderBy(col("lang"))

  /** `agg_gini` — Gini concentration coefficient of event value per
    * event type: G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-
    * sorted values — the inequality measure for spend/traffic
    * concentration ("do 1% of purchases carry 50% of value?").
    *
    * Spark-first: the sorted index is ONE row_number window on
    * (event_type ORDER BY value, event_id) and the moments are a
    * same-key aggregate that nests inside the window's partitioning —
    * one shuffle total (pinned). Σx and Σi·x accumulate in DECIMAL
    * (exact, associative — i·x keeps 2 decimals since i is integral),
    * so the only float steps are the two final divisions: identical
    * op order in both engines, ROUND-6 gate. Value ties are harmless:
    * permuting equal x across adjacent ranks leaves Σi·x unchanged,
    * so the event_id tie-break is for engine determinism, not
    * semantics.
    */
  def aggGini(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("i", row_number().over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(cents2(col("value")).cast("decimal(38,0)")).as("sx"),
        sum((col("i") * cents2(col("value"))).cast("decimal(38,0)")).as("six"))
      .select(col("event_type"), col("n"),
        round(lit(2.0) * col("six").cast("double") /
            (col("n").cast("double") * col("sx").cast("double")) -
          (col("n") + 1).cast("double") / col("n").cast("double"), 6)
          .as("gini"))
      .orderBy(col("event_type"))
  }

  /** `agg_regression` — per-group ordinary least squares: slope,
    * intercept and R² of event value against time (days since the
    * corpus epoch 2024-01-01), per event type — the one-pass trend
    * fit behind drift monitors and KPI dashboards ("is purchase value
    * rising?").
    *
    * Spark-first: `regr_slope`/`regr_intercept`/`regr_r2` are native
    * Catalyst aggregates — one scan, one 2-phase aggregate (five
    * groups out), all moments merged associatively map-side; no
    * collect, no per-group fit loop. The regressor is re-anchored to
    * the corpus start so the intercept is the fitted value at t=0 of
    * the data (an epoch-1970 anchor would extrapolate ~20k days out
    * and amplify last-ulp slope noise ~2e4× into the intercept —
    * determinism, not taste). Moment-merge order differs across
    * engines/partitionings, so outputs are ROUND-6ed (diff ~1e-12
    * relative, six orders below the grain).
    */
  def aggRegression(spark: SparkSession, sfDir: String): DataFrame = {
    val epochUs = 1704067200000000L // 2024-01-01T00:00Z in µs
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        ((unix_micros(col("ts_utc")) - epochUs).cast("double") /
          lit(86400000000.0)).as("x"))
      .groupBy(col("event_type"))
      .agg(round(regr_slope(col("value"), col("x")), 6).as("slope"),
        round(regr_intercept(col("value"), col("x")), 6).as("intercept"),
        round(regr_r2(col("value"), col("x")), 6).as("r2"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** `agg_stats` — statistical aggregates: sample stddev and Pearson
    * correlation. Merge order affects the last few ulps (Welford-style
    * partial merges vs DuckDB's single pass), so outputs are rounded to
    * 6 — stddev is O(10) and corr is in [-1,1], leaving ~9 guard digits
    * above the FP noise floor.
    */
  def aggStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** `agg_stringagg` — ordered string aggregation: the collect_set is
    * unordered (partition-dependent), so array_sort makes the join
    * deterministic on any cluster — the only safe way to string-agg in
    * a distributed engine.
    */
  def aggStringagg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** D8 `agg_pivot` — event counts pivoted to one column per type
    * (explicit value list keeps the plan static — no driver-side
    * distinct scan, which matters when the fact table is huge).
    */
  def aggPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .count()
    types.foldLeft(pivoted) { (df, t) =>
      df.withColumn(t, coalesce(col(t), lit(0L)))
    }.orderBy(col("user_id"))
  }

  /** `agg_salted` — skew-safe two-phase aggregation as a gated query:
    * decimal sum of event value per event_type via Salt.saltedSum.
    * event_type has 5 values over the whole corpus — the textbook hot
    * key: a plain groupBy routes ~n/5 rows to single reducers, while
    * salting spreads each key over 16 sub-keys (first shuffle uniform)
    * and merges ≤ 5×16 partials in the second. The result is
    * bit-identical to the unsalted plan BECAUSE the addend is decimal
    * (associative) — the oracle is the plain GROUP BY, which is the
    * point: salting is a physical rewrite, not a semantic one.
    */
  def aggSalted(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.Salt.saltedSum(Tables.events(spark, sfDir),
        col("event_type"), cents2(col("value")), buckets = 16)
      .select(col("k").as("event_type"),
        outCents(col("total"), 2).as("total_value"))
      .orderBy(col("event_type"))

  /** `agg_mode` — deterministic mode: the most frequent o_orderpriority
    * per order status, ties broken by the smaller priority string.
    * Spark's built-in `mode` is explicitly nondeterministic on ties, so
    * the distributed-safe form is count + one row_number window over
    * (count DESC, value) — same rewrite any engine needs for a
    * reproducible mode.
    */
  def aggMode(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("n").as("n_orders"))
      .orderBy(col("o_orderstatus"))
  }

  /** `agg_unpivot` — melt the pivoted per-user event counts back to
    * long form (`Dataset.unpivot`, SQL UNPIVOT): the wide→long inverse
    * of D8. Dropping the zero-filled cells recovers exactly the plain
    * GROUP BY — which is the oracle, pinning pivot ∘ unpivot = id.
    */
  def aggUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    aggPivot(spark, sfDir)
      .unpivot(Array(col("user_id")), types.map(col).toArray,
        "event_type", "n_events")
      .filter(col("n_events") > 0)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** `agg_histogram` — fixed-width value binning (the feature-
    * engineering / profiling histogram): order totals into 10k-wide
    * bins with per-bin count and decimal sum. The bin id is pure
    * integer-result arithmetic (`floor(x / w)`) evaluated identically
    * by both engines on the same IEEE doubles, so bin membership can't
    * flip at an edge. Map-side: binning is a projection; the aggregate
    * is a plain 2-phase hash agg on ~50 bin keys — at 100 TB the
    * shuffle carries one row per (partition, bin). Only non-empty bins
    * are emitted (profiling semantics); zero-filling a bin range is
    * ts_gapfill's generated-dimension trick if a consumer needs it.
    */
  def aggHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val width = 10000.0
    Tables.orders(spark, sfDir)
      .select(floor(col("o_totalprice") / width).cast("long").as("bin"),
        col("o_totalprice"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"),
        outCentsWide(sum(cents2(col("o_totalprice")).cast("decimal(38,0)")), 2).as("sum_price"))
      .select((col("bin") * width).as("bin_lo"),
        ((col("bin") + 1) * width).as("bin_hi"),
        col("n_orders"), col("sum_price"))
      .orderBy(col("bin_lo"))
  }

  /** `agg_equidepth` — EQUI-DEPTH histogram (the profiling twin of
    * agg_histogram's fixed width): decile value cuts, then per-bucket
    * row count and exact [lo, hi] range. Equal-depth edges are what
    * optimizer statistics, quantile feature binning, and range
    * partitioners actually want — fixed-width bins collapse under
    * skew.
    *
    * The ≤10-row result is a catalog statistic: the driver holds it
    * once per corpus snapshot (`Materialize.model`, like
    * `embeddings_count`), sorted by bucket, and the query serves it as
    * a local relation, which keeps that order — serving and collecting
    * it start no job (an `orderBy` here would plan a range shuffle of
    * ten rows: three jobs per call). The build ([[aggEquidepthBuild]])
    * is three bounded aggregates over `orders`, each collected, with
    * the cut arithmetic on the driver. Not a global ntile: a
    * no-partition window is a single task holding the full sort. Cut
    * interpolation is the same linear rule in both engines over exact
    * decimal-as-double inputs (the agg_quantile precedent), and bucket
    * membership is a plain comparison — gates exactly, no rounding. At
    * 100 TB swap the first two aggregates for the KLL sketch
    * (agg_approx_quantile); the binning pass is unchanged.
    */
  def aggEquidepth(spark: SparkSession, sfDir: String): DataFrame = {
    val (schema, rows) = graft.sources.Materialize.model(sfDir,
      Seq("orders"), "equidepth_stats")(aggEquidepthBuild(spark, sfDir))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The most $100 price buckets agg_equidepth's first aggregate may
    * bring to the driver.
    */
  private[graft] val EquidepthMaxBuckets = 1000000

  /** The 1-based ranks each decile cut reads over `n` sorted values:
    * for h = q·(N−1), rank lo = floor(h) + 1, and rank lo + 1 with
    * weight frac = h − floor(h) — absent when frac = 0 or lo is the
    * last rank, where the cut is the value at lo.
    */
  private[graft] def equidepthRanks(n: Long): Seq[(Long, Option[Long], Double)] =
    Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9).map { q =>
      val h = q * (n - 1).toDouble
      val lo = math.floor(h).toLong + 1
      val frac = h - math.floor(h)
      (lo, if (frac != 0.0 && lo < n) Some(lo + 1) else None, frac)
    }

  /** The buckets holding the ranks the cuts read, in order, from the
    * histogram of (bucket, rows).
    */
  private[graft] def equidepthBuckets(hist: Seq[(Long, Long)]): Seq[Long] = {
    require(hist.size <= EquidepthMaxBuckets,
      s"agg_equidepth: the o_totalprice histogram holds ${hist.size} $$100 " +
        s"buckets, over the bound of $EquidepthMaxBuckets the driver collects")
    val sorted = hist.sortBy(_._1).toArray
    val through = sorted.scanLeft(0L)(_ + _._2).tail
    if (sorted.isEmpty) Nil
    else equidepthRanks(through.last)
      .flatMap { case (lo, hi, _) => lo +: hi.toSeq }
      .map(r => sorted(through.indexWhere(_ >= r))._1).distinct.sorted
  }

  /** The cuts, from the histogram of (bucket, rows) and the refined
    * (cent price, rows) of every price in [[equidepthBuckets]]: the
    * value at global rank r is the first refined price whose bucket's
    * earlier rows plus its own running count reach r, and each cut is
    * `lo + frac·(hi − lo)` on `pc / 100.0`, the linear rule the
    * oracle's quantile_cont applies.
    */
  private[graft] def equidepthCuts(hist: Seq[(Long, Long)],
      refined: Seq[(Long, Long)]): Seq[Double] = {
    val sorted = hist.sortBy(_._1)
    val before = sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._2)).toMap
    // (price, global rank of its last row), ascending in both
    // (Long `/` truncates like Spark's DIV)
    val ends = refined.sortBy(_._1).groupBy(_._1 / 10000)
      .toSeq.sortBy(_._1).flatMap { case (b, ps) =>
        ps.map(_._1).zip(ps.scanLeft(before(b))(_ + _._2).tail)
      }
    def value(r: Long): Double = ends.find(_._2 >= r).get._1.toDouble / 100.0
    if (sorted.isEmpty) Nil
    else equidepthRanks(sorted.map(_._2).sum).map {
      case (lo, None, _) => value(lo)
      case (lo, Some(hi), frac) =>
        val (v, w) = (value(lo), value(hi))
        v + frac * (w - v)
    }
  }

  /** agg_equidepth's statistic, built by three bounded aggregates over
    * `orders`, each collected:
    *   1. row counts per $100 price bucket — value-domain bounded
    *      (price range / 100 rows, capped at [[EquidepthMaxBuckets]]),
    *      never the fact rows;
    *   2. row counts per distinct cent price in the ≤18 buckets that
    *      hold the cut ranks — ≤10⁴ prices per bucket BY CONSTRUCTION
    *      ($100 ÷ cent grain); a pushable o_totalprice range
    *      pre-filter prunes row groups at scale;
    *   3. per-bucket count and [lo, hi] with the nine cuts as literals:
    *      bucket = 1 + #cuts below the price, one 2-phase aggregate.
    * Between 2 and 3 the driver picks each rank's price by a
    * cumulative scan ([[equidepthCuts]]). Rank-r-value semantics are
    * tie-break-free: the value at a global rank counting multiplicity
    * does not depend on how equal prices are ordered. frac = 0
    * degrades to the exact lower value, and frac ≠ 0 lands strictly
    * between two consecutive sorted values, so bucket comparisons
    * cannot flip on last-ulp differences.
    */
  private def aggEquidepthBuild(spark: SparkSession,
      sfDir: String): (org.apache.spark.sql.types.StructType, Array[Row]) = {
    // integer cents (Spark floor() returns LONG); price = outCents(pc, 2)
    val priced = Tables.orders(spark, sfDir)
      .select(cents2(col("o_totalprice")).as("pc"))
    val histRows = priced.groupBy(expr("pc DIV 10000").as("bkt"))
      .agg(count(lit(1)).as("n")).collect()
    // fail LOUDLY on a null money value (a corpus-regeneration class
    // this build does not define semantics for), instead of an NPE out
    // of getLong; CentsDomainSpec asserts the same corpus property at
    // test time
    require(histRows.forall(!_.isNullAt(0)),
      "agg_equidepth: o_totalprice contains NULLs — the corpus broke the " +
        "non-null money precondition (see CentsDomainSpec); define null " +
        "rank semantics before rebuilding this statistic")
    val hist = histRows.map(r => (r.getLong(0), r.getLong(1))).toSeq
    val needB = equidepthBuckets(hist)
    val cuts = if (needB.isEmpty) Nil else {
      // conservative pushable pre-filter, one bucket wider on each side
      // (bucket 0 spans both signs); the exact bucket isin below keeps
      // the semantics
      val refined = Tables.orders(spark, sfDir)
        .filter(col("o_totalprice") >= (needB.head - 1) * 100.0 &&
          col("o_totalprice") <= (needB.last + 2) * 100.0)
        .select(cents2(col("o_totalprice")).as("pc"))
        .filter(expr("pc DIV 10000")
          .isin(needB.map(java.lang.Long.valueOf): _*))
        .groupBy(col("pc")).agg(count(lit(1)).as("n")).collect()
      equidepthCuts(hist, refined.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }
    val stats = priced.select(outCents(col("pc"), 2).as("price"))
      .groupBy(cuts.foldLeft(lit(1L))((b, c) =>
        b + when(col("price") > c, 1L).otherwise(0L)).as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("price")).as("lo"), max(col("price")).as("hi"))
    (stats.schema, stats.collect().sortBy(_.getLong(0)))
  }

  /** `agg_corr_matrix` — the pairwise Pearson correlation matrix of
    * the four lineitem measures (quantity, extendedprice, discount,
    * tax) in ONE scan: the feature-dependence screen a modeling or
    * data-quality pass runs before fitting anything — six
    * correlations from fifteen shared power sums, never six passes.
    *
    * Cross-engine exactness discipline (the agg_skew_kurt pattern):
    * all first- and second-order sums are EXACT DECIMAL over an
    * explicit admission domain. Widths: measures admit at (9,2)
    * (|x| ≤ 9,999,999.99 enforced by EXPLICIT filter, not a silent
    * cast); each product's left operand widens to (19,2) — forcing
    * DuckDB's int128 multiply path — giving (29,4) products
    * (≤ 1e14 unscaled), whose sums over 10^6+ rows stay far under
    * the 38-digit cap. The only floats are the six identical-text
    * corr formulas over exact inputs, ROUND-6.
    *
    * Scale shape: one map-side-combined global aggregate (constant
    * state: 15 decimal cells + count), no shuffle beyond the 1-row
    * final combine — the same cost as a COUNT(*) at 100 TB.
    */
  def aggCorrMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val measures = Seq("l_quantity" -> "q", "l_extendedprice" -> "p",
      "l_discount" -> "d", "l_tax" -> "t")
    val admitted = measures.foldLeft(Tables.lineitem(spark, sfDir)) {
      case (df, (m, _)) => df.filter(col(m).between(-9999999.99, 9999999.99))
    }
    val narrow = admitted.select(measures.map { case (m, a) =>
      col(m).cast("decimal(9,2)").as(a)
    }: _*)
    val pairs = for {
      i <- measures.indices; j <- i until measures.size
    } yield (measures(i)._2, measures(j)._2)
    val sums =
      measures.map { case (_, a) =>
        sum(col(a)).cast("double").as(s"s_$a")
      } ++ pairs.map { case (a, b) =>
        sum((col(a).cast("decimal(19,2)") * col(b)).cast("decimal(29,4)"))
          .cast("double").as(s"s_$a$b")
      }
    def corr(a: String, b: String) = round(
      (col("n") * col(s"s_$a$b") - col(s"s_$a") * col(s"s_$b")) /
        sqrt((col("n") * col(s"s_$a$a") - col(s"s_$a") * col(s"s_$a")) *
          (col("n") * col(s"s_$b$b") - col(s"s_$b") * col(s"s_$b"))),
      6).as(s"corr_${a}_$b")
    val aggs = count(lit(1)).cast("double").as("n") +: sums
    narrow
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n").cast("long").as("n_rows"),
        corr("q", "p"), corr("q", "d"), corr("q", "t"),
        corr("p", "d"), corr("p", "t"), corr("d", "t"))
  }

  /** `agg_weighted_median` — the quantity-weighted median price per
    * return flag: the smallest price whose cumulative weight reaches
    * half the total — "the price at which half the UNITS (not half the
    * line items) sold at or below". The correct central-tendency for
    * any per-unit economics; the unweighted median answers a different
    * question.
    *
    * Exactness: weights are integer quantity-cents, cumulated over
    * per-PRICE aggregates (ties collapse before the scan, so the
    * cumulative at each distinct price is well-defined without a
    * row-level tie-break); the selection test 2·cum ≥ W is exact
    * integer — no division anywhere until the output cast.
    *
    * Scale shape — HISTOGRAM PRUNE + EXACT REFINE, the classic exact
    * distributed percentile: a flag-partitioned window over the raw
    * (flag, distinct price) frame would put n/3 of the price domain in
    * ONE task (l_returnflag has 3 values — the same single-task hazard
    * class the unpartitioned-window whitelist polices; measured as a
    * 3-task × 200k-row window stage at sf0.1). Instead:
    *   phase 1 — bucket prices by `price DIV 100` and aggregate weight
    *     per (flag, bucket): a map-combined shuffle of a few thousand
    *     partial rows, never the fact rows; the cumulative scan that
    *     locates each flag's MEDIAN BUCKET runs over the bucket-domain
    *     frame (price-range/100 rows — value-domain bounded);
    *   phase 2 — re-scan the fact filtered to the 3 (flag, median
    *     bucket) slices and refine exactly: the within-bucket frame is
    *     ≤ 10⁴ distinct cent prices per flag BY CONSTRUCTION (bucket
    *     width 100 × cent granularity), so its window is bounded no
    *     matter the corpus size. Exact two-pass algorithm — the fact
    *     reads twice by design (the accepted 2-scan class), and at
    *     cluster scale the refine's price-range predicate prunes
    *     parquet row groups.
    */
  def aggWeightedMedian(spark: SparkSession, sfDir: String): DataFrame =
    // the exact weighted median is a persisted catalog STATISTIC, like
    // equidepth_stats — artifact per the Materialize policy; the
    // two-phase histogram-prune+refine algorithm below runs once per
    // corpus snapshot and stays exactly as the build
    graft.sources.Materialize.once(spark, sfDir,
        Seq("lineitem"), "weighted_median_stats")(
      aggWeightedMedianBuild(spark, sfDir))
      .orderBy(col("l_returnflag"))

  private[graft] def aggWeightedMedianBuild(spark: SparkSession,
      sfDir: String): DataFrame = {
    val wcents = cents2(col("l_quantity"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice").as("price"),
        wcents.as("w"))
      .withColumn("bkt", floor(col("price") / 100).cast("long"))
    // phase 1: weight histogram over (flag, price-bucket)
    val hist = li.groupBy(col("l_returnflag"), col("bkt"))
      .agg(sum(col("w")).as("bw"))
    val wf = Window.partitionBy(col("l_returnflag")).orderBy(col("bkt"))
    val cumB = sum(col("bw")).over(
      wf.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val totB = sum(col("bw")).over(
      wf.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    // the median bucket = FIRST bucket whose cumulative weight reaches
    // half the total; `off` = cumulative weight strictly before it
    val target = hist
      .withColumn("cumb", cumB).withColumn("tw", totB)
      .filter(col("cumb") * 2 >= col("tw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("bkt")).as("bkt"), max(col("tw")).as("tw"),
        min_by(col("cumb") - col("bw"), col("bkt")).as("off"))
    // phase 2: exact within-bucket refine on the pruned slice
    val wp = Window.partitionBy(col("l_returnflag")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.join(broadcast(target), Seq("l_returnflag", "bkt"))
      .groupBy(col("l_returnflag"), col("price"))
      .agg(sum(col("w")).as("pw"), max(col("tw")).as("tw"),
        max(col("off")).as("off"))
      .withColumn("cumin", sum(col("pw")).over(wp))
      .filter((col("off") + col("cumin")) * 2 >= col("tw"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("tw")).as("total_weight_cents"),
        min(col("price")).as("wmedian_price"))
  }

  /** `agg_hhi` — the Herfindahl–Hirschman concentration index of
    * customer revenue within each market segment (Σ share², scaled to
    * the conventional 0–10,000 points): the "is this segment's revenue
    * concentrated in a few accounts" screen — portfolio risk for a
    * sales org, monopoly screening for an economist, and the same
    * statistic a data-curation pass uses to detect source-domination
    * in a training mixture.
    *
    * Exactness: per-customer revenue sums in DECIMAL cents (exact
    * int); shares and the Σ share² are doubles over the
    * customer-count-bounded frame, ROUND-6 (float-sum-order band
    * ~1e-12 of values O(1–10⁴)).
    *
    * Scale shape: facts join the broadcast customer dim, collapse to
    * (segment, customer) in one map-combined shuffle, then re-collapse
    * to segments — the aggregate cardinality ladder (rows → customers
    * → segments), never a self-join.
    */
  def aggHhi(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val perCust = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(cents2(col("o_totalprice"))).as("cents"))
    val tot = Window.partitionBy(col("c_mktsegment"))
    perCust
      .withColumn("seg_cents", sum(col("cents")).over(tot))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(max(col("seg_cents")).cast("double") / 100.0, 2)
          .as("segment_revenue"),
        round(sum((col("cents").cast("double") /
            col("seg_cents").cast("double")) *
          (col("cents").cast("double") / col("seg_cents").cast("double")))
          * 10000.0, 6).as("hhi"))
      .orderBy(col("c_mktsegment"))
  }

  /** `agg_theil` — the Theil-T inequality index of customer revenue
    * within each market segment: T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ), the
    * entropy-based companion to agg_gini/agg_hhi. Theil is the one
    * classical inequality measure that DECOMPOSES additively into
    * between-group + within-group terms, which is why mixture audits
    * prefer it: "how much of the revenue concentration is across
    * segments vs inside them" falls out of the same statistic.
    *
    * Exactness: per-customer revenue is exact integer cents (decimal
    * sum × 100); ratios r = x·n/S are doubles of exact integers with
    * identical formula text, ln is the only transcendental, and the
    * per-segment Σ r·ln(r) averages O(1) terms — ROUND-6 absorbs the
    * customer-count-bounded ulp wobble (the agg_hhi argument).
    *
    * Scale shape: fact scale collapses to (segment, customer) in ONE
    * map-combined shuffle; the segment totals ride a window over the
    * customer-cardinality frame partitioned by segment (5 partitions,
    * dimension-bounded); the final rollup is segment-sized. Same cost
    * class as agg_hhi at 100 TB.
    */
  def aggTheil(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val perCust = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_custkey"))
      .agg(sum(cents2(col("o_totalprice"))).as("cents"))
    val tot = Window.partitionBy(col("c_mktsegment"))
    val r = col("cents").cast("double") * col("n_seg") /
      col("seg_cents").cast("double")
    perCust
      .withColumn("seg_cents", sum(col("cents")).over(tot))
      .withColumn("n_seg", count(lit(1)).over(tot))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(max(col("seg_cents")).cast("double") / 100.0, 2)
          .as("segment_revenue"),
        round(sum(r * log(r)) / max(col("n_seg")), 6).as("theil"))
      .orderBy(col("c_mktsegment"))
  }

  /** `agg_trimmed_mean` — the 10% trimmed mean of extended price per
    * return flag: drop the lowest and highest decile BY EXACT RANK and
    * average the kept mass. The robust-location companion to
    * agg_winsorize (which CLAMPS the tails instead of dropping them)
    * — a trimmed mean ignores outliers entirely, which is what a
    * price/latency SLA report usually wants.
    *
    * Exactness — the tie-aware overlap trick: rows collapse to
    * (flag, distinct price, weight); each run occupies exact rank
    * interval (cum−w, cum], and its KEPT weight is the integer
    * interval overlap with (lo, hi] where lo = ⌊n/10⌋, hi = n − lo.
    * Σ price·kept is decimal × int64 (exact), the divisor hi − lo is
    * an exact integer — ties at a trim boundary contribute exactly
    * the partial weight that lies inside, identically in both
    * engines, with NO row-level rank and NO division until the final
    * emitted mean.
    *
    * Scale shape: one map-combined collapse to the price domain, two
    * windows over that collapsed frame — the agg_weighted_median
    * cost class.
    */
  def aggTrimmedMean(spark: SparkSession, sfDir: String): DataFrame = {
    val byPrice = Tables.lineitem(spark, sfDir)
      .filter(col("l_extendedprice").between(-9999999.99, 9999999.99))
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("decimal(9,2)").as("price"))
      .groupBy(col("l_returnflag"), col("price"))
      .agg(count(lit(1)).as("w"))
    // both frames share (partition, order): ONE WindowExec, one sort
    // (the agg_weighted_median fold)
    val wBase = Window.partitionBy(col("l_returnflag")).orderBy(col("price"))
    val cum = wBase.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = wBase.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    byPrice
      .withColumn("cum", sum(col("w")).over(cum))
      .withColumn("n", sum(col("w")).over(tot))
      .withColumn("lo", expr("n DIV 10"))
      .withColumn("hi", col("n") - col("lo"))
      .withColumn("kept", greatest(lit(0L),
        least(col("cum"), col("hi")) -
          greatest(col("cum") - col("w"), col("lo"))))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n_rows"), max(col("lo")).as("n_trimmed_each"),
        (sum(col("price") * col("kept")).cast("double") /
          max(col("hi") - col("lo")).cast("double")).as("tm"))
      .select(col("l_returnflag"), col("n_rows"), col("n_trimmed_each"),
        round(col("tm"), 6).as("trimmed_mean"))
      .orderBy(col("l_returnflag"))
  }

  val registry: Seq[Query] = Seq(
    Query("agg_weighted_median", aggWeightedMedian _, Some(
      """WITH bp AS (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |    SUM(CAST(CAST(l_quantity AS DECIMAL(7,2)) * 100 AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, price, w,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS total_w
        |  FROM bp)
        |SELECT l_returnflag,
        |  CAST(MAX(total_w) AS BIGINT) AS total_weight_cents,
        |  MIN(price) AS wmedian_price
        |FROM c WHERE cum * 2 >= total_w
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("agg_trimmed_mean", aggTrimmedMean _, Some(
      """WITH bp AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(9,2))
        |    AS price, COUNT(*) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice BETWEEN -9999999.99 AND 9999999.99
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, price, w,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS n
        |  FROM bp),
        |k AS (
        |  SELECT l_returnflag, price, w, cum, n,
        |    n // 10 AS lo, n - n // 10 AS hi,
        |    GREATEST(0, LEAST(cum, n - n // 10) -
        |      GREATEST(cum - w, n // 10)) AS kept
        |  FROM c)
        |SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n_rows,
        |  CAST(MAX(lo) AS BIGINT) AS n_trimmed_each,
        |  ROUND(CAST(SUM(price * kept) AS DOUBLE) /
        |    CAST(MAX(hi - lo) AS DOUBLE), 6) AS trimmed_mean
        |FROM k GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("agg_theil", aggTheil _, Some(
      """WITH pc AS (
        |  SELECT c_mktsegment, c_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT c_mktsegment, cents,
        |    SUM(cents) OVER (PARTITION BY c_mktsegment) AS seg_cents,
        |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n_seg
        |  FROM pc)
        |SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  ROUND(CAST(MAX(seg_cents) AS DOUBLE) / 100.0, 2) AS segment_revenue,
        |  ROUND(SUM((CAST(cents AS DOUBLE) * n_seg / CAST(seg_cents AS DOUBLE)) *
        |    ln(CAST(cents AS DOUBLE) * n_seg / CAST(seg_cents AS DOUBLE))) /
        |    MAX(n_seg), 6) AS theil
        |FROM s GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("agg_hhi", aggHhi _, Some(
      """WITH pc AS (
        |  SELECT c_mktsegment, c_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT c_mktsegment, c_custkey, cents,
        |    SUM(cents) OVER (PARTITION BY c_mktsegment) AS seg_cents
        |  FROM pc)
        |SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  ROUND(CAST(MAX(seg_cents) AS DOUBLE) / 100.0, 2) AS segment_revenue,
        |  ROUND(SUM((CAST(cents AS DOUBLE) / CAST(seg_cents AS DOUBLE)) *
        |    (CAST(cents AS DOUBLE) / CAST(seg_cents AS DOUBLE))) * 10000.0, 6)
        |    AS hhi
        |FROM s GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Query("agg_corr_matrix", aggCorrMatrix _, Some(
      """WITH m AS (
        |  SELECT CAST(l_quantity AS DECIMAL(9,2)) AS q,
        |    CAST(l_extendedprice AS DECIMAL(9,2)) AS p,
        |    CAST(l_discount AS DECIMAL(9,2)) AS d,
        |    CAST(l_tax AS DECIMAL(9,2)) AS t
        |  FROM lineitem
        |  WHERE l_quantity BETWEEN -9999999.99 AND 9999999.99
        |    AND l_extendedprice BETWEEN -9999999.99 AND 9999999.99
        |    AND l_discount BETWEEN -9999999.99 AND 9999999.99
        |    AND l_tax BETWEEN -9999999.99 AND 9999999.99),
        |s AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(q) AS DOUBLE) AS s_q, CAST(SUM(p) AS DOUBLE) AS s_p,
        |    CAST(SUM(d) AS DOUBLE) AS s_d, CAST(SUM(t) AS DOUBLE) AS s_t,
        |    CAST(SUM(CAST(CAST(q AS DECIMAL(19,2)) * q AS DECIMAL(29,4))) AS DOUBLE) AS s_qq,
        |    CAST(SUM(CAST(CAST(q AS DECIMAL(19,2)) * p AS DECIMAL(29,4))) AS DOUBLE) AS s_qp,
        |    CAST(SUM(CAST(CAST(q AS DECIMAL(19,2)) * d AS DECIMAL(29,4))) AS DOUBLE) AS s_qd,
        |    CAST(SUM(CAST(CAST(q AS DECIMAL(19,2)) * t AS DECIMAL(29,4))) AS DOUBLE) AS s_qt,
        |    CAST(SUM(CAST(CAST(p AS DECIMAL(19,2)) * p AS DECIMAL(29,4))) AS DOUBLE) AS s_pp,
        |    CAST(SUM(CAST(CAST(p AS DECIMAL(19,2)) * d AS DECIMAL(29,4))) AS DOUBLE) AS s_pd,
        |    CAST(SUM(CAST(CAST(p AS DECIMAL(19,2)) * t AS DECIMAL(29,4))) AS DOUBLE) AS s_pt,
        |    CAST(SUM(CAST(CAST(d AS DECIMAL(19,2)) * d AS DECIMAL(29,4))) AS DOUBLE) AS s_dd,
        |    CAST(SUM(CAST(CAST(d AS DECIMAL(19,2)) * t AS DECIMAL(29,4))) AS DOUBLE) AS s_dt,
        |    CAST(SUM(CAST(CAST(t AS DECIMAL(19,2)) * t AS DECIMAL(29,4))) AS DOUBLE) AS s_tt
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  ROUND((n * s_qp - s_q * s_p) / sqrt((n * s_qq - s_q * s_q) * (n * s_pp - s_p * s_p)), 6) AS corr_q_p,
        |  ROUND((n * s_qd - s_q * s_d) / sqrt((n * s_qq - s_q * s_q) * (n * s_dd - s_d * s_d)), 6) AS corr_q_d,
        |  ROUND((n * s_qt - s_q * s_t) / sqrt((n * s_qq - s_q * s_q) * (n * s_tt - s_t * s_t)), 6) AS corr_q_t,
        |  ROUND((n * s_pd - s_p * s_d) / sqrt((n * s_pp - s_p * s_p) * (n * s_dd - s_d * s_d)), 6) AS corr_p_d,
        |  ROUND((n * s_pt - s_p * s_t) / sqrt((n * s_pp - s_p * s_p) * (n * s_tt - s_t * s_t)), 6) AS corr_p_t,
        |  ROUND((n * s_dt - s_d * s_t) / sqrt((n * s_dd - s_d * s_d) * (n * s_tt - s_t * s_t)), 6) AS corr_d_t
        |FROM s""".stripMargin)),
    Query("agg_histogram", aggHistogram _, Some(
      """SELECT CAST(bin * 10000.0 AS DOUBLE) AS bin_lo,
        |  CAST((bin + 1) * 10000.0 AS DOUBLE) AS bin_hi,
        |  n_orders, sum_price
        |FROM (
        |  SELECT CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) AS bin,
        |    COUNT(*) AS n_orders,
        |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price
        |  FROM orders GROUP BY bin)
        |ORDER BY bin_lo""".stripMargin)),
    Query("agg_unpivot", aggUnpivot _, Some(
      """SELECT user_id, event_type, COUNT(*) AS n_events
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin)),
    Query("agg_mode", aggMode _, Some(
      """SELECT o_orderstatus, mode_priority, n_orders FROM (
        |  SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |    COUNT(*) AS n_orders,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |      ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
        |  FROM orders
        |  GROUP BY o_orderstatus, o_orderpriority)
        |WHERE rn = 1
        |ORDER BY o_orderstatus""".stripMargin)),
    Query("agg_equidepth", aggEquidepth _, Some(
      """WITH p AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |  FROM orders),
        |c AS (SELECT quantile_cont(price,
        |        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts FROM p)
        |SELECT CAST(1 + len(list_filter(cuts, x -> price > x)) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_orders, MIN(price) AS lo, MAX(price) AS hi
        |FROM p CROSS JOIN c
        |GROUP BY bucket ORDER BY bucket""".stripMargin)),
    Query("agg_decay", aggDecay _, Some(
      """WITH e AS (
        |  SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events),
        |mx AS (SELECT max(ts_us) AS now_us FROM e),
        |w AS (
        |  SELECT user_id, value,
        |    exp(-(CAST(now_us - ts_us AS DOUBLE) / 2592000000000.0)) AS w
        |  FROM e CROSS JOIN mx)
        |SELECT user_id,
        |  ROUND(SUM(w * value), 6) AS decayed_value,
        |  ROUND(SUM(w), 6) AS decayed_weight,
        |  ROUND(SUM(w * value) / SUM(w), 6) AS recency_score,
        |  COUNT(*) AS n_events
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Query("agg_salted", aggSalted _, Some(
      """SELECT event_type,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),
    Query("agg_winsorize", aggWinsorize _, Some(
      """WITH d AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents),
        |c AS (SELECT lang, quantile_cont(v, 0.05) AS p05,
        |             quantile_cont(v, 0.95) AS p95
        |      FROM d GROUP BY lang)
        |SELECT d.lang, ROUND(avg(v), 6) AS mean_raw,
        |  ROUND(avg(greatest(p05, least(p95, v))), 6) AS mean_winsor,
        |  CAST(SUM(CASE WHEN v < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(SUM(CASE WHEN v > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  COUNT(*) AS n_docs
        |FROM d JOIN c USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),
    Query("agg_quantile", aggQuantile _, Some(
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    Query("agg_skew_kurt", aggSkewKurt _, Some(
      """WITH p AS (
        |  SELECT event_type,
        |    CAST(value AS DECIMAL(7,2)) AS v,
        |    CAST(CAST(value AS DECIMAL(7,2)) * CAST(value AS DECIMAL(7,2))
        |      AS DECIMAL(15,4)) AS v2
        |  FROM events
        |  WHERE value BETWEEN -99999.99 AND 99999.99),
        |s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(v) AS DOUBLE) AS s1,
        |    CAST(SUM(v2) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(CAST(v2 AS DECIMAL(19,4)) * v AS DECIMAL(23,6))) AS DOUBLE) AS s3,
        |    CAST(SUM(CAST(CAST(v2 AS DECIMAL(19,4)) * v2 AS DECIMAL(29,8))) AS DOUBLE) AS s4
        |  FROM p GROUP BY 1)
        |SELECT event_type, n,
        |  ROUND((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)) /
        |    pow(s2/n - (s1/n)*(s1/n), 1.5), 6) AS skewness,
        |  ROUND((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
        |      - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n)) /
        |    pow(s2/n - (s1/n)*(s1/n), 2) - 3, 6) AS kurtosis_excess
        |FROM s ORDER BY event_type""".stripMargin)),
    Query("agg_group_by_all", aggGroupByAll _, Some(
      // deliberately IDENTICAL query text modulo the table name
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY ALL
        |ORDER BY ALL""".stripMargin)),
    Query("agg_argmax", aggArgmax _, Some(
      """WITH e AS (
        |  SELECT event_type, event_id, value,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      * 10000000000 + event_id AS k
        |  FROM events)
        |SELECT event_type,
        |  arg_max(event_id, k) AS top_event_id,
        |  MAX(value) AS top_value,
        |  arg_min(event_id, k) AS bottom_event_id,
        |  MIN(value) AS bottom_value,
        |  COUNT(*) AS n_events
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("agg_quantile_disc", aggQuantileDisc _, Some(
      // identical nearest-rank formula, NOT quantile_disc: pinning the
      // construction keeps the oracle engine-dialect-free
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  MAX(CASE WHEN rn = CEIL(n * 0.25) THEN l_quantity END) AS p25_qty,
        |  MAX(CASE WHEN rn = CEIL(n * 0.5) THEN l_quantity END) AS median_qty,
        |  MAX(CASE WHEN rn = CEIL(n * 0.9) THEN l_quantity END) AS p90_qty,
        |  CAST(MAX(n) AS BIGINT) AS n_rows
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Query("agg_filter", aggFilter _, Some(
      """SELECT l_returnflag,
        |  COUNT(*) AS n_rows,
        |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_finished,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_discount > 0.05) AS DECIMAL(18,2)) AS DOUBLE)
        |    AS qty_discounted,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |    FILTER (WHERE l_tax < 0.02) AS DECIMAL(18,2)) AS DOUBLE)
        |    AS qty_lowtax
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    Query("agg_entropy", aggEntropy _, Some(
      """WITH c AS (
        |  SELECT lang, source, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs, COUNT(*) AS n_sources,
        |  ROUND(ln(CAST(SUM(c) AS DOUBLE)) -
        |    SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) /
        |      CAST(SUM(c) AS DOUBLE), 6) AS entropy
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("agg_gini", aggGini _, Some(
      """WITH r AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS i
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(2.0 * CAST(SUM(i * v) AS DOUBLE) /
        |      (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(v) AS DOUBLE)) -
        |    CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS gini
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("agg_regression", aggRegression _, Some(
      """WITH t AS (
        |  SELECT event_type, value,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000 AS DOUBLE)
        |      / 86400000000.0 AS x
        |  FROM events)
        |SELECT event_type,
        |  ROUND(regr_slope(value, x), 6) AS slope,
        |  ROUND(regr_intercept(value, x), 6) AS intercept,
        |  ROUND(regr_r2(value, x), 6) AS r2,
        |  COUNT(*) AS n_events
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("agg_stats", aggStats _, Some(
      """SELECT l_returnflag,
        |  ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    Query("agg_stringagg", aggStringagg _, Some(
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    Query("agg_pricing", aggPricing _, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Query("agg_distinct", aggDistinct _, Some(
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    Query("agg_rollup", aggRollup _, Some(
      """SELECT COALESCE(r_name, 'ALL') AS r_label,
        |  COALESCE(n_name, 'ALL') AS n_label,
        |  COUNT(*) AS n_cust,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_label, n_label""".stripMargin)),
    Query("agg_cube", aggCube _, Some(
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status_label,
        |  COALESCE(o_orderpriority, 'ALL') AS priority_label,
        |  COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status_label, priority_label""".stripMargin)),
    Query("agg_having", aggHaving _, Some(
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY o_custkey
        |HAVING COUNT(*) >= 12
        |ORDER BY n_orders DESC, o_custkey""".stripMargin)),
    Query("agg_groupingsets", aggGroupingSets _, Some(
      """SELECT COALESCE(lang, 'ALL') AS lang_label,
        |  COALESCE(source, 'ALL') AS source_label,
        |  COUNT(*) AS n_docs,
        |  CAST(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_chars,
        |  MAX(n_chars) AS max_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY lang_label, source_label""".stripMargin)),
    Query("agg_pivot", aggPivot _, Some(
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),
    Query("agg_approx", aggApprox _),
    Query("agg_sketch_reagg", aggSketchReagg _),
    Query("agg_hll_intersect", aggHllIntersect _),
    Query("agg_approx_quantile", aggApproxQuantile _),
    Query("agg_approx_freq", aggApproxFreq _)
  )
}
