package graft

import graft.operators._

/** Shuffle-budget pins for the flagship plans: each query carries
  * EXACTLY the shuffles its algorithm needs, and a refactor that adds
  * one (an un-broadcast dimension, a lost partitioning reuse, an
  * accidental repartition) fails here before it ships. Broadcast
  * exchanges are not counted — they move the SMALL side and are the
  * fix, not the cost. The trailing range exchange is the presentation
  * orderBy of the final result (bounded output), budgeted separately:
  * GraftExtensions' runtime rule sorts a small, materialized final
  * result in one task, so most of these read 0 at test scale.
  */
class PlanBudgetSpec extends SparkTestBase {

  /** (hash shuffles, range shuffles) in the FINAL adaptive plan only —
    * planOf renders both AQE sections and the initial plan would
    * double-count.
    */
  private def shuffles(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    df.collect()
    val plan = planOf(df).split("== Initial Plan ==").head
    def c(p: String) =
      plan.linesIterator.count(l => l.contains(p) && !l.contains("Reused"))
    (c("Exchange hashpartitioning"), c("Exchange rangepartitioning"))
  }

  test("join_asof is ONE data shuffle (the window partition), as documented") {
    // the running-max window formulation shuffles events once on the
    // partition key; an inequality self-join formulation would add a
    // second data shuffle (or worse, a nested loop)
    val (hash, range) = shuffles(SparkEntry.queries("join_asof")(spark, sf))
    assert(hash === 1, s"join_asof must shuffle data exactly once, got $hash")
    assert(range <= 1, "only the presentation sort may range-shuffle")
  }

  test("agg_pricing is ONE data shuffle (partial -> final aggregate)") {
    val (hash, range) = shuffles(SparkEntry.queries("agg_pricing")(spark, sf))
    assert(hash === 1, s"map-side partial agg must leave one shuffle, got $hash")
    // the presentation sort of its few rows runs in one task
    assert(range === 0, s"got $range")
  }

  test("win_topk_group is ONE data shuffle (the window partition)") {
    val (hash, range) = shuffles(SparkEntry.queries("win_topk_group")(spark, sf))
    assert(hash === 1, s"got $hash")
    assert(range <= 1)
  }

  test("tpch_q3 fact joins ride broadcasts: at most ONE data shuffle") {
    // post-filter dimensions broadcast at this scale; the single hash
    // shuffle is the group-by. At 100 TB AQE may keep SMJ shuffles for
    // genuinely large sides — this pins the TEST-scale plan where every
    // broadcastable side must actually broadcast.
    val (hash, _) = shuffles(SparkEntry.queries("tpch_q3")(spark, sf))
    assert(hash <= 1, s"got $hash")
  }

  test("tpch_q18 reuses the l_orderkey partitioning: at most TWO data shuffles") {
    // one shuffle builds the big-orders aggregate, one feeds the final
    // group-by; the semi join and customer join broadcast at this scale
    val (hash, _) = shuffles(SparkEntry.queries("tpch_q18")(spark, sf))
    assert(hash <= 2, s"got $hash")
  }

  test("pipeline_curate: at most TWO data shuffles (dedup agg + final count)") {
    val (hash, range) = shuffles(SparkEntry.queries("pipeline_curate")(spark, sf))
    assert(hash <= 2, s"got $hash")
    assert(range <= 1)
  }

  test("tpch_q14: ZERO data shuffles (broadcast dim + single global agg)") {
    // the month-filtered fact scan joins a broadcast part and feeds ONE
    // global aggregate — partial rows converge on a single-partition
    // exchange, which Spark plans as neither hash nor range partitioning
    val (hash, range) = shuffles(SparkEntry.queries("tpch_q14")(spark, sf))
    assert(hash === 0, s"got $hash — a hash shuffle means the part join un-broadcast")
    assert(range === 0, s"got $range")
  }

  test("tpch_q6: ZERO data shuffles (pure scan + global aggregate)") {
    // the filtered scan feeds ONE global agg through a single-partition
    // exchange; any hash/range shuffle means a join or repartition crept
    // into what must stay a pure scan query
    val (hash, range) = shuffles(SparkEntry.queries("tpch_q6")(spark, sf))
    assert(hash === 0, s"got $hash")
    assert(range === 0, s"got $range")
  }

  test("tpch_q15: revenue view materialized ONCE; no hash shuffle in the consumer plan") {
    // the per-supplier aggregate (the query's one data shuffle) rides
    // the revenue view's lazy localCheckpoint materialization; both
    // consumers — the one-row max broadcast and the equality filter —
    // read the checkpointed supplier-cardinality frame (Scan
    // ExistingRDD). A hash shuffle IN the consumer plan means the
    // barrier was lost and the fact aggregate computes per consumer
    // (observed pre-fix: AQE planned the fact scan + agg TWICE).
    val df = SparkEntry.queries("tpch_q15")(spark, sf)
    val (hash, _) = shuffles(df)
    assert(hash === 0, s"got $hash")
    val plan = planOf(df).split("== Initial Plan ==").head
    assert(plan.contains("ExistingRDD"),
      "revenue view must come from the checkpoint barrier")
    assert(!plan.contains("Scan parquet") ||
      plan.linesIterator.count(_.contains("Scan parquet")) <= 1,
      "only the supplier dimension may scan parquet in the consumer plan")
  }

  test("agg_weighted_median: histogram prune + refine, both windows bucket-bounded") {
    // r10 shape: a flag-partitioned window over the raw price domain
    // put n/3 of it in one task; the two-phase form's windows run over
    // (a) the price-bucket histogram (value-domain bounded) and
    // (b) the single median bucket's ≤10⁴-cent-price slice — exactly
    // TWO Window nodes and TWO fact scans (the accepted exact-two-pass
    // class), zero barriers
    // r12: the declared query reads the weighted_median_stats artifact;
    // the two-phase plan discipline applies to the artifact BUILD
    val dq = SparkEntry.queries("agg_weighted_median")(spark, sf)
    assert(dq.queryExecution.sparkPlan.toString.contains("weighted_median_stats"),
      "declared query must read the statistic artifact")
    val df = Aggregates.aggWeightedMedianBuild(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    val wins = plan.linesIterator
      .count(_.trim.stripPrefix("+- ").startsWith("Window"))
    assert(wins === 2, s"got $wins Window nodes")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 2, s"got $scans fact scans")
    assert(!plan.contains("ExistingRDD"), "no barrier in this plan")
  }

  test("tpch_q17: ONE data shuffle (the per-part window partition)") {
    // the correlated-avg rewrite costs exactly the l_partkey window
    // shuffle; the classic two-scan formulation would add a second
    // fact aggregation + rejoin
    val (hash, _) = shuffles(SparkEntry.queries("tpch_q17")(spark, sf))
    assert(hash === 1, s"got $hash")
  }

  test("tpch_q21: two-level agg, at most THREE shuffles, and NO Expand") {
    // the pair agg, the per-order agg over reduced pairs, the final
    // per-supplier group-by. A multi-countDistinct formulation would
    // plan as Expand — every fact row duplicated per distinct aggregate
    // through the shuffle (3× lineitem at 100 TB) — so its absence is
    // the pin that matters.
    val df = SparkEntry.queries("tpch_q21")(spark, sf)
    val (hash, _) = shuffles(df)
    assert(hash <= 3, s"got $hash")
    assert(!planOf(df).contains("Expand"),
      "q21 must aggregate two-level, not Expand per distinct aggregate")
  }

  test("tpch_q22: ONE data shuffle (the per-nation group-by)") {
    // the scalar threshold rides a broadcast cross join and the
    // recent-orders anti join broadcasts at this scale; only the final
    // group-by moves data
    val (hash, _) = shuffles(SparkEntry.queries("tpch_q22")(spark, sf))
    assert(hash <= 1, s"got $hash")
  }

  test("ts_gapfill/ts_locf: ONE fact scan, TWO aggregate shuffles, ZERO joins") {
    // the gap-run formulation (lag window + per-row sequence explode)
    // references the daily aggregate once — a spans+join formulation
    // re-evaluates the aggregate subtree (column pruning makes the two
    // copies non-identical, so exchange reuse cannot dedupe them) and
    // scans the 100 TB fact table twice
    for (name <- Seq("ts_gapfill", "ts_locf")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val (hash, range) = shuffles(df)
      assert(hash === 2, s"$name: got $hash (daily agg + lag window)")
      assert(range <= 1, s"$name: got $range")
      val plan = planOf(df).split("== Initial Plan ==").head
      assert(plan.linesIterator.count(_.contains("Scan parquet")) === 1,
        s"$name must scan raw events exactly once:\n$plan")
      assert(!plan.contains("Join"), s"$name needs no join:\n$plan")
    }
  }

  test("tpch_q1: ONE data shuffle (partial -> final aggregate)") {
    val (hash, range) = shuffles(SparkEntry.queries("tpch_q1")(spark, sf))
    assert(hash === 1, s"got $hash")
    assert(range <= 1)
  }

  test("tpch_q2: TWO data shuffles (pair aggregate + per-part min window)") {
    // the offer aggregate on (part, supplier), then the correlated-min
    // window re-keyed on part; part/supplier/nation/region all
    // broadcast — a decorrelated min-join formulation would re-scan
    // and re-shuffle the offer relation instead
    val (hash, range) = shuffles(SparkEntry.queries("tpch_q2")(spark, sf))
    assert(hash === 2, s"got $hash")
    assert(range <= 1)
  }

  test("tpch_q9: at most TWO data shuffles (fact-fact join + group-by)") {
    // part/supplier/nation broadcast by hint; lineitem⋈orders is the
    // only fact-fact edge (broadcast at toy scale, SMJ at 100 TB), and
    // the (nation, year) aggregate is 175 groups
    val (hash, _) = shuffles(SparkEntry.queries("tpch_q9")(spark, sf))
    assert(hash <= 2, s"got $hash")
  }

  test("tpch_q11: ONE data shuffle with the totals pass REUSING the part-value exchange") {
    // the per-part aggregate shuffles once; the global-total subtree is
    // the identical aggregate, so its exchange must come back as
    // ReusedExchange (a second hash exchange would mean the 100 TB fact
    // scan runs twice); the threshold itself rides a one-row broadcast
    val df = SparkEntry.queries("tpch_q11")(spark, sf)
    val (hash, _) = shuffles(df)
    assert(hash <= 2, s"got $hash")
    assert(planOf(df).split("== Initial Plan ==").head.contains("ReusedExchange"),
      "the totals pass must reuse the part-value exchange, not recompute it")
  }

  test("tpch_q16: at most TWO data shuffles (two-level distinct agg), NO Expand") {
    // partial aggregate on (group, suppkey) map-side, merge, then the
    // final per-group distinct count; part and the bad-supplier NOT-IN
    // set broadcast
    val df = SparkEntry.queries("tpch_q16")(spark, sf)
    val (hash, _) = shuffles(df)
    assert(hash <= 2, s"got $hash")
    assert(!planOf(df).contains("Expand"),
      "single countDistinct must plan two-level, not Expand")
  }

  test("tpch_q20: at most THREE data shuffles (pair agg + share window + distinct)") {
    // the 1997 pair aggregate, the per-part total window over the
    // already-aggregated pairs, the qualified-supplier distinct; the
    // region dim and the semi-join probe side broadcast
    val (hash, _) = shuffles(SparkEntry.queries("tpch_q20")(spark, sf))
    assert(hash <= 3, s"got $hash")
  }

  test("join_salted: THREE data shuffles (both salted join sides + the final group-by)") {
    // the whole point is moving the join to a (key, salt) shuffle the
    // hot key cannot serialize onto one reducer; the replicated dim
    // must NOT broadcast (pinned in SaltSpec) and nothing else may move
    val (hash, _) = shuffles(SparkEntry.queries("join_salted")(spark, sf))
    assert(hash === 3, s"got $hash")
  }

  test("tpch_q19: ONE data shuffle (the per-brand group-by)") {
    // both residual-filtered scans meet in a broadcast join; the only
    // data movement the algorithm needs is the final group-by on brand
    val (hash, range) = shuffles(SparkEntry.queries("tpch_q19")(spark, sf))
    assert(hash === 1, s"got $hash")
    assert(range <= 1)
  }
}
