package graft.operators

import graft.Query
import graft.api.Barrier._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** ETL maintenance operators: the jobs a reporting pipeline runs AROUND
  * its queries — dimension versioning (SCD Type 2), periodic MERGE of a
  * change batch into a snapshot, and load-time data-quality audits
  * (per-column profile, referential-integrity orphan counts). The
  * reference's category is ETL/pipeline (BASELINE.json: "batch
  * transformations and loads"); these are the load-side transformations
  * of that lifecycle, expressed Spark-first.
  *
  * Scale design notes per operator are on each method; the common theme
  * is ONE pass over the fact stream and no self-joins: history build and
  * merge both come out of windows / conditional aggregates over a single
  * scan, and the profiler aggregates (column, value) pairs two-phase so
  * no Expand duplication of the input ever crosses the shuffle.
  */
object Etl {

  /** Event stream with the versioned attribute derived: a coarse `tier`
    * per event (value<50 low, <200 mid, else high) — the shape of a CDC
    * feed carrying an attribute that changes occasionally. Window order
    * is (ts_utc, event_id): µs-truncated time with the unique event id
    * breaking ties, identical on the DuckDB side.
    */
  private def tiered(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_utc"),
        when(col("value") < 50, "low")
          .when(col("value") < 200, "mid")
          .otherwise("high").as("tier"))

  /** `etl_scd2` — build a Type-2 slowly-changing dimension from a change
    * stream: collapse consecutive same-value observations into versions,
    * then assign each version its validity interval
    * [valid_from, valid_to) with `valid_to IS NULL` marking the current
    * row. The standard warehouse dimension-history table, built from raw
    * CDC in one job.
    *
    * Spark-first shape: run-collapse is `lag` (keep rows where the tier
    * differs from the previous event's), validity is `lead` over the
    * SURVIVING rows — both windows share partitioning (user_id) AND
    * ordering (ts_utc, event_id), and the filter between them preserves
    * both, so Catalyst plans ONE exchange + ONE sort for the pair
    * (pinned in EtlSpec). No self-join, no per-user collect: at 100 TB
    * this is a single shuffle of the fact stream, and versions-per-user
    * is bounded by events-per-user (window state is O(1) per row).
    */
  def scd2(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_utc"), col("event_id"))
    tiered(spark, sfDir)
      .withColumn("prev_tier", lag(col("tier"), 1).over(w))
      .filter(col("prev_tier").isNull || col("prev_tier") =!= col("tier"))
      .withColumn("valid_to", lead(col("ts_utc"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("tier"),
        col("ts_utc").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  /** MERGE cutoff: rows before it are the standing snapshot, rows at or
    * after it are the incoming batch (events span 2024-01-01..30).
    */
  private val MergeCutoff = "2024-01-22"

  /** `etl_merge` — the periodic MERGE/upsert: fold a change batch into
    * the standing per-key snapshot and classify every key as
    * insert / update / unchanged (the row-level action log a MERGE INTO
    * emits). Keys absent from the batch keep their prior state.
    *
    * Spark-first shape: NOT a join of two scans — both sides are
    * conditional latest-row aggregates (`max` of a (ts, id, value)
    * struct, null outside the side's time slice) over ONE scan of the
    * stream, so the whole merge is a single map-side-combined shuffle
    * on user_id. The struct max is the argmax idiom: lexicographic
    * struct comparison makes "latest by (ts, event_id)" an ordinary
    * max, which partial-aggregates map-side — where a join-based merge
    * shuffles both full inputs. Pinned one-scan/one-shuffle in EtlSpec.
    */
  def merge(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = lit(MergeCutoff).cast("timestamp")
    def latest(side: Column): Column =
      max(when(side, struct(col("ts_utc").as("t"), col("event_id").as("e"),
        col("tier").as("v"))))
    tiered(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(latest(col("ts_utc") < cut).as("o"),
        latest(col("ts_utc") >= cut).as("n"))
      .select(col("user_id"),
        col("o.v").as("prior_tier"), col("n.v").as("batch_tier"))
      .withColumn("merged_tier",
        coalesce(col("batch_tier"), col("prior_tier")))
      .withColumn("action",
        when(col("prior_tier").isNull, "insert")
          .when(col("batch_tier").isNull
            || col("batch_tier") === col("prior_tier"), "unchanged")
          .otherwise("update"))
      .orderBy(col("user_id"))
  }

  /** `etl_incr_rollup` — incremental materialized-rollup maintenance:
    * a stored daily (day, event_type) rollup built from the data before
    * a mid-day cutoff (the "already published" aggregate) is brought up
    * to date by merging the partial aggregates of the late-arriving
    * batch AT the aggregate level — never rescanning history. The
    * inclusion–exclusion twin of agg_sketch_reagg for EXACT algebraic
    * measures: count and decimal sum re-aggregate by addition, so
    * `merged = base ⊎ delta` groupwise; non-algebraic reads (avg)
    * derive at query time from the merged sums.
    *
    * The cutoff falls mid-day (12:00), so the boundary day genuinely
    * holds one partial row from EACH side that must combine — the case
    * an append-only union would get wrong silently.
    *
    * Scale shape: both partials are 2-phase aggregates over disjoint
    * scan ranges (at a warehouse, base is the STORED table — here it
    * derives from the same corpus so the oracle can recompute from
    * scratch); the merge groupBy runs over rollup-sized input
    * (days × types), not events. Correctness contract pinned by the
    * oracle: incremental maintenance ≡ full recompute, to the row.
    */
  def incrRollup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec._
    val cut = lit("2024-01-25 12:00:00").cast("timestamp")
    def partial(side: Column): DataFrame =
      Tables.events(spark, sfDir)
        .filter(side)
        .groupBy(to_date(col("ts_utc")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents2(col("value"))).as("sum_value"))
    partial(col("ts_utc") < cut)
      .unionByName(partial(col("ts_utc") >= cut))
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        outCents(sum(col("sum_value")), 2).as("total_value"))
      .select(col("day").cast("timestamp").as("day_ts"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("day_ts"), col("event_type"))
  }

  /** `dq_benford` — Benford's-law first-digit audit of order totals:
    * observed leading-digit frequencies against the log10(1 + 1/d)
    * expectation, with the per-digit deviation — the classic
    * fabricated-/synthetic-data screen a load audit runs on any
    * organically-grown monetary column.
    *
    * Spark-first: the leading digit is pure string arithmetic on the
    * integral part (prices are ≥ 1 here, so no significand hunt), the
    * tally is a 9-row 2-phase aggregate, and the observed fraction
    * normalizes by a window over THAT aggregate — nothing but the one
    * scan touches the fact table. Expected frequencies are
    * transcendental → ROUND-6 gate with identical formula text in
    * both engines.
    */
  def dqBenford(spark: SparkSession, sfDir: String): DataFrame = {
    val total = Window.partitionBy()
    Tables.orders(spark, sfDir)
      // floor, not a straight cast: DuckDB's double→BIGINT cast ROUNDS
      // while Spark's truncates — 999.8 would lead with 1 vs 9
      .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
        .cast("bigint").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") /
          sum(col("n")).over(total).cast("double"), 6).as("observed"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
          .as("expected"))
      .orderBy(col("digit"))
  }

  /** `dq_profile` — per-column data-quality profile of a table in one
    * job: row count, null count, exact distinct count for every column.
    * The pre-load validation an ETL runs before publishing a snapshot.
    *
    * Spark-first shape: the naive form (one `countDistinct` per column
    * in a single agg) plans as Expand — every input row duplicated once
    * PER COLUMN through the shuffle, the same 100 TB hazard tpch_q21
    * eliminates. Instead the row is unpivoted map-side into (column,
    * value-as-string) pairs — stack() is a generator, no shuffle — and
    * aggregated two-level: (column, value) partial-reduces BEFORE the
    * exchange (shuffle carries one row per distinct value per partition,
    * not per input row), then per-column counts over the distinct pairs.
    * All casts to string are injective (int64/double/timestamp), so the
    * distinct counts equal the typed ones. No-Expand pinned in EtlSpec.
    */
  def dqProfile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(expr(
        """stack(6,
          |  'o_orderkey',      CAST(o_orderkey AS STRING),
          |  'o_custkey',       CAST(o_custkey AS STRING),
          |  'o_orderstatus',   o_orderstatus,
          |  'o_totalprice',    CAST(o_totalprice AS STRING),
          |  'o_orderdate',     CAST(o_orderdate AS STRING),
          |  'o_orderpriority', o_orderpriority) AS (col_name, value)"""
          .stripMargin))
      .groupBy(col("col_name"), col("value"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("col_name"))
      .agg(sum(col("c")).as("n_rows"),
        coalesce(sum(when(col("value").isNull, col("c"))), lit(0L))
          .as("n_null"),
        count(when(col("value").isNotNull, lit(1))).as("n_distinct"))
      .orderBy(col("col_name"))

  /** `dq_orphans` — referential-integrity audit: for each foreign-key
    * relationship, the number of fact rows whose key has no match in the
    * dimension (plus the fact cardinality for rate context). The
    * consistency check an ETL runs on every load; a non-zero count
    * gates publication.
    *
    * Spark-first shape: ONE pass per FACT table, not one per
    * relationship — the fact's keys left-join every referenced
    * dimension's (unique) primary key and all orphan counts plus the
    * fact cardinality come out of a single conditional aggregate
    * (pk IS NULL ⟺ no match ⟺ the anti-join membership, because the
    * pk is unique so the left join never multiplies rows). The
    * previous per-relationship anti-join + count shape read lineitem
    * FOUR times (two relationships × two branches); this reads each
    * fact once. Dimensions broadcast when they fit (at 100 TB
    * customer may not; the join then shuffles KEYS, not rows).
    */
  def dqOrphans(spark: SparkSession, sfDir: String): DataFrame = {
    // No explicit broadcast() hints: a forced hint would disable the
    // size-based fallback the docstring promises — at this corpus's dim
    // sizes the optimizer broadcasts on stats anyway (pinned in tests),
    // and an oversized customer/part dim degrades to a shuffle join
    // instead of OOMing the driver.
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(Tables.part(spark, sfDir).select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left")
      .join(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left")
      .agg(count(lit(1)).as("li_n"),
        sum(when(col("p_partkey").isNull, 1L).otherwise(0L)).as("orph_part"),
        sum(when(col("s_suppkey").isNull, 1L).otherwise(0L)).as("orph_supp"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_custkey"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("ord_n"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("orph_cust"))
    li.crossJoin(ord)
      .select(explode(array(
        struct(lit("lineitem_part").as("rel"),
          col("orph_part").as("n_orphans"), col("li_n").as("n_fact")),
        struct(lit("lineitem_supplier").as("rel"),
          col("orph_supp").as("n_orphans"), col("li_n").as("n_fact")),
        struct(lit("orders_customer").as("rel"),
          col("orph_cust").as("n_orphans"), col("ord_n").as("n_fact"))))
        .as("x"))
      .select(col("x.rel").as("rel"), col("x.n_orphans"), col("x.n_fact"))
      .orderBy(col("rel"))
  }

  /** `etl_snapshot_diff` — CDC changelog GENERATION: diff the entity
    * state at two points in time into INSERT / UPDATE / DELETE rows,
    * the feed a downstream MERGE (etl_merge) consumes. Entity =
    * (user_id, event_type); state = activity count over the trailing
    * 8-day window at each cutoff — presence-based state, so all three
    * op classes genuinely occur (an entity quiet in the newer window
    * is a DELETE).
    *
    * Spark-first shape: NOT the textbook FULL OUTER join of two
    * materialized snapshots. Both snapshots derive from one stream,
    * so both window states come out of ONE scan as when-gated
    * conditional counts in a single groupBy — the diff classification
    * is then row-local. One scan + one shuffle versus two scans + two
    * shuffles + a full-outer join; the oracle IS the textbook
    * formulation, proving the rewrite. When the two snapshots are
    * independent stored tables, the same shape applies: unionAll with
    * a side tag, then the identical conditional aggregate — diff via
    * union+aggregate, never full-outer join.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val w1 = (col("ts_utc") >= lit("2024-01-08").cast("timestamp")) &&
      (col("ts_utc") < lit("2024-01-16").cast("timestamp"))
    val w2 = (col("ts_utc") >= lit("2024-01-20").cast("timestamp")) &&
      (col("ts_utc") < lit("2024-01-28").cast("timestamp"))
    Tables.events(spark, sfDir)
      .filter(w1 || w2)
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(when(w1, 1L).otherwise(0L)).as("n1"),
        sum(when(w2, 1L).otherwise(0L)).as("n2"))
      .filter(col("n1") > 0 || col("n2") > 0)
      .select(col("user_id"), col("event_type"),
        when(col("n1") === 0, "I")
          .when(col("n2") === 0, "D")
          .otherwise("U").as("op"),
        when(col("n1") > 0, col("n1")).as("n_old"),
        when(col("n2") > 0, col("n2")).as("n_new"))
      .filter(col("op") =!= "U" || col("n_old") =!= col("n_new"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** `dq_anomaly` — per-group z-score OUTLIER audit: events whose value
    * sits more than 3 sample standard deviations from their type's
    * mean, the load-time screen for corrupted feeds / unit mix-ups
    * (cents vs dollars) before bad rows poison downstream aggregates.
    *
    * Determinism discipline: the group moments (n, Σx, Σx²) aggregate
    * in DECIMAL — exact and associative at any parallelism — and are
    * only then cast to double; from there every step (÷, −, ×, sqrt)
    * is a correctly-rounded IEEE operation, so z-scores are
    * BIT-IDENTICAL across engines and cluster sizes with no rounding
    * gate needed on the comparison (sqrt is exactly rounded by IEEE
    * 754 — this query needs no transcendental at all). Two-pass
    * stats-then-scan shape: the moment table is group-cardinality,
    * broadcast back; flagging is row-local map-side.
    */
  def dqAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Dec.dec2
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), dec2(col("value")).as("vd"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vd")).as("s"),
        sum(col("vd") * col("vd")).as("sq"))
      .select(col("event_type"), col("n"),
        col("s").cast("double").as("s_d"), col("sq").cast("double").as("sq_d"))
    ev.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("n"),
        ((col("vd").cast("double") - col("s_d") / col("n")) /
          sqrt((col("sq_d") - col("s_d") * col("s_d") / col("n")) /
            (col("n") - 1))).as("z"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        sum((abs(col("z")) > 3.0).cast("long")).as("n_outliers"),
        round(max(abs(col("z"))), 6).as("max_abs_z"))
      .orderBy(col("event_type"))
  }

  /** `etl_dq_quarantine` — rule-engine row validation: every incoming
    * event is checked against a rule set (range rule on `value`,
    * domain rule on the JSON `props.k`, referential rule against the
    * customer dimension) and rows failing ANY rule are quarantined
    * with a comma-joined list of every rule they broke — the
    * load-time gate that keeps bad rows out of the warehouse while
    * preserving them (with reasons) for triage. Complements
    * dq_profile/dq_orphans (which AUDIT in aggregate): this one
    * SPLITS the stream row-by-row.
    *
    * Spark-first shape: all rules evaluate in ONE map-side pass —
    * the error list is a row-local `array(when…)` + null-`filter` +
    * `array_join` (rule order fixed, so the reason string is
    * deterministic), and the referential rule is a broadcast LEFT
    * join against the dimension keyset (never a shuffle of the fact
    * stream; at 100 TB the dimension keyset is the bloom/broadcast
    * side by construction). Zero shuffles on the quarantined path —
    * the output sort is the gate's presentation order.
    */
  def dqQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val known = Tables.customer(spark, sfDir)
      .select(col("c_custkey")).distinct()
      .select(col("c_custkey").as("user_id"), lit(true).as("known"))
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .join(broadcast(known), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("value"), col("k"),
        array_join(filter(array(
          when(col("value") > 400, lit("value_out_of_range")),
          when(col("k").isNull || col("k") >= 90,
            lit("props_k_out_of_range")),
          when(col("known").isNull, lit("orphan_user"))),
          x => x.isNotNull), ",").as("errors"))
      .filter(col("errors") =!= "")
      .orderBy(col("event_id"))
  }

  /** `dq_outlier_mad` — ROBUST outlier audit: per event type the
    * median, the median absolute deviation, and the count/extreme of
    * modified z-scores 0.6745·(x − med)/MAD beyond 3.5 — the
    * Iglewicz–Hoaglin screen that, unlike dq_anomaly's mean/stddev
    * z-score, is not itself dragged by the outliers it hunts (50%
    * breakdown point vs 0).
    *
    * Spark-first shape: the two-pass stats-then-apply discipline
    * twice over — pass 1 exact medians per group, pass 2 the MAD of
    * the residuals (each a 2-phase percentile aggregate; the
    * group-stats tables are 5 rows so the join-backs broadcast).
    * Interpolated midpoints of 2-decimal values are exact in double
    * (the agg_quantile argument), so only max|z| needs ROUND-6.
    */
  def dqOutlierMad(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5D)").as("med"))
    val mad = ev.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"), col("med"))
      .agg(expr("percentile(abs(value - med), 0.5D)").as("mad"))
    ev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("med"), col("mad"),
        // nullif guard: a >=50%-constant feed has MAD = 0, and the two
        // engines disagree on Inf/NaN division and max/ordering — null
        // degrades the group's z-columns consistently instead
        (lit(0.6745) * (col("value") - col("med")) /
          nullif(col("mad"), lit(0.0))).as("z"))
      .groupBy(col("event_type"))
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        count(lit(1)).as("n_events"),
        sum((abs(col("z")) > 3.5).cast("long")).as("n_outliers"),
        round(max(abs(col("z"))), 6).as("max_abs_z"))
      .orderBy(col("event_type"))
  }

  /** `dq_freshness` — staleness audit: per event type the last event
    * time, row count, and the exact µs lag behind the corpus-wide
    * frontier — the "is this feed still flowing" check every
    * ingestion dashboard leads with. ONE scan + a one-row frontier
    * broadcast; lag is integer µs arithmetic (no float time math).
    */
  def dqFreshness(spark: SparkSession, sfDir: String): DataFrame = {
    // event_type-cardinality frame behind a lazy barrier: the frontier
    // scalar and the output both consume it — one fact scan, not two
    val per = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(max(col("ts_utc")).as("last_seen"),
        count(lit(1)).as("n_events"))
      .barrier(eager = false)
    val frontier = per.agg(max(col("last_seen")).as("frontier"))
    per.crossJoin(broadcast(frontier))
      .select(col("event_type"), col("last_seen"), col("n_events"),
        (unix_micros(col("frontier")) - unix_micros(col("last_seen")))
          .as("staleness_us"))
      .orderBy(col("event_type"))
  }

  /** `dq_dup_keys` — the primary-key uniqueness audit across every
    * keyed table in one report: rows, distinct keys, and duplicate
    * surplus per table — the first invariant an ingestion contract
    * checks (a duplicated key silently doubles every downstream join
    * and rollup).
    *
    * Scale shape: per table ONE exact count-distinct aggregate
    * (Spark plans it as the two-phase partial-distinct expand —
    * map-combined, no raw-row shuffle), then a 5-row union. Each
    * table is scanned once, key column only (pruned scan).
    */
  def dqDupKeys(spark: SparkSession, sfDir: String): DataFrame = {
    def audit(name: String, df: DataFrame, key: String) =
      df.agg(count(lit(1)).as("n_rows"),
        count_distinct(col(key)).as("n_keys"))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_keys"),
          (col("n_rows") - col("n_keys")).as("n_dup_rows"))
    audit("customer", Tables.customer(spark, sfDir), "c_custkey")
      .unionAll(audit("events", Tables.events(spark, sfDir), "event_id"))
      .unionAll(audit("orders", Tables.orders(spark, sfDir), "o_orderkey"))
      .unionAll(audit("part", Tables.part(spark, sfDir), "p_partkey"))
      .unionAll(audit("supplier", Tables.supplier(spark, sfDir), "s_suppkey"))
      .orderBy(col("table_name"))
  }

  /** `join_pit` — the point-in-time (PIT) dimension lookup: each
    * purchase fact joins to the SCD2 tier version that was valid AT its
    * timestamp — the "what did we believe about this key THEN" join
    * every feature-store / training-label pipeline must get right
    * (joining today's dimension row onto yesterday's fact is the
    * classic leakage bug).
    *
    * Spark-first shape: the version table (etl_scd2's output, rebuilt
    * here from the same stream) joins facts on user_id — both sides
    * hash the SAME key, one co-partitioned shuffle — and "valid at ts"
    * is the latest `valid_from <= ts` picked by a rank-1 window per
    * fact, which Spark prunes to WindowGroupLimit (the join_asof
    * shape; interval containment needs no second bound because SCD2
    * versions tile each key's timeline). Every purchase matches by
    * construction: its own observation opened-or-continued a version
    * at-or-before it.
    */
  def joinPit(spark: SparkSession, sfDir: String): DataFrame = {
    val versions = scd2(spark, sfDir)
      .select(col("user_id"), col("event_id").as("version_id"),
        col("tier"), col("valid_from"))
    val facts = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_utc"), col("value"))
    // window keyed (user_id, purchase_id), not purchase_id alone (r17,
    // guide §2.4): purchase_id is unique per fact row, so the rank is
    // identical — but the join output is already hash-distributed by
    // user_id, which SATISFIES clustering on (user_id, purchase_id),
    // so the window needs no second full-width exchange of the joined
    // rows (plan pair: Exchange(purchase_id) after the join → none;
    // the WindowGroupLimit rank-1 pushdown is unchanged).
    val w = Window.partitionBy(col("user_id"), col("purchase_id"))
      .orderBy(col("valid_from").desc, col("version_id").desc)
    facts.join(versions, Seq("user_id"))
      .filter(col("valid_from") <= col("ts_utc"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("purchase_id"), col("value"),
        col("tier").as("tier_at_purchase"), col("version_id"),
        col("valid_from"))
      .orderBy(col("purchase_id"))
  }

  /** `etl_late_data` — the late-arrival audit a streaming ingest needs
    * before choosing its watermark: using per-user append order
    * (event_id) as the arrival proxy, an event is LATE when it arrives
    * after a later-timestamped event already did — i.e. its event time
    * is below the user's running high-water mark. Reported per event
    * day: how many events were late and the worst lateness, in exact
    * µs — exactly the delay distribution `withWatermark` must cover
    * (see graft.streaming for the consumers).
    *
    * Scale shape: ONE (user)-partitioned running-max window in arrival
    * order, then a map-combined daily rollup — no self-join, O(1)
    * per-row state, the same single-shuffle class as any sessionize.
    */
  def etlLateData(spark: SparkSession, sfDir: String): DataFrame = {
    // GraftOps.latenessAudit on (user, append-order, event-time). NOTE:
    // the driver corpus is fully event-time-ordered within users, so the
    // gated report is the audit's CLEAN verdict (n_late = 0 per day) —
    // the detection logic itself is pinned on planted disorder in
    // ApiSpec, where the proxy isn't vacuous.
    graft.api.GraftOps.latenessAudit(
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("ts_utc")),
      "user_id", "event_id", "ts_utc")
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("late_us") > 0).cast("long")).as("n_late"),
        max(col("late_us")).as("max_lateness_us"))
      .select(col("day").cast("timestamp").as("day_ts"), col("n_events"),
        col("n_late"), col("max_lateness_us"))
      .orderBy(col("day_ts"))
  }

  /** `dq_partition_skew` — partition-health report for a time-
    * partitioned fact table: per event-day row count, share of total,
    * and the skew ratio against the mean partition size, flagging
    * partitions above 2× mean. The report a table-maintenance pass
    * (compaction planning, writer tuning, straggler forensics) reads
    * before anything else — a hot day is tomorrow's straggler task.
    * Complements dq_freshness (is data ARRIVING) with "is data
    * arriving EVENLY".
    *
    * Scale shape: one map-combined groupBy(day) collapses the fact
    * table to the calendar frame; the mean rides a one-row broadcast
    * cross join (the BM25 stats pattern). At 100 TB this reads
    * partition-pruned parquet footers' worth of work — counts only,
    * no payload columns (column pruning leaves a count-only scan).
    */
  def dqPartitionSkew(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts_utc")).as("day"))
      .agg(count(lit(1)).as("n_rows"))
    val tot = daily.agg(sum(col("n_rows")).cast("double").as("total"),
      avg(col("n_rows")).as("mean_rows"))
    daily.crossJoin(broadcast(tot))
      .select(col("day").cast("timestamp").as("day_ts"), col("n_rows"),
        round(col("n_rows") / col("total"), 6).as("share"),
        round(col("n_rows") / col("mean_rows"), 6).as("skew_ratio"),
        (col("n_rows") > lit(2.0) * col("mean_rows")).as("is_hot"))
      .orderBy(col("day_ts"))
  }

  /** `etl_checksum` — order-independent content fingerprint per table:
    * row count plus the SUM of each row's md5-prefix integer over its
    * business key columns. Because addition commutes, the checksum is
    * independent of row order, partitioning, and cluster size — two
    * snapshots match iff the sums match (up to adversarial collision,
    * irrelevant for drift detection). The cheap "did replication/
    * backfill produce the same table?" handshake that avoids a full
    * anti-join diff (etl_snapshot_diff is the expensive drill-down
    * when this says no).
    *
    * Exactness: each term is a 32-bit integer from the md5 hex prefix
    * (the established conv/strpos bridge); sums stay inside int64 up
    * to ~2·10⁹ rows per table (4·10⁹ max per term) — beyond that the
    * sum widens to DECIMAL(38,0), same associativity, good to 10²⁸
    * rows. All map-side until one constant-state aggregate per
    * table; the union of per-table one-row aggregates is
    * driver-trivial.
    */
  def etlChecksum(spark: SparkSession, sfDir: String): DataFrame = {
    def sumOf(name: String, df: org.apache.spark.sql.DataFrame,
        key: Column) =
      df.select(conv(substring(md5(key), 1, 8), 16, 10)
        .cast("long").as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    sumOf("orders", o, concat_ws("|", col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus")))
      .unionAll(sumOf("lineitem", l, concat_ws("|", col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"))))
      .unionAll(sumOf("customer", c, concat_ws("|", col("c_custkey"),
        col("c_mktsegment"))))
      .orderBy(col("table_name"))
  }

  /** `dq_value_drift` — the Population Stability Index (PSI) of a
    * NUMERIC distribution between snapshot halves: order totals split
    * by orderkey parity, binned into 10 equal-width buckets over the
    * observed range, PSI = Σ (p_a − p_b)·ln(p_a/p_b). The
    * numeric-drift twin of pipeline_drift_report's categorical TVD —
    * the pair every model-monitoring stack computes per feature
    * (PSI < 0.1 stable, > 0.25 action). Laplace-smoothed (+1 per
    * bin) so empty bins are defined, identically in both engines.
    *
    * Exactness: bin ids from one-row broadcast bounds on doubles
    * (identical floor text both engines), counts exact, shares and
    * the PSI ln terms identical-text doubles over exact counts —
    * ROUND-6; the tiny whole-frame window rides 10 rows.
    */
  def dqValueDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val half = when(pmod(col("o_orderkey"), lit(2)) === 0, "a")
      .otherwise("b")
    val base = Tables.orders(spark, sfDir)
      .select(col("o_totalprice").as("x"), half.as("half"))
    val bounds = base.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val binned = base.crossJoin(broadcast(bounds))
      .select(least(floor((col("x") - col("lo")) /
        (col("hi") - col("lo")) * lit(10.0)).cast("long"), lit(9L))
        .as("bin"), col("half"))
      .groupBy(col("bin"))
      .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).as("n_b"))
      // lazy barrier on the 10-row histogram: the totals branch and the
      // output both consume it — without it each re-runs the fact
      // scan + binning (4 orders reads observed; 2 is the honest
      // minimum: one bounds pass + one binning pass)
      .barrier(eager = false)
    val tot = binned.agg(sum(col("n_a")).cast("double").as("ta"),
      sum(col("n_b")).cast("double").as("tb"))
    val pa = (col("n_a") + 1).cast("double") / (col("ta") + 10.0)
    val pb = (col("n_b") + 1).cast("double") / (col("tb") + 10.0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"),
        round(pa, 6).as("share_a"), round(pb, 6).as("share_b"),
        round(sum((pa - pb) * log(pa / pb)).over(wAll), 6).as("psi"))
      .orderBy(col("bin"))
  }

  /** `dq_id_gaps` — sequence-contiguity audit on event_id: observed
    * range vs row count gives the exact number of missing ids and a
    * duplicate count (a surrogate-key stream should have neither).
    * The first question after a suspect ingestion: "did we DROP
    * events?" — answered from three aggregates without materializing
    * the missing set (dq_dup_keys says keys are unique; this says the
    * SEQUENCE is whole).
    *
    * Exactness: pure int64 arithmetic on count/min/max/countDistinct;
    * missing = (max − min + 1) − distinct, dups = count − distinct.
    * Scale: one constant-state aggregate — COUNT(*) cost. (Exact
    * countDistinct on a near-unique int64 key shuffles the id domain
    * once; the HLL swap is agg_approx's documented trade.)
    */
  def dqIdGaps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        countDistinct(col("event_id")).as("n_distinct"))
      .select(col("n_rows"), col("min_id"), col("max_id"),
        (col("max_id") - col("min_id") + 1 - col("n_distinct"))
          .as("n_missing"),
        (col("n_rows") - col("n_distinct")).as("n_dup_ids"),
        (col("max_id") - col("min_id") + 1 === col("n_rows"))
          .as("is_contiguous"))

  /** `dq_fd_audit` — functional-dependency discovery audit (Metanome-
    * style, batteries-included): for each candidate FD `LHS → RHS` the
    * audit reports how many keys exist, how many violate (|distinct
    * RHS| > 1), the violation rate, and the worst/average fan-out. A
    * clean FD (rate 0) certifies a join key or a denormalization; a
    * high rate flags a column pair a modeler must NOT treat as
    * determined. Candidates: partkey → unit price (lineitem pricing
    * consistency), custkey → order priority, nationkey → market
    * segment, user → event type.
    *
    * Exactness: the unit price ℓ_extendedprice/ℓ_quantity is a float-
    * hostile ratio, so it is fingerprinted in the EXACT integer domain
    * — (cents·10⁴) DIV qty with decimal cents admission (both engines
    * truncate positive integer division identically); distinct counts
    * are exact. avg fan-out sums small integers (exact in both
    * engines' accumulators) with one final division, ROUND-6.
    *
    * Scale shape: each candidate is one map-combined two-level
    * aggregate (key → distinct-count → one summary row); the four
    * 1-row frames union driver-free. No joins, no row explosion —
    * the audit reads each fact table exactly once at any scale.
    */
  def dqFdAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def audit(name: String, df: DataFrame, lhs: Column,
        rhs: Column): DataFrame =
      df.select(lhs.as("k"), rhs.as("v"))
        .groupBy(col("k"))
        .agg(countDistinct(col("v")).as("nv"))
        .agg(lit(name).as("fd"),
          count(lit(1)).as("n_keys"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating"),
          round(sum(when(col("nv") > 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double"), 6).as("violation_rate"),
          max(col("nv")).as("max_distinct_rhs"),
          round(avg(col("nv")), 6).as("avg_distinct_rhs"))
    val unit = expr("(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100" +
      " AS BIGINT) * 10000) DIV CAST(l_quantity AS BIGINT)")
    audit("lineitem.partkey->unit_price",
        Tables.lineitem(spark, sfDir), col("l_partkey"), unit)
      .unionByName(audit("orders.custkey->orderpriority",
        Tables.orders(spark, sfDir), col("o_custkey"),
        col("o_orderpriority")))
      .unionByName(audit("customer.nationkey->mktsegment",
        Tables.customer(spark, sfDir), col("c_nationkey"),
        col("c_mktsegment")))
      .unionByName(audit("events.user->event_type",
        Tables.events(spark, sfDir), col("user_id"), col("event_type")))
      .orderBy(col("fd"))
  }

  private val TierCase =
    "CASE WHEN value < 50 THEN 'low' WHEN value < 200 THEN 'mid' " +
      "ELSE 'high' END"

  val registry: Seq[Query] = Seq(
    Query("dq_fd_audit", dqFdAudit _, Some(
      """WITH a1 AS (
        |  SELECT l_partkey AS k, COUNT(DISTINCT
        |      (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT) * 10000) // CAST(l_quantity AS BIGINT))
        |    AS nv
        |  FROM lineitem GROUP BY 1),
        |a2 AS (
        |  SELECT o_custkey AS k, COUNT(DISTINCT o_orderpriority) AS nv
        |  FROM orders GROUP BY 1),
        |a3 AS (
        |  SELECT c_nationkey AS k, COUNT(DISTINCT c_mktsegment) AS nv
        |  FROM customer GROUP BY 1),
        |a4 AS (
        |  SELECT user_id AS k, COUNT(DISTINCT event_type) AS nv
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT 'lineitem.partkey->unit_price' AS fd, * FROM a1
        |  UNION ALL SELECT 'orders.custkey->orderpriority', * FROM a2
        |  UNION ALL SELECT 'customer.nationkey->mktsegment', * FROM a3
        |  UNION ALL SELECT 'events.user->event_type', * FROM a4)
        |SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  ROUND(CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS violation_rate,
        |  CAST(MAX(nv) AS BIGINT) AS max_distinct_rhs,
        |  ROUND(AVG(nv), 6) AS avg_distinct_rhs
        |FROM s GROUP BY fd ORDER BY fd""".stripMargin)),
    Query("dq_id_gaps", dqIdGaps _, Some(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(event_id) AS min_id, MAX(event_id) AS max_id,
        |  CAST(MAX(event_id) - MIN(event_id) + 1 -
        |    COUNT(DISTINCT event_id) AS BIGINT) AS n_missing,
        |  CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
        |    AS n_dup_ids,
        |  MAX(event_id) - MIN(event_id) + 1 = COUNT(*) AS is_contiguous
        |FROM events""".stripMargin)),
    Query("dq_value_drift", dqValueDrift _, Some(
      """WITH base AS (
        |  SELECT o_totalprice AS x,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS half
        |  FROM orders),
        |b AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM base),
        |bins AS (
        |  SELECT LEAST(CAST(FLOOR((x - lo) / (hi - lo) * 10.0)
        |      AS BIGINT), 9) AS bin,
        |    SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS n_b
        |  FROM base, b GROUP BY 1),
        |t AS (
        |  SELECT CAST(SUM(n_a) AS DOUBLE) AS ta,
        |    CAST(SUM(n_b) AS DOUBLE) AS tb
        |  FROM bins),
        |sh AS (
        |  SELECT bin, n_a, n_b,
        |    CAST(n_a + 1 AS DOUBLE) / (ta + 10.0) AS pa,
        |    CAST(n_b + 1 AS DOUBLE) / (tb + 10.0) AS pb
        |  FROM bins, t)
        |SELECT bin, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  ROUND(pa, 6) AS share_a, ROUND(pb, 6) AS share_b,
        |  ROUND(SUM((pa - pb) * ln(pa / pb)) OVER (), 6) AS psi
        |FROM sh ORDER BY bin""".stripMargin)),
    Query("etl_checksum", etlChecksum _, Some({
      def hex8(keyExpr: String) = (1 to 8).map { i =>
        s"(strpos('0123456789abcdef', substr(md5($keyExpr), $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
      }.mkString("(", " + ", ")")
      s"""WITH o AS (
        |  SELECT COUNT(*) AS n_rows,
        |    SUM(${hex8("CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus")}) AS checksum
        |  FROM orders),
        |l AS (
        |  SELECT COUNT(*) AS n_rows,
        |    SUM(${hex8("CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR)")}) AS checksum
        |  FROM lineitem),
        |c AS (
        |  SELECT COUNT(*) AS n_rows,
        |    SUM(${hex8("CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment")}) AS checksum
        |  FROM customer)
        |SELECT 'customer' AS table_name, n_rows,
        |  CAST(checksum AS BIGINT) AS checksum FROM c
        |UNION ALL
        |SELECT 'lineitem', n_rows, CAST(checksum AS BIGINT) FROM l
        |UNION ALL
        |SELECT 'orders', n_rows, CAST(checksum AS BIGINT) FROM o
        |ORDER BY table_name""".stripMargin
    })),
    Query("dq_partition_skew", dqPartitionSkew _, Some(
      """WITH d AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    COUNT(*) AS n_rows
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT CAST(SUM(n_rows) AS DOUBLE) AS total,
        |    AVG(n_rows) AS mean_rows
        |  FROM d)
        |SELECT CAST(day AS TIMESTAMP) AS day_ts, n_rows,
        |  ROUND(n_rows / total, 6) AS share,
        |  ROUND(n_rows / mean_rows, 6) AS skew_ratio,
        |  n_rows > 2.0 * mean_rows AS is_hot
        |FROM d, t ORDER BY day_ts""".stripMargin)),
    Query("etl_late_data", etlLateData _, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu
        |  FROM events),
        |h AS (
        |  SELECT *, MAX(tsu) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM e),
        |l AS (
        |  SELECT tsu,
        |    greatest(COALESCE(epoch_us(hwm) - epoch_us(tsu), 0), 0) AS late_us
        |  FROM h)
        |SELECT CAST(CAST(tsu AS DATE) AS TIMESTAMP) AS day_ts,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  CAST(MAX(late_us) AS BIGINT) AS max_lateness_us
        |FROM l GROUP BY 1 ORDER BY day_ts""".stripMargin)),
    Query("join_pit", joinPit _, Some(
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu,
         |         event_type, value, $TierCase AS tier
         |  FROM events),
         |r AS (
         |  SELECT *, LAG(tier) OVER
         |    (PARTITION BY user_id ORDER BY tsu, event_id) AS prev_tier
         |  FROM e),
         |v AS (
         |  SELECT user_id, event_id AS version_id, tier, tsu AS valid_from
         |  FROM r WHERE prev_tier IS NULL OR prev_tier <> tier),
         |f AS (
         |  SELECT user_id, event_id AS purchase_id, tsu, value
         |  FROM e WHERE event_type = 'purchase'),
         |j AS (
         |  SELECT f.user_id, f.purchase_id, f.value, v.tier, v.version_id,
         |    v.valid_from,
         |    ROW_NUMBER() OVER (PARTITION BY f.purchase_id
         |      ORDER BY v.valid_from DESC, v.version_id DESC) AS rn
         |  FROM f JOIN v ON f.user_id = v.user_id AND v.valid_from <= f.tsu)
         |SELECT user_id, purchase_id, value, tier AS tier_at_purchase,
         |  version_id, valid_from
         |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin)),
    Query("dq_dup_keys", dqDupKeys _, Some(
      """SELECT * FROM (
        |  SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
        |    COUNT(DISTINCT c_custkey) AS n_keys,
        |    COUNT(*) - COUNT(DISTINCT c_custkey) AS n_dup_rows FROM customer
        |  UNION ALL
        |  SELECT 'events', COUNT(*), COUNT(DISTINCT event_id),
        |    COUNT(*) - COUNT(DISTINCT event_id) FROM events
        |  UNION ALL
        |  SELECT 'orders', COUNT(*), COUNT(DISTINCT o_orderkey),
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
        |  UNION ALL
        |  SELECT 'part', COUNT(*), COUNT(DISTINCT p_partkey),
        |    COUNT(*) - COUNT(DISTINCT p_partkey) FROM part
        |  UNION ALL
        |  SELECT 'supplier', COUNT(*), COUNT(DISTINCT s_suppkey),
        |    COUNT(*) - COUNT(DISTINCT s_suppkey) FROM supplier)
        |ORDER BY table_name""".stripMargin)),
    Query("dq_outlier_mad", dqOutlierMad _, Some(
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, m.med,
        |    quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN m USING (event_type) GROUP BY 1, 2),
        |z AS (
        |  SELECT e.event_type, d.med, d.mad,
        |    0.6745 * (e.value - d.med) / NULLIF(d.mad, 0) AS z
        |  FROM events e JOIN d USING (event_type))
        |SELECT event_type, MAX(med) AS med, MAX(mad) AS mad,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN abs(z) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers,
        |  ROUND(MAX(abs(z)), 6) AS max_abs_z
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("dq_freshness", dqFreshness _, Some(
      """WITH per AS (
        |  SELECT event_type, MAX(ts) AS last_seen, COUNT(*) AS n_events
        |  FROM events GROUP BY 1),
        |f AS (SELECT MAX(last_seen) AS frontier FROM per)
        |SELECT event_type, CAST(last_seen AS TIMESTAMP) AS last_seen,
        |  n_events,
        |  CAST(epoch_us(frontier) - epoch_us(last_seen) AS BIGINT)
        |    AS staleness_us
        |FROM per, f ORDER BY event_type""".stripMargin)),
    Query("etl_dq_quarantine", dqQuarantine _, Some(
      """WITH e AS (
        |  SELECT event_id, user_id, value,
        |    CAST(props->>'$.k' AS BIGINT) AS k
        |  FROM events),
        |j AS (
        |  SELECT e.event_id, e.user_id, e.value, e.k,
        |    c.c_custkey IS NOT NULL AS known
        |  FROM e LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON e.user_id = c.c_custkey),
        |r AS (
        |  SELECT event_id, user_id, value, k,
        |    array_to_string(list_filter([
        |      CASE WHEN value > 400 THEN 'value_out_of_range' END,
        |      CASE WHEN k IS NULL OR k >= 90 THEN 'props_k_out_of_range' END,
        |      CASE WHEN NOT known THEN 'orphan_user' END
        |    ], x -> x IS NOT NULL), ',') AS errors
        |  FROM j)
        |SELECT event_id, user_id, value, k, errors
        |FROM r WHERE errors <> ''
        |ORDER BY event_id""".stripMargin)),
    Query("etl_incr_rollup", incrRollup _, Some(
      // the maintenance CONTRACT: incremental merge ≡ full recompute
      """SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS TIMESTAMP) AS day_ts,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("dq_benford", dqBenford _, Some(
      """WITH d AS (
        |  SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
        |    AS BIGINT) AS digit
        |  FROM orders),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1)
        |SELECT digit, n,
        |  ROUND(CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER () AS DOUBLE), 6) AS observed,
        |  ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS expected
        |FROM c ORDER BY digit""".stripMargin)),
    Query("dq_anomaly", dqAnomaly _, Some(
      """WITH e AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS vd FROM events),
        |st AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(vd) AS DOUBLE) AS s_d,
        |    CAST(SUM(vd * vd) AS DOUBLE) AS sq_d
        |  FROM e GROUP BY event_type),
        |z AS (
        |  SELECT e.event_type, n,
        |    (CAST(vd AS DOUBLE) - s_d / n) /
        |      sqrt((sq_d - s_d * s_d / n) / (n - 1)) AS z
        |  FROM e JOIN st USING (event_type))
        |SELECT event_type, MAX(n) AS n_events,
        |  CAST(SUM(CASE WHEN abs(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  ROUND(MAX(abs(z)), 6) AS max_abs_z
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("etl_snapshot_diff", snapshotDiff _, Some(
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS tsu FROM events),
        |s1 AS (SELECT user_id, event_type, count(*) AS n FROM e
        |       WHERE tsu >= TIMESTAMP '2024-01-08' AND tsu < TIMESTAMP '2024-01-16'
        |       GROUP BY 1, 2),
        |s2 AS (SELECT user_id, event_type, count(*) AS n FROM e
        |       WHERE tsu >= TIMESTAMP '2024-01-20' AND tsu < TIMESTAMP '2024-01-28'
        |       GROUP BY 1, 2)
        |SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
        |  COALESCE(s1.event_type, s2.event_type) AS event_type,
        |  CASE WHEN s1.user_id IS NULL THEN 'I'
        |       WHEN s2.user_id IS NULL THEN 'D' ELSE 'U' END AS op,
        |  s1.n AS n_old, s2.n AS n_new
        |FROM s1 FULL OUTER JOIN s2
        |  ON s1.user_id = s2.user_id AND s1.event_type = s2.event_type
        |WHERE s1.user_id IS NULL OR s2.user_id IS NULL OR s1.n != s2.n
        |ORDER BY user_id, event_type""".stripMargin)),
    Query("etl_scd2", scd2 _, Some(
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu,
         |         $TierCase AS tier
         |  FROM events),
         |r AS (
         |  SELECT *, LAG(tier) OVER
         |    (PARTITION BY user_id ORDER BY tsu, event_id) AS prev_tier
         |  FROM e),
         |v AS (
         |  SELECT user_id, event_id, tier, tsu AS valid_from,
         |         LEAD(tsu) OVER
         |           (PARTITION BY user_id ORDER BY tsu, event_id) AS valid_to
         |  FROM r WHERE prev_tier IS NULL OR prev_tier <> tier)
         |SELECT user_id, event_id, tier, valid_from, valid_to,
         |       valid_to IS NULL AS is_current
         |FROM v ORDER BY user_id, valid_from, event_id""".stripMargin)),
    // Latest-row-per-side as a window rank, NOT a struct max: the two
    // are row-identical because event_id is unique — (tsu, event_id)
    // totally orders each side, so the struct comparison never reaches
    // the tier field. The struct-max spelling leaked unmanaged
    // aggregate-state memory in DuckDB at blow-up scale (107 GB RSS on
    // 10M events at 100x, OOM-killed twice, regardless of memory_limit
    // or thread caps), while the window spelling is buffer-managed and
    // completes in minutes; the Spark side keeps the struct-max argmax
    // (it map-side combines — the right shape at 100 TB).
    Query("etl_merge", merge _, Some(
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu,
         |         $TierCase AS tier
         |  FROM events),
         |r AS (
         |  SELECT user_id, tier,
         |         tsu >= TIMESTAMP '$MergeCutoff' AS is_batch,
         |         row_number() OVER (
         |           PARTITION BY user_id, tsu >= TIMESTAMP '$MergeCutoff'
         |           ORDER BY tsu DESC, event_id DESC) AS rn
         |  FROM e),
         |s AS (
         |  SELECT user_id,
         |    max(CASE WHEN NOT is_batch AND rn = 1 THEN tier END)
         |      AS prior_tier,
         |    max(CASE WHEN is_batch AND rn = 1 THEN tier END)
         |      AS batch_tier
         |  FROM r GROUP BY user_id)
         |SELECT user_id, prior_tier, batch_tier,
         |       COALESCE(batch_tier, prior_tier) AS merged_tier,
         |       CASE WHEN prior_tier IS NULL THEN 'insert'
         |            WHEN batch_tier IS NULL OR batch_tier = prior_tier
         |              THEN 'unchanged'
         |            ELSE 'update' END AS action
         |FROM s ORDER BY user_id""".stripMargin)),
    Query("dq_profile", dqProfile _, Some(
      """SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |       COUNT(*) - COUNT(o_orderkey) AS n_null,
        |       COUNT(DISTINCT o_orderkey) AS n_distinct FROM orders
        |UNION ALL
        |SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
        |       COUNT(DISTINCT o_custkey) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
        |       COUNT(DISTINCT o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
        |       COUNT(DISTINCT o_totalprice) FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
        |       COUNT(DISTINCT o_orderdate) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', COUNT(*),
        |       COUNT(*) - COUNT(o_orderpriority),
        |       COUNT(DISTINCT o_orderpriority) FROM orders
        |ORDER BY col_name""".stripMargin)),
    Query("dq_orphans", dqOrphans _, Some(
      """SELECT 'lineitem_part' AS rel,
        |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |    AS n_orphans,
        |  (SELECT COUNT(*) FROM lineitem) AS n_fact
        |UNION ALL
        |SELECT 'lineitem_supplier',
        |  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |     (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
        |  (SELECT COUNT(*) FROM lineitem)
        |UNION ALL
        |SELECT 'orders_customer',
        |  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |  (SELECT COUNT(*) FROM orders)
        |ORDER BY rel""".stripMargin))
  )
}
