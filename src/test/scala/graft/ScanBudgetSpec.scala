package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Fact-scan budgets for the queries the round-9 duplicate-scan audit
  * fixed: a physical plan that reads its fact table more often than the
  * algorithm needs multiplies the dominant cost at 100 TB (the
  * pareto/q15 disease: an unbarriered small derived frame re-runs its
  * fact lineage once per consuming branch, and AQE does NOT reliably
  * dedupe the branches via exchange reuse — measured, not assumed).
  *
  * Counts are against the pre-AQE sparkPlan: scans BELOW a lazy
  * localCheckpoint barrier do not appear (the barrier is the fix — its
  * one materialization is the single fact pass), so the pinned number
  * is the per-evaluation fact read count of the consumer plan.
  */
class ScanBudgetSpec extends SparkTestBase {

  private def scansOf(df: DataFrame, table: String): Int =
    df.queryExecution.sparkPlan.collectWithSubqueries {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains(s"$table.parquet")) => f
    }.size

  private def pin(name: String, table: String, maxScans: Int): Unit =
    test(s"$name reads $table at most $maxScans time(s) per evaluation") {
      val n = scansOf(SparkEntry.queries(name)(spark, sf), table)
      assert(n <= maxScans,
        s"$name plans $n scans of $table (budget $maxScans) — a shared " +
          "derived frame lost its checkpoint barrier or a branch re-derives")
    }

  // barriered to ZERO consumer-plan fact scans (the one fact pass rides
  // the barrier materialization)
  pin("analytics_mutual_info", "events", 0)
  pin("ts_decompose", "events", 0)
  pin("ts_anomaly_stl", "events", 0)
  pin("ts_stl_strength", "events", 0)
  pin("dq_freshness", "events", 0)

  // one live fact pass beside the barrier
  pin("pipeline_mixture", "documents", 1)

  // two live passes is the honest exact minimum (bounds/percentile pass
  // + binning pass)
  pin("dq_value_drift", "orders", 2)
  pin("agg_equidepth", "orders", 2)

  // one pass per fact table covers every FK relationship + the total
  pin("dq_orphans", "lineitem", 1)
  pin("dq_orphans", "orders", 1)

  // batch scan + the driver's one-row mid probe; history is barriered
  pin("dedup_bloom", "documents", 2)

  // r10 value-gate twins: the minhash twin's signature frame is
  // barriered (the three band joins re-read one snapshot — 0 consumer
  // scans); the SQ8 twin reads the corpus once plus two pushed-down
  // one-row probe scans; the winnow twin shares text_winnow's accepted
  // two-pass shape (fingerprint pass + sharing scan)
  pin("dedup_minhash_md5", "documents", 0)
  pin("knn_sq8_verify", "embeddings", 3)
  // both winnow entries barrier the fingerprint frame (three consumers:
  // join side + the sharing scan's two pair passes)
  pin("text_winnow", "documents", 0)
  pin("text_winnow_md5", "documents", 0)

  // second sweep: barriered to ZERO consumer-plan fact scans
  pin("analytics_seasonal_index", "orders", 0)
  pin("analytics_stickiness", "events", 0)
  pin("analytics_survival_km", "events", 0)
  pin("analytics_churn", "orders", 0)
  pin("analytics_eb_smooth", "events", 0)
  pin("analytics_forecast_naive", "events", 0)
  pin("ts_acf", "events", 0)
  pin("ts_cross_corr", "events", 0)
  pin("ts_spectral", "events", 0)
  pin("ts_dow_hour_heatmap", "events", 0)
  pin("agg_sketch_reagg", "events", 0)
  pin("win_running_distinct", "events", 0)
  pin("text_js_divergence", "documents", 0)
  pin("text_bm25", "documents", 0)
  pin("analytics_cohort_ltv", "orders", 0)

  // second sweep: one-pass window rewrites — exactly ONE fact scan
  pin("cohort_retention", "orders", 1)
  pin("analytics_new_vs_returning", "orders", 1)
  pin("analytics_conversion_window", "events", 1)
  pin("ts_cusum", "events", 1)
  // the row total is Σ n over the score groups, not a second scan
  pin("analytics_auc", "embeddings", 1)

  test("tpch_q15 reads lineitem zero times in the consumer plan (barriered)") {
    assert(scansOf(SparkEntry.queries("tpch_q15")(spark, sf),
      "lineitem") === 0)
  }
}
