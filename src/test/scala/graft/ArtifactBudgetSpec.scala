package graft

import graft.sources.Materialize

/** The artifact-ladder budget tripwire (r12 verdict item 2):
  * first_run_total grew 127 → 174 s in one round because nothing gated
  * the ladder's growth. Three controls, mirroring how InventorySpec
  * pins the query count:
  *
  *   1. `Materialize.Kinds` is an explicit registry and `once` throws
  *      on anything unlisted — a new artifact is a deliberate,
  *      reviewable diff to the registry, never a drive-by.
  *   2. This spec pins the registry SIZE (and spot-pins the
  *      tunable-suffix discipline), so the diff also shows up as a
  *      failing test until the pin is consciously moved.
  *   3. The cold-total budget lives in tools/closing_bench.sh
  *      (GRAFT_COLD_BUDGET, default 200 s at sf0.1) — the closing pair
  *      is where cold is measured under controlled conditions, so
  *      that's where the wall-clock half of the tripwire runs;
  *      per-artifact build seconds land in target/artifact_builds.json
  *      (written by Bench) for the round log to diff.
  */
class ArtifactBudgetSpec extends SparkTestBase {

  /** The similarity family's models and codes tables and the bucketed
    * join tables: built once per corpus before the registry covered
    * in-memory state, registered when their caches moved into
    * Materialize — their builds now count against the budget.
    */
  private val DerivedStateKinds = Seq(
    "embeddings_count", "probe_vec0", "lsh_probe_ladder", "ivf_centers",
    "ivf_cell_counts", "pca_full_rank", "pq_codebook_k32",
    "ivfpq_codebook_k32", "pq_codes_k32", "ivfpq_codes_k32",
    "bucketed_join_b16")

  test("artifact registry pinned at 35 kinds — grow it deliberately") {
    assert(DerivedStateKinds.filterNot(Materialize.Kinds.contains).isEmpty)
    assert(Materialize.Kinds.size === 35,
      s"artifact registry changed (${Materialize.Kinds.size} kinds): " +
        "if intentional, move this pin, note the build cost in " +
        "target/artifact_builds.json, and keep the closing cold total " +
        "under the GRAFT_COLD_BUDGET in tools/closing_bench.sh")
  }

  test("unregistered artifact kinds are refused at build time") {
    val e = intercept[IllegalArgumentException] {
      Materialize.once(spark, sf, Seq("documents"), "drive_by_artifact")(
        sources.Tables.documents(spark, sf).limit(1))
    }
    assert(e.getMessage.contains("unregistered artifact kind"))
  }

  test("parameterized kinds carry their load-bearing tunables in the name") {
    // ADVICE r12: a kind keyed only on the source fingerprint would
    // silently serve a differently-tuned artifact to a future call
    // site. The two edge sets with thresholds encode them.
    assert(Materialize.Kinds.contains("minhash_pairs_d010"), "maxDist=0.10")
    assert(Materialize.Kinds.contains("md5_pairs_d050b3"),
      "dist<=0.50, 3 bands")
    assert(!Materialize.Kinds.contains("minhash_pairs") &&
      !Materialize.Kinds.contains("md5_pairs"),
      "un-suffixed edge-set kinds must not coexist with suffixed ones")
  }

  test("spec_ prefix bypasses the registry for test-only builds") {
    import spark.implicits._
    val df = Materialize.once(spark, sf, Seq("region"), "spec_budget_probe")(
      Seq(1L).toDF("one"))
    assert(df.count() === 1L)
  }
}
