package graft

/** Round-10 shipped a 10× single-query perf regression (the winnow
  * pair's AQE-coalesced keyed repartition) that 458 green tests could
  * not see — nothing bounded per-query WARM time. This spec is the
  * tripwire: it times the historically-heaviest declared queries at
  * sf0.1 on the shared test session and fails any query over a budget
  * set ~6× above its healthy warm time (local[4] runs ~2-3× a
  * 32-core bench; healthy heavy queries sit at 1-3 s here, the
  * r10 winnow regression would read ~20 s+). Budgets are deliberately
  * loose — this is a blown-plan detector (single-task serialization,
  * lost broadcast, O(n²) expression), not a micro-benchmark; keep
  * them generous enough that machine noise never trips it.
  *
  * Companion discipline (SURVEY §3): any commit touching
  * SparkEntry-reachable plan code times the touched queries with
  * `perfbench.Harness run <cores> <sfDir> <namesFile> <seed>
  * <warmPasses> <traceParity> <out>` (classpath: the
  * `perfbench/target/scala-2.13/classes` dir plus every jar in
  * `$SPARK_HOME/jars`), and a round's final commit must BE the
  * recorded closing bench pair.
  */
class PerfTripwireSpec extends SparkTestBase {

  private val sf01 = "/root/testdata/sf0.1"
  // Overridable for contended/slower runners (ADVICE r11): the default
  // assumes an otherwise-idle 32-core box; a CI host under load can
  // relax it (`sbt -Dgraft.tripwire.budget=30 test`) without losing the
  // blown-plan detection (regressions of the r10 class read 10-20×, not
  // 2×). Values ≤ 0 disable the assertion but keep the timing `info`.
  private val budgetSec =
    sys.props.get("graft.tripwire.budget")
      .orElse(sys.env.get("GRAFT_TRIPWIRE_BUDGET"))
      .map(_.toDouble).getOrElse(10.0)

  private val heavy = Seq(
    "text_winnow",      // the r10 regression pair
    "text_winnow_md5",
    "ts_hampel",        // widest window battery
    "dedup_minhash_md5", // banded join + verify algebra
    "analytics_basket", // self-join pair mining
    "graph_pagerank",   // iterative, barrier per round
    "tpch_q21",         // 4-way fact self-join
    "join_pit",         // point-in-time as-of machinery
    "knn_ivf_probe_verify", // heaviest of the r11 oracle twins
    // r12 bench head (the artifact conversions moved the old heavies;
    // these are the genuinely-heavy relational remainders now)
    "tpch_q2",
    "tpch_q18",
    "join_salted",
    "agg_approx_quantile",
    "agg_weighted_median")

  for (name <- heavy) {
    test(s"$name warm time under ${budgetSec}s at sf0.1") {
      val fn = SparkEntry.queries(name)
      fn(spark, sf01).count() // cold: JIT + codegen + artifact warm-up
      val t0 = System.nanoTime()
      fn(spark, sf01).count()
      val warm = (System.nanoTime() - t0) / 1e9
      info(f"$name warm $warm%.2fs")
      assert(budgetSec <= 0 || warm < budgetSec,
        f"$name warm $warm%.2fs exceeds ${budgetSec}s tripwire — plan regression " +
          "(single-task serialization / lost broadcast / O(n²) expression)?")
    }
  }
}
