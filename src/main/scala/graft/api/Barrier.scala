package graft.api

import org.apache.spark.sql.DataFrame

/** Materialization barrier: compute a (small, shared) derived frame ONCE and
  * cut its lineage, so that N downstream consumers read the materialized
  * blocks instead of re-running the upstream fact scan per consumer (AQE
  * does NOT dedupe common subplans via exchange reuse across separate
  * actions — records read per query show it in `perfbench.Harness run`'s
  * traced records; ScanBudgetSpec pins the per-query fact-scan budgets
  * that depend on these barriers).
  *
  * Two modes, selected per-session by `spark.graft.barrier.reliable`:
  *
  *  - default (`false`): `Dataset.localCheckpoint` — blocks live in executor
  *    storage and the TRUNCATED lineage cannot be recomputed after executor
  *    loss. That is the correct trade on a single-JVM deployment
  *    (`local[*]`, this repo's bench/verify harness), where losing an
  *    executor IS losing the driver — there is no failure the lineage could
  *    have recovered from. It is also the only zero-infrastructure option:
  *    no checkpoint directory, no extra FS round-trip.
  *  - `spark.graft.barrier.reliable=true`: `Dataset.checkpoint` — blocks go
  *    to the session's checkpoint directory (call
  *    `sparkContext.setCheckpointDir` to a cluster-visible path first;
  *    Spark fails fast with a clear message otherwise). Same lineage
  *    truncation — iterative ops keep their O(1) plan size per round — but
  *    the materialized data survives executor loss, which is the contract a
  *    multi-executor 100 TB deployment needs from a barrier.
  *
  * `eager = false` keeps the barrier LAZY: nothing materializes until the
  * first action that actually needs it, so queries that only touch a subset
  * of the derived frames don't pay for the rest. CRITICAL (round-9 lesson,
  * pinned in BASELINE.md): a barrier defeats column pruning — it
  * materializes EVERY column of the frame — so only barrier frames whose
  * every column every consumer needs.
  *
  * RELATED FOOTGUN — AQE coalesces keyed repartitions (round-10 lesson,
  * shipped as a 3× bench regression): `repartition(col)` with NO explicit
  * partition count emits an AQE-ADVISORY exchange, and AQE's
  * byte-size-based coalescing will merge a few-MB input back into ONE
  * partition — even when the point of the repartition was to spread
  * CPU-heavy per-row work (hash cascades, decode, feature extraction)
  * whose cost AQE's byte heuristic cannot see. A CPU-motivated spread
  * must pass an explicit N — `repartition(N, col)` or `repartition(N)` —
  * which AQE respects as user-specified (measured on the winnow cascade
  * at sf0.1: keyed-no-N 8.3 s on one task vs explicit-N 0.9 s across 32).
  */
object Barrier {
  final val ReliableConf = "spark.graft.barrier.reliable"

  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    /** Lineage-truncating materialization point; see [[Barrier]]. */
    def barrier(eager: Boolean = true): DataFrame =
      if (df.sparkSession.conf.get(ReliableConf, "false").toBoolean)
        df.checkpoint(eager)
      else df.localCheckpoint(eager)
  }
}
