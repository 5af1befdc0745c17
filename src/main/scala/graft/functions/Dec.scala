package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Determinism helpers (SURVEY.md §2.0).
  *
  * The corpus stores money/measure columns as `double`. Spark partial-
  * aggregates in parallel, so float addition order differs from DuckDB's
  * single stream and the driver's hash compare would fail. Casting to
  * DECIMAL *before* aggregation makes the sum associative and therefore
  * bit-identical across engines and across any cluster size — this is the
  * property that keeps results stable at 100 TB too, where partial
  * aggregation order is fully nondeterministic.
  */
object Dec {
  /** Cast to DECIMAL(18,2) — money columns, pre-aggregation. */
  def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Final OUTPUT cast for decimal aggregates: pin scale via an explicit
    * decimal cast, then convert to DOUBLE. Decimal→double of the same
    * exact decimal value is bit-identical in Spark and DuckDB, and float
    * repr survives any downstream normalization — DECIMAL canonical
    * strings ('420129.40' vs '420129.4') do not. Internal math stays
    * decimal (associative, cluster-safe); only the emitted column is
    * double.
    */
  def outDec(c: Column, p: Int, s: Int): Column =
    c.cast(s"decimal($p,$s)").cast("double")

  /** Unavoidable double math (sqrt/ln/cosine): compute in double in both
    * engines, then round to 6 to absorb last-ulp differences.
    */
  def round6(c: Column): Column = round(c, 6)

  /** Long-cents twin of [[dec2]] for NON-NEGATIVE money columns:
    * HALF_UP to 2 dp as integer cents via pure double arithmetic.
    * `floor(x·100 + 0.5)` equals `cast(cast(x as decimal(18,2)) * 100
    * as bigint)` for every non-negative double whose 2-dp rounding both
    * engines agree on — which is the precondition the existing dec2
    * design already relies on for its DuckDB hash agreement (audited
    * per money column on the corpus: 0 mismatches; see
    * OPTIMIZATION_r16.md). Long sums are associative and exact — the
    * same any-cluster-size determinism property as the decimal path —
    * at ~3× less scan-stage CPU (Spark's double→decimal cast pays a
    * Double.toString per row; a revenue pass measured 1016→364 ms on
    * 600 k rows). NOT for columns that can be negative: floor(x+0.5)
    * rounds exact negative half-cents toward +∞ where HALF_UP rounds
    * away from zero.
    */
  def cents2(c: Column): Column = floor(c * lit(100) + lit(0.5))

  /** Final OUTPUT cast for long-cents aggregates: `double(S) / 10^s` is
    * bit-identical to [[outDec]]'s decimal(p,s)→double cast of the same
    * exact value while |S| < 2^53 (the long→double conversion is exact
    * and IEEE division is correctly rounded — one rounding, same as the
    * decimal→double cast). For PER-ROW cents and bounded-group LONG
    * sums, whose audited value domains stay far under 2^53 (see the
    * revenueL scaladoc and CentsDomainSpec); coarse DECIMAL(38,0) sums
    * use [[outCentsWide]].
    */
  def outCents(c: Column, s: Int): Column =
    c.cast("double") / lit(math.pow(10, s))

  /** [[outCents]] for the coarse DECIMAL(38,0) cents sums, whose
    * magnitude CAN exceed 2^53 inside the 100 TB design target
    * (~9e11 dollars at scale 4): double(S)/10^s would round twice
    * there (long/decimal→double, then IEEE divide) and re-open the
    * last-ulp engine-divergence class the decimal design exists to
    * remove (ADVICE r16). Single rounding instead: exact decimal
    * division — S has exactly s fractional digits, so the scale-6
    * quotient is exact — then one decimal→double cast. Identical bits
    * to outCents while |S| < 2^53 (both single-rounded); correctly
    * rounded beyond. Per-GROUP cost only — never on a per-row path.
    */
  def outCentsWide(c: Column, s: Int): Column =
    (c.cast("decimal(38,0)") / lit(math.pow(10, s).toLong))
      .cast(s"decimal(38,$s)").cast("double")
}
