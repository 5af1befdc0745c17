package graft

import graft.operators.Tpch

/** The composite flagship queries: sane plans (equi-joins only — a
  * mis-specified join condition would degenerate to a cartesian) and
  * non-empty results at the test scale. Value correctness is
  * oracle-gated (each `Query`'s oracle in Tpch.registry) like every
  * other declared query.
  */
class TpchSpec extends SparkTestBase {

  test("all flagships produce rows through equi-join plans (no cartesian anywhere)") {
    // q22's scalar threshold rides a ONE-ROW broadcast cross join — the
    // standard scalar-subquery plan shape, a nested loop over exactly one
    // build row, not a pair enumeration. Everything else must be pure
    // equi-join.
    // q11's global-total threshold rides the same one-row shape.
    val scalarBroadcast = Set("tpch_q22", "tpch_q11")
    for (Query(name, fn, _) <- Tpch.registry) {
      val df = fn(spark, sf)
      val n = df.count()
      assert(n > 0, s"$name returned no rows")
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"),
        s"$name must join on keys, not enumerate pairs:\n$plan")
      if (!scalarBroadcast(name))
        assert(!plan.contains("BroadcastNestedLoop"),
          s"$name must join on keys, not enumerate pairs:\n$plan")
    }
  }

  test("q5 broadcasts the pre-filtered nation⋈region dimension") {
    val plan = planOf(Tpch.tpchQ5(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"dim join must broadcast:\n$plan")
  }

  test("q18's HAVING subquery plans as a key-only semi join (no wide self-join)") {
    val plan = planOf(Tpch.tpchQ18(spark, sf))
    assert(plan.contains("LeftSemi"),
      s"the big-orders filter must be a semi join:\n$plan")
  }

  test("q4's correlated EXISTS plans as one semi join, not an aggregate+join") {
    val plan = planOf(Tpch.tpchQ4(spark, sf))
    assert(plan.contains("LeftSemi"),
      s"the late-lineitem EXISTS must be a semi join:\n$plan")
  }

  test("selective predicates reach the parquet scans as PushedFilters") {
    // insurance that a refactor never un-pushes the flagship filters: a
    // scan that reads every row and filters above the exchange turns the
    // post-filter shuffle cardinality into the PRE-filter one at 100 TB
    val expect = Map(
      "tpch_q3" -> Seq("c_mktsegment", "o_orderdate", "l_shipdate"),
      "tpch_q5" -> Seq("r_name", "o_orderdate"),
      "tpch_q10" -> Seq("l_returnflag", "o_orderdate"),
      // q14: the one-month shipdate window is the entire read at scale
      "tpch_q14" -> Seq("l_shipdate"),
      // q19: the hand-derived per-side residuals of the OR predicate —
      // quantity envelope on the fact scan, brand/size OR on the dim
      "tpch_q19" -> Seq("l_quantity", "p_brand", "p_size"),
      // q7: the nation-group union residual reaches both nation scans
      "tpch_q7" -> Seq("n_name"),
      // q6 IS the scan: all three predicates must reach the reader
      "tpch_q6" -> Seq("l_shipdate", "l_discount", "l_quantity"),
      // q8: part-type + region + date window cut the read
      "tpch_q8" -> Seq("p_type", "r_name", "o_orderdate"),
      // q12: the year window and returnflag pair gate the fact scan
      "tpch_q12" -> Seq("l_shipdate", "l_returnflag"),
      // q15: the quarter-window fact scan sits BELOW the revenue view's
      // checkpoint barrier (see tpchQ15 + PlanBudgetSpec), so its
      // PushedFilters are not visible in the consumer plan; the same
      // l_shipdate window pushdown is pinned via q14/q6/q12/q1/q20
      // q17: the part-type filter prunes the dimension before broadcast
      "tpch_q17" -> Seq("p_type"),
      // q22: the nation-group restriction reaches the customer scan
      "tpch_q22" -> Seq("c_nationkey"),
      // q4: the quarter window is the entire orders read; the
      // correlated shipdate predicate rides the semi join instead
      "tpch_q4" -> Seq("o_orderdate"),
      // q1: the shipdate cutoff is the entire fact read at scale
      "tpch_q1" -> Seq("l_shipdate"),
      // q2: type+size prune part, region prunes the supplier side
      "tpch_q2" -> Seq("p_type", "p_size", "r_name"),
      // q9: the name prefix prunes part before broadcast
      "tpch_q9" -> Seq("p_name"),
      // q16: brand/type/size prune part; the NOT-IN side is tiny
      "tpch_q16" -> Seq("p_brand", "p_type", "p_size"),
      // q20: the 1997 window gates the fact scan, name prefix the dim
      "tpch_q20" -> Seq("l_shipdate", "p_name"))
    for ((name, cols) <- expect) {
      val plan = planOf(SparkEntry.queries(name)(spark, sf))
      val pushed = "PushedFilters: \\[([^\\]]*)".r
        .findAllMatchIn(plan).map(_.group(1)).mkString("; ")
      for (c <- cols)
        assert(pushed.contains(c),
          s"$name: $c missing from PushedFilters ($pushed):\n$plan")
    }
  }
}
