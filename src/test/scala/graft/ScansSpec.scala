package graft

import graft.operators.Scans

/** Pins scan/top-k physical plans: top-k must NOT be a global sort, and
  * filters/projections must reach the parquet reader.
  */
class ScansSpec extends SparkTestBase {

  test("scan_project plans TakeOrderedAndProject (per-partition top-k, no global sort)") {
    assert(planOf(Scans.scanProject(spark, sf)).contains("TakeOrderedAndProject"))
  }

  test("sort_limit plans TakeOrderedAndProject") {
    assert(planOf(Scans.sortLimit(spark, sf)).contains("TakeOrderedAndProject"))
  }

  /** The `PushedFilters: [...]` content of the first scan in the plan —
    * "" when absent, so an un-pushed scan fails the non-empty asserts.
    */
  private def pushedFilters(plan: String): String =
    plan.linesIterator.map(_.trim)
      .collectFirst { case l if l.contains("PushedFilters: [") =>
        l.substring(l.indexOf("PushedFilters: [") + "PushedFilters: [".length)
      }.getOrElse("")

  test("filter_pred pushes non-empty predicates into the parquet scan") {
    val plan = planOf(Scans.filterPred(spark, sf))
    val pushed = pushedFilters(plan)
    assert(pushed.trim.nonEmpty && !pushed.trim.startsWith("]"),
      s"PushedFilters must be non-empty:\n$plan")
    assert(pushed.contains("o_orderstatus"), s"status filter should be pushed: $pushed")
    assert(pushed.contains("o_totalprice"), s"range filter should be pushed: $pushed")
  }

  test("filter_like_null pushes non-empty predicates into the parquet scan") {
    val plan = planOf(Scans.filterLikeNull(spark, sf))
    val pushed = pushedFilters(plan)
    assert(pushed.trim.nonEmpty && !pushed.trim.startsWith("]"),
      s"PushedFilters must be non-empty:\n$plan")
    // the OR branch can't push whole, but the null guard must
    assert(pushed.contains("IsNotNull(p_size)"), s"null guard should be pushed: $pushed")
  }

  test("month-partitioned reporting layout prunes time-window scans at listing time") {
    import org.apache.spark.sql.functions._
    val out = tempDir("graft_month_part").toString
    Scans.writeMonthPartitioned(spark, sf, out)
    val df = spark.read.parquet(out).filter(col("o_month") === "1997-03")
    df.collect()
    val plan = planOf(df)
    // the month predicate must be a PARTITION filter (directory pruning),
    // not a data filter evaluated per row group
    assert(plan.contains("PartitionFilters") &&
      plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("o_month")),
      s"month filter must prune partitions:\n$plan")
    // and the pruned read returns exactly the unpartitioned answer
    val expected = graft.sources.Tables.orders(spark, sf)
      .filter(date_format(col("o_orderdate"), "yyyy-MM") === "1997-03").count()
    assert(df.count() === expected && expected > 0)
  }

  test("scan_project read schema is EXACTLY its 4 projected columns") {
    val plan = planOf(Scans.scanProject(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    val cols = "ReadSchema: struct<(.*)>".r.findFirstMatchIn(readSchema)
      .map(_.group(1).split(",").map(_.split(":")(0).trim).toSet)
      .getOrElse(Set.empty[String])
    assert(cols === Set("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
      s"expected exactly the 4 projected columns, got: $readSchema")
  }

  test("scan_file_provenance: _metadata matches the filesystem and row span") {
    val rows = graft.operators.Scans.scanFileProvenance(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.length === 1, "single-file table -> one provenance row")
    val (name, size, n, lo, hi) = rows(0)
    assert(name === "events.parquet", "file_name is the leaf name")
    assert(size === new java.io.File(s"$sf/events.parquet").length,
      "_metadata.file_size matches the filesystem")
    val expectN = graft.sources.Tables.events(spark, sf).count()
    assert(n === expectN, "row count conserves")
    assert(lo === 0L && hi === expectN - 1,
      "row_index spans exactly [0, n)")
  }
}
