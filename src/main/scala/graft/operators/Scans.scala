package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.functions.Dec._
import graft.sources.Tables

/** Scan / projection / filter / top-k operators (SURVEY.md §2.1 A, B, F).
  *
  * Scale design: projections and predicates here are written so Catalyst
  * pushes them into the parquet scan (`PushedFilters` + pruned
  * `ReadSchema`) — at 100 TB the scan reads only the referenced columns
  * and skips row groups via min/max stats. `orderBy(...).limit(n)`
  * plans as `TakeOrderedAndProjectExec`: per-partition top-n then a
  * merge of n·P rows — no global sort, no full shuffle.
  */
object Scans {

  /** A1 `scan_project` — narrow projection + deterministic top-100.
    * Sorts on ALL output columns: (l_orderkey, l_linenumber) alone is
    * NOT unique in this corpus (duplicate pairs exist at sf0.1), and a
    * tie at the limit boundary would make the result nondeterministic.
    * With every emitted column in the sort, tied rows are identical, so
    * any tie order hashes the same.
    */
  def scanProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .limit(100)

  /** Write orders PARTITIONED BY order month — the reporting-table
    * layout an ETL maintains: each load lands in its month's directory
    * (dynamic partition overwrite replaces exactly the reloaded
    * months), and any time-windowed query prunes to the touched months
    * at FILE-LISTING time, before a single row group is opened. The
    * batch analog of the streaming upsert sink; pinned in ScansSpec via
    * PartitionFilters. At 100 TB this plus a bucket/sort within
    * partitions is the layout every time-series reporting table wants.
    */
  def writeMonthPartitioned(spark: SparkSession, sfDir: String,
      outDir: String): Unit =
    Tables.orders(spark, sfDir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.partitionBy("o_month").mode("overwrite").parquet(outDir)

  /** B1 `filter_pred` — conjunctive predicates: equality, range, IN,
    * timestamp compare. All pushed to the parquet reader.
    */
  def filterPred(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F"
        && col("o_totalprice").between(50000, 200000)
        && col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        && col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  /** B2 `filter_like_null` — LIKE patterns + null guard. */
  def filterLikeNull(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .filter((col("p_name").like("%green%") || col("p_brand") === "Brand#1")
        && col("p_size").isNotNull)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
      .orderBy(col("p_partkey"))

  /** F1 `sort_limit` — global top-50 by value; `TakeOrderedAndProjectExec`.
    * Price is decimal-quantized then emitted as double (decimal(18,2) →
    * double is order-preserving and injective at this magnitude, so the
    * sort is unchanged).
    */
  def sortLimit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
        outDec(col("l_extendedprice"), 18, 2).as("price"))
      .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(50)

  /** `layout_zorder` — the Z-order layout code, value-gated: the
    * Morton interleave (GraftOps.mortonCode) of (o_custkey mod 2^16,
    * days-since-epoch-of-1992 mod 2^16) for the 100 smallest codes.
    * Sorting a table by this code is the multi-column clustering pass
    * (writeZOrdered) that keeps parquet min/max stats narrow on BOTH
    * columns; the gated query pins the bit arithmetic itself against
    * an engine that has no z-order built-in — every term is a plain
    * shift/and/or both engines evaluate identically. TakeOrdered
    * shape: per-partition top-100, no global sort.
    */
  def layoutZorder(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        graft.api.GraftOps.mortonCode(
          col("o_custkey") % 65536L,
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long") % 65536L).as("zcode"))
      .orderBy(col("zcode"), col("o_orderkey"))
      .limit(100)

  /** `layout_hilbert` — the Hilbert layout code, value-gated like
    * layout_zorder: the curve index (native codegen expression
    * `hilbert_code`, GraftOps.hilbertCode) of the same
    * (custkey, order-day) grid, smallest 100 codes. Hilbert beats
    * Morton exactly where files get cut mid-run: consecutive indices
    * are ALWAYS adjacent cells (pinned in ZorderSpec, where Morton
    * provably is not), so a range-partitioned file never spans a
    * quadrant seam. The oracle replays the per-level rotate/reflect
    * recurrence as a RECURSIVE CTE over the 16 bit levels — pure
    * integer shift/mask/xor both engines evaluate identically.
    */
  def layoutHilbert(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        graft.api.GraftOps.hilbertCode(
          col("o_custkey") % 65536L,
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long") % 65536L).as("hcode"))
      .orderBy(col("hcode"), col("o_orderkey"))
      .limit(100)
  }

  /** `scan_file_provenance` — the hidden `_metadata` column surface:
    * per input file, its name, size, row count, and the row-index
    * range — the lineage a debugging/audit pass reads to answer
    * "WHICH file produced this row" without any ETL bookkeeping
    * column. Spark materializes `_metadata.file_name/file_size/
    * row_index` only when referenced (zero cost otherwise); at
    * cluster scale this is the per-file skew/completeness report over
    * thousands of shard files, free of any shuffle beyond the
    * file-ary rollup.
    *
    * No oracle by design: DuckDB's equivalent (`read_parquet(...,
    * filename=true, file_row_number=true)`) needs the literal path in
    * the SQL text, which would pin the oracle to one scale factor.
    * The spec pins the contract instead: one row per file, row_index
    * spans exactly [0, n), and the file size matches the filesystem.
    */
  def scanFileProvenance(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("_metadata.file_name").as("file_name"),
        col("_metadata.file_size").as("file_size"),
        col("_metadata.row_index").as("ri"))
      .groupBy(col("file_name"), col("file_size"))
      .agg(count(lit(1)).as("n_rows"), min(col("ri")).as("min_row_index"),
        max(col("ri")).as("max_row_index"))
      .orderBy(col("file_name"))

  /** Morton interleave as plain SQL bit arithmetic (32 OR'd terms). */
  private def zcodeSql: String = {
    val a = "(o_custkey % 65536)"
    val b = "(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 65536)"
    (0 until 16).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i})",
        s"((($b >> $i) & 1) << ${2 * i + 1})")
    }.mkString("(", " | ", ")")
  }

  val registry: Seq[Query] = Seq(
    Query("layout_hilbert", layoutHilbert _, Some(
      """WITH RECURSIVE base AS (
        |  SELECT o_orderkey,
        |    CAST(o_custkey % 65536 AS BIGINT) AS x,
        |    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS y
        |  FROM orders),
        |h AS (
        |  SELECT o_orderkey, 15 AS i, x, y, CAST(0 AS BIGINT) AS d FROM base
        |  UNION ALL
        |  SELECT o_orderkey, i - 1,
        |    CASE WHEN ((y >> i) & 1) = 0
        |         THEN (CASE WHEN ((x >> i) & 1) = 1 THEN 65535 - y ELSE y END)
        |         ELSE x END,
        |    CASE WHEN ((y >> i) & 1) = 0
        |         THEN (CASE WHEN ((x >> i) & 1) = 1 THEN 65535 - x ELSE x END)
        |         ELSE y END,
        |    d + (CAST(1 AS BIGINT) << i) * (CAST(1 AS BIGINT) << i)
        |      * xor(3 * ((x >> i) & 1), (y >> i) & 1)
        |  FROM h WHERE i >= 0)
        |SELECT o_orderkey, d AS hcode FROM h WHERE i = -1
        |ORDER BY hcode, o_orderkey LIMIT 100""".stripMargin)),
    Query("layout_zorder", layoutZorder _, Some(
      s"""SELECT o_orderkey, CAST($zcodeSql AS BIGINT) AS zcode
         |FROM orders
         |ORDER BY zcode, o_orderkey
         |LIMIT 100""".stripMargin)),
    Query("scan_project", scanProject _, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |LIMIT 100""".stripMargin)),
    Query("filter_pred", filterPred _, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_totalprice BETWEEN 50000 AND 200000
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |ORDER BY o_orderkey""".stripMargin)),
    Query("filter_like_null", filterLikeNull _, Some(
      """SELECT p_partkey, p_name, p_brand, p_size
        |FROM part
        |WHERE (p_name LIKE '%green%' OR p_brand = 'Brand#1')
        |  AND p_size IS NOT NULL
        |ORDER BY p_partkey""".stripMargin)),
    Query("sort_limit", sortLimit _, Some(
      """SELECT l_orderkey, l_linenumber, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM lineitem
        |ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 50""".stripMargin)),
    Query("scan_file_provenance", scanFileProvenance _)
  )
}
