package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Query
import graft.sources.Tables

/** Set operators (SURVEY.md §2.1 category G).
  *
  * Spark's `intersect`/`except` use distinct semantics (matching SQL and
  * DuckDB); `union` is positional, so both inputs are projected to the
  * same single column first. At scale these plan as aggregate-style
  * shuffles on the full row — cheap here because inputs are pre-projected
  * to one key column (always project before a set op).
  */
object SetOps {

  private def custKeys(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey"))

  private def suppKeys(spark: SparkSession, sfDir: String): DataFrame =
    Tables.supplier(spark, sfDir).select(col("s_nationkey").as("nationkey"))

  /** G1 `set_union` — UNION ALL with a side tag, then per-key counts;
    * `n_sides` (distinct tag count) distinguishes keys in both inputs.
    */
  def setUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val c = custKeys(spark, sfDir).withColumn("side", lit("c"))
    val s = suppKeys(spark, sfDir).withColumn("side", lit("s"))
    c.unionByName(s)
      .groupBy(col("nationkey"))
      .agg(count(lit(1)).as("n_all"), countDistinct(col("side")).as("n_sides"))
      .orderBy(col("nationkey"))
  }

  /** G2 `set_intersect` — nation keys present on both sides. */
  def setIntersect(spark: SparkSession, sfDir: String): DataFrame =
    custKeys(spark, sfDir).intersect(suppKeys(spark, sfDir))
      .orderBy(col("nationkey"))

  /** G3 `set_except` — customer nation keys outside regions 0/1 (the
    * right side is a filtered dimension, so the result is non-empty at
    * every scale factor).
    */
  def setExcept(spark: SparkSession, sfDir: String): DataFrame = {
    val lowRegions = Tables.nation(spark, sfDir)
      .filter(col("n_regionkey").isin(0, 1))
      .select(col("n_nationkey").as("nationkey"))
    custKeys(spark, sfDir).except(lowRegions)
      .orderBy(col("nationkey"))
  }

  /** `set_union_byname` — schema-evolution union: two differently-
    * shaped projections of the part table (different column ORDER and
    * different column SETS) unioned BY NAME with missing columns
    * null-filled — the append every long-lived pipeline needs when a
    * newer extract adds or drops fields. Positional UNION would
    * silently misalign (partkey under size); by-name matching is the
    * contract. Pure zero-shuffle concatenation: the union is a plan
    * combinator, not an operator that moves data.
    */
  def setUnionByname(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir)
    val small = p.filter(col("p_size") < 15)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        lit("small").as("src"))
    val large = p.filter(col("p_size") >= 15)
      .select(col("p_size"), col("p_partkey"), col("p_type"),
        lit("large").as("src"))
    small.unionByName(large, allowMissingColumns = true)
      .orderBy(col("p_partkey"))
  }

  /** `set_bag_ops` — INTERSECT ALL / EXCEPT ALL (bag semantics): over
    * the multiset of customer vs supplier nation keys, the common
    * multiplicity min(mₐ, m_b) and the surplus max(0, mₐ − m_b) per
    * key — the "how MANY survive" algebra that distinct-semantics
    * set_intersect/set_except cannot express (G2/G3 gate the distinct
    * forms; this gates the ALL forms against the same min/max-of-
    * multiplicity law the oracle recomputes).
    *
    * Scale shape: Spark plans both ALL variants as a single
    * count-and-replicate aggregate pair on the key — one shuffle per
    * side, no row-by-row matching join.
    */
  def setBagOps(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_nationkey").cast("long").as("nationkey"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_nationkey").cast("long").as("nationkey"))
    val inter = cust.intersectAll(supp)
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("nationkey"), col("n"))
    val exc = cust.exceptAll(supp)
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("nationkey"), col("n"))
    inter.unionAll(exc).orderBy(col("op"), col("nationkey"))
  }

  val registry: Seq[Query] = Seq(
    Query("set_bag_ops", setBagOps _, Some(
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
        |s AS (SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier),
        |i AS (SELECT 'intersect_all' AS op, nationkey, COUNT(*) AS n
        |  FROM (SELECT nationkey FROM c INTERSECT ALL SELECT nationkey FROM s)
        |  GROUP BY 2),
        |e AS (SELECT 'except_all' AS op, nationkey, COUNT(*) AS n
        |  FROM (SELECT nationkey FROM c EXCEPT ALL SELECT nationkey FROM s)
        |  GROUP BY 2)
        |SELECT * FROM i UNION ALL SELECT * FROM e
        |ORDER BY op, nationkey""".stripMargin)),
    Query("set_union_byname", setUnionByname _, Some(
      """SELECT p_partkey, p_brand, p_retailprice, 'small' AS src
        |FROM part WHERE p_size < 15
        |UNION ALL BY NAME
        |SELECT p_size, p_partkey, p_type, 'large' AS src
        |FROM part WHERE p_size >= 15
        |ORDER BY p_partkey""".stripMargin)),
    Query("set_union", setUnion _, Some(
      """SELECT nationkey, COUNT(*) AS n_all, COUNT(DISTINCT side) AS n_sides
        |FROM (SELECT c_nationkey AS nationkey, 'c' AS side FROM customer
        |      UNION ALL
        |      SELECT s_nationkey AS nationkey, 's' AS side FROM supplier)
        |GROUP BY nationkey
        |ORDER BY nationkey""".stripMargin)),
    Query("set_intersect", setIntersect _, Some(
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)),
    Query("set_except", setExcept _, Some(
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT n_nationkey AS nationkey FROM nation WHERE n_regionkey IN (0, 1)
        |ORDER BY nationkey""".stripMargin))
  )
}
