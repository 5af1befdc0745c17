package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** One declared query: its name (also its dump directory), its builder
  * over a corpus directory and, for the oracle-gated subset, ANSI SQL
  * that DuckDB runs on the same parquet tables to produce the same rows.
  * Leave `oracle` empty for operations SQL cannot express.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** The query contract — see SURVEY.md §2 (inventory) and §3 (lifecycle).
  * Each operator category lives in its own object under
  * `graft.operators` and declares its queries in one `registry`; this
  * object lists those modules once and derives both contract maps from
  * that one list. To add a query, add a `Query` to its module's
  * `registry`; to add a module, add its `registry` here.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregates.aggPricing(spark, "/root/testdata/sf0.001")

  /** Every declared query, module by module (SURVEY.md §2). */
  val registry: Seq[Query] = Seq(
    Scans.registry, Joins.registry, Aggregates.registry, SetOps.registry,
    Windows.registry, Scalars.registry, Pipeline.registry,
    Temporal.registry, Text.registry, NearDedup.registry,
    Ann.registry, Ivf.registry, Pq.registry, Pca.registry,
    Multimodal.registry, Tpch.registry, Etl.registry, Analytics.registry
  ).flatten

  /** name → builder, one entry per declared query. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = queryMap

  /** name → DuckDB SQL for the queries that declare an oracle. */
  def oracleSql: Map[String, String] = oracleMap

  private lazy val byName: Map[String, Query] = index(registry)
  private lazy val queryMap = byName.map { case (n, q) => n -> q.build }
  private lazy val oracleMap = byName.flatMap { case (n, q) => q.oracle.map(n -> _) }

  /** name → query. Refuses a name declared twice (a map merge would
    * silently keep one builder) and a name that is not a safe dump
    * directory name (`[a-z0-9_]+`), naming each offender.
    */
  private[graft] def index(queries: Seq[Query]): Map[String, Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    val unsafe = queries.map(_.name).filterNot(_.matches("[a-z0-9_]+"))
    require(unsafe.isEmpty,
      s"query names outside [a-z0-9_]+: ${unsafe.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }
}
