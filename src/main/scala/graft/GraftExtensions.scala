package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf
import graft.expressions.{CosineSimilarity, HilbertCode, KGrams, LshBucket, SignedProject, SimHash64}

/** Library extension entry point, installed into any session built
  * with `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `builder.withExtensions(new GraftExtensions)`). It injects two
  * things:
  *   - graft's native expressions, which is how a user of this engine
  *     gets `cosine_sim(...)` / `simhash64(...)` / `lsh_bucket(...)` in
  *     plain SQL text on a real cluster, with no per-session
  *     registration calls;
  *   - the AQE runtime rule [[GraftExtensions.SortSmallResultInOneTask]]:
  *     a presentation sort (a global `Sort` at the root of the query,
  *     under only `Project`/`Filter`) whose whole input is already
  *     materialized in query stages, and is no larger than
  *     `spark.sql.adaptive.advisoryPartitionSizeInBytes`, runs in one
  *     task instead of behind a range exchange, which saves the range
  *     bounds' sampling job and one single-task map stage.
  *
  * Sessions that only call [[GraftExtensions.ensure]] get the functions
  * but not the rule. The rule runs only where AQE re-optimizes the
  * query's own root, so a `count()` (which drops the sort) never sees
  * it, and neither does a sort under a limit (`TakeOrderedAndProject`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), GraftExtensions.info(name, cls), build))
    }
    ext.injectRuntimeOptimizerRule(GraftExtensions.SortSmallResultInOneTask(_))
  }
}

object GraftExtensions {

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$name requires exactly $n argument${if (n == 1) "" else "s"}, got ${args.length}")

  /** The one function table: SQL name, implementing class, builder.
    * Each builder validates arity so a misuse fails analysis with a
    * clear message instead of an IndexOutOfBoundsException (or silently
    * dropping arguments).
    *
    * `bloom_filter_agg(xxhash64(x)[, items, bits])` and
    * `might_contain(bloomBinary, xxhash64(x))` expose Spark's OWN
    * bloom-filter expressions, which Catalyst ships for runtime
    * row-level filtering but leaves out of the public registry: the
    * ingest pipeline's incremental-dedup pre-filter (see
    * NearDedup.dedupBloom) gets codegen membership tests and NO custom
    * sketch code. The aggregate's input must be the 64-bit hash
    * (xxhash64) of the key, matching how Spark's own injected filters
    * are built.
    */
  private[graft] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], args => {
      arity("cosine_sim", 2, args); CosineSimilarity(args.head, args(1))
    }),
    ("simhash64", classOf[SimHash64], args => {
      arity("simhash64", 1, args); SimHash64(args.head)
    }),
    ("lsh_bucket", classOf[LshBucket], LshBucket.build),
    ("hilbert_code", classOf[HilbertCode], HilbertCode.build),
    ("signed_project", classOf[SignedProject], SignedProject.build),
    ("kgrams", classOf[KGrams], KGrams.build),
    ("bloom_filter_agg", classOf[BloomFilterAggregate], {
      case Seq(child) => new BloomFilterAggregate(child)
      case Seq(child, items) => new BloomFilterAggregate(child, items)
      case Seq(child, items, bits) => new BloomFilterAggregate(child, items, bits)
      case args => throw new IllegalArgumentException(
        s"bloom_filter_agg takes 1-3 arguments, got ${args.length}")
    }),
    ("might_contain", classOf[BloomFilterMightContain], args => {
      arity("might_contain", 2, args); BloomFilterMightContain(args.head, args(1))
    }))

  /** AQE runtime rule: sort a small, already-materialized final result
    * in one task.
    *
    * Matches a global `Sort` at the plan root, with only `Project` and
    * `Filter` above it, when every leaf under it is a materialized
    * `LogicalQueryStage` and its input's `sizeInBytes` (the stages'
    * runtime statistics) is at most the advisory partition size, the
    * size AQE itself targets for one post-shuffle partition. It
    * rewrites `Sort(global, child)` to
    * `Sort(global, Repartition(1, shuffle = false, child))`:
    *   - `CoalesceExec(1)` reports `SinglePartition`, so
    *     `EnsureRequirements` plans no range exchange;
    *   - AQE adopts the re-planned tree because it holds fewer shuffles;
    *   - AQE re-optimizes as soon as the last child stage materializes,
    *     before it creates the range stage, so the sampling job never
    *     starts.
    *
    * The rows and their order by the sort key are unchanged. Rows with
    * equal keys come out in the order the one task reads them; behind a
    * range exchange that order was not fixed either.
    */
  private[graft] case class SortSmallResultInOneTask(session: SparkSession)
      extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case s @ Sort(_, true, child, _) if fits(child) =>
        s.copy(child = Repartition(1, shuffle = false, child))
      case p @ (_: Project | _: Filter) => p.withNewChildren(Seq(apply(p.children.head)))
      case other => other
    }

    private def fits(child: LogicalPlan): Boolean = child match {
      case Repartition(1, false, _) => false // already rewritten
      case _ =>
        child.collectLeaves().forall {
          case q: LogicalQueryStage => q.isMaterialized
          case _ => false
        } && child.stats.sizeInBytes <=
          session.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    }
  }

  private def info(name: String, cls: Class[_]): ExpressionInfo =
    new ExpressionInfo(cls.getName, name)

  /** Register every function of the table that `spark` does not already
    * resolve — the library path for sessions built without the
    * extension. Idempotent: a name already present (injected, or
    * registered by an earlier call) keeps its builder.
    */
  def ensure(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, cls, build) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) reg.registerFunction(id, info(name, cls), build)
    }
  }
}
