package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, explode, lit}

/** GraftExtensions' AQE runtime rule: a small, already-materialized
  * final result is sorted in one task, with no range exchange, no
  * sampling job for the range bounds and no single-task map stage.
  * Every test here also checks the case the rule does rewrite, so each
  * one fails in a session without the rule.
  */
class PresentationSortSpec extends SparkTestBase {

  private def pricing(s: SparkSession = spark): DataFrame =
    SparkEntry.queries("agg_pricing")(s, sf)

  /** The final adaptive plan, after `collect()`. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    planOf(df).split("== Initial Plan ==").head
  }

  private def ranges(plan: String): Int =
    plan.linesIterator.count(_.contains("Exchange rangepartitioning"))

  /** A session sharing the test context, with `confs` set on it alone. */
  private def sessionWith(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  test("agg_pricing sorts its final result in one task: no range exchange, 2 jobs") {
    val df = pricing()
    val (plan, jobs) = jobsOf(finalPlan(df))
    assert(ranges(plan) === 0, plan)
    assert(plan.contains("Coalesce 1"), plan)
    // the partial-aggregate map stage and the result stage; a range
    // exchange adds its sampling job and its own map stage
    assert(jobs === 2, s"the collect started $jobs jobs")
  }

  test("agg_pricing's rows, in order, equal those of the query run without AQE") {
    val df = pricing()
    assert(ranges(finalPlan(df)) === 0)
    val expected = pricing(sessionWith("spark.sql.adaptive.enabled" -> "false")).collect()
    assert(expected.nonEmpty)
    assert(df.collect().toSeq === expected.toSeq)
  }

  test("an input larger than the advisory partition size keeps its range exchange") {
    assert(ranges(finalPlan(pricing())) === 0)
    val small = sessionWith("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")
    val plan = finalPlan(pricing(small))
    assert(ranges(plan) === 1, plan)
    assert(!plan.contains("Coalesce"), plan)
  }

  test("a sort with a limit still plans TakeOrderedAndProject, with no Coalesce") {
    assert(finalPlan(pricing()).contains("Coalesce 1"))
    val plan = finalPlan(pricing().limit(2))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Coalesce"), plan)
  }

  test("a global sort below the root is left alone") {
    assert(ranges(finalPlan(pricing())) === 0)
    // a Generate above the sort: the sort is no longer the presentation
    // sort, and its order feeds the explode
    val plan = finalPlan(pricing().select(col("*"), explode(array(lit(1), lit(2))).as("copy")))
    assert(ranges(plan) === 1, plan)
    assert(!plan.contains("Coalesce"), plan)
  }
}
