package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs — one JVM-wide session (sbt forks a
  * single test JVM), sf0.001 fixtures for speed. Built by GraftSession like
  * every main, at 4 cores, so semantics pinned here hold at the gate.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** Physical-plan text after execution planning (AQE initial plan). */
  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString
}

object SparkTestBase {
  lazy val session: SparkSession =
    GraftSession.start(GraftSession.builder(cpus = 4).appName("graft-tests"))
}
