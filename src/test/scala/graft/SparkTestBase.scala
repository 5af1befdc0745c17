package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs — one JVM-wide session (sbt forks a
  * single test JVM), sf0.001 fixtures for speed. Built by GraftSession like
  * every main, at 4 cores, so semantics pinned here hold at the gate.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf: String = "/root/testdata/sf0.001"

  /** Physical-plan text after execution planning (AQE initial plan). */
  def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** `body`'s value and the number of jobs it started on this thread
    * (tagged; a marker job run after it flushes the listener queue).
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft_jobs_${java.util.UUID.randomUUID()}"
    val marker = s"${tag}_marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").toSet)
        if (tags(tag)) jobs.incrementAndGet()
        if (tags(marker)) flushed.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      sc.addJobTag(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(marker)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp directory, deleted recursively after this suite. */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.synchronized(tempDirs.foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)))
}

object SparkTestBase {
  lazy val session: SparkSession =
    GraftSession.start(GraftSession.builder(cpus = 4).appName("graft-tests"))
}
