package graft

import org.apache.spark.sql.functions._
import graft.api.Barrier
import graft.api.Barrier._

/** Pins the two barrier modes (graft.api.Barrier): the default lazy
  * localCheckpoint (single-JVM deployments) and the
  * `spark.graft.barrier.reliable=true` reliable-checkpoint switch a
  * multi-executor deployment uses so materialized blocks survive
  * executor loss. The advisor flagged that truncated local-checkpoint
  * lineage cannot be recomputed after executor loss — this spec proves
  * the documented escape hatch actually engages.
  */
class BarrierSpec extends SparkTestBase {

  test("default barrier cuts lineage to a LogicalRDD and preserves values") {
    val df = spark.range(100).toDF("id").withColumn("x", col("id") * 2)
    val b = df.barrier()
    assert(b.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "barrier must truncate lineage (analyzed root = LogicalRDD)")
    assert(b.agg(sum(col("x"))).head.getLong(0) === 9900L)
  }

  test("lazy barrier defers materialization until the first action") {
    // A lazy barrier must not run jobs at construction: constructing it
    // from a plan that THROWS on evaluation succeeds; only an action
    // trips the failure.
    val poisoned = spark.range(10).toDF("id")
      .withColumn("boom", expr("assert_true(id < 5)"))
    val b = poisoned.barrier(eager = false) // no job here
    intercept[Exception] { b.count() }
  }

  test("reliable mode checkpoints to stable storage and preserves values") {
    val dir = tempDir("graft_ckpt_")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Barrier.ReliableConf, "true")
    try {
      val df = spark.range(50).toDF("id").withColumn("x", col("id") + 1)
      val b = df.barrier()
      assert(b.agg(sum(col("x"))).head.getLong(0) === 1275L)
      // the blocks live in the checkpoint DIRECTORY (stable storage),
      // not just executor memory — that is the whole point of the mode
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(files)
        else Seq(f)
      assert(files(dir.toFile).nonEmpty,
        "reliable barrier must write checkpoint files under the dir")
    } finally spark.conf.set(Barrier.ReliableConf, "false")
  }

  test("reliable mode off by default — conf absent means localCheckpoint") {
    assert(spark.conf.get(Barrier.ReliableConf, "false") === "false")
  }
}
