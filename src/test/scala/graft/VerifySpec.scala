package graft

/** Verify's `_timings.json` rows come from each write's own metric. */
class VerifySpec extends SparkTestBase {

  test("WrittenRows reads a parquet write's row count from its numOutputRows metric") {
    val written = new Verify.WrittenRows
    spark.listenerManager.register(written)
    try {
      val dir = tempDir("graft_verify_")
      spark.range(37).toDF("id").coalesce(1).write.parquet(s"$dir/some_query")
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30e9.toLong
      while (!written.rows.containsKey("some_query") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(written.rows.get("some_query") == 37L)
    } finally spark.listenerManager.unregister(written)
  }
}
