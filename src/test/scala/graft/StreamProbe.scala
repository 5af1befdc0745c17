package graft

import org.apache.spark.sql.streaming.Trigger

/** Dev tool (r14 verdict item 5): drive the streaming pipelines over an
  * arbitrary events dir — e.g. the 100× blow-up corpus — with
  * Trigger.AvailableNow and report wall time, row throughput, and
  * state-store telemetry (rows/memory per stateful operator, late rows
  * dropped). The replay specs pin CORRECTNESS at toy scale; this probe
  * measures the same pipelines' THROUGHPUT and state growth at ladder
  * scale, where watermark eviction is what keeps dedup/window state
  * sublinear in stream length.
  *
  * The input is first re-chunked into `nChunks` files under /tmp so
  * AvailableNow actually exercises incremental file listing and
  * multi-batch state handoff (the blow-up corpora ship as one parquet
  * file; maxFilesPerTrigger=1 over one file would be a single giant
  * batch — a batch job in disguise).
  *
  * Usage, after `sbt Test/compile`:
  * tools/run_main.sh graft.StreamProbe <eventsDir> [nChunks]
  * Not part of the driver contract.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val inDir = args.headOption.getOrElse("/root/testdata/sf0.1/events.parquet")
    require(new java.io.File(inDir).exists(),
      s"$inDir absent — pass an events.parquet file or directory")
    val nChunks = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = GraftSession.start(GraftSession.builder()
      // Totals below come from q.recentProgress, which is a ring buffer
      // capped by this conf (default 100): at nChunks > ~100 the
      // in/out/late figures would silently undercount while printed as
      // totals (r15 ADVICE). AvailableNow emits ~nChunks+1 progress
      // events plus idle ticks — keep the buffer comfortably above that.
      .config("spark.sql.streaming.numRecentProgressUpdates",
        (nChunks + 16).max(128).toString))

    val work = java.nio.file.Files.createTempDirectory("graft_stream_probe")
    // The work dir holds a re-chunked copy of a potentially 100× corpus
    // plus checkpoints — multiple GB. Delete it on EVERY exit path
    // (stream failure, Ctrl-C), not just success (r15 ADVICE).
    val cleanup = new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile): Unit)
    Runtime.getRuntime.addShutdownHook(cleanup)
    val chunked = s"$work/events"
    val nIn = spark.read.parquet(inDir).count()
    // Chunk by TIME RANGE, not randomly: a real stream's files arrive
    // roughly event-time-ordered; random chunks would declare half the
    // corpus late (watermark races ahead on the first random chunk) and
    // measure the drop path, not the aggregation path. The source picks
    // files up in range order here (same write mtime ⇒ path order).
    val raw = spark.read.parquet(inDir)
    raw.repartitionByRange(nChunks, org.apache.spark.sql.functions.col("ts"))
      .write.mode("overwrite").parquet(chunked)
    // FileStreamSource picks files up in MODIFICATION-TIME order, and a
    // one-job write gives every part the same mtime — ties break
    // arbitrarily, so the max-ts chunk can land in batch 0 and race the
    // watermark to end-of-stream (measured: 91.6% of rows declared late
    // at 100×). Stamp ascending mtimes in part order (= ascending ts
    // range under repartitionByRange) so arrival order matches event
    // time, like a real stream.
    val parts = new java.io.File(chunked).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.setLastModifiedTime(f.toPath,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000L))
    }
    println(s"input rows=$nIn chunks=$nChunks from $inDir")

    def run(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val q = df.writeStream
        .format("noop")
        .option("checkpointLocation", s"$work/ckpt_$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dt = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress
      val outRows = progs.map(_.sink.numOutputRows).filter(_ > 0).sum
      val inRows = progs.map(_.numInputRows).sum
      val states = progs.flatMap(p => Option(p.stateOperators).toSeq.flatten)
      val maxStateRows =
        if (states.isEmpty) 0L else states.map(_.numRowsTotal).max
      val maxStateMb =
        if (states.isEmpty) 0.0 else states.map(_.memoryUsedBytes).max / 1e6
      val dropped = states.map(_.numRowsDroppedByWatermark).sum
      println(f"$name%-18s wall=$dt%7.1fs batches=${progs.length}%3d " +
        f"in=$inRows%9d out=$outRows%9d thru=${inRows / dt}%,9.0f rows/s " +
        f"state_rows_max=$maxStateRows%9d state_mb_max=$maxStateMb%7.1f " +
        f"late_dropped=$dropped%d")
      if (sys.env.contains("GRAFT_STREAM_DEBUG"))
        progs.foreach { p =>
          val wm = Option(p.eventTime).map(_.get("watermark")).orNull
          val st = Option(p.stateOperators).toSeq.flatten
            .map(s => s"${s.operatorName}:rows=${s.numRowsTotal},late=${s.numRowsDroppedByWatermark}")
            .mkString(" ")
          println(f"  batch=${p.batchId}%3d in=${p.numInputRows}%8d wm=$wm $st")
        }
    }

    try {
      run("tumbling_counts",
        streaming.EventsStream.tumblingCounts(spark, chunked))
      run("dedup_events",
        streaming.EventsStream.dedupedEvents(spark, chunked))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
      Runtime.getRuntime.removeShutdownHook(cleanup)
      spark.stop()
    }
  }
}
