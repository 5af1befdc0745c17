package graft

/** Benchmark main — runs every declared query twice at
  * SPARK_GRAFT_SF_DIR and prints ONE compact JSON line.
  *
  * The driver captures only the LAST ~2000 characters of stdout and
  * parses the JSON line out of that tail. TWO separate failure modes
  * produced "parsed": null in past rounds: (1) rounds 1-4, the
  * full-precision cold+warm maps pushed the line past the window;
  * (2) round 5, the line FIT but sbt's default LoggedOutput decorated
  * forked stdout with an "[info] " prefix, so a strict json.loads on
  * the line still failed — fixed by `outputStrategy :=
  * StdoutOutput` in build.sbt (raw pass-through). So: the stdout line
  * is kept deliberately small (warm times at 2 decimals, cold runs
  * summarized by one total, an ITERATIVE fallback that keeps only the
  * top-N slowest queries until the line provably fits), numbers are
  * formatted under Locale.ROOT (a comma-decimal default locale would
  * emit `0,12` and break the parse), and the JSON must be the final
  * stdout line. Full-precision cold+warm per-query numbers go to
  * target/bench_detail.json.
  */
object Bench {
  /** Current core-0 frequency from /proc/cpuinfo, 0 when unreadable —
    * closed properly (Using), best-effort by design.
    */
  private def cpuMhzNow(): Int = scala.util.Using(
    scala.io.Source.fromFile("/proc/cpuinfo")) { src =>
    src.getLines().find(_.startsWith("cpu MHz"))
      .map(_.split(":")(1).trim.toDouble.toInt).getOrElse(0)
  }.getOrElse(0)

  def main(args: Array[String]): Unit = {
    // Sample the 1-min load average BEFORE any Spark work: during the
    // run the bench's own local tasks dominate the load, so only the
    // entry-time reading reflects pre-existing machine contention.
    val loadAvgAtStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val cpuMhzAtStart = cpuMhzNow()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start()
    // Warm up session machinery (first-job scheduler + codegen init costs
    // ~5 s and belongs to the JVM, not to whichever query runs first).
    spark.range(1000).selectExpr("sum(id)").collect()
    // Each query runs cold then warm; a warm run that looks STALLED
    // (> 1 s AND > 2x its own cold) is re-run once and the minimum is
    // reported. One warm sample is not enough: this environment shows
    // one multi-second stall per bench session landing on a random
    // query's second run (observed: subq_exists 5.2 s warm vs 1.1 s
    // cold, next session 0.5 s; then tpch_q18 9.6 s warm vs 2.0 s cold)
    // — the conditional retry keeps a single stall out of the 2x verdict
    // while adding only the spiked queries' time to the session (an
    // unconditional third run would cost ~40% more wall under driver
    // contention). JIT/codegen one-offs still stay in the cold number.
    // A failed query records the time it burned before throwing (so the
    // totals stay meaningful) and its name under "failed" — a -1 or an
    // omission would silently DEDUCT.
    // Sorted-name run order: Map iteration order shuffles whenever the
    // query set changes, which confounded cross-round per-query deltas
    // with run-order/GC noise (the r4/r6 sub-second "slow cluster").
    // A fixed order makes per-query times comparable round-to-round.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          if (!failed.contains(name)) failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // Block-manager hygiene: iterative/self-join operators
        // localCheckpoint intermediates; each invocation rebuilds its
        // own, so a finished run's blocks are garbage — but unreleased
        // they accumulate across the session's ~350 executions and
        // degrade later queries (r7 showed pagerank 36.8 s in-bench vs
        // 2.9 s isolated). Released OUTSIDE the timed window, BLOCKING:
        // async eviction would run concurrently with the next query's
        // timed cold run — blocking puts the cost in the harness gap
        // where it belongs.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        dt
      }
      val cold = once()
      val warm1 = once()
      // Stall detector: a warm run materially SLOWER than its own cold
      // is physically backwards (cold carries codegen + footer reads),
      // so it's an environment stall, not the query. 1.3x (was 2x)
      // after observing 4.4 s warm vs 2.5 s cold slip through: the
      // retry only fires on >1 s queries showing the inversion, so the
      // extra wall cost stays bounded to genuinely-spiked runs.
      val warm =
        if (warm1 > 1.0 && warm1 > 1.3 * cold) math.min(warm1, once()) else warm1
      name -> (cold, warm)
    }
    val warmTotal = results.map(_._2._2).sum
    val coldTotal = results.map(_._2._1).sum
    // The stdout line carries at most 8 failed names + the total count;
    // a mass-failure round must not blow the line past the driver's
    // 2000-char tail window (lineFor(0) stays a small constant). The
    // FULL list goes to bench_detail.json.
    val failedJson = (failed.take(8).map("\"" + _ + "\"") ++
      (if (failed.size > 8) Seq("\"+" + (failed.size - 8) + " more\"") else Nil))
      .mkString("[", ",", "]")
    // Locale-fixed: the `f` interpolator uses the JVM default locale.
    def f2(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))

    // Full precision for humans / plan review — NOT on stdout.
    val allFailedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val detail = results.sortBy(-_._2._2).map { case (k, (c, w)) =>
      s"""  "$k": {"cold": $c, "warm": $w}"""
    }.mkString("{\n  \"failed\": " + allFailedJson + ",\n", ",\n", "\n}")
    val detailPath = java.nio.file.Paths.get("target", "bench_detail.json")
    java.nio.file.Files.createDirectories(detailPath.getParent)
    java.nio.file.Files.write(detailPath, detail.getBytes("UTF-8"))

    // Artifact-budget tripwire's measurement half (r13): per-kind build
    // wall-seconds for every Materialize artifact this run actually
    // built (cold runs build all of them; warm re-runs build none).
    // first_run_total - warm_total ≈ sum of these + per-query JIT.
    val builds = graft.sources.Materialize.buildTimes.toSeq.sortBy(-_._2)
      .map { case (k, s) => s"""  "$k": ${f2(s)}""" }
      .mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target", "artifact_builds.json"),
      builds.getBytes("UTF-8"))

    // Machine-contention self-documentation: identical code has read
    // 58.6–93 s across rounds purely from co-running load (BASELINE.md
    // variance bands). Reporting the entry-time 1-min load average
    // alongside the total lets any consumer of this line classify a
    // swing as machine-vs-code without a re-run.
    //
    // Floor decomposition (r13 verdict: a contended reading must
    // self-classify in THIS artifact, not only via a re-run): the warm
    // total is a per-query session floor (~0.13 s × |queries|), so on
    // an idle machine the MEDIAN warm time sits near that floor and
    // nearly every query lands under 300 ms. Contention inflates the
    // floor itself — median_warm rises and n_under_300ms falls across
    // the board — while a genuine plan regression moves ONE query
    // (slowest_name/slowest_warm) and leaves the floor stats alone.
    val warms = results.map(_._2._2).sorted
    val medianWarm = if (warms.isEmpty) 0.0 else warms(warms.size / 2)
    val nUnder300 = warms.count(_ < 0.3)
    // Guarded like medianWarm — an empty registry must degrade to a
    // well-formed line, not a maxBy crash (ADVICE r14).
    val (slowName, slowWarm) =
      if (results.isEmpty) ("", 0.0)
      else { val m = results.maxBy(_._2._2); (m._1, m._2._2) }
    // Exit-time load sample (r14 verdict #8): the entry-time reading
    // can't classify a load spike that STARTS mid-run. This one is
    // polluted by the bench's own just-finished local work, so it
    // is only comparable ACROSS runs of the same binary — an idle
    // machine shows a stable self-load band; a reading far above that
    // band means external contention arrived during the window.
    val loadAvgAtEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // EFFECTIVE JVM sizing proof (r16 verdict #1): the 512 MB code
    // cache shipped in build.sbt/run_main.sh fixes a measured late-run
    // codegen-flush smear, but the r16 driver line carried no evidence
    // the flag survived the driver's own fork — so a smeared run could
    // not be attributed (flag missing vs machine load). Read the
    // RESERVED code cache from the live JVM (sum of the segmented
    // CodeHeap pools' max, or the single CodeCache pool pre-segmenting)
    // so the line itself proves which JVM sizing the numbers were
    // measured under. ~240 here means the flag did NOT reach the fork.
    import scala.jdk.CollectionConverters._
    val codeCacheMb = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
      .map(p => math.max(p.getUsage.getMax, p.getUsage.getCommitted))
      .sum / (1024 * 1024)
    // CPU frequency samples (r17): this machine switches between a
    // full-speed band and a ~2100 MHz band WITHIN a boot (identical
    // binaries read 57 s vs 68-70 s warm at load 0.0 either side of
    // the switch; BASELINE.md's historical 58.6-93 s spread is the
    // same effect). load_avg cannot see it — only the frequency can —
    // so the line carries BOTH a start and an end reading (like the
    // load pair: a mid-run band switch shows as start ≠ end and marks
    // the whole run cross-band). Best-effort: 0 when unreadable.
    val cpuMhz: Int = cpuMhzNow()
    def line(qs: String): String =
      s"""{"metric":"total","value":${f2(warmTotal)},"unit":"sec","first_run_total":${f2(coldTotal)},"load_avg_at_start":${f2(loadAvgAtStart)},"load_avg_at_end":${f2(loadAvgAtEnd)},"code_cache_mb":$codeCacheMb,"cpu_mhz":$cpuMhzAtStart,"cpu_mhz_end":$cpuMhz,"median_warm":${f2(medianWarm)},"n_under_300ms":$nUnder300,"slowest_name":"$slowName","slowest_warm":${f2(slowWarm)},"failed_count":${failed.size},"failed":$failedJson,"queries":$qs,"sf":"$sfDir"}"""
    // ~2000-char driver tail minus sbt's trailing "[success] ..." line.
    // Iterative fit: keep the N slowest queries named and fold the rest
    // into one "_others" bucket, shrinking N until the line fits — a
    // single fixed fold threshold could still overflow if most queries
    // ran slow or the failed list grew long. lineFor(0) (everything
    // folded) is a small constant, so termination ⇒ fit.
    val sorted = results.sortBy(-_._2._2)
    def lineFor(n: Int): String = {
      val (big, small) = sorted.splitAt(n)
      val parts = big.map { case (k, (_, w)) => "\"" + k + "\":" + f2(w) } ++
        (if (small.isEmpty) Nil
         else Seq("\"_others_" + small.size + "q\":" + f2(small.map(_._2._2).sum)))
      line(parts.mkString("{", ",", "}"))
    }
    val out = (sorted.size to 0 by -1).iterator.map(lineFor)
      .find(_.length <= 1800).getOrElse(lineFor(0))
    println(out)
    spark.stop()
  }
}
