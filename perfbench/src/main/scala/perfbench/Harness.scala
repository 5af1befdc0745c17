package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._

/** JVM side of the benchmark. One client runs graft's declared queries
  * one after another (a closed loop): a cold pass in a fresh JVM with an
  * empty artifact root, then a given number of warm passes. Each query is
  * timed from the builder call `SparkEntry.queries(name)(spark, dir)`
  * until `collect()` has returned every output row and column.
  *
  * Modes (run.py drives them):
  *   run <cores> <corpus> <names> <seed> <warm passes> <trace parity> <out>
  *                                      every distinct output to <out>/rows
  *   blowup <cores> <src> <out> <factor> ScaleProbe.buildBlowup into <out>
  *   inventory <out>                    every query name with its oracle SQL
  *   selftest <cores>                   a slow projected column is timed
  */
object Harness {
  private val ExecTag = "perfbench.exec"

  def main(args: Array[String]): Unit = args(0) match {
    case "run" => run(args(1).toInt, args(2), args(3), args(4).toLong,
      args(5).toInt, args(6).toInt, Paths.get(args(7)))
    case "blowup" =>
      val spark = session(args(1).toInt)
      graft.ScaleProbe.buildBlowup(spark, args(2), args(3), args(4).toInt)
      spark.stop()
    case "inventory" =>
      val oracle = graft.SparkEntry.oracleSql
      val body = graft.SparkEntry.queries.keys.toSeq.sorted.map { n =>
        s"${Json.str(n)}: ${oracle.get(n).map(Json.str).getOrElse("null")}"
      }
      write(Paths.get(args(1)), body.mkString("{", ",\n", "}\n"))
    case "selftest" => selftest(args(1).toInt)
  }

  /** The session Bench builds, at `cores` threads and shuffle
    * partitions; "READY" on stdout marks the end of set-up.
    */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = ManagementFactory.getRuntimeMXBean.getUptime
    spark.range(1000).selectExpr("sum(id)").collect()
    System.err.println(s"[perfbench] session up ${sessionMs} ms, first job done " +
      s"${ManagementFactory.getRuntimeMXBean.getUptime} ms after JVM start")
    println("READY")
    System.out.flush()
    spark
  }

  /** The timed action: every output row and column is returned to the caller. */
  def materialize(df: DataFrame): Array[Row] = df.collect()

  /** Names an output for de-duplication only; run.py checks the values.
    * Every value is delimited, so equal digests mean equal rows in the
    * same order (unequal ones may still hold equal values).
    */
  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(v: Any): Unit = v match {
      case null => md.update('N'.toByte)
      case r: Row => md.update('('.toByte); r.toSeq.foreach(put); md.update(')'.toByte)
      case b: Array[Byte] => put(b.toSeq)
      case xs: Iterable[_] => md.update('['.toByte); xs.foreach(put); md.update(']'.toByte)
      case x =>
        val b = x.toString.getBytes(UTF_8)
        md.update(s"${b.length}:".getBytes(UTF_8)); md.update(b)
    }
    rows.foreach(put)
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def nowMs(): Double = System.nanoTime() / 1e6

  private def write(p: Path, s: String): Unit = {
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(UTF_8))
  }

  // ---- the run -----------------------------------------------------------

  final case class Exec(name: String, pass: Int, traced: Boolean,
      wallMs: Double, buildMs: Double, analyzeMs: Double, optimizeMs: Double,
      physicalMs: Double, actionMs: Double, rows: Long, error: Option[String],
      output: String, artifacts: Map[String, Double], trace: Option[Trace])

  final case class PassRec(pass: Int, traced: Boolean, queriesMs: Double,
      wallMs: Double, cpuMs: Double, jitMs: Long, gcMs: Long, gcCount: Long,
      codegen: Long)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def jvmSnapshot(): (Long, Long, Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** `traceParity` 0 traces nothing; 1 or 2 traces the cold pass and the
    * warm passes of that parity (odd or even), so two JVMs with opposite
    * parities each trace one of the same pair of pass positions.
    */
  def run(cores: Int, dir: String, namesFile: String, seed: Long,
      warmPasses: Int, traceParity: Int, out: Path): Unit = {
    val trace = traceParity > 0
    val names = Files.readAllLines(Paths.get(namesFile)).asScala
      .map(_.trim).filter(_.nonEmpty).toVector
    val spark = session(cores)
    val sc = spark.sparkContext
    val recorder = new Recorder(ExecTag)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    // every distinct output, by query and digest, written after the run
    val outputs = mutable.LinkedHashMap.empty[(String, String), (StructType, Array[Row])]
    var execId = 0L

    def runPass(pass: Int, traced: Boolean): Unit = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      if (traced) sc.addSparkListener(recorder)
      val (jit0, gc0, gcn0, cg0) = jvmSnapshot()
      val cpu0 = os.getProcessCpuTime
      val p0 = nowMs()
      var queriesMs = 0.0
      order.foreach { name =>
        execId += 1
        sc.setLocalProperty(ExecTag, execId.toString)
        val built0 = graft.sources.Materialize.buildTimes
        val epoch0 = System.currentTimeMillis() - nowMs()
        val t0 = nowMs()
        var t1, t2, t3, t4 = t0
        var df: DataFrame = null
        var rows: Array[Row] = Array.empty
        val error = try {
          df = graft.SparkEntry.queries(name)(spark, dir)
          t1 = nowMs()
          df.queryExecution.analyzed
          t2 = nowMs()
          df.queryExecution.optimizedPlan
          t3 = nowMs()
          df.queryExecution.executedPlan
          t4 = nowMs()
          rows = materialize(df)
          None
        } catch { case NonFatal(e) =>
          Some(s"${e.getClass.getName}: ${e.getMessage}")
        }
        val t5 = nowMs()
        // Outside the timed interval: release blocks the query cached
        // (as Bench does), then attribute the traced spans.
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val built = graft.sources.Materialize.buildTimes
          .filter { case (k, _) => !built0.contains(k) }
        val tr = if (!traced) None else {
          Bus.drain(sc)
          val plan = if (df == null) None else Some(df.queryExecution.executedPlan)
          Some(recorder.take(execId.toString, epoch0 + t0, epoch0 + t4,
            epoch0 + t5, plan))
        }
        val output = if (error.nonEmpty) "" else {
          val d = digest(rows)
          outputs.getOrElseUpdate((name, d), (df.schema, rows))
          d
        }
        error.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
        queriesMs += t5 - t0
        execs += Exec(name, pass, traced, t5 - t0, t1 - t0, t2 - t1, t3 - t2,
          t4 - t3, t5 - t4, rows.length.toLong, error, output, built, tr)
      }
      val p1 = nowMs()
      val cpu1 = os.getProcessCpuTime
      val (jit1, gc1, gcn1, cg1) = jvmSnapshot()
      if (traced) sc.removeSparkListener(recorder)
      passes += PassRec(pass, traced, queriesMs, p1 - p0, (cpu1 - cpu0) / 1e6,
        jit1 - jit0, gc1 - gc0, gcn1 - gcn0, cg1 - cg0)
    }

    // Pass 0 is cold, then a fixed number of warm passes: a pass count
    // that followed the clock would give a faster JVM more passes, and
    // later passes run faster. In a traced run, traced and untraced
    // passes alternate, so the tracing overhead is measured.
    runPass(0, trace)
    (1 to warmPasses).foreach(p => runPass(p, trace && p % 2 == traceParity % 2))
    sc.setLocalProperty(ExecTag, null)
    // After timing: each distinct output goes to parquet, as Verify
    // writes a query's output, for run.py to check against DuckDB.
    outputs.foreach { case ((name, d), (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(out.resolve("rows").resolve(name).resolve(d).toString)
    }
    outputs.clear()
    // Full GCs around a pause, so the context cleaner has dropped the
    // blocks of broadcasts the first GC collected.
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500); System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val retainedMb = mem.getHeapMemoryUsage.getUsed / 1048576.0
    val heapMaxMb = mem.getHeapMemoryUsage.getMax / 1048576.0
    val codeCacheMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
      .map(p => math.max(p.getUsage.getMax, p.getUsage.getCommitted)).sum / 1048576.0

    val oracle = graft.SparkEntry.oracleSql
    val result = Json.obj(
      "retained_heap_mb" -> Json.num(retainedMb),
      "heap_max_mb" -> Json.num(heapMaxMb),
      "code_cache_mb" -> Json.num(codeCacheMb),
      "cores" -> cores.toString,
      "oracle" -> Json.obj(names.map(n => n -> oracle.get(n).map(Json.str).getOrElse("null")): _*),
      "passes" -> passes.map(p => Json.obj(
        "pass" -> p.pass.toString, "traced" -> p.traced.toString,
        "queries_ms" -> Json.num(p.queriesMs), "wall_ms" -> Json.num(p.wallMs),
        "cpu_ms" -> Json.num(p.cpuMs),
        "jit_ms" -> p.jitMs.toString, "gc_ms" -> p.gcMs.toString,
        "gc_count" -> p.gcCount.toString, "codegen_compiles" -> p.codegen.toString
      )).mkString("[", ",\n", "]"),
      "execs" -> execs.map(e => Json.obj(Seq(
        "name" -> Json.str(e.name), "pass" -> e.pass.toString,
        "traced" -> e.traced.toString, "wall_ms" -> Json.num(e.wallMs),
        "build_ms" -> Json.num(e.buildMs), "analyze_ms" -> Json.num(e.analyzeMs),
        "optimize_ms" -> Json.num(e.optimizeMs),
        "physical_ms" -> Json.num(e.physicalMs),
        "action_ms" -> Json.num(e.actionMs), "rows" -> e.rows.toString,
        "error" -> e.error.map(Json.str).getOrElse("null"),
        "output" -> Json.str(e.output),
        "artifacts" -> Json.obj(e.artifacts.toSeq.map { case (k, s) =>
          k -> Json.num(s * 1000) }: _*)) ++
        e.trace.toSeq.map(t => "trace" -> t.json): _*)).mkString("[", ",\n", "]"))
    write(out.resolve("result.json"), result)
    if (trace) write(out.resolve("spans.jsonl"), recorder.spans.mkString("\n"))
    spark.stop()
  }

  // ---- the self-test -------------------------------------------------------

  /** A deliberately slow projected column must fall inside the timed
    * interval. `count()` prunes it, so it is timed as well, to show the
    * check can tell the two apart. Then the traced split: a job with no
    * query tag inside an execution's interval must count as
    * unattributed, and the execution's own job must not. Exits non-zero
    * on failure.
    */
  def selftest(cores: Int): Unit = {
    val spark = session(cores)
    val sc = spark.sparkContext
    val sleepMs = 500
    val slow = udf { (x: Long) => Thread.sleep(sleepMs); x }
    val df = spark.range(4).coalesce(1).select(col("id"), slow(col("id")).as("slow"))
    val t0 = nowMs(); val rows = materialize(df); val timedMs = nowMs() - t0
    val c0 = nowMs(); df.count(); val countMs = nowMs() - c0
    val timedOk = rows.length == 4 && timedMs >= 4 * sleepMs && countMs < 4 * sleepMs
    println(f"selftest: materialize ${timedMs}%.0f ms, count ${countMs}%.0f ms, " +
      s"slow column ${4 * sleepMs} ms: ${if (timedOk) "PASS" else "FAIL"}")

    val recorder = new Recorder(ExecTag)
    sc.addSparkListener(recorder)
    val epoch0 = System.currentTimeMillis() - nowMs()
    val s0 = nowMs()
    sc.setLocalProperty(ExecTag, "1")
    materialize(df)
    sc.setLocalProperty(ExecTag, null)
    materialize(df)
    val s1 = nowMs()
    Bus.drain(sc)
    val tr = recorder.take("1", epoch0 + s0, epoch0 + s0, epoch0 + s1, None)
    spark.stop()
    val traceOk = tr.jobs == 1 && tr.unattributedMs >= 4 * sleepMs &&
      tr.unattributedMs < (s1 - s0) - 4 * sleepMs
    println(f"selftest: ${tr.jobs} tagged job, ${tr.unattributedMs}%.0f ms unattributed " +
      f"of ${s1 - s0}%.0f ms: ${if (traceOk) "PASS" else "FAIL"}")
    if (!(timedOk && traceOk)) sys.exit(1)
  }
}

/** Minimal JSON writing: values are pre-rendered strings. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Per-layer attribution for one traced query execution, in ms. */
final case class Trace(jobs: Int, buildJobs: Int, stages: Int, tasks: Int,
    outsideJobsMs: Double, inJobIdleMs: Double, busyMs: Double,
    unattributedMs: Double, taskRunMs: Double, taskCpuMs: Double, taskGcMs: Double,
    recordsRead: Long, bytesRead: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, bytesWritten: Long, singleTaskStageMs: Double,
    planNodes: Int, exchanges: Int) {
  def json: String = Json.obj(
    "jobs" -> jobs.toString, "build_jobs" -> buildJobs.toString,
    "stages" -> stages.toString, "tasks" -> tasks.toString,
    "outside_jobs_ms" -> Json.num(outsideJobsMs),
    "in_job_idle_ms" -> Json.num(inJobIdleMs), "busy_ms" -> Json.num(busyMs),
    "unattributed_ms" -> Json.num(unattributedMs),
    "task_run_ms" -> Json.num(taskRunMs), "task_cpu_ms" -> Json.num(taskCpuMs),
    "task_gc_ms" -> Json.num(taskGcMs), "records_read" -> recordsRead.toString,
    "bytes_read" -> bytesRead.toString, "shuffle_write_bytes" -> shuffleWrite.toString,
    "shuffle_read_bytes" -> shuffleRead.toString, "spill_bytes" -> spill.toString,
    "bytes_written" -> bytesWritten.toString,
    "single_task_stage_ms" -> Json.num(singleTaskStageMs),
    "plan_nodes" -> planNodes.toString, "exchanges" -> exchanges.toString)
}

object Recorder {
  final case class Job(id: Int, start: Long, var end: Long)
  final case class Stage(id: Int, tasks: Int, submit: Long, done: Long)
  final case class Task(stage: Int, launch: Long, finish: Long,
      run: Long, cpuNs: Long, gc: Long, recRead: Long, bytesRead: Long,
      shWrite: Long, shRead: Long, spill: Long, written: Long)
}

/** Records jobs, stages and tasks per query execution (tagged through a
  * local property, which Spark propagates to broadcast and subquery
  * threads) and keeps the span records in memory until the run ends.
  */
final class Recorder(tag: String) extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  import Recorder._

  private val stageTag = mutable.Map.empty[Int, String]
  private val jobs = mutable.Map.empty[String, mutable.ArrayBuffer[Job]]
  private val stages = mutable.Map.empty[String, mutable.ArrayBuffer[Stage]]
  private val tasks = mutable.Map.empty[String, mutable.ArrayBuffer[Task]]
  private val jobById = mutable.Map.empty[Int, Job]
  val spans = mutable.ArrayBuffer.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = Option(e.properties).flatMap(p => Option(p.getProperty(tag))).getOrElse("-")
    val j = Job(e.jobId, e.time, -1L)
    jobById(e.jobId) = j
    jobs.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += j
    e.stageIds.foreach(s => stageTag.getOrElseUpdate(s, t))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val t = stageTag.getOrElse(i.stageId, "-")
    stages.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += Stage(i.stageId,
      i.numTasks, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stageTag.getOrElse(e.stageId, "-")
    val m = e.taskMetrics
    val i = e.taskInfo
    val task = if (m == null) Task(e.stageId, i.launchTime, i.finishTime,
      0, 0, 0, 0, 0, 0, 0, 0, 0) else Task(e.stageId, i.launchTime,
      i.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    tasks.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += task
  }

  /** Sorted, merged union of closed intervals, clipped to [lo, hi]. */
  private def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    clipped.foldLeft(List.empty[(Double, Double)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse
  }
  private def intersect(xs: Seq[(Double, Double)], ys: Seq[(Double, Double)]): Double =
    (for ((a, b) <- xs; (c, d) <- ys) yield math.max(0.0, math.min(b, d) - math.max(a, c))).sum

  private def length(iv: Seq[(Double, Double)]): Double = iv.map { case (a, b) => b - a }.sum

  /** Attributes and forgets everything recorded for execution `id`;
    * `start`, `actionStart` and `end` are epoch ms. Job time the spans
    * cannot hold is unattributed: this execution's job time outside
    * [start, end], and untagged job time inside it.
    */
  def take(id: String, start: Double, actionStart: Double, end: Double,
      plan: Option[SparkPlan]): Trace = synchronized {
    def interval(j: Job) = (j.start.toDouble, if (j.end < 0) end else j.end.toDouble)
    val untagged = jobs.remove("-").getOrElse(Nil).map(interval).toSeq
    Seq(stages, tasks).foreach(_.remove("-"))
    val js = jobs.remove(id).getOrElse(mutable.ArrayBuffer.empty)
    val ss = stages.remove(id).getOrElse(mutable.ArrayBuffer.empty)
    val ts = tasks.remove(id).getOrElse(mutable.ArrayBuffer.empty)
    val jobIv = js.map(interval).toSeq
    val inf = Double.PositiveInfinity
    val unattributedMs = length(union(jobIv, -inf, inf)) - length(union(jobIv, start, end)) +
      length(union(untagged, start, end))
    val covered = union(jobIv, actionStart, end)
    val coveredMs = length(covered)
    val busyMs = intersect(union(ts.map(t => (t.launch.toDouble, t.finish.toDouble)).toSeq,
      actionStart, end), covered)
    val helper = new AdaptiveSparkPlanHelper {}
    val nodes = plan.map(p => helper.collect(p) { case n => n }).getOrElse(Nil)
    js.foreach(j => spans += Json.obj("span" -> Json.str("job"), "exec" -> Json.str(id),
      "id" -> j.id.toString, "start" -> j.start.toString, "end" -> j.end.toString))
    ss.foreach(s => spans += Json.obj("span" -> Json.str("stage"), "exec" -> Json.str(id),
      "id" -> s.id.toString, "tasks" -> s.tasks.toString,
      "start" -> s.submit.toString, "end" -> s.done.toString))
    Trace(
      jobs = js.size,
      buildJobs = js.count(_.start < actionStart),
      stages = ss.size,
      tasks = ts.size,
      outsideJobsMs = (end - actionStart) - coveredMs,
      inJobIdleMs = coveredMs - busyMs,
      busyMs = busyMs,
      unattributedMs = unattributedMs,
      taskRunMs = ts.map(_.run).sum.toDouble,
      taskCpuMs = ts.map(_.cpuNs).sum / 1e6,
      taskGcMs = ts.map(_.gc).sum.toDouble,
      recordsRead = ts.map(_.recRead).sum,
      bytesRead = ts.map(_.bytesRead).sum,
      shuffleWrite = ts.map(_.shWrite).sum,
      shuffleRead = ts.map(_.shRead).sum,
      spill = ts.map(_.spill).sum,
      bytesWritten = ts.map(_.written).sum,
      singleTaskStageMs = ss.filter(_.tasks == 1).map(s => (s.done - s.submit).toDouble).sum,
      planNodes = nodes.size,
      exchanges = nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      })
  }
}
