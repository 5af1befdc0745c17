package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Bench, Verify, Explain, Fuzz,
  * the probes and the test base all start from [[builder]], so every
  * surface runs under the same configuration:
  *   - `local[cpus]` with `cpus` shuffle partitions;
  *   - UTC session time zone;
  *   - `nanosAsLong`, needed only if the corpus ships the INT64-ns
  *     `events.ts` era (see `Tables.tsUtc`), harmless on the
  *     timestamp[us] era, and set at init so session state does not
  *     depend on query order;
  *   - UI off;
  *   - `graft.GraftExtensions`, so graft's native functions resolve in
  *     SQL text without per-query registration;
  *   - the `SPARK_GRAFT_EXTRA_CONFS` A/B hook, applied last.
  *
  * A guard test (GraftSessionSpec) fails on any other session builder in
  * the main sources.
  */
object GraftSession {

  /** Local threads and shuffle partitions: `SPARK_GRAFT_CPUS` when set,
    * else every available processor.
    */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A builder with graft's session configuration; callers may add
    * confs before [[start]].
    */
  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    applyExtraConfs(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions"))

  /** Get or create the session and set the WARN log level. */
  def start(b: SparkSession.Builder = builder()): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The `SPARK_GRAFT_EXTRA_CONFS` A/B hook for session-conf experiments
    * ("k=v;k=v"). Blank segments (trailing/double semicolons) are
    * ignored; a segment without '=' is a hard, named error, so a typo'd
    * experiment conf fails loudly instead of half-applying. Unset means
    * the shipped defaults above.
    */
  private def applyExtraConfs(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_EXTRA_CONFS").foreach(_.split(";").foreach { kv =>
      val s = kv.trim
      if (s.nonEmpty) s.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => b.config(k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_EXTRA_CONFS segment '$s' is not of the form key=value")
      }
    })
    b
  }
}
