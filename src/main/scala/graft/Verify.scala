package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Correctness dump: each declared query's result → parquet
  * (`SparkEntry.queries`, derived from the one `SparkEntry.registry`),
  * plus oracle_sql.json (`SparkEntry.oracleSql`: name → DuckDB SQL for
  * the queries whose `Query` declares an oracle), for the DuckDB oracle
  * compare (tools/compare.py), _errors.json (query → exception) and
  * _timings.json (query → wall seconds of building and writing it, and
  * its output rows). */
object Verify {

  /** Output rows of each parquet write, keyed by the name of the
    * directory written, read from the write's `numOutputRows` metric —
    * no extra job. Listener events arrive asynchronously; stopping the
    * session delivers every pending one.
    */
  private[graft] final class WrittenRows extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      collectFirst(qe.executedPlan) { case w: DataWritingCommandExec => w }
        .foreach { w =>
          (w.cmd, w.metrics.get("numOutputRows")) match {
            case (i: InsertIntoHadoopFsRelationCommand, Some(m)) =>
              rows.put(i.outputPath.getName, m.value)
            case _ =>
          }
        }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing names: dump only those queries (local rehearsal
    // of a single query; the driver always passes exactly two args)
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession.start()
    new java.io.File(outDir).mkdirs()
    // Environment-drift preflight: log every table's resolved schema once,
    // so a corpus regeneration shows up as one loud diagnostic line
    // instead of N queries silently vanishing from CORRECTNESS.
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      try System.err.println(s"[verify:schema] $t: " +
        spark.read.parquet(s"$sfDir/$t.parquet").schema.simpleString)
      catch { case e: Throwable =>
        System.err.println(s"[verify:schema] $t: UNREADABLE ${e.getMessage}")
      }
    // Failed queries must be first-class data, not silently-absent
    // CORRECTNESS entries: collect name → error and write _errors.json.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val wallSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val written = new WrittenRows
    spark.listenerManager.register(written)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        wallSecs(name) = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
      }
      // Release the finished query's localCheckpoint blocks (same
      // hygiene as Bench: nothing is reused across queries, and 176
      // unreleased checkpoint sets degrade the tail of the session).
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop() // delivers the listener's pending events
    Files.writeString(Paths.get(s"$outDir/_timings.json"),
      wallSecs.map { case (k, s) =>
        val rows = Option(written.rows.get(k)).fold("null")(_.toString)
        s"${q(k)}: {\"wall_s\": ${"%.3f".formatLocal(java.util.Locale.ROOT, s)}, " +
          s"\"rows\": $rows}"
      }.mkString("{", ",", "}"))
  }
}
