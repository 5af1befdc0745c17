package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each declared query's result → parquet
  * (`SparkEntry.queries`, derived from the one `SparkEntry.registry`),
  * plus oracle_sql.json (`SparkEntry.oracleSql`: name → DuckDB SQL for
  * the queries whose `Query` declares an oracle), for the DuckDB oracle
  * compare (tools/compare.py). */
object Verify {
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
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
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
    spark.stop()
  }
}
