package graft
import java.nio.file.{Files, Paths}

/** Plan-audit utility: dumps the formatted physical plan of every
  * declared query so shuffle/pushdown/codegen shapes can be reviewed
  * offline (`sbt "runMain graft.Explain <sfDir> <outDir>"`). Not part of
  * the driver contract — a development tool for the 100 TB design
  * review: look for unexpected Exchanges, missing PushedFilters, fat
  * ReadSchemas, and breaks in WholeStageCodegen spans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "target/explains"
    // optional trailing names: dump only those queries (fast per-change
    // before/after plan capture for plans/rNN)
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession.start()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
