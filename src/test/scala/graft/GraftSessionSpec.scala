package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.api.GraftOps

/** One way to set up a session: GraftSession is the only session
  * builder in the main sources, and graft's native functions are
  * registered once per session, never replaced per query.
  */
class GraftSessionSpec extends SparkTestBase {

  test("GraftSession is the only session builder in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val masterLiteral = """local\[\d+\]""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder()") ||
              masterLiteral.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty,
      "build sessions through GraftSession, not by hand:\n" + offenders.mkString("\n"))
  }

  test("the test session carries GraftSession's configuration") {
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false"
    ).foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
    assert(spark.sparkContext.master === "local[4]")
  }

  /** A registry entry as its identities: re-registering a function,
    * even with the same builder, installs a new ExpressionInfo.
    */
  private def entry(reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry,
      name: String): Option[(AnyRef, AnyRef)] = {
    val id = FunctionIdentifier(name)
    for (info <- reg.lookupFunction(id); build <- reg.lookupFunctionBuilder(id))
      yield (info, build)
  }

  private def same(a: Option[(AnyRef, AnyRef)], b: Option[(AnyRef, AnyRef)]): Boolean =
    a.isDefined && b.isDefined && (a.get._1 eq b.get._1) && (a.get._2 eq b.get._2)

  test("GraftOps registers a missing native function once and never replaces it") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    reg.dropFunction(FunctionIdentifier("cosine_sim"))
    assert(entry(reg, "cosine_sim").isEmpty)
    val e = sources.Tables.embeddings(s, sf)
    GraftOps.cosineTopK(e, "vec_id", "embedding", 0L, 10)
    val first = entry(reg, "cosine_sim")
    assert(first.isDefined, "the first call must register cosine_sim")
    assert(GraftOps.cosineTopK(e, "vec_id", "embedding", 0L, 10).collect().nonEmpty)
    assert(same(entry(reg, "cosine_sim"), first),
      "the second call must keep the registered function")
  }

  test("ensure leaves functions the extension injected untouched") {
    val reg = spark.sessionState.functionRegistry
    val names = GraftExtensions.functions.map(_._1)
    val before = names.map(entry(reg, _))
    assert(before.forall(_.isDefined), "the extension injects the whole table")
    GraftExtensions.ensure(spark)
    assert(names.zip(before).forall { case (n, b) => same(entry(reg, n), b) })
  }
}
