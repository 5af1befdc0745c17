package graft

/** Integrity of the declared inventory itself, read from the one
  * registry SparkEntry derives its contract maps from:
  *
  *  - a query name declared twice would, once the registry became a
  *    map, SILENTLY keep one builder and drop the other;
  *  - an oracle whose name has no matching query would never be
  *    compared (the driver iterates queries, not oracles);
  *  - a query name with path-unsafe characters would break the
  *    per-query parquet dump directory layout.
  *
  * `SparkEntry.index` refuses the first and the last when the
  * inventory loads; these tests pin that the shipped registry passes
  * and that the refusal names the offender.
  */
class InventorySpec extends SparkTestBase {

  test("no query name is declared by two operator maps (++ would shadow one)") {
    val dups = SparkEntry.registry.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"shadowed query names: ${dups.toSeq.sorted}")
    assert(SparkEntry.registry.size === SparkEntry.queries.size)
  }

  test("every oracle name has a matching query (a dangling oracle is never compared)") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without queries: $dangling")
    assert(SparkEntry.oracleSql.size === SparkEntry.registry.count(_.oracle.isDefined))
  }

  test("query names are dump-directory safe (lowercase [a-z0-9_])") {
    val bad = SparkEntry.registry.map(_.name).filterNot(_.matches("[a-z0-9_]+"))
    assert(bad.isEmpty, s"path-unsafe query names: ${bad.sorted}")
  }

  test("declared inventory matches the documented counts (293 queries, 269 gated)") {
    // Keep README/SURVEY honest: update BOTH when this changes.
    assert(SparkEntry.queries.size === 293)
    assert(SparkEntry.oracleSql.size === 269)
  }

  test("the registry derivation refuses a duplicate or unsafe name, naming it") {
    val build = SparkEntry.queries("scan_project")
    val dup = intercept[IllegalArgumentException](SparkEntry.index(Seq(
      Query("scan_project", build), Query("sort_limit", build),
      Query("scan_project", build, Some("SELECT 1")))))
    assert(dup.getMessage.contains("scan_project") &&
      !dup.getMessage.contains("sort_limit"), dup.getMessage)
    val unsafe = intercept[IllegalArgumentException](
      SparkEntry.index(Seq(Query("scan/project", build))))
    assert(unsafe.getMessage.contains("scan/project"), unsafe.getMessage)
  }
}
