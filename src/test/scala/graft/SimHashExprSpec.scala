package graft

import org.apache.spark.sql.functions._

/** Pins the native simhash64 expression: golden signatures, the
  * xxhash64 single-token identity, codegen/interpreted parity, and the
  * structural equivalence to the explode→xxhash64→bit-vote SQL plan it
  * compiles away.
  */
class SimHashExprSpec extends SparkTestBase {

  test("golden signatures (fixed inputs, stable across JVMs)") {
    val r = spark.sql(
      "SELECT simhash64(array('a')) AS s1, " +
        "simhash64(cast(array() as array<string>)) AS s0, " +
        "simhash64(array('the','quick','brown','fox')) AS s4, " +
        "simhash64(split('hello world hello', ' ')) AS s3").collect()(0)
    assert(r.getLong(0) === -8582455328737087284L)
    assert(r.getLong(1) === 0L)
    assert(r.getLong(2) === 1621299339139776728L)
    assert(r.getLong(3) === -4367754540140381902L)
  }

  test("single-token simhash IS xxhash64 of the token (+1 vote per set bit)") {
    val bad = sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(length(col("t")) > 0).limit(200)
      .select(expr("simhash64(array(t))").as("s"), xxhash64(col("t")).as("x"))
      .filter(col("s") =!= col("x"))
    assert(bad.count() === 0)
  }

  test("equals the explode → xxhash64 → bit-vote SQL plan it replaces") {
    sources.Tables.documents(spark, sf).createOrReplaceTempView("shdocs")
    val viaExpr = spark.sql(
      "SELECT doc_id, simhash64(split(text, ' ')) AS sig FROM shdocs")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |  aggregate(
        |    zip_with(
        |      aggregate(transform(split(text, ' '), t -> xxhash64(t)),
        |                array_repeat(0L, 64),
        |                (acc, h) -> zip_with(acc, sequence(0, 63),
        |                  (v, b) -> v + IF(((h >> b) & 1) = 1, 1L, -1L))),
        |      sequence(0, 63),
        |      (v, b) -> IF(v > 0, shiftleft(1L, b), 0L)),
        |    0L, (a, x) -> a | x) AS sig
        |FROM shdocs""".stripMargin)
    assert(viaExpr.except(viaSql).count() === 0)
    assert(viaSql.except(viaExpr).count() === 0)
  }

  test("interpreted (non-codegen) eval matches codegen eval") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      def run(): Array[Long] = sources.Tables.documents(spark, sf)
        .select(expr("simhash64(split(text, ' '))").as("s"))
        .orderBy(col("s")).collect().map(_.getLong(0))
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = run()
      assert(gen.sameElements(interp))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("null array yields null; null tokens are skipped") {
    val r = spark.sql(
      "SELECT simhash64(cast(null as array<string>)) AS sn, " +
        "simhash64(array('a', cast(null as string))) AS sskip, " +
        "simhash64(array('a')) AS sa").collect()(0)
    assert(r.isNullAt(0))
    assert(r.getLong(1) === r.getLong(2), "null token must cast no votes")
  }

  test("dedup_simhash stays inside codegen (no ScalaUDF, no Generate)") {
    val plan = planOf(operators.NearDedup.dedupSimhash(spark, sf))
    assert(!plan.contains("ScalaUDF"), s"UDF crept back into:\n$plan")
    assert(!plan.contains("Generate"), s"no explode needed:\n$plan")
    assert(plan.contains("simhash64"), plan)
  }
}
