package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFns
import graft.sources.Tables

/** The native codegen expression must agree bit-for-bit with the UDF
  * (identical accumulation order) and stay inside whole-stage codegen.
  */
class CosineExprSpec extends SparkTestBase {

  test("cosine_sim expression is bit-identical to the UDF") {
    val e = Tables.embeddings(spark, sf)
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
    val bad = e.crossJoin(broadcast(probe))
      .select(
        VectorFns.cosineSim(col("embedding"), col("pv")).as("u"),
        expr("cosine_sim(embedding, pv)").as("x"))
      .filter(col("u") =!= col("x"))
    assert(bad.count() === 0)
  }

  test("cosine_sim runs inside WholeStageCodegen (no ScalaUDF in the plan)") {
    val e = Tables.embeddings(spark, sf)
    val df = e.select(expr("cosine_sim(embedding, embedding)").as("s"))
    // `*(n)` prefixes mark operators fused into a WholeStageCodegen stage
    val plan = planOf(df)
    assert(plan.contains("*(1) Project [cosine_sim"),
      s"cosine_sim must sit inside the codegen'd projection:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"plan must not fall back to a UDF:\n$plan")
    // and it evaluates correctly through the generated code
    assert(df.filter(abs(col("s") - 1.0) > 1e-12).count() === 0)
  }

  test("degenerate inputs yield NULL, not a truncated cosine (expr and UDF agree)") {
    // mismatched lengths: DuckDB errors on these; we return null rather
    // than silently truncating to min-length (ADVICE round 2)
    val r = spark.sql(
      "SELECT cosine_sim(array(cast(1.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float))) AS mismatch, " +
        "cosine_sim(array(cast(1.0 as float), cast(null as float)), " +
        "array(cast(1.0 as float), cast(1.0 as float))) AS withnull, " +
        "cosine_sim(cast(null as array<float>), array(cast(1.0 as float))) AS nullarr")
      .collect()(0)
    assert(r.isNullAt(0), "length mismatch must be null")
    assert(r.isNullAt(1), "null element must be null")
    assert(r.isNullAt(2), "null array must be null")
    import spark.implicits._
    val udfR = Seq((Seq(1.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
      .select(VectorFns.cosineSim(col("a"), col("b"))).collect()(0)
    assert(udfR.isNullAt(0), "UDF must share the null-on-mismatch contract")
  }

  test("signed_project expression is bit-identical to the HOF form, codegen and interpreted") {
    val e = Tables.embeddings(spark, sf)
    def mismatches() = e.select(
        graft.api.GraftOps.signedProjection(col("embedding"), 16).as("h"),
        expr("signed_project(embedding, 16)").as("x"))
      .filter(not(col("h") === col("x"))).count()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      assert(mismatches() === 0L, "codegen path must match the HOF fold bit-for-bit")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      assert(mismatches() === 0L, "interpreted path must match too")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    // null element → NULL whole array (stricter than the HOF twin, like
    // cosine_sim's degenerate rule)
    val spark2 = spark
    import spark2.implicits._
    val r = Seq(Seq(1.0f, 2.0f)).toDF("v")
      .select(expr("signed_project(CAST(array(v[0], NULL) AS array<float>), 4)").as("p"))
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("interpreted (non-codegen) eval matches codegen eval") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      val e = Tables.embeddings(spark, sf).limit(50)
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
      def run(): Array[Double] = e.crossJoin(broadcast(probe))
        .select(expr("cosine_sim(embedding, pv)").as("s"))
        .orderBy(col("s")).collect().map(_.getDouble(0))
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = run()
      assert(gen.sameElements(interp))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }
}
