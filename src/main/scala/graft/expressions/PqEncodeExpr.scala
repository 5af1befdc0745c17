package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** PQ encoding as a native codegen expression: per subspace m, the
  * argmin-squared-distance centroid index against a trained codebook
  * that rides into generated code as a referenced object — the same
  * pattern as LshBucket's hyperplane matrix. Replaces the pure-HOF
  * `GraftOps.pqEncode` on the ingest path: the HOF form is ~M*K*ds
  * interpreted `element_at` steps per row (measured ~14 s cold at
  * sf0.1); this is a fused triple loop (~2 s). Both produce identical
  * codes (strict `<` argmin keeps the lowest index; pinned in PqSpec).
  *
  * Unlike LshBucket the codebook is DATA (trained per corpus), not a
  * seeded constant — so the expression is built with the codebook in
  * hand and registered per session right before use (`register`),
  * rather than carrying literal arguments.
  */
case class PqEncodeExpr(child: Expression, codebook: Array[Array[Array[Float]]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // null on null elements — same contract as cosine_sim / lsh_bucket
  override def nullable: Boolean = true

  override def prettyName: String = "pq_encode"

  @transient private lazy val dim: Int = codebook.length * codebook(0)(0).length

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val ne = math.min(v.numElements(), dim)
    var i = 0
    while (i < ne) {
      if (v.isNullAt(i)) return null
      i += 1
    }
    val m = codebook.length
    val ds = codebook(0)(0).length
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val cents = codebook(mi)
      var best = -1
      var bd = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d2 = 0.0
        var j = 0
        val base = mi * ds
        while (j < ds && base + j < v.numElements()) {
          val x = v.getFloat(base + j).toDouble - cent(j)
          d2 += x * x
          j += 1
        }
        if (d2 < bd) { bd = d2; best = c }
        c += 1
      }
      codes(mi) = best
      mi += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "float[][][]")
      val codes = ctx.freshName("codes")
      val mi = ctx.freshName("mi")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val ne = ctx.freshName("ne")
      val ds = ctx.freshName("ds")
      val base = ctx.freshName("base")
      val best = ctx.freshName("best")
      val bd = ctx.freshName("bd")
      val d2 = ctx.freshName("d2")
      val x = ctx.freshName("x")
      val cent = ctx.freshName("cent")
      val dimVal = dim
      s"""
         |int $ne = java.lang.Math.min($a.numElements(), $dimVal);
         |for (int $i = 0; $i < $ne; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |}
         |if (!${ev.isNull}) {
         |  int $ds = $cbRef[0].length > 0 ? $cbRef[0][0].length : 0;
         |  int[] $codes = new int[$cbRef.length];
         |  for (int $mi = 0; $mi < $cbRef.length; $mi++) {
         |    float[][] $cent = $cbRef[$mi];
         |    int $best = -1;
         |    double $bd = Double.MAX_VALUE;
         |    int $base = $mi * $ds;
         |    for (int $c = 0; $c < $cent.length; $c++) {
         |      double $d2 = 0.0;
         |      for (int $j = 0; $j < $ds && $base + $j < $a.numElements(); $j++) {
         |        double $x = ((double) $a.getFloat($base + $j)) - $cent[$c][$j];
         |        $d2 += $x * $x;
         |      }
         |      if ($d2 < $bd) { $bd = $d2; $best = $c; }
         |    }
         |    $codes[$mi] = $best;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

object PqEncodeExpr {

  /** Register `pq_encode(vec)` bound to THIS codebook in the session.
    * Re-registering with a new codebook replaces the binding (the
    * caller encodes immediately after registering — see Pq.codesTable).
    * The old binding is dropped first: rebinding is intended, so it is
    * not logged as a replaced function.
    */
  def register(spark: org.apache.spark.sql.SparkSession,
      codebook: Array[Array[Array[Float]]]): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.dropFunction(FunctionIdentifier("pq_encode"))
    reg.createOrReplaceTempFunction(
      "pq_encode",
      args => {
        require(args.length == 1, s"pq_encode takes 1 argument, got ${args.length}")
        PqEncodeExpr(args.head, codebook)
      },
      "built-in")
  }
}
