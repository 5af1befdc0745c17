package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen twin of `GraftOps.signedProjection` — the JL signed
  * random projection as a fused loop instead of nested interpreted
  * higher-order functions.
  *
  * The HOF form is oracle-gated and fine at probe scale, but HOFs never
  * enter whole-stage codegen: projecting a 10⁹-row embedding corpus
  * through interpreted `transform(aggregate(zip_with(...)))` pays
  * per-element closure dispatch × outDims. This expression generates
  * the k×d multiply-accumulate directly inside the codegen span.
  *
  * Bit-compatibility contract (pinned in CosineExprSpec): the
  * accumulation runs in the SAME index order with the same
  * double-precision adds as the HOF fold, the sign is the same
  * ((37i + 101j + 13ij) mod 4 < 2 → +1 else −1) integer polynomial,
  * and the final per-dimension value goes through the same HALF_UP
  * 6-decimal rounding Spark's `round` applies — so the two forms are
  * bit-identical, not merely close. Null INPUT propagates as usual;
  * a null ELEMENT nulls the whole result (the HOF form nulls only the
  * affected dimensions — this form is deliberately stricter, matching
  * cosine_sim's "no plausible-but-wrong numbers" rule; corpus vectors
  * are null-free so the gated query sees no difference).
  */
case class SignedProject(child: Expression, outDims: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if outDims > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckFailure(
      s"signed_project needs a positive output dimension, got $outDims")
    case other => TypeCheckResult.TypeCheckFailure(
      s"signed_project expects array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "signed_project"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var i = 0
    while (i < n) { if (v.isNullAt(i)) return null; i += 1 }
    val out = new Array[Double](outDims)
    var j = 0
    while (j < outDims) {
      var acc = 0.0
      i = 0
      while (i < n) {
        val s = if ((i * 37 + j * 101 + i * j * 13) % 4 < 2) 1.0 else -1.0
        acc += v.getFloat(i).toDouble * s
        i += 1
      }
      out(j) = java.math.BigDecimal.valueOf(acc)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      val hasNull = ctx.freshName("hasNull")
      s"""
         |int $n = $v.numElements();
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($v.isNullAt($i)) { $hasNull = true; break; }
         |}
         |if ($hasNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $out = new double[$outDims];
         |  for (int $j = 0; $j < $outDims; $j++) {
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $s = (($i * 37 + $j * 101 + $i * $j * 13) % 4 < 2) ? 1.0 : -1.0;
         |      $acc += ((double) $v.getFloat($i)) * $s;
         |    }
         |    $out[$j] = java.math.BigDecimal.valueOf($acc)
         |      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignedProject =
    copy(child = newChild)
}

object SignedProject {
  /** Build from SQL-text arguments `(vec, k)`; `k` must be a foldable int. */
  def build(args: Seq[Expression]): SignedProject = {
    if (args.length != 2) throw new IllegalArgumentException(
      s"signed_project requires exactly 2 arguments, got ${args.length}")
    val k = args(1) match {
      case e if e.foldable &&
          e.dataType == org.apache.spark.sql.types.IntegerType =>
        e.eval().asInstanceOf[Int]
      case other => throw new IllegalArgumentException(
        s"signed_project's second argument must be an INT literal, got $other")
    }
    SignedProject(args(0), k)
  }
}
