package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst cosine-similarity expression over two float vectors
  * (SURVEY.md §4.3 J1 "v2" upgrade path).
  *
  * Unlike a Scala UDF (an opaque box that forces row serialization into
  * the JVM closure), this generates a fused double-precision loop
  * directly inside whole-stage codegen: no UDF call overhead, no break
  * in the codegen span, and Catalyst can see through nullability. The
  * accumulation order (single pass, index order — dot/na/nb) is
  * identical to VectorFns.cosineSim, so both produce bit-identical
  * doubles (pinned in CosineExprSpec).
  *
  * Degenerate inputs return NULL rather than a plausible-but-wrong
  * number: mismatched lengths (DuckDB's list_cosine_similarity errors on
  * these — silently truncating would diverge from the oracle) and null
  * array elements (reading a null slot through ArrayData.getFloat yields
  * undefined data). Both rules hold identically in interpreted eval and
  * generated code, and VectorFns.cosineSim implements the same contract.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is off-limits outside Spark (AbstractDataType is
  // private[sql]); validate the input types directly instead.
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> arguments, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def dataType: DataType = DoubleType

  // NULL is produced for degenerate inputs even when both children are
  // non-nullable, so this must not inherit the children's nullability.
  override def nullable: Boolean = true

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // nullSafeCodeGen's contract allows resultCode to flip ev.isNull back
  // to true (it emits `isNull = false` first for exactly this reason),
  // which is how the degenerate-input NULLs surface in generated code.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  double $na = 0.0;
         |  double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = (double) $a.getFloat($i);
         |    double $yv = (double) $b.getFloat($i);
         |    $dot += $xv * $yv;
         |    $na += $xv * $xv;
         |    $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
