package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, IntegerLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index of a 2-D integer point as a native codegen
  * expression — the stronger multi-column layout code beside
  * `GraftOps.mortonCode`: consecutive Hilbert indices are ALWAYS
  * adjacent grid cells (Manhattan distance 1, pinned in ZorderSpec),
  * so a sorted run never teleports across the key space the way
  * Z-order's quadrant seams do — per-file min/max boxes stay compact
  * at every scale, not just at power-of-two block boundaries.
  *
  * Why a native expression and not a Column fold like mortonCode:
  * Morton bits are independent (a linear OR chain), but the Hilbert
  * rotation makes bit i's output depend on ALL higher bits' state —
  * a Column-level unroll would duplicate the (x, y) subtree per level
  * (4^bits nodes). Here the iteration is one tight static loop, called
  * from both the interpreted eval and the generated code, so the
  * expression stays whole-stage-codegen-friendly at any `bits`.
  */
case class HilbertCode(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  require(bits >= 1 && bits <= 31, s"bits out of range: $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hilbert_code expects (bigint, bigint), got $other")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_code"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    HilbertCurve.compute(x.asInstanceOf[Long], y.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.expressions.HilbertCurve.compute($x, $y, $bits)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertCode =
    copy(left = newLeft, right = newRight)
}

object HilbertCode {
  /** Build from SQL-text arguments; `bits` must be an integer literal. */
  def build(args: Seq[Expression]): HilbertCode = {
    if (args.length != 3) throw new IllegalArgumentException(
      s"hilbert_code requires exactly 3 arguments (x, y, bits), got ${args.length}")
    args(2) match {
      case IntegerLiteral(b) => HilbertCode(args(0), args(1), b)
      case other => throw new IllegalArgumentException(
        s"hilbert_code bits must be an integer literal, got $other")
    }
  }
}

/** The d = xy2d iteration (Hilbert 1891, iterative form): walk levels
  * from the top bit down, accumulate the quadrant index, and rotate /
  * reflect the frame for the remaining bits. A standalone object so
  * Scala emits a STATIC forwarder — generated Java calls
  * `HilbertCurve.compute(...)` directly, no MODULE$ indirection.
  */
object HilbertCurve {
  def compute(x0: Long, y0: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1
    var x = x0 & mask
    var y = y0 & mask
    var d = 0L
    var i = bits - 1
    while (i >= 0) {
      val s = 1L << i
      val rx = (x >> i) & 1L
      val ry = (y >> i) & 1L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) {
          // reflect about the FULL grid (mask = n-1), not the current
          // quadrant: lower bits complement identically either way, but
          // full-grid reflection keeps x, y non-negative without
          // re-masking per level
          x = mask - x
          y = mask - y
        }
        val t = x; x = y; y = t
      }
      i -= 1
    }
    d
  }
}
