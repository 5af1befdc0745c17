package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, IntegerLiteral, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All character k-grams of a string in ONE pass — the linear-time
  * replacement for `transform(sequence(1, n), i => text.substr(i, k))`.
  *
  * `substr(i, k)` on a UTF8String re-scans the string from byte 0 to
  * char position i on EVERY call (UTF-8 is variable-width; there is no
  * O(1) char index), so the substr-per-position gram pass is O(len²)
  * bytes per document: a 100 k-char document costs ~400× a 5 k-char
  * one, not 20×. This expression walks the byte array once, records
  * each character's byte offset, and emits every gram as a ZERO-COPY
  * UTF8String view over the shared byte array — O(len) work and O(len)
  * transient allocation per document regardless of k. Retention
  * caveat of the zero-copy choice: every gram view pins the WHOLE
  * document's byte array, so consume grams promptly (hash them, as
  * winnowing does) rather than storing a few long-term — a stored
  * single gram retains the full document's bytes.
  *
  * Semantics match the substr form exactly (pinned in KGramsSpec):
  * gram count = max(numChars − k + 1, 1); gram i (0-based) = chars
  * [i, min(i+k, numChars)) — i.e. a string shorter than k yields one
  * gram, the whole string, exactly like `substr(1, k)`; the empty
  * string yields one empty gram. Char = Unicode code point, the same
  * unit `substr`/`length` count. Null string → null.
  */
case class KGrams(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"kgrams k must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kgrams expects string, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "kgrams"

  override protected def nullSafeEval(input: Any): Any =
    KGramsUtil.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.KGramsUtil.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): KGrams =
    copy(child = newChild)
}

object KGrams {
  /** Build from SQL-text arguments; `k` must be an integer literal. */
  def build(args: Seq[Expression]): KGrams = {
    if (args.length != 2) throw new IllegalArgumentException(
      s"kgrams requires exactly 2 arguments (text, k), got ${args.length}")
    args(1) match {
      case IntegerLiteral(k) if k >= 1 => KGrams(args.head, k)
      case other => throw new IllegalArgumentException(
        s"kgrams k must be a positive integer literal, got $other")
    }
  }
}

/** One-pass gram extraction. A standalone object so Scala emits a
  * STATIC forwarder — generated Java calls `KGramsUtil.compute(...)`
  * directly, no MODULE$ indirection.
  */
object KGramsUtil {
  /** KGrams as a Column, for DataFrame-API callers that have no
    * session in scope to register the SQL-text name against.
    */
  def kgramsCol(text: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftExprConv
    GraftExprConv.column(KGrams(GraftExprConv.expression(text), k))
  }

  def compute(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // One forward walk: byte offset of every code point, plus the
    // terminal offset, so gram i is the byte range
    // [offs(i), offs(min(i + k, nChars))) — each emitted as a view.
    var nChars = 0
    var i = 0
    while (i < nb) {
      nChars += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    val offs = new Array[Int](nChars + 1)
    i = 0
    var c = 0
    while (i < nb) {
      offs(c) = i
      c += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs(nChars) = nb
    val nGrams = math.max(nChars - k + 1, 1)
    val out = new Array[AnyRef](nGrams)
    var g = 0
    while (g < nGrams) {
      val start = offs(math.min(g, nChars))
      val end = offs(math.min(g + k, nChars))
      out(g) = UTF8String.fromBytes(bytes, start, end - start)
      g += 1
    }
    new GenericArrayData(out)
  }
}
