package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 64-bit SimHash over a token array, fully inside whole-stage
  * codegen.
  *
  * Semantics: per token h = xxhash64(token) (identical to Spark's
  * built-in `xxhash64` — same XXH64.hashUTF8String call, same seed 42),
  * each of h's 64 bits votes +1/-1, and the signature's bit b is set iff
  * bit b's net vote is positive. Equivalent to the pure-SQL plan
  * `explode(tokens) → xxhash64(token) → groupBy(doc) bit-vote`, but with
  * no Generate, no shuffle, and no per-row allocation beyond one 64-int
  * vote array — this replaces a UDF that constructed a MessageDigest per
  * TOKEN, which at 100 TB meant billions of allocations per partition.
  *
  * Null array → null. Null tokens are skipped (cast votes nowhere), same
  * as SQL aggregates ignoring NULLs. Empty array → 0L (all votes tie at
  * zero, no bits set). Interpreted eval and generated code are pinned
  * bit-identical in SimHashExprSpec.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash64"

  private val seed = 42L

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      val xxh64 = classOf[XXH64].getName
      s"""
         |int[] $votes = new int[64];
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $h = $xxh64.hashUTF8String($a.getUTF8String($i), ${seed}L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
