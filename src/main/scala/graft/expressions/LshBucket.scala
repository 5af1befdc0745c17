package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, IntegerLiteral, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Random-hyperplane LSH signature of a float vector as a native
  * codegen expression: bit i of the result is the sign of
  * `embedding · plane_i`. Replaces a per-row Scala UDF — the hyperplane
  * matrix rides into the generated code as a referenced object
  * (`ctx.addReferenceObj`), so the hot loop is a branch-free fused
  * double loop with no serialization boundary.
  *
  * The planes are derived deterministically from a fixed seed, and the
  * first `k` planes of an `nbits = k` expression are a prefix of any
  * larger `nbits` — so growing the bucket count (the scale knob, see
  * `LshBucket.bitsFor`) refines buckets rather than reshuffling them.
  * Accumulation order matches the retired UDF exactly (index-order
  * float→double promote-multiply-add), pinned in AnnSpec.
  *
  * `offset` selects a window INTO the seeded plane stream: offset 0 is
  * the primary bucket signature; `offset = MaxBits` yields a
  * SECOND-LEVEL band signature over planes the primary never uses —
  * the post-cap escape for bucket self-joins (see
  * `LshBucket.bandBitsFor`): when n outgrows the 24-bit primary cap,
  * joining on (bucket, band) keeps expected group size bounded instead
  * of letting the per-bucket self-join re-quadratize. Similar vectors
  * still collide (each band is itself a sign-random-projection LSH);
  * identical vectors collide always.
  */
case class LshBucket(child: Expression, nbits: Int, offset: Int = 0)
    extends UnaryExpression {

  require(nbits >= 1 && nbits <= LshBucket.MaxBits,
    s"nbits must be in [1, ${LshBucket.MaxBits}], got $nbits")
  require(offset >= 0 && offset + nbits <= LshBucket.TotalPlanes,
    s"plane window [$offset, ${offset + nbits}) outside [0, ${LshBucket.TotalPlanes})")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket expects array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = IntegerType

  // NULL is produced for vectors with null elements even when the child
  // is non-nullable (same contract as cosine_sim — reading a null slot
  // through ArrayData.getFloat yields undefined data, and a
  // representation-dependent bucket would diverge between interpreted
  // and generated code).
  override def nullable: Boolean = true

  override def prettyName: String = "lsh_bucket"

  @transient private lazy val matrix: Array[Array[Double]] =
    LshBucket.planesAt(offset, nbits)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val m = matrix
    // Null-element guard (cosine_sim contract): one pass up front —
    // every plane reads the same element range, so checking once covers
    // the whole signature loop.
    val ne = math.min(v.numElements(), LshBucket.Dim)
    var c = 0
    while (c < ne) {
      if (v.isNullAt(c)) return null
      c += 1
    }
    var sig = 0
    var i = 0
    while (i < m.length) {
      val p = m(i)
      var d = 0.0
      var j = 0
      val n = math.min(v.numElements(), p.length)
      while (j < n) { d += v.getFloat(j) * p(j); j += 1 }
      if (d >= 0) sig |= (1 << i)
      i += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val planesRef = ctx.addReferenceObj("lshPlanes", matrix, "double[][]")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val ne = ctx.freshName("ne")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val p = ctx.freshName("p")
      s"""
         |int $ne = java.lang.Math.min($a.numElements(), ${LshBucket.Dim});
         |for (int $c = 0; $c < $ne; $c++) {
         |  if ($a.isNullAt($c)) { ${ev.isNull} = true; break; }
         |}
         |if (!${ev.isNull}) {
         |  int $sig = 0;
         |  for (int $i = 0; $i < $planesRef.length; $i++) {
         |    double[] $p = $planesRef[$i];
         |    double $d = 0.0;
         |    int $n = java.lang.Math.min($a.numElements(), $p.length);
         |    for (int $j = 0; $j < $n; $j++) {
         |      $d += ((double) $a.getFloat($j)) * $p[$j];
         |    }
         |    if ($d >= 0) $sig |= (1 << $i);
         |  }
         |  ${ev.value} = $sig;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

object LshBucket {

  /** Upper bound on signature bits PER LEVEL: 2^24 buckets is enough
    * for ~10^10 vectors at the ~1k-per-bucket target; beyond that the
    * second-level band (`bandBitsFor`) takes over rather than growing
    * the primary signature.
    */
  val MaxBits = 24

  /** Total seeded planes: one MaxBits window per level (primary at
    * offset 0, second-level band at offset MaxBits).
    */
  val TotalPlanes = 48

  /** Embedding dimensionality (corpus-verified fixed 64). */
  val Dim = 64

  /** The full seeded plane stream; `planesFor(k)` is always its prefix
    * (extending TotalPlanes appends planes, it never reshuffles the
    * existing ones — same seed, same fill order).
    */
  private lazy val allPlanes: Array[Array[Double]] = {
    val rnd = new java.util.Random(42L)
    Array.fill(TotalPlanes)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  def planesFor(nbits: Int): Array[Array[Double]] = allPlanes.take(nbits)

  /** Window [offset, offset + nbits) of the seeded stream. */
  def planesAt(offset: Int, nbits: Int): Array[Array[Double]] =
    allPlanes.slice(offset, offset + nbits)

  /** The scale rule for the bucket count: keep expected bucket size near
    * `target` rows, i.e. nbits ≈ log₂(n / target), floored at 6 (64
    * buckets — the round-2 constant, so small-sf results are unchanged)
    * and capped at MaxBits. A fixed bucket count is a scale bug: the
    * per-bucket self-join in embedding dedup is quadratic in bucket
    * size, so buckets must stay O(target) as n grows.
    */
  def bitsFor(n: Long, target: Long = 1024L): Int =
    math.min(bitsNeeded(n, target), MaxBits)

  /** Bits the sizing rule WANTS (floor 6, no cap) — the excess over
    * MaxBits is what the second level must absorb.
    */
  def bitsNeeded(n: Long, target: Long = 1024L): Int = {
    val needed = math.ceil(math.log(math.max(n, 1L).toDouble / target) /
      math.log(2.0)).toInt
    math.max(needed, 6)
  }

  /** Second-level band bits for the post-cap regime: 0 while the
    * primary signature alone keeps buckets at ~target rows (so small-n
    * results are bit-identical to the single-level scheme: a 0-bit
    * band is the constant 0), then the excess bits once n passes
    * 2^MaxBits·target (~1.7e10 at target 1024), capped at MaxBits —
    * joint (bucket, band) capacity 2^48 groups, enough that expected
    * group size stays ~target out to ~2.9e17 rows.
    */
  def bandBitsFor(n: Long, target: Long = 1024L): Int =
    math.min(math.max(bitsNeeded(n, target) - MaxBits, 0), MaxBits)

  /** Shared builder for the SQL surface: `lsh_bucket(vec, nbits)` or
    * `lsh_bucket(vec, nbits, offset)` — nbits/offset must be int
    * literals (they select the hyperplane window at plan time).
    */
  private[graft] def build(args: Seq[Expression]): LshBucket = {
    if (args.length != 2 && args.length != 3) throw new IllegalArgumentException(
      s"lsh_bucket requires 2 or 3 arguments (vec, nbits[, offset]), got ${args.length}")
    val lits = args.drop(1).map {
      case IntegerLiteral(k) => k
      case other => throw new IllegalArgumentException(
        s"lsh_bucket nbits/offset must be integer literals, got $other")
    }
    LshBucket(args.head, lits.head, if (lits.length > 1) lits(1) else 0)
  }
}
