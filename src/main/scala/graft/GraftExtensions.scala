package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.expressions.{CosineSimilarity, HilbertCode, KGrams, LshBucket, SignedProject, SimHash64}

/** Library extension entry point: installs graft's native expressions
  * into any session built with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `builder.withExtensions(new GraftExtensions)`), which is how a user
  * of this engine gets `cosine_sim(...)` / `simhash64(...)` /
  * `lsh_bucket(...)` in plain SQL text on a real cluster — no
  * per-session registration calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), GraftExtensions.info(name, cls), build))
    }
}

object GraftExtensions {

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.length != n) throw new IllegalArgumentException(
      s"$name requires exactly $n argument${if (n == 1) "" else "s"}, got ${args.length}")

  /** The one function table: SQL name, implementing class, builder.
    * Each builder validates arity so a misuse fails analysis with a
    * clear message instead of an IndexOutOfBoundsException (or silently
    * dropping arguments).
    *
    * `bloom_filter_agg(xxhash64(x)[, items, bits])` and
    * `might_contain(bloomBinary, xxhash64(x))` expose Spark's OWN
    * bloom-filter expressions, which Catalyst ships for runtime
    * row-level filtering but leaves out of the public registry: the
    * ingest pipeline's incremental-dedup pre-filter (see
    * NearDedup.dedupBloom) gets codegen membership tests and NO custom
    * sketch code. The aggregate's input must be the 64-bit hash
    * (xxhash64) of the key, matching how Spark's own injected filters
    * are built.
    */
  private[graft] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], args => {
      arity("cosine_sim", 2, args); CosineSimilarity(args.head, args(1))
    }),
    ("simhash64", classOf[SimHash64], args => {
      arity("simhash64", 1, args); SimHash64(args.head)
    }),
    ("lsh_bucket", classOf[LshBucket], LshBucket.build),
    ("hilbert_code", classOf[HilbertCode], HilbertCode.build),
    ("signed_project", classOf[SignedProject], SignedProject.build),
    ("kgrams", classOf[KGrams], KGrams.build),
    ("bloom_filter_agg", classOf[BloomFilterAggregate], {
      case Seq(child) => new BloomFilterAggregate(child)
      case Seq(child, items) => new BloomFilterAggregate(child, items)
      case Seq(child, items, bits) => new BloomFilterAggregate(child, items, bits)
      case args => throw new IllegalArgumentException(
        s"bloom_filter_agg takes 1-3 arguments, got ${args.length}")
    }),
    ("might_contain", classOf[BloomFilterMightContain], args => {
      arity("might_contain", 2, args); BloomFilterMightContain(args.head, args(1))
    }))

  private def info(name: String, cls: Class[_]): ExpressionInfo =
    new ExpressionInfo(cls.getName, name)

  /** Register every function of the table that `spark` does not already
    * resolve — the library path for sessions built without the
    * extension. Idempotent: a name already present (injected, or
    * registered by an earlier call) keeps its builder.
    */
  def ensure(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, cls, build) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) reg.registerFunction(id, info(name, cls), build)
    }
  }
}
