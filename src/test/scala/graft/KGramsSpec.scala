package graft

import org.apache.spark.sql.functions._
import graft.expressions.KGramsUtil

/** Pins the native one-pass kgrams expression: exact value-equality
  * with the substr-per-position form it replaces (including unicode,
  * empty, shorter-than-k, and null inputs), codegen/interpreted
  * parity, and the linear-in-length scaling that is its reason to
  * exist (the substr form is O(len²) bytes per document).
  */
class KGramsSpec extends SparkTestBase {

  /** The replaced form, verbatim from the r10 winnow gram pass. */
  private def substrGrams(text: org.apache.spark.sql.Column, k: Int) = {
    val n = greatest(length(text) - lit(k - 1), lit(1))
    transform(sequence(lit(1), n), i => text.substr(i, lit(k)))
  }

  test("kgrams == substr form on corpus text and adversarial edges") {
    val spark2 = spark
    import spark2.implicits._
    val edges = Seq(
      "", "a", "ab", "abcd", "abcde", "abcdef",
      "ééééé", "日本語のテキスト", "a日b本c語d", "𝄞𝄞𝄞𝄞𝄞𝄞𝄞", // multi-byte + surrogate pairs
      " leading and trailing ", "\ttabs\nand\nnewlines\t"
    ).toDF("text")
    val corpus = sources.Tables.documents(spark, sf).select(col("text"))
    for (k <- Seq(1, 2, 5, 9); df <- Seq(edges, corpus)) {
      val bad = df.select(
          KGramsUtil.kgramsCol(col("text"), k).as("fast"),
          substrGrams(col("text"), k).as("slow"))
        .filter(not(col("fast") <=> col("slow")))
      assert(bad.count() === 0, s"kgrams mismatch at k=$k")
    }
  }

  test("property: kgrams == substr form on 200 random unicode strings") {
    // scalacheck-generated strings spanning ASCII, Latin-1, CJK, and
    // astral-plane (surrogate-pair) code points — the byte-width mix
    // the offset walk must count exactly like substr's codepoint scan.
    // Driven through a DataFrame so the comparison exercises the same
    // evaluation path as production, with a driver-side reference too.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cp: Gen[Int] = Gen.frequency(
      6 -> Gen.choose(32, 126),        // ASCII
      2 -> Gen.choose(0xa0, 0x2ff),    // Latin-1 / combining
      2 -> Gen.choose(0x4e00, 0x9fff), // CJK (3-byte UTF-8)
      1 -> Gen.choose(0x1d100, 0x1d1ff)) // astral (4-byte, surrogates)
    val strGen: Gen[String] = for {
      n <- Gen.choose(0, 40)
      cps <- Gen.listOfN(n, cp)
    } yield cps.map(Character.toChars(_).mkString).mkString
    val strs = (0 until 200).flatMap(i =>
      strGen.apply(Gen.Parameters.default, Seed(7L + i)))
    val spark2 = spark
    import spark2.implicits._
    for (k <- Seq(1, 3, 5)) {
      val rows = strs.toDF("text").select(
          col("text"),
          KGramsUtil.kgramsCol(col("text"), k).as("fast"),
          substrGrams(col("text"), k).as("slow"))
        .collect()
      rows.foreach { r =>
        val (s, fast, slow) =
          (r.getString(0), r.getSeq[String](1), r.getSeq[String](2))
        assert(fast === slow, s"substr-form mismatch at k=$k for '$s'")
        // driver-side reference: gram i = codepoints [i, min(i+k, len))
        val cps = s.codePoints().toArray
        val nG = math.max(cps.length - k + 1, 1)
        val want = (0 until nG).map { g =>
          val from = math.min(g, cps.length)
          new String(cps, from, math.min(g + k, cps.length) - from)
        }
        assert(fast === want, s"driver reference mismatch at k=$k for '$s'")
      }
    }
  }

  test("null text yields null, not an empty array") {
    val spark2 = spark
    import spark2.implicits._
    val r = Seq[Option[String]](None, Some("abc")).toDF("text")
      .select(KGramsUtil.kgramsCol(col("text"), 3).as("g")).collect()
    assert(r(0).isNullAt(0))
    assert(r(1).getSeq[String](0) === Seq("abc"))
  }

  test("interpreted (non-codegen) eval matches codegen eval") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      sources.Tables.documents(spark, sf).createOrReplaceTempView("kgdocs")
      val q = "SELECT doc_id, kgrams(text, 5) AS g FROM kgdocs"
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = spark.sql(q).collect().map(r => (r.getLong(0), r.getSeq[String](1)))
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = spark.sql(q).collect().map(r => (r.getLong(0), r.getSeq[String](1)))
      assert(interp.toSeq === gen.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("winnow fingerprint pass is linear in document length") {
    // 16× longer docs must cost ~16× (O(n)), not ~256× (the substr
    // form's O(n²)). Budget 80× — 5× headroom over linear for JIT /
    // scheduling noise while still failing any quadratic regression.
    val spark2 = spark
    import spark2.implicits._
    def corpus(nDocs: Int, len: Int) =
      spark.range(nDocs).select(col("id"),
          lit((('a' to 'z').mkString * (len / 26 + 1)).substring(0, len)).as("pad"))
        .select(concat(col("id").cast("string"), col("pad")).as("text"))
    def timeIt(len: Int): Double = {
      val df = corpus(64, len)
        .select(graft.api.GraftOps.winnowFingerprints(col("text")).as("fp"))
        .select(sum(size(col("fp"))))
      df.collect() // warm (JIT + codegen)
      val t0 = System.nanoTime()
      df.collect()
      (System.nanoTime() - t0) / 1e6
    }
    val short = timeIt(4 * 1024)
    val long = timeIt(64 * 1024)
    // Overridable like PerfTripwireSpec's budget (ADVICE r11): timing
    // ratios can wobble on contended runners; a quadratic regression
    // reads ~256×, so even a much looser bound keeps its teeth.
    val budget = sys.props.get("graft.tripwire.linearity")
      .map(_.toDouble).getOrElse(80.0)
    assert(budget <= 0 || long / short < budget,
      f"winnow gram pass not linear: 4k=$short%.1fms, 64k=$long%.1fms, ratio ${long / short}%.1f")
  }
}
