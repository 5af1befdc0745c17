package graft

import org.apache.spark.sql.functions._
import graft.api.GraftOps

/** The library-facing API must work on ARBITRARY DataFrames, not just
  * the test corpus — these tests run every GraftOps entry on in-memory
  * data a user would bring.
  */
class ApiSpec extends SparkTestBase {

  private def docs = {
    val spark2 = spark
    import spark2.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat", "en"), // near dup of 1
      (4L, "completely different content about spark engines", "en"),
      (5L, "un texto distinto en otro idioma por completo aqui", "es")
    ).toDF("id", "body", "lang")
  }

  test("dedupExactStats on a user DataFrame") {
    val stats = GraftOps.dedupExactStats(docs, "body", Seq("lang"))
      .orderBy("lang").collect()
    assert(stats.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq(("en", 4L, 3L, 1L), ("es", 1L, 1L, 0L)))
  }

  test("dedupExactKeep keeps exactly one row per duplicate group (min key)") {
    val kept = GraftOps.dedupExactKeep(docs, "body", "id")
    assert(kept.count() === 4)
    assert(kept.filter(col("id") === 2).count() === 0, "dup id=2 dropped, id=1 kept")
  }

  test("minhashPairs surfaces the exact and near duplicates, nothing else") {
    val pairs = GraftOps.minhashPairs(docs, "id", "body", maxDist = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)), s"exact dup pair must surface: ${keys}")
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 === 0.0)
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L)),
      s"near-dup pairs must surface: ${keys}")
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L || p._1 == 5L || p._2 == 5L),
      s"unrelated docs must not pair: ${keys}")
  }

  test("ngramJaccard: identical texts 1.0, disjoint texts 0.0") {
    val spark2 = spark
    import spark2.implicits._
    val pairs = Seq(
      ("a b c d e", "a b c d e"),
      ("a b c d e", "v w x y z")
    ).toDF("t1", "t2")
    val sims = pairs.select(GraftOps.ngramJaccard(col("t1"), col("t2")).as("j"))
      .collect().map(_.getDouble(0))
    assert(sims(0) === 1.0 && sims(1) === 0.0)
  }

  test("simhash: exact dups collide, unrelated texts differ") {
    val sigs = docs.select(col("id"), GraftOps.simhash(GraftOps.tokens(col("body"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L), "identical texts must share a signature")
    assert(sigs(1L) !== sigs(5L), "unrelated texts must differ")
  }

  test("winnowFingerprints: identity, containment, and the coverage guarantee") {
    val spark2 = spark
    import spark2.implicits._
    val k = 5
    val w = 4
    val shared = "a long shared passage that both documents contain verbatim"
    val t = Seq(
      ("same1", "identical text body"),
      ("same2", "identical text body"),
      (s"sup1", s"prefix one $shared suffix alpha"),
      (s"sup2", s"other start $shared different ending"),
      ("diff", "zzz qqq completely unrelated material xxx")
    ).toDF("id", "body")
      .select(col("id"), GraftOps.winnowFingerprints(col("body"), k, w).as("fp"))
    val fps = t.collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    // identical docs → identical fingerprint sets
    assert(fps("same1") === fps("same2"))
    // coverage guarantee: a shared substring of length >= w+k-1 must
    // contribute at least one common fingerprint
    assert(shared.length >= w + k - 1)
    assert((fps("sup1") intersect fps("sup2")).nonEmpty)
    // unrelated docs share (essentially) nothing with the shared-passage docs
    assert((fps("diff") intersect fps("sup1")).isEmpty)
  }

  test("shingles/winnow/repetition match driver-side reference implementations") {
    // Pins the zip-with-shifted chains (the interpreted-HOF O(n²) fix)
    // element-for-element against trivial Scala references on random
    // strings, including empty/one-token/shorter-than-window edges.
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Seq("a", "bb", "ccc", "d", "spark")
    val texts = (0 until 200).map { i =>
      val n = rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } :+ (200L -> "") :+ (201L -> "x")
    val df = texts.toDF("id", "body")

    val gotSh = df.select(col("id"),
        GraftOps.shingles(GraftOps.tokens(col("body")), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    for ((id, body) <- texts) {
      val toks = body.split(" ", -1).toSeq
      val ref = (0 until math.max(toks.size - 2, 1))
        .map(i => toks.slice(i, i + 3).mkString(" ")).distinct
      assert(gotSh(id) === ref, s"shingles of '$body'")
    }

    val k = 5; val w = 4
    val gramsDf = df.select(col("id"),
      transform(
        sequence(lit(1), greatest(length(col("body")) - lit(k - 1), lit(1))),
        i => xxhash64(col("body").substr(i, lit(k)))).as("g"),
      GraftOps.winnowFingerprints(col("body"), k, w).as("fp"))
    for (r <- gramsDf.collect()) {
      val g = r.getSeq[Long](1)
      val ref = (if (g.size < w) Seq(g.min)
                 else g.sliding(w).map(_.min).toSeq).distinct.sorted
      assert(r.getSeq[Long](2) === ref, s"winnow of id ${r.getLong(0)}")
    }

    val rep = df.select(col("id"), GraftOps.repetitionSignals("body").as("s"))
      .select(col("id"), col("s.n_tokens"), col("s.n_distinct"),
        col("s.top_bigram_n")).collect()
    for (r <- rep) {
      val toks = texts.find(_._1 == r.getLong(0)).get._2.split(" ", -1).toSeq
      assert(r.getLong(1) === toks.size.toLong)
      assert(r.getLong(2) === toks.distinct.size.toLong)
      val bigrams = if (toks.size < 2) Seq(toks.mkString(" "))
        else toks.sliding(2).map(_.mkString(" ")).toSeq
      assert(r.getLong(3) ===
        bigrams.groupBy(identity).values.map(_.size).max.toLong,
        s"top bigram of '${texts.find(_._1 == r.getLong(0)).get._2}'")
    }
  }

  test("winnowFingerprintsHashed(md5) matches the driver-side reference") {
    // pins text_winnow_md5's cascade: same window-minimum algebra as
    // winnowFingerprints, gram hash = first 12 md5 hex digits as a long
    val spark2 = spark
    import spark2.implicits._
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(7)
    val texts = (0 until 60).map { i =>
      (i.toLong, rnd.alphanumeric.take(rnd.nextInt(30)).mkString)
    } :+ (60L -> "") :+ (61L -> "abc")
    val k = 5; val w = 4
    val gramHash = (s: org.apache.spark.sql.Column) =>
      conv(substring(md5(s), 1, 12), 16, 10).cast("long")
    val gotFp = texts.toDF("id", "body")
      .select(col("id"),
        GraftOps.winnowFingerprintsHashed(col("body"), gramHash, k, w).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for ((id, body) <- texts) {
      val n = math.max(body.length - (k - 1), 1)
      val grams = (0 until n).map(i =>
        java.lang.Long.parseLong(
          md5hex(body.substring(i, math.min(i + k, body.length))).take(12), 16))
      val ref = (if (grams.size < w) Seq(grams.min)
                 else grams.sliding(w).map(_.min).toSeq).distinct.sorted
      assert(gotFp(id) === ref, s"winnow-md5 of '$body'")
    }
  }

  test("sharedFingerprintIds: exactly the docs sharing a fingerprint, bounded-state plan") {
    val spark2 = spark
    import spark2.implicits._
    // 1↔2 share 10; 3 shares nothing; 4↔5 share 99; a "boilerplate"
    // fingerprint 7 appears in 1, 2 and 4 as well
    val df = Seq(
      (1L, Seq(10L, 7L, 11L)),
      (2L, Seq(10L, 7L, 12L)),
      (3L, Seq(13L, 14L)),
      (4L, Seq(99L, 7L)),
      (5L, Seq(99L, 15L))
    ).toDF("id", "fp")
    val got = GraftOps.sharedFingerprintIds(df, "id", "fp")
    assert(got.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L, 5L))
    assert(!planOf(got).contains("collect_set"),
      "the sharing scan must never collect ids per fingerprint")
    // a doc whose fingerprints are all unique shares nothing even when
    // OTHER docs share heavily
    val lone = GraftOps.sharedFingerprintIds(
      df.filter(col("id") =!= 1L && col("id") =!= 2L && col("id") =!= 4L), "id", "fp")
    assert(lone.collect().isEmpty)
  }

  test("deterministicSample: reproducible, partition-independent, ~fraction sized") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 4000L).toDF("k")
    val s1 = GraftOps.deterministicSample(df, "k", 0.25)
      .collect().map(_.getLong(0)).toSet
    val s2 = GraftOps.deterministicSample(df.repartition(13), "k", 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(s1 === s2, "sampling must not depend on partitioning")
    assert(math.abs(s1.size - 1000) < 150, s"~25% expected, got ${s1.size}")
    // monotone: a smaller fraction samples a subset of a larger one
    val s3 = GraftOps.deterministicSample(df, "k", 0.1)
      .collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1))
  }

  test("deterministicSample boundaries: 1.0 keeps every row, 0.0 keeps none") {
    val spark2 = spark
    import spark2.implicits._
    // ADVICE round 3: floor(1.0*65536) formats as the 5-char "10000",
    // and a 4-char hex prefix sorts below it only when it starts with
    // '0' — fraction=1.0 silently kept ~6% of rows. Boundaries now
    // short-circuit.
    val df = (1L to 500L).toDF("k")
    assert(GraftOps.deterministicSample(df, "k", 1.0).count() === 500)
    assert(GraftOps.deterministicSample(df, "k", 0.0).count() === 0)
  }

  test("connectedComponents: transitive closure, chains, pair and isolated groups") {
    val spark2 = spark
    import spark2.implicits._
    // a 3-chain (1-2-3), a pair, and an 8-chain (30..37) that forces
    // multiple hash-min rounds; vertices appear only via edges
    val edges = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (30L until 37L).map(i => (i, i + 1))).toDF("src", "dst")
    val comps = GraftOps.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(comps(_) === 1L),
      "A~B, B~C must place A and C in one cluster (transitivity)")
    assert(comps(10L) === 10L && comps(11L) === 10L)
    assert((30L to 37L).forall(comps(_) === 30L),
      s"8-chain must fully converge, got $comps")
    // representative is always the min id — deterministic canonical form
    assert(comps.values.toSet === Set(1L, 10L, 30L))
  }

  test("connectedComponents converges in O(log n) rounds (200-chain under 25 iterations)") {
    val spark2 = spark
    import spark2.implicits._
    // a 200-vertex path has diameter 199: plain hash-min would need ~200
    // rounds and CANNOT finish within the default maxIter=25 — only the
    // pointer-jumping shortcut (chains halve per round) converges here
    val edges = (1000L until 1199L).map(i => (i, i + 1)).toDF("src", "dst")
    val comps = GraftOps.connectedComponents(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size === 200)
    assert(comps.values.forall(_ === 1000L),
      s"every chain vertex must reach the min label, got ${comps.values.toSet}")
  }

  test("keepClusterRepresentatives: one min-id survivor per cluster, isolated rows survive") {
    val spark2 = spark
    import spark2.implicits._
    // the frame's own "id"/"comp" columns must not collide with the
    // internals (temp names are derived to miss every input column)
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c"), (10L, "d"), (11L, "e"),
      (50L, "solo")).toDF("id", "comp")
    // clusters {1,2,3} (transitive via 1-2, 2-3) and {10,11}; 50 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val kept = GraftOps.keepClusterRepresentatives(rows, "id", edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept === Set((1L, "a"), (10L, "d"), (50L, "solo")))
  }

  test("ivfAssign: every vector lands on its nearest centroid (brute-force check)") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new java.util.Random(17)
    val df = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("vid", "vec")
    val cents = GraftOps.ivfCentroids(df, "vec", k = 8)
    assert(cents.length === 8 && cents.forall(_.length === 16))
    val assigned = df.select(col("vid"), col("vec"),
        GraftOps.ivfAssign(col("vec"), cents).as("cell")).collect()
    assigned.foreach { r =>
      val v = r.getSeq[Float](1)
      val best = cents.zipWithIndex.minBy { case (c, i) =>
        (c.zip(v).map { case (a, b) => (a.toDouble - b) * (a.toDouble - b) }.sum, i)
      }._2
      assert(r.getInt(2) === best, s"vid ${r.getLong(0)} mis-assigned")
    }
  }

  test("stratifiedSample: per-stratum fractions, zero/one boundaries, key-addressed") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 3000L).map(k => (k, Seq("a", "b", "c")((k % 3).toInt)))
      .toDF("k", "grp")
    val kept = GraftOps.stratifiedSample(df, "k", "grp",
      Map("a" -> 0.0, "b" -> 1.0, "c" -> 0.5))
    val byGrp = kept.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byGrp.contains("a"), "fraction 0.0 keeps nothing")
    assert(byGrp("b") === 1000L, "fraction 1.0 keeps everything")
    assert(math.abs(byGrp("c") - 500L) < 110, s"~50% expected, got ${byGrp("c")}")
    // same md5 rule as deterministicSample: the kept 'c' keys are EXACTLY
    // the unstratified sample of the 'c' slice (content-addressed)
    val cKeys = kept.filter(col("grp") === "c").select("k")
      .collect().map(_.getLong(0)).toSet
    val plain = GraftOps.deterministicSample(
        df.filter(col("grp") === "c"), "k", 0.5)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(cKeys === plain)
  }

  test("splitAssign: partition-invariant, nested bands, remainder to rest") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 2000).map(i => (i.toLong, s"doc$i")).toDF("k", "body")
    val s = GraftOps.splitAssign(df, "k", "split",
      Seq("train" -> 0.8, "val" -> 0.1))
    val byName = s.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet === Set("train", "val", "test"))
    assert(byName("train") > 1400 && byName("train") < 1800,
      s"~80% train, got $byName")
    // Partition-invariance: the assignment is a pure key function.
    val s2 = GraftOps.splitAssign(df.repartition(17), "k", "split",
      Seq("train" -> 0.8, "val" -> 0.1))
    assert(s.orderBy("k").collect().toSeq === s2.orderBy("k").collect().toSeq)
    // Nesting: widening train 0.5→0.8 keeps every old train key in train
    // (the no-migration-into-test guarantee).
    val narrow = GraftOps.splitAssign(df, "k", "split", Seq("train" -> 0.5))
      .filter(col("split") === "train").select("k").collect().map(_.getLong(0)).toSet
    val wideTrain = s.filter(col("split") === "train")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(narrow.subsetOf(wideTrain), "bands must nest under growth")
    // A full-width band routes every row (the 'cut==1.0' hex boundary).
    val full = GraftOps.splitAssign(df, "k", "split", Seq("all" -> 1.0))
    assert(full.filter(col("split") === "all").count() === 2000)
  }

  test("mixtureSample: binding stratum kept whole, no upsampling, deterministic") {
    val spark2 = spark
    import spark2.implicits._
    // 600 'a', 300 'b', 100 'c'; equal thirds target → c binds (rate 1.0),
    // a keeps ~100/600, b keeps ~100/300.
    val df = ((1 to 600).map(i => (i.toLong, "a")) ++
      (601 to 900).map(i => (i.toLong, "b")) ++
      (901 to 1000).map(i => (i.toLong, "c")))
      .toDF("k", "grp")
    val w = Map("a" -> 1.0 / 3, "b" -> 1.0 / 3, "c" -> 1.0 / 3)
    val out = GraftOps.mixtureSample(df, "k", "grp", w)
    val counts = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("c") === 100, s"binding stratum must be kept whole: $counts")
    assert(counts("a") <= 600 && counts("b") <= 300, "no stratum upsamples")
    // Each non-binding stratum lands near its target (hash-binomial noise).
    assert(math.abs(counts("a") - 100) < 40 && math.abs(counts("b") - 100) < 40,
      s"both should keep ~100: $counts")
    // Deterministic and partition-invariant: a pure key function given
    // the same stratum counts.
    val again = GraftOps.mixtureSample(df.repartition(13), "k", "grp", w)
      .orderBy("k").collect().toSeq
    assert(again === out.orderBy("k").collect().toSeq)
    // Strata without a weight are dropped entirely.
    val partial = GraftOps.mixtureSample(df, "k", "grp", Map("a" -> 0.5, "c" -> 0.5))
    assert(partial.filter(col("grp") === "b").count() === 0)
  }

  test("topFractionByScore: ~fraction kept per stratum, ties share a fate, whole-stratum at 1.0") {
    val spark2 = spark
    import spark2.implicits._
    // stratum 'a': distinct scores 1..100; stratum 'b': 10 distinct high
    // scores, then a 50-row tie block whose first rank sits INSIDE the
    // cut (pr = 10/99 ≈ 0.10) but whose size overflows the 25% budget
    val df = ((1 to 100).map(i => (i.toLong, "a", i)) ++
      (101 to 200).map { i =>
        val s = if (i <= 110) i - 10 else if (i <= 160) 90 else i - 160
        (i.toLong, "b", s)
      }).toDF("k", "grp", "score")
    val kept = GraftOps.topFractionByScore(df, "grp", "score", 0.25)
    val a = kept.filter(col("grp") === "a").collect()
    // distinct scores: percent_rank (r-1)/(n-1) <= 0.25 ⇒ r <= 25
    assert(a.length === 25 && a.map(_.getInt(2)).min === 76,
      s"top quarter of 'a' must be the top-25 scores, got ${a.length}")
    // the tie block at score=90 overflows the 25% budget but its shared
    // percent_rank is inside the cut: ALL 50 tied rows survive together
    val b90 = kept.filter(col("grp") === "b" && col("score") === 90).count()
    assert(b90 === 50, s"tied rows must be in or out together, got $b90")
    assert(kept.filter(col("grp") === "b").count() === 60)
    assert(GraftOps.topFractionByScore(df, "grp", "score", 1.0).count() === 200)
  }

  test("repetitionSignals: top-bigram run equals the true max bigram frequency") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "a b a b a b c"),        // bigram "a b" x3 of 6
      (2L, "x y z w"),              // all bigrams distinct
      (3L, "q q q q q")             // "q q" x4 of 4
    ).toDF("id", "body")
    val got = df.select(col("id"), GraftOps.repetitionSignals("body").as("s"))
      .select(col("id"), col("s.n_tokens"), col("s.n_distinct"), col("s.top_bigram_n"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((7L, 3L, 3L)))
    assert(got(2L) === ((4L, 4L, 1L)))
    assert(got(3L) === ((5L, 1L, 4L)))
  }

  test("contaminatedIds finds exactly the docs sharing a k-gram with the probe") {
    val spark2 = spark
    import spark2.implicits._
    val probe = Seq((100L, "the quick brown fox jumps over")).toDF("id", "body")
    val corpus = Seq(
      (1L, "prefix words then the quick brown fox jumps over something"),
      (2L, "entirely unrelated content with no shared runs at all"),
      (3L, "quick brown fox jumps differently here today now")  // only a 4-gram shared
    ).toDF("id", "body")
    val hits = GraftOps.contaminatedIds(corpus, probe, "id", "body", k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(hits === Set(1L), s"only doc 1 shares a 5-gram, got $hits")
  }

  test("packBins: exclusive prefix-sum binning respects shard and budget") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      ("a", 1L, 3000L), ("a", 2L, 2000L), ("a", 3L, 2000L), ("a", 4L, 100L),
      ("b", 1L, 9000L), ("b", 2L, 1L)
    ).toDF("shard", "ord", "w")
    val got = GraftOps.packBins(df, "shard", "ord", "w", 4096L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    // shard a prefix sums: 0, 3000, 5000, 7000 -> bins 0,0,1,1
    assert(got(("a", 1L)) === 0L && got(("a", 2L)) === 0L)
    assert(got(("a", 3L)) === 1L && got(("a", 4L)) === 1L)
    // shard b independent: 0, 9000 -> bins 0, 2
    assert(got(("b", 1L)) === 0L && got(("b", 2L)) === 2L)
  }

  test("tfidf: ubiquitous tokens score zero, rare tokens score tf*ln(N/df)") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "common rare1"), (2L, "common middle"), (3L, "common middle")
    ).toDF("id", "body")
    val got = GraftOps.tfidf(df, "id", "body")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("common") === ((3L, 3L, 0.0)), "df = N => idf 0")
    assert(got("rare1")._2 === 1L)
    assert(math.abs(got("rare1")._3 - math.log(3.0)) < 1e-6)
    assert(math.abs(got("middle")._3 - 2.0 * math.log(1.5)) < 1e-6)
  }

  test("unigramLogprob: exact avg ln(tf/N), one Generate in the scoring plan") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "a a b"), (2L, "a b")).toDF("id", "body")
    val out = GraftOps.unigramLogprob(df, "id", "body")
    // N = 5 tokens total (derived as sum(tf) over the vocabulary — by
    // construction identical to a token-stream count); tf: a=3, b=2
    val got = out.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L)._1 === 3L)
    val exp1 = (2 * math.log(3.0 / 5) + math.log(2.0 / 5)) / 3
    val exp2 = (math.log(3.0 / 5) + math.log(2.0 / 5)) / 2
    assert(math.abs(got(1L)._2 - exp1) < 1e-6)
    assert(math.abs(got(2L)._2 - exp2) < 1e-6)
    // the round-6 shape tokenized the corpus 3x per run: a count() pass,
    // plus the unmaterialized freq lineage re-tokenizing inside the join.
    // Now the vocabulary is checkpointed and N comes from sum(tf), so the
    // scoring plan carries exactly ONE Generate over the corpus.
    val generates = out.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.length === 1, "scoring plan must tokenize the corpus once")
  }

  test("property: ngramJaccard is 1 on self, symmetric, within [0,1] (random texts)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val spark2 = spark
    import spark2.implicits._
    val word = Gen.listOfN(4, Gen.alphaLowerChar).map(_.mkString)
    val text = Gen.listOfN(12, word).map(_.mkString(" "))
    val pairs = (0 until 12).flatMap { i =>
      for {
        a <- text(Gen.Parameters.default, Seed(7L + i))
        b <- text(Gen.Parameters.default, Seed(1007L + i))
      } yield (a, b)
    }
    val df = pairs.toDF("a", "b").select(
      GraftOps.ngramJaccard(col("a"), col("a")).as("self"),
      GraftOps.ngramJaccard(col("a"), col("b")).as("ab"),
      GraftOps.ngramJaccard(col("b"), col("a")).as("ba"))
    assert(df.filter(col("self") =!= 1.0).count() === 0, "jaccard(a,a) = 1")
    assert(df.filter(col("ab") =!= col("ba")).count() === 0, "symmetric")
    assert(df.filter(col("ab") < 0.0 || col("ab") > 1.0).count() === 0, "bounded")
  }

  test("property: deterministicSample size within binomial bounds for random fractions") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 2000L).toDF("k").cache()
    val fracGen = Gen.choose(0.05, 0.95)
    val fracs = (0 until 6).flatMap(i =>
      fracGen.apply(Gen.Parameters.default, Seed(11L + i)))
    fracs.foreach { f =>
      val got = GraftOps.deterministicSample(df, "k", f).count().toDouble
      val expect = 2000.0 * f
      val slack = 5.0 * math.sqrt(2000.0 * f * (1.0 - f)) // ±5σ
      assert(math.abs(got - expect) <= slack,
        s"fraction $f: got $got, expected $expect ± $slack")
    }
  }

  test("bloomBuild/bloomMightContain: zero false negatives, fpp within sizing bound") {
    val spark2 = spark
    import spark2.implicits._
    // history = 5000 keys; batch = 2500 members + 2500 non-members
    val history = (1L to 5000L).map(k => s"key_$k").toDF("k")
    val bf = GraftOps.bloomBuild(history, col("k"), 5000L, 50000L) // 10 bits/item, fpp ~1%
    val batch = ((2501L to 5000L).map(k => (s"key_$k", true)) ++
      (10001L to 12500L).map(k => (s"key_$k", false))).toDF("k", "member")
    val marked = batch
      .withColumn("candidate", GraftOps.bloomMightContain(spark, bf, col("k")))
      .groupBy(col("member"))
      .agg(count(lit(1)).as("n"), sum(col("candidate").cast("long")).as("cand"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(marked(true) === ((2500L, 2500L)), "bloom produced a false negative")
    // 2500 non-members at fpp ~1% → expect ~25 FPs; 5x headroom
    assert(marked(false)._2 <= 125L,
      s"false-positive count ${marked(false)._2} far above the ~1% sizing bound")
  }

  test("cmsBuild/cmsEstimates: estimates bracket exact counts on skewed user data") {
    val spark2 = spark
    import spark2.implicits._
    // zipf-ish: key k appears 1000/k times, k = 1..50 → N = sum ≈ 4500
    val rows = (1L to 50L).flatMap(k => Seq.fill((1000 / k).toInt)(k))
    val df = rows.toDF("k")
    val cms = GraftOps.cmsBuild(df, col("k"))
    val est = GraftOps.cmsEstimates(spark, cms, Seq(1L, 2L, 10L, 50L, 999L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = rows.size
    val slack = math.ceil(0.001 * n).toLong
    for ((k, exact) <- Seq(1L -> 1000L, 2L -> 500L, 10L -> 100L, 50L -> 20L, 999L -> 0L)) {
      assert(est(k) >= exact, s"key $k: CMS under-estimated (${est(k)} < $exact)")
      assert(est(k) <= exact + slack, s"key $k: ${est(k)} above $exact + $slack")
    }
  }

  test("int8 quantization: 4x smaller codes, cosine preserved within 1e-2, top-1 stable") {
    val e = sources.Tables.embeddings(spark, sf)
      .withColumn("q", GraftOps.quantizeInt8(col("embedding")))
      .withColumn("deq", GraftOps.dequantizeInt8(col("q")))
    // structural: codes are tinyint, same length as the vector
    assert(e.schema("q").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]("codes")
      .dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.typeName === "byte")
    assert(e.filter(size(col("q.codes")) =!= size(col("embedding"))).count() === 0)
    // cosine against a fixed probe survives quantization within 1e-3
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pv"), col("deq").as("pdq"))
    val sims = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
      .select(col("vec_id"),
        GraftOps.cosine(col("embedding"), col("pv")).as("exact"),
        GraftOps.cosine(col("deq"), col("pdq")).as("approx"))
    // int8 on d=64 has ~1.4e-3 expected cosine deviation (error/element
    // ~ scale/2, both sides quantized); 1e-2 bounds the tail
    assert(sims.filter(abs(col("exact") - col("approx")) > 1e-2).count() === 0)
    // and the nearest neighbour is the same vector either way
    val top = sims.orderBy(col("exact").desc, col("vec_id")).select("vec_id").first().getLong(0)
    val topQ = sims.orderBy(col("approx").desc, col("vec_id")).select("vec_id").first().getLong(0)
    assert(top === topQ, "top-1 must survive int8 quantization on this corpus")
  }

  test("pageRank: symmetric pair is a fixed point; hubs outrank leaves; sinks keep teleport") {
    val spark2 = spark
    import spark2.implicits._
    // graph: 1—2 (symmetric pair), star 10—{11,12,13}, isolated 20
    val edges = Seq((1L, 2L), (10L, 11L), (10L, 12L), (10L, 13L)).toDF("s", "d")
    val nodes = Seq(1L, 2L, 10L, 11L, 12L, 13L, 20L).toDF("nid")
    val r = GraftOps.pageRank(edges, nodes, "nid", "s", "d", iters = 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val n = 7.0
    // the uniform distribution restricted to a symmetric pair is NOT a
    // global fixed point here (other components differ), but the pair
    // exchanges its mass symmetrically: ranks stay equal
    assert(math.abs(r(1L) - r(2L)) < 1e-15)
    assert(r(10L) > r(11L), "the hub collects three contributions per round")
    assert(math.abs(r(11L) - r(12L)) < 1e-15 && math.abs(r(12L) - r(13L)) < 1e-15)
    // an isolated node receives exactly the teleport term (same
    // expression shape as the implementation: (1-d)/N, not a 0.15
    // literal — they differ in the last ulp)
    assert(r(20L) === (1.0 - 0.85) / n)
    // total mass is bounded by 1 (dangling mass not redistributed)
    assert(r.values.sum <= 1.0 + 1e-12 && r.values.sum > 0.15)
  }

  test("pre-partitioned localCheckpoint reuses its layout: round join shuffles only the labels side") {
    // The mechanism behind connectedComponents/pageRank's 100 TB shape:
    // the loop-invariant edge set is repartition(joinKey)-ed once before
    // its checkpoint; LogicalRDD preserves the hash partitioning, so
    // EnsureRequirements must NOT re-exchange the edge side — each round
    // moves only the small labels table.
    val spark2 = spark
    import spark2.implicits._
    val edges = (0L until 200L).map(i => (i, (i * 7) % 200)).toDF("src", "dst")
    // plain .localCheckpoint() would NOT work here: under AQE the
    // captured outputPartitioning is UnknownPartitioning (the AQE root
    // never overrides it) — checkpointPartitioned materializes with AQE
    // off for this one action to keep the real HashPartitioning
    val sym = GraftOps.checkpointPartitioned(edges.repartition(col("dst")))
    val labels = (0L until 200L).map(i => (i, i)).toDF("id", "comp")
    val joined = sym.join(labels.hint("merge"), sym("dst") === labels("id"))
    // merge hint forces a shuffle join (no broadcast shortcut): exactly
    // ONE Exchange may appear, and it must hang over the labels scan
    val plan = planOf(joined)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"edge side must reuse its checkpointed partitioning (1 exchange for labels), got $exchanges:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("pageRank: plan size is constant in the iteration count (lineage truncated)") {
    val spark2 = spark
    import spark2.implicits._
    val edges = (0L until 40L).map(i => (i, (i + 1) % 40)).toDF("s", "d")
    val nodes = (0L until 40L).toDF("nid")
    def planLines(iters: Int): Int =
      planOf(GraftOps.pageRank(edges, nodes, "nid", "s", "d", iters = iters))
        .linesIterator.size
    val (p2, p6) = (planLines(2), planLines(6))
    // without the per-round localCheckpoint the plan doubles per
    // iteration; with it the final plan is one join+agg regardless
    assert(p6 <= p2 + 5,
      s"plan grew with iterations ($p2 lines at 2 iters, $p6 at 6) — lineage not truncated")
  }

  test("weightedPrioritySample: k per stratum, scale-invariant, WindowGroupLimit") {
    val spark2 = spark
    import spark2.implicits._
    val rows = (0 until 400).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", 1.0 + (i % 7)))
    val df = rows.toDF("id", "grp", "wt")
    val picked = GraftOps.weightedPrioritySample(df, "id", "wt", Seq("grp"), 10)
    assert(planOf(picked).contains("WindowGroupLimit"),
      "rank filter must compile to per-partition WindowGroupLimit")
    val sel = picked.collect()
    assert(sel.length === 20, "10 per stratum across 2 strata")
    assert(sel.groupBy(_.getString(1)).forall(_._2.length === 10))
    // ranking by u/w is invariant under uniform weight scaling
    val scaled = GraftOps.weightedPrioritySample(
      df.withColumn("wt", col("wt") * 1000.0), "id", "wt", Seq("grp"), 10)
    assert(scaled.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      sel.map(_.getLong(0)).sorted.toSeq)
    // selection is a pure function of content, not partitioning
    val repart = GraftOps.weightedPrioritySample(
      df.repartition(13), "id", "wt", Seq("grp"), 10)
    assert(repart.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      sel.map(_.getLong(0)).sorted.toSeq)
    // a stratum smaller than k is kept whole
    val tiny = GraftOps.weightedPrioritySample(
      df.filter(col("id") < 6), "id", "wt", Seq("grp"), 10)
    assert(tiny.count() === 6)
  }

  test("redact: patterns apply left to right; replacement text is not rescanned") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq("call 555-0100 or mail a@b.de x9").toDF("t")
    val out = df.select(GraftOps.redact(col("t"), Seq(
      "[a-z0-9.]+@[a-z0-9.]+" -> "<EMAIL>",
      "[0-9]+" -> "<NUM>")).as("r")).head.getString(0)
    // email first — its digits must be consumed by <EMAIL>, not <NUM>
    assert(out === "call <NUM>-<NUM> or mail <EMAIL> x<NUM>", out)
  }

  test("fuzzyDupPairs: unordered pairs once, exact dup at distance 0, equi-join plan") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delto"),   // 1 edit from doc 1
      (3L, "alpha beta gamma delta"),   // exact dup of doc 1
      (4L, "zz yy totally different"),
      (5L, "alpha beta xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx")
    ).toDF("doc_id", "text")
    val blk = concat_ws(" ", split(col("text"), " ")(0), split(col("text"), " ")(1))
    val pairs = GraftOps.fuzzyDupPairs(df, "doc_id", "text", blk, maxRel = 0.4)
    val plan = planOf(pairs)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"blocking must stay an equi-join:\n$plan")
    val got = pairs.collect().map(r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("lev"), r.getAs[Boolean]("is_dup"))).sortBy(p => (p._1, p._2))
    // block "alpha beta" pairs {1,2,3,5}; doc 4 is alone in its block
    assert(got.map(p => (p._1, p._2)).toSeq ===
      Seq((1L, 2L), (1L, 3L), (1L, 5L), (2L, 3L), (2L, 5L), (3L, 5L)))
    val byPair = got.map(p => (p._1, p._2) -> (p._3, p._4)).toMap
    assert(byPair((1L, 3L)) === ((0L, true)), "exact dup: distance 0")
    assert(byPair((1L, 2L)) === ((1L, true)), "single edit within threshold")
    assert(!byPair((1L, 5L))._2 && !byPair((3L, 5L))._2,
      "long divergent text exceeds the relative threshold")
  }

  test("cosineTopK and annTopK on a user embedding DataFrame") {
    val spark2 = spark
    import spark2.implicits._
    // probe 0; 1 is nearly parallel, 2 orthogonal-ish, 3 anti-parallel
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vid", "vec")
    val exact = GraftOps.cosineTopK(vecs, "vid", "vec", probeId = 0L, k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(exact.head._1 === 1L && exact.head._2 > 0.99)
    assert(exact.map(_._1).toSeq === Seq(1L, 2L))
    val ann = GraftOps.annTopK(vecs, "vid", "vec", probeId = 0L, k = 2, n = 4L)
      .collect().map(_.getLong(0))
    // the ANN result is a subset of candidates scoring identically
    assert(ann.nonEmpty && ann.toSet.subsetOf(Set(1L, 2L, 3L)))
  }

  test("latenessAudit detects planted disorder with exact lateness") {
    val s2 = spark
    import s2.implicits._
    // key 1 arrivals: t=100s, 300s, 200s (late by 100s), 400s;
    // key 2 in order throughout
    val df = Seq(
      (1L, 1L, 100000000L), (1L, 2L, 300000000L),
      (1L, 3L, 200000000L), (1L, 4L, 400000000L),
      (2L, 1L, 50000000L), (2L, 2L, 60000000L))
      .toDF("k", "arr", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = GraftOps.latenessAudit(df, "k", "arr", "ts")
      .select(col("k"), col("arr"), col("late_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 1L)) === 0L, "first arrival is never late")
    assert(out((1L, 2L)) === 0L)
    assert(out((1L, 3L)) === 100000000L, "exact µs below the watermark")
    assert(out((1L, 4L)) === 0L, "watermark recovers")
    assert(out((2L, 1L)) === 0L && out((2L, 2L)) === 0L,
      "in-order key stays clean")
  }

  test("globalPrefixSums: bit-identical to the naive cumsum across shard boundaries") {
    // 1000 rows, shardWidth=64 → 16 shards; cum sums must chain
    // EXACTLY through every shard boundary (exact long arithmetic).
    val df = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 7 + 1).cast("long").as("a"),
      (col("id") % 3).cast("long").as("b"))
    val out = GraftOps.globalPrefixSums(df, "k", Seq("a", "b"), shardWidth = 64L)
      .orderBy("k").collect()
    assert(out.length === 1000)
    var ca = 0L; var cb = 0L
    out.foreach { r =>
      ca += r.getAs[Long]("a"); cb += r.getAs[Long]("b")
      assert(r.getAs[Long]("cum_a") === ca, s"cum_a at k=${r.getAs[Long]("k")}")
      assert(r.getAs[Long]("cum_b") === cb, s"cum_b at k=${r.getAs[Long]("k")}")
    }
    assert(ca === (0 until 1000).map(i => i % 7 + 1L).sum)
  }

  test("sortedPrefixSums: rank and cumsum match the naive global sort, desc with ties") {
    // values with heavy ties force the tie-break key to do real work,
    // and shards=8 over 500 rows forces cross-shard offset chaining
    val df = spark.range(0, 500).select(col("id").as("k"),
      (col("id") % 13).cast("long").as("v"),
      (col("id") % 5 + 1).cast("long").as("wt"))
    val out = GraftOps.sortedPrefixSums(df,
        Seq(col("v").desc, col("k")), Seq("wt"), shards = 8,
        withTotals = true)
      .orderBy("rnk").collect()
    assert(out.length === 500)
    // withTotals: the grand totals ride every row as constants
    val totWt = (0L until 500L).map(_ % 5 + 1).sum
    out.foreach { r =>
      assert(r.getAs[Long]("tot_rn") === 500L, "tot_rn on every row")
      assert(r.getAs[Long]("tot_wt") === totWt, "tot_wt on every row")
    }
    val naive = (0L until 500L).map(i => (i, i % 13, i % 5 + 1))
      .sortBy { case (k, v, _) => (-v, k) }
    var cum = 0L
    naive.zipWithIndex.foreach { case ((k, v, wt), i) =>
      cum += wt
      val r = out(i)
      assert(r.getAs[Long]("k") === k, s"rank ${i + 1} row identity")
      assert(r.getAs[Long]("rnk") === i + 1L)
      assert(r.getAs[Long]("cum_wt") === cum, s"rank ${i + 1} cumsum")
    }
  }

  test("sortedPrefixSums: all-NULL sum values in a shard count as 0, no NPE") {
    // A shard whose sum column is entirely NULL makes the driver-side
    // max_by total NULL; the collect must read it as 0 (the window form
    // it replaced skipped NULLs), not throw. ids 0-99 → NULL lands the
    // low shards under shards=4 range partitioning.
    val df = spark.range(0, 100).select(col("id").as("k"),
      when(col("id") >= 50, lit(1L)).as("w"))
    val out = GraftOps.sortedPrefixSums(df, Seq(col("k")), Seq("w"),
        shards = 4, withTotals = true)
      .orderBy("rnk").collect()
    assert(out.length === 100)
    assert(out.last.getAs[Long]("cum_w") === 50L)
    assert(out.head.getAs[Long]("tot_w") === 50L)
    // per-row semantics unchanged: a running sum over only-NULL values
    // is NULL (SQL window parity); the fix is the DRIVER-side offsets
    assert(out(49).isNullAt(out(49).fieldIndex("cum_w")))
    assert(out(50).getAs[Long]("cum_w") === 1L, "offset after NULL shard is 0")
  }

  test("prefix machinery at 200k rows / 3125 shards: endpoints and spot ranks exact") {
    // Scale smoke: many shards, long offset chains. Endpoint identities
    // verify the full chain without a 200k-row driver loop.
    val n = 200000L
    val df = spark.range(0, n).select(col("id").as("k"), lit(1L).as("one"),
      (col("id") % 100).cast("long").as("v"))
    val g = GraftOps.globalPrefixSums(df, "k", Seq("one", "v"), shardWidth = 64L)
    val gLast = g.orderBy(col("k").desc).limit(1).collect()(0)
    assert(gLast.getAs[Long]("cum_one") === n, "final running count = n")
    assert(gLast.getAs[Long]("cum_v") ===
      (0L until n).map(_ % 100).sum, "final running sum = total")
    // monotone + correct at a mid shard boundary (k = 64*1561 - 1 and next)
    val mid = g.filter(col("k").isin(99903L, 99904L)).orderBy("k").collect()
    assert(mid(0).getAs[Long]("cum_one") === 99904L)
    assert(mid(1).getAs[Long]("cum_one") === 99905L)
    val s = GraftOps.sortedPrefixSums(df, Seq(col("k")), Seq("one"), shards = 64)
    val sLast = s.orderBy(col("rnk").desc).limit(1).collect()(0)
    assert(sLast.getAs[Long]("rnk") === n, "max rank = n (no gaps, no dups)")
    assert(sLast.getAs[Long]("cum_one") === n)
    assert(s.filter(col("rnk") =!= col("k") + 1).count() === 0L,
      "identity ordering: rank == k+1 for every row")
  }

  test("ntileFromRank: bit-identical to the NTILE window for ragged n/k") {
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 7, 10, 23, 100, 101); k <- Seq(1, 3, 5, 10)) {
      val df = spark.range(1, n + 1).select(col("id").as("rnk"))
      val got = df.withColumn("b",
          GraftOps.ntileFromRank(col("rnk"), lit(n.toLong), k))
        .orderBy("rnk").collect().map(_.getLong(1))
      val want = df.withColumn("b",
          ntile(k).over(Window.orderBy(col("rnk"))).cast("long"))
        .orderBy("rnk").collect().map(_.getLong(1))
      assert(got.toSeq === want.toSeq, s"n=$n k=$k")
    }
  }

  test("globalPrefixSums: sparse non-contiguous order keys (empty shards skipped)") {
    val df = spark.range(0, 50).select((col("id") * 1000L).as("k"),
      lit(1L).as("a"))
    val out = GraftOps.globalPrefixSums(df, "k", Seq("a"), shardWidth = 64L)
      .orderBy("k").collect()
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("cum_a") === i + 1L)
    }
  }
}
