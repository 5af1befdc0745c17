package graft

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.expressions.LshBucket
import graft.operators.{Ann, Pipeline}

/** Structural guarantees of the LSH-bucketed ANN path (no SQL oracle). */
class AnnSpec extends SparkTestBase {

  /** Retired UDF formulation of `lsh_bucket`, kept ONLY as the
    * cross-check oracle for the native expression; the declared queries
    * use the codegen expression.
    */
  private def lshBucketUdf(nbits: Int): UserDefinedFunction = {
    val planes = LshBucket.planesFor(nbits)
    udf { (v: Seq[Float]) =>
      var sig = 0
      var i = 0
      while (i < planes.length) {
        val p = planes(i)
        var d = 0.0
        var j = 0
        val n = math.min(v.length, p.length)
        while (j < n) { d += v(j) * p(j); j += 1 }
        if (d >= 0) sig |= (1 << i)
        i += 1
      }
      sig
    }
  }

  test("knn_ann returns a full, ladder-confined, sim-ordered top-k") {
    val rows = Ann.knnAnn(spark, sf).collect()
    val sel = Ann.selectedBuckets(spark, sf).toSet
    assert(sel.nonEmpty)
    assert(rows.map(_.getInt(1)).forall(sel.contains),
      "all rows inside the auto-widened bucket selection")
    val sims = rows.map(_.getDouble(2))
    assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
    assert(!rows.map(_.getLong(0)).contains(0L), "probe excluded")
  }

  test("knn_ann auto-widen yields min(k, n-1) rows at every scale (r11 verdict)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val n = sources.Tables.embeddings(spark, dir).count()
      val rows = Ann.knnAnn(spark, dir).collect()
      assert(rows.length === math.min(10L, n - 1),
        s"$dir: top-10 probe over n=$n must not be bucket-starved")
    }
  }

  test("knn_ann is deterministic across runs (fixed hyperplane seed)") {
    assert(Ann.knnAnn(spark, sf).collect()
      .sameElements(Ann.knnAnn(spark, sf).collect()))
  }

  test("ANN sims are a subset of brute-force sims (same scoring function)") {
    // every (vec_id, sim) the ANN path emits must score identically in
    // the exact path over the same probe: join on vec_id, compare sims
    val ann = Ann.knnAnn(spark, sf).select(col("vec_id"), col("sim").as("ann_sim"))
    val brute = Pipeline.udfCosineTopk(spark, sf)
      .select(col("vec_id"), col("sim").as("bf_sim"))
    val joined = ann.join(brute, "vec_id")
      .filter(col("ann_sim") =!= col("bf_sim"))
    assert(joined.count() === 0)
  }

  test("native lsh_bucket expression is bit-identical to the retired UDF") {
    val e = sources.Tables.embeddings(spark, sf)
    val bad = e.select(
        expr("lsh_bucket(embedding, 6)").as("native"),
        lshBucketUdf(6)(col("embedding")).as("viaUdf"))
      .filter(col("native") =!= col("viaUdf"))
    assert(bad.count() === 0)
  }

  test("lsh_bucket yields NULL on null elements, codegen and interpreted alike") {
    // cosine_sim's contract (ADVICE round 3): reading a null slot via
    // ArrayData.getFloat is undefined data — a representation-dependent
    // bucket would diverge between eval paths. NULL instead, in both.
    val df = spark.range(2).selectExpr(
      "id",
      "CASE WHEN id = 0 THEN array(cast(1.0 as float), cast(null as float)) " +
        "ELSE array(cast(1.0 as float), cast(2.0 as float)) END AS v")
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      def run(): Map[Long, Option[Int]] =
        df.select(col("id"), expr("lsh_bucket(v, 6)").as("b")).collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = run()
      assert(gen === interp, "codegen and interpreted eval must agree")
      assert(gen(0L).isEmpty, "null element must produce a NULL bucket")
      assert(gen(1L).isDefined, "clean vector must still bucket")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("knn_ann plan is fully UDF-free and inside whole-stage codegen") {
    val df = Ann.knnAnn(spark, sf)
    df.collect() // materialize AQE's final plan (codegen stages resolve at runtime)
    val plan = planOf(df)
    assert(!plan.contains("ScalaUDF"), s"UDF crept into the ANN plan:\n$plan")
    assert(plan.contains("lsh_bucket"), plan)
    assert(plan.contains("cosine_sim"), plan)
    // `*(n)` prefixes mark operators fused into a WholeStageCodegen stage;
    // the projection computing the similarity must carry one
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("cosine_sim")),
      s"cosine projection must sit inside a codegen stage:\n$plan")
  }

  test("knn_quant and knn_ann_multi plans are UDF-free (quantize is pure Catalyst)") {
    for (df <- Seq(Ann.knnQuant(spark, sf), Ann.knnAnnMulti(spark, sf))) {
      df.collect()
      val plan = planOf(df)
      assert(!plan.contains("ScalaUDF"), s"UDF crept into the plan:\n$plan")
      assert(plan.contains("cosine_sim"), plan)
    }
  }

  test("bitsFor implements the scale rule: ~log2(n/1024), floor 6, cap 24") {
    assert(LshBucket.bitsFor(500L) === 6)
    assert(LshBucket.bitsFor(2000L) === 6, "sf0.1 keeps the round-2 bucket count")
    assert(LshBucket.bitsFor(64L * 1024L) === 6)
    assert(LshBucket.bitsFor(1L << 20) === 10)
    assert(LshBucket.bitsFor(1_000_000_000L) === 20)
    assert(LshBucket.bitsFor(Long.MaxValue / 4) === 24, "capped at MaxBits")
    // monotone: more data never means fewer buckets
    val pts = Seq(1L, 1000L, 100_000L, 10_000_000L, 1_000_000_000L, 1L << 40)
    assert(pts.map(LshBucket.bitsFor(_)) === pts.map(LshBucket.bitsFor(_)).sorted)
  }

  test("plane prefixes are stable: growing nbits refines buckets, never reshuffles") {
    val p6 = LshBucket.planesFor(6)
    val p20 = LshBucket.planesFor(20)
    assert(p6.zip(p20.take(6)).forall { case (a, b) => a.sameElements(b) })
    // consequence: a k-bit bucket is the low-k-bit prefix of the K-bit bucket
    val bad = sources.Tables.embeddings(spark, sf)
      .select(expr("lsh_bucket(embedding, 6)").as("b6"),
        expr("lsh_bucket(embedding, 12)").as("b12"))
      .filter(col("b6") =!= (col("b12").bitwiseAND(lit(63))))
    assert(bad.count() === 0)
  }

  test("bucket-partitioned layout prunes the ANN scan to the probe's partition") {
    val dir = tempDir("graft_ann_bkt").toString
    Ann.writeBucketed(spark, sf, dir)
    val df = Ann.knnAnnPruned(spark, dir, Ann.selectedBuckets(spark, sf))
    val rows = df.collect()
    val plan = planOf(df)
    // the bucket predicate must be a PARTITION filter (file-listing
    // prune), not a data filter evaluated per row
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(pf.contains("bucket"), s"bucket must prune partitions:\n$plan")
    // pruned layout returns exactly the in-memory knn_ann answer
    val direct = Ann.knnAnn(spark, sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq ===
      direct.map(r => (r.getLong(0), r.getDouble(2))).toSeq)
  }

  test("bandBitsFor: zero through the primary regime, excess past the cap, capped") {
    assert(LshBucket.bandBitsFor(2000L) === 0)
    assert(LshBucket.bandBitsFor(1L << 30) === 0)
    // the primary signature saturates at n = 2^24 * 1024 = 2^34
    assert(LshBucket.bandBitsFor(1L << 34) === 0)
    assert(LshBucket.bandBitsFor(1L << 35) === 1, "first post-cap doubling")
    assert(LshBucket.bandBitsFor(1L << 40) === 6)
    assert(LshBucket.bandBitsFor(Long.MaxValue) === 24, "band itself capped")
    val pts = Seq(1L, 1L << 20, 1L << 34, 1L << 35, 1L << 44, Long.MaxValue)
    assert(pts.map(LshBucket.bandBitsFor(_)) === pts.map(LshBucket.bandBitsFor(_)).sorted)
    // joint capacity: primary + band bits keep ~1024-row groups to 2^48 groups
    assert(LshBucket.bitsFor(1L << 44) + LshBucket.bandBitsFor(1L << 44) === 34)
  }

  test("band planes come from a disjoint window of the same seeded stream") {
    val prim = LshBucket.planesFor(LshBucket.MaxBits)
    val band = LshBucket.planesAt(LshBucket.MaxBits, LshBucket.MaxBits)
    assert(band.length === LshBucket.MaxBits)
    assert(!band.exists(b => prim.exists(_.sameElements(b))),
      "band must never reuse a primary plane — a reused plane adds no information")
    // extending the stream to TotalPlanes must not have moved the
    // primary window (same seed, same fill order ⇒ round-2 buckets hold)
    assert(LshBucket.planesFor(6).zip(prim.take(6)).forall {
      case (a, b) => a.sameElements(b) })
  }

  test("post-cap (bucket, band) self-join: subset of bucket-only pairs, exact dups survive") {
    val base = sources.Tables.embeddings(spark, sf)
    // plant an exact duplicate of vec 0 under id -1
    val e = base.unionAll(
      base.filter(col("vec_id") === 0).withColumn("vec_id", lit(-1L)))
    val sig = e.select(col("vec_id"),
      expr("lsh_bucket(embedding, 6)").as("bucket"),
      expr(s"lsh_bucket(embedding, 8, ${LshBucket.MaxBits})").as("band"))
    def pairs(keys: Seq[String]): Set[(Long, Long)] = {
      val a = sig.select(col("vec_id").as("ia"), col("bucket"), col("band"))
      val b = sig.select(col("vec_id").as("ib"), col("bucket"), col("band"))
      a.join(b, keys).filter(col("ia") < col("ib"))
        .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val bucketOnly = pairs(Seq("bucket"))
    val banded = pairs(Seq("bucket", "band"))
    assert(banded.subsetOf(bucketOnly), "the band only ever PRUNES candidates")
    assert(banded.contains((-1L, 0L)),
      "identical vectors share every signature level — dups never pruned")
    assert(banded.size < bucketOnly.size,
      "8 band bits must actually split this corpus's hot buckets")
  }

  /** Larger-sf legs run only where the driver's testdata exists — the
    * sf0.001 leg is the plan-level pin; sf0.1 is corroboration, not a
    * hard environment dependency.
    */
  private def sfDirs: Seq[String] =
    Seq(sf) ++ Seq("/root/testdata/sf0.1").filter(d => new java.io.File(d).isDirectory)

  test("below the cap the band column is the constant 0 (single-level join preserved)") {
    for (dir <- sfDirs) {
      val (e, _) = Ann.bucketed(spark, dir)
      val bands = e.select(col("band")).distinct().collect().map(_.getInt(0))
      assert(bands.sameElements(Array(0)),
        s"$dir: band must be constant 0 below 1.7e10 rows, got ${bands.toSeq}")
    }
  }

  test("probeBuckets: primary first, <= nprobe distinct buckets, 1-bit flips") {
    val pv = Ann.bucketed(spark, sf)._1.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    val primary = Ann.probeBuckets(pv, 6, 1)
    assert(primary.length === 1)
    for (np <- Seq(2, 4, 8)) {
      val bs = Ann.probeBuckets(pv, 6, np)
      assert(bs.head === primary.head, "primary signature leads the probe set")
      // a 6-bit signature has only 6 single-bit flips, so the probe set
      // saturates at bits + 1 buckets
      val expected = math.min(np, 7)
      assert(bs.length === expected && bs.distinct.length === expected)
      // every extra bucket is exactly one bit away from the primary
      bs.tail.foreach { b =>
        assert(Integer.bitCount(b ^ primary.head) === 1, s"bucket $b not a 1-bit flip")
      }
    }
  }

  test("knn_ann is bit-identical to the multi-probe form at its chosen nprobe") {
    // the auto-widened knn_ann IS knnAnnProbing with the data-free
    // nprobe = |selectedBuckets| (same margin-ordered ladder prefix)
    val np = Ann.selectedBuckets(spark, sf).length
    assert(np >= 1)
    assert(Ann.knnAnnProbing(spark, sf, nprobe = np).collect()
      .sameElements(Ann.knnAnn(spark, sf).collect()))
  }

  test("knn_ann_multi: bucket-confined to the probed set, recall monotone in nprobe") {
    val pv = Ann.bucketed(spark, sf)._1.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    val bits = Ann.bucketBits(Ann.bucketed(spark, sf)._1.count())
    val trueTop = Pipeline.udfCosineTopk(spark, sf).collect().map(_.getLong(0)).toSet
    def recallAt(np: Int): (Int, Array[org.apache.spark.sql.Row]) = {
      val rows = Ann.knnAnnProbing(spark, sf, np).collect()
      val probed = Ann.probeBuckets(pv, bits, np).toSet
      assert(rows.map(_.getInt(1)).forall(probed.contains), s"nprobe=$np confinement")
      (rows.map(_.getLong(0)).count(trueTop.contains), rows)
    }
    // Candidate supersets ranked by EXACT cosine can only displace a
    // true-top-10 hit with another true-top-10 member, so recall is
    // monotone in nprobe — and at this sf the extra buckets genuinely
    // recover misses (strict improvement, measured 6/10 -> 10/10).
    val r1 = recallAt(1)._1
    val r4 = recallAt(4)._1
    val r8 = recallAt(8)._1
    assert(r4 >= r1 && r8 >= r4, s"recall must be monotone: $r1, $r4, $r8")
    assert(r8 > r1, s"multi-probe must strictly improve recall at this sf ($r1 -> $r8)")
  }

  test("knn_quant: selection-confined, sim-ordered, top-10 overlap with exact >= 8/10") {
    val rows = Ann.knnQuant(spark, sf).collect()
    assert(rows.nonEmpty)
    val sel = Ann.knnQuantBuckets(spark, sf)
    if (sel.nonEmpty)
      assert(rows.map(_.getInt(1)).toSet.subsetOf(sel.toSet),
        "all rows inside the pool-widened bucket selection")
    assert(!rows.map(_.getLong(0)).contains(0L), "probe excluded")
    val sims = rows.map(_.getDouble(2))
    assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
    // rescore-on-originals over a 50-deep pool should reproduce the
    // exact ranking over the SAME bucket selection almost always;
    // >= 8/10 is the contract. Baseline = the exact cosine top-10 over
    // knn_quant's own widened scope (r13: the single-bucket baseline
    // retired with the single-bucket candidate filter).
    val exact = Ann.knnAnnOverBuckets(spark, sf, sel)
      .collect().map(_.getLong(0)).toSet
    val overlap = rows.map(_.getLong(0)).count(exact.contains)
    assert(overlap >= math.min(8, exact.size),
      s"quantized top-10 overlap with exact = $overlap of ${exact.size}")
  }

  test("knn_quant auto-widen yields min(k, n-1) rows at every scale (r12 verdict)") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val n = sources.Tables.embeddings(spark, dir).count()
      assert(Ann.knnQuant(spark, dir).count() === math.min(10L, n - 1),
        s"$dir: quantized top-10 probe over n=$n must not be bucket-starved")
    }
  }

  test("knn_quant rescored sims equal the exact path's sims (originals, not codes)") {
    val qs = Ann.knnQuant(spark, sf)
      .select(col("vec_id"), col("sim").as("q_sim"))
    val ex = Ann.knnAnnOverBuckets(spark, sf, Ann.knnQuantBuckets(spark, sf))
      .select(col("vec_id"), col("sim").as("e_sim"))
    assert(qs.join(ex, "vec_id").filter(col("q_sim") =!= col("e_sim")).count() === 0)
  }

  test("post-cap (bucket, band) regime: near-dup recall floor on a clustered corpus") {
    // The post-cap join key is 48 matching bits (24 primary + 24 band),
    // so true near-dups must collide on BOTH independent signatures —
    // recall drops vs single-level roughly quadratically. This pins the
    // tradeoff numerically: 200 synthetic near-dup pairs (theta ~0.01
    // rad apart — the "same doc re-encoded" regime near-dedup targets),
    // fixed vector seed + fixed plane seed => deterministic counts.
    import spark.implicits._
    val rnd = new java.util.Random(7)
    val rows = (0 until 200).flatMap { i =>
      val base = Array.fill(64)(rnd.nextGaussian().toFloat)
      val dup = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, base.toSeq), (i.toLong * 2 + 1, dup.toSeq))
    }
    val sig = rows.toDF("id", "vec")
      .select(col("id"), expr("lsh_bucket(vec, 24)").as("bucket"),
        expr("lsh_bucket(vec, 24, 24)").as("band"))
    val a = sig.select(col("id").as("ia"), col("bucket").as("ba"), col("band").as("da"))
    val b = sig.select(col("id").as("ib"), col("bucket").as("bb"), col("band").as("db"))
    val pairs = a.filter(col("ia") % 2 === 0)
      .join(b, col("ib") === col("ia") + 1).cache()
    val total = pairs.count()
    val bucketHits = pairs.filter(col("ba") === col("bb")).count()
    val bothHits = pairs
      .filter(col("ba") === col("bb") && col("da") === col("db")).count()
    pairs.unpersist()
    assert(total === 200L)
    assert(bothHits <= bucketHits, "post-cap pairs are a subset of single-level")
    // theory: P(collide) = (1 - theta/pi)^bits => ~0.93 at 24 bits,
    // ~0.86 at 48; pin conservative floors under the fixed seeds
    assert(bucketHits >= 160, s"single-level recall $bucketHits/200")
    assert(bothHits >= 140, s"post-cap recall $bothHits/200")
  }

  test("knn_join: 5 rows per probe, rank-limit window plan (no full sort)") {
    val df = Ann.knnJoin(spark, sf)
    val rows = df.collect()
    val perProbe = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perProbe.keys.toSet === (0L until Ann.JoinProbes.toLong).toSet)
    assert(perProbe.values.forall(_ === 5), s"got $perProbe")
    assert(rows.forall(_.getLong(1) >= Ann.JoinProbes), "corpus ids only")
    // the per-probe top-k must plan as a rank-limit window (map-side
    // pruning to k per probe per partition), not a global sort
    assert(planOf(df).contains("WindowGroupLimit"),
      "per-probe top-k must use the rank-limit optimization")
  }

  test("knn_join_ann: bucket-confined and <= k per probe on the corpus") {
    // On the tiny test corpus buckets are near-singletons (50 vectors /
    // 64 buckets) and the exact top-5 of a uniform cloud (cosine ~0.3)
    // are not near-dups, so exact-vs-ANN recall is not a meaningful pin
    // here — that property is pinned on planted near-dups below. What
    // must hold on ANY corpus: every match shares the bucket signature
    // and the per-probe cardinality respects k.
    val bits = LshBucket.bitsFor(
      graft.sources.Tables.embeddings(spark, sf).count())
    val ann = Ann.knnJoinAnn(spark, sf).collect()
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr(s"lsh_bucket(embedding, $bits)").as("b")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ann.nonEmpty)
    assert(ann.forall(r => e(r.getLong(0)) === e(r.getLong(1))),
      "every (probe, neighbour) pair must share an LSH bucket")
    val perProbe = ann.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perProbe.values.forall(_ <= 5))
  }

  test("knnJoinLsh finds planted near-dup neighbours (the regime LSH serves)") {
    // 100 probes, each with a planted ~0.01-rad near-dup in the corpus
    // plus 400 unrelated vectors: the LSH join must surface the planted
    // neighbour for most probes (theory: single-bucket collision ~0.98
    // at 6 bits; fixed seeds => deterministic count). This is the
    // recall property the corpus-bound test above cannot express.
    import spark.implicits._
    val rnd = new java.util.Random(11)
    val probes = (0 until 100).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq)
    }
    val planted = probes.map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val noise = (0 until 400).map { i =>
      (2000L + i, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq)
    }
    val corpus = (planted ++ noise).toDF("vec_id", "embedding")
    val probeDf = probes.toDF("vec_id", "embedding")
    val hits = graft.api.GraftOps
      .knnJoinLsh(corpus, probeDf, "vec_id", "embedding", k = 5, n = 500L)
      .filter(col("vec_id") === col("probe_id") + 1000L)
      .count()
    assert(hits >= 90, s"planted-neighbour recall $hits/100")
  }

  test("bucket sizes stay bounded: max bucket <= 4x the expected mean") {
    // measured: sf0.001 max=20 (mean 7.8), sf0.1 max=45 (mean 31) — the
    // label-clustered corpus skews ~1.5-2.5x; 4x headroom pins that the
    // sizing rule keeps the dedup_embed self-join from going quadratic.
    for (dir <- sfDirs) {
      val (e, bits) = Ann.bucketed(spark, dir)
      val n = e.count()
      val maxBucket = e.groupBy("bucket").count()
        .agg(max("count")).collect()(0).getLong(0)
      val bound = 4.0 * n.toDouble / (1 << bits)
      assert(maxBucket <= bound,
        s"$dir: max bucket $maxBucket exceeds 4x mean $bound (bits=$bits)")
    }
  }

  test("rescorePoolFor: floor at every gated sf, √n at scale (r13)") {
    // every gated corpus (n ≤ 2000 → √n ≤ 45) stays at the floor, so
    // gated results are bit-identical to the fixed-pool era
    for (dir <- sfDirs) {
      val n = graft.sources.Tables.embeddings(spark, dir).count()
      assert(Ann.rescorePoolFor(n, Ann.RescorePool) === Ann.RescorePool)
      assert(Ann.rescorePoolFor(n, 200) === 200)
    }
    // the 100× ladder corpus (n ≈ 200k) widens past the floors
    assert(Ann.rescorePoolFor(200_000L, 200) === 448)
    // at 1e9 vectors the pool is ~31.6k rows — broadcast-sized, never
    // data-sized
    assert(Ann.rescorePoolFor(1_000_000_000L, 200) === 31623)
    // monotone in n, never below the floor
    val ns = Seq(0L, 2000L, 200_000L, 1_000_000_000L)
    assert(ns.map(Ann.rescorePoolFor(_, 50)) ===
      ns.map(Ann.rescorePoolFor(_, 50)).sorted)
  }

  test("ladder selection clamps to capacity, never full-scans past the floor (ADVICE r13)") {
    // The over-capacity regime: at n ≈ 1e9 the √n pool (31.6k) exceeds
    // the 25-bucket capped ladder's ~25.6k capacity. The old rule
    // returned EMPTY there — a silent full-table scan at exactly the
    // scale the tier exists for. Synthetic ladders pin all regimes.
    val ladder = (0 until 25).toArray
    val cumBig = ladder.scanLeft(0L)((a, _) => a + 1024L).tail // 25.6k cap
    // pool > capacity ≥ floor → the WHOLE ladder, not empty
    assert(Ann.clampedLadderSelection(ladder, cumBig,
      pool = 31623, floor = Ann.RescorePool) === ladder)
    // pool ≤ capacity → the shortest filling prefix (unchanged rule)
    assert(Ann.clampedLadderSelection(ladder, cumBig,
      pool = 2048, floor = Ann.RescorePool) === ladder.take(2))
    // capacity < floor → empty (tiny-corpus exact-scan degradation);
    // sf0.001's real ladder holds < RescorePool rows, so gated
    // behaviour is bit-identical to the pre-clamp era
    val cumTiny = ladder.take(7).scanLeft(0L)((a, _) => a + 3L).tail
    assert(Ann.clampedLadderSelection(ladder.take(7), cumTiny,
      pool = 50, floor = Ann.RescorePool).isEmpty)
    // exact boundary: capacity == floor keeps the ladder
    val cumEdge = Array.fill(5)(10L).scanLeft(0L)(_ + _).tail
    assert(Ann.clampedLadderSelection(ladder.take(5), cumEdge,
      pool = 51, floor = 50) === ladder.take(5))
  }

  test("knn_recall_eval: the measurement is exact — identities + brute force") {
    // NOTE: no recall FLOOR here — on this uniform test cloud the exact
    // top-5 are not near-dups, so LSH recall is legitimately low (the
    // regime LSH serves is pinned on planted near-dups below). What the
    // EVAL op owes us is a correct MEASUREMENT of whatever recall is.
    val rows = Ann.knnRecallEval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nExact, nHit, recall) =>
      assert(nExact === 5L, "exact join returns k=5 per probe")
      assert(nHit >= 0L && nHit <= nExact, "hits are a subset of exact")
      assert(math.abs(recall - nHit.toDouble / nExact) < 1e-9,
        "recall = hits / k")
    }
    // brute force the hit counts from the two join outputs directly
    val exact = Ann.knnJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val ann = Ann.knnJoinAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(_._1).toSet === exact.keySet, "one row per probe")
    rows.foreach { case (pid, _, nHit, _) =>
      val brute = exact(pid).count(ann.contains)
      assert(nHit === brute.toLong, s"probe $pid hit count")
    }
  }

  test("knn_range: exactly the vectors at round-6 cosine >= tau, none missed") {
    val rows = Ann.knnRange(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.nonEmpty, "radius must be non-empty at every sf")
    rows.foreach { case (_, s) => assert(s >= 0.25, "threshold respected") }
    // completeness + exactness vs the full exact ranking
    val all = graft.api.GraftOps.cosineTopK(
      graft.sources.Tables.embeddings(spark, sf), "vec_id", "embedding",
      probeId = 0L, k = Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val expect = all.filter(_._2 >= 0.25)
    assert(rows.toSeq === expect.toSeq,
      "range = the >=tau prefix of the exact similarity ranking")
    // ordering: sim desc, id asc
    assert(rows.sliding(2).forall {
      case Array((i1, s1), (i2, s2)) => s1 > s2 || (s1 == s2 && i1 < i2)
      case _ => true
    })
  }

  test("knn_mips: matches brute-force inner-product top-10; corpus unshuffled") {
    val df = Ann.knnMips(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val pv = vecs.find(_._1 == 0L).get._2
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val brute = vecs.filter(_._1 != 0L)
      .map { case (id, v) =>
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * pv(i); i += 1 }
        (id, r6(d))
      }
      .sortBy { case (id, ip) => (-ip, id) }.take(10)
    assert(got.toSeq === brute.toSeq,
      s"MIPS top-10 must equal brute force: $got vs ${brute.toSeq}")
    // MIPS ranking is genuinely different from cosine on this corpus OR
    // at minimum unnormalized: scores need not lie in [-1, 1]
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must plan as TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"probe broadcast + map-side score must not shuffle the corpus:\n$plan")
  }

  test("knn_sq8_verify: int8 code range, reconstruction bound, ADC-vs-exact cosine") {
    val rows = Ann.knnSq8Verify(spark, sf).collect()
    assert(rows.nonEmpty)
    val vs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val pv = vs(0L)
    val pn = math.sqrt(pv.map(x => x * x).sum)
    for (r <- rows) {
      val id = r.getLong(0)
      val v = vs(id)
      // split keeps the sign: a '-' after a digit separates codes, a
      // '-' after a separator is the next code's sign
      val codes = r.getString(1).split("(?<=[0-9])-").map(_.toLong)
      assert(codes.length === v.length, s"vec $id code count")
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec $id int8 range")
      val maxAbs = r.getDouble(2)
      assert(math.abs(maxAbs - v.map(math.abs).max) <= 1e-6, s"vec $id scale")
      // per-dim rounding error <= scale/2 ⇒ L2 error <= sqrt(d)·scale/2
      val qErr = r.getDouble(4)
      assert(qErr <= math.sqrt(v.length) * (maxAbs / 127.0) / 2 + 1e-6,
        s"vec $id reconstruction error $qErr above the int8 bound")
      // ADC cosine (computed from the codes alone) tracks exact cosine
      // well inside ANN bucketing noise
      val vn = math.sqrt(v.map(x => x * x).sum)
      val exact = v.zip(pv).map { case (a, b) => a * b }.sum / (vn * pn)
      assert(math.abs(r.getDouble(3) - exact) <= 0.02,
        s"vec $id ADC cosine ${r.getDouble(3)} vs exact $exact")
    }
    // the probe against itself: codes reconstruct its own direction
    val self = rows.find(_.getLong(0) == 0L).get
    assert(self.getDouble(3) >= 0.999)
  }
}
