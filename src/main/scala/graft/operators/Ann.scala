package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.LshBucket
import graft.sources.Tables

/** Approximate nearest-neighbour search over the embedding column
  * (random-hyperplane LSH). Brute-force cosine top-k is the baseline
  * (Pipeline.udfCosineTopk — exact, streams the whole table); this is
  * the scale path: signature-bucket the vectors, then rank ONLY the
  * probe's bucket. At 100 TB the bucket column becomes the partition /
  * cluster key, so a query touches 1/2^nbits of the data instead of all
  * of it; recall is tuned by nbits and multi-probe, not by scan size.
  *
  * The bucket count is a SCALE PARAMETER, not a constant:
  * `LshBucket.bitsFor(n)` keeps expected bucket size near 1024 rows
  * (nbits ≈ log₂(n/1024), floor 6), because the bucket self-join in
  * dedup_embed is quadratic in bucket size — a fixed 64 buckets would
  * degenerate to O(n²/64) pairs as the corpus grows. Both the signature
  * (native codegen expression, no UDF) and the cosine ranking
  * (cosine_sim codegen expression) run inside whole-stage codegen —
  * pinned in AnnSpec.
  */
object Ann {

  /** The family's top-k. One constant couples every `.limit(K)` with
    * [[selectedBuckets]]'s default pool size (ADVICE r12: independent
    * hard-coded 10s could drift and silently break the pool ≥ k
    * auto-widen guarantee).
    */
  private[graft] val K = 10

  /** Signature bits for this table size (see LshBucket.bitsFor). */
  def bucketBits(n: Long): Int = LshBucket.bitsFor(n)

  /** Memoized signature sizing per corpus — the sizing count is one
    * metadata-cheap job, but repeated callers (knn_ann, dedup_embed,
    * bench warm runs) shouldn't re-pay it; at scale this is a catalog
    * statistic, not a scan. Keyed by the table's content fingerprint
    * (file listing + sizes + mtimes), not its path, so rewriting the
    * data invalidates the memo within a JVM lifetime. Value =
    * (primary bits, second-level band bits).
    */
  private val bitsMemo = scala.collection.concurrent.TrieMap.empty[String, (Int, Int)]

  /** Embeddings with their LSH `bucket` (primary signature) and `band`
    * (second-level signature over DISJOINT planes — constant 0 until n
    * outgrows the 24-bit primary cap, see LshBucket.bandBitsFor), both
    * sized from the table's row count. Consumers that self-join group
    * on (bucket, band) so the post-cap regime stays bounded; probe
    * lookups (knn_ann) may use the bucket alone.
    */
  private[graft] def bucketed(spark: SparkSession, sfDir: String): (DataFrame, Int) = {
    val e = Tables.embeddings(spark, sfDir)
    val fp = graft.sources.DataFingerprint.ofTable(sfDir, "embeddings")
    val (bits, bandBits) = bitsMemo.getOrElseUpdate(fp, {
      val n = e.count()
      (bucketBits(n), LshBucket.bandBitsFor(n))
    })
    val banded = e.withColumn("bucket", expr(s"lsh_bucket(embedding, $bits)"))
      .withColumn("band",
        if (bandBits == 0) lit(0)
        else expr(s"lsh_bucket(embedding, $bandBits, ${LshBucket.MaxBits})"))
    (banded, bits)
  }

  /** Probe state for the auto-widening `knn_ann` path, memoized per
    * corpus fingerprint: the vec_id=0 probe vector, the full
    * margin-ordered probe ladder (primary bucket + every single-bit
    * flip, closest hyperplanes first), and the cumulative non-probe
    * candidate count along that ladder. The count query touches only
    * the ≤ bits+1 ladder buckets and returns ≤ bits+1 rows — a catalog
    * statistic, not a scan result; memoizing it makes warm re-builds
    * job-free (same class as [[bitsMemo]]).
    */
  private val widenMemo =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[Float], Array[Int], Array[Long])]

  private[graft] def probeState(spark: SparkSession,
      sfDir: String): (Seq[Float], Array[Int], Array[Long]) = {
    val (e, bits) = bucketed(spark, sfDir)
    val fp = graft.sources.DataFingerprint.ofTable(sfDir, "embeddings")
    widenMemo.getOrElseUpdate(fp, {
      val pv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      val ladder = probeBuckets(pv, bits, nprobe = bits + 1)
      val cnts = e.filter(col("bucket")
            .isin(ladder.toIndexedSeq.map(Integer.valueOf): _*) &&
            col("vec_id") =!= 0)
        .groupBy(col("bucket")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val cum = ladder.scanLeft(0L)((a, b) => a + cnts.getOrElse(b, 0L)).tail
      (pv, ladder, cum)
    })
  }

  /** Multiprobe floor for the default LSH scope (r15 verdict item 6):
    * the count-minimal prefix can stop at 1 rung, and a near-duplicate
    * whose signature differs by one low-margin bit then sits outside
    * the scope — measured planted recall 0.90 single-probe vs 1.00 at
    * nprobe 4, while the extra rungs cost 3/2^bits more of the corpus
    * (negligible; partition-pruned under writeBucketed). So the default
    * scope always spans ≥ 4 ladder rungs, widening further only when
    * the candidate count still hasn't reached k.
    */
  val MinProbe = 4

  /** The bucket prefix of the probe ladder a k-NN probe must read to
    * hold at least `k` candidates AND span at least [[MinProbe]] rungs
    * — the data-free nprobe choice (bucket COUNTS, not vectors,
    * decide). Empty ⇒ even the full single-flip ladder can't fill k
    * (tiny corpus): callers drop the bucket filter and the probe
    * degrades to the exact scan, which is both correct and cheap
    * exactly when it happens.
    */
  private[graft] def selectedBuckets(spark: SparkSession, sfDir: String,
      k: Int = K): Array[Int] = {
    val (_, ladder, cum) = probeState(spark, sfDir)
    ladder.indices.find(cum(_) >= k) match {
      case Some(i) => ladder.take((i + 1).max(MinProbe.min(ladder.length)))
      case None    => Array.empty
    }
  }

  /** `knn_ann` — top-10 cosine neighbours of vec_id=0 over the probe's
    * LSH bucket, AUTO-WIDENED along the multi-probe ladder until the
    * candidate pool holds ≥ k (r11 verdict: the fixed single-bucket form
    * silently returned 2 rows for a top-10 probe at sf0.01 — bucket
    * confinement at small scale). nprobe is chosen data-free from the
    * memoized per-bucket counts, so the query yields min(k, n−1) rows at
    * every scale while still reading only the selected buckets (a
    * partition filter under the writeBucketed layout). No oracle
    * (bucketing is engine-specific); structural guarantees pinned in
    * AnnSpec. Fully UDF-free: bucket assignment and cosine both native
    * codegen expressions.
    */
  def knnAnn(spark: SparkSession, sfDir: String): DataFrame =
    knnAnnOverBuckets(spark, sfDir, selectedBuckets(spark, sfDir))

  /** Exact cosine top-K over an explicit bucket selection (empty =
    * whole table — the tiny-corpus degradation). The shared tail of
    * knnAnn and the AnnSpec quality baselines: any candidate-scoping
    * policy (ladder prefix, rescore-pool widen) composes with the same
    * exact ranking.
    */
  private[graft] def knnAnnOverBuckets(spark: SparkSession, sfDir: String,
      sel: Array[Int]): DataFrame = {
    val (e, _) = bucketed(spark, sfDir)
    val (pv, _, _) = probeState(spark, sfDir)
    val scoped =
      if (sel.isEmpty) e
      else e.filter(col("bucket").isin(sel.toIndexedSeq.map(Integer.valueOf): _*))
    scoped.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("bucket"),
        round(call_function("cosine_sim", col("embedding"), typedlit(pv)), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(K)
  }

  /** Candidate pool for the quantized rescore stage: rank this many on
    * int8 codes, rescore them on originals. 5× the final k absorbs any
    * rank inversion the ~1.4e-3 quantization cosine error could cause
    * near the top-10 boundary. This is the FLOOR — the operating pool
    * is [[rescorePoolFor]](n, RescorePool), which grows as √n.
    */
  val RescorePool = 50

  /** Memoized embeddings row count per corpus fingerprint — the same
    * catalog-statistic class as [[bitsMemo]] (parquet count() reads
    * row-group metadata, not data; memoized so warm paths are
    * job-free).
    */
  private val countMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private[graft] def embedCount(spark: SparkSession, sfDir: String): Long = {
    val fp = graft.sources.DataFingerprint.ofTable(sfDir, "embeddings")
    countMemo.getOrElseUpdate(fp,
      Tables.embeddings(spark, sfDir).count())
  }

  /** Scale-aware rescore-pool depth: `max(floor, ⌈√n⌉)`. The r13 100×
    * recall ladder showed the fixed-knob decay class twice (IVF nprobe,
    * then pools): a rescore pool that is 10% of a 2k-vector test corpus
    * is 0.1% of 200k and 2e-5 of 1e9 — compressed-rank capture of the
    * true top-k falls with that fraction. √n holds the pool a usable
    * slice at every scale while staying index-cheap: the pool is a
    * TakeOrderedAndProject bound + a broadcast of pool-many ids, ⌈√1e9⌉
    * ≈ 31.6k rows ≈ a few MB at the extreme. Bit-identical at every
    * gated sf (√2000 ≈ 45 < every floor — pinned in AnnSpec).
    */
  def rescorePoolFor(n: Long, floor: Int): Int =
    math.max(floor, math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toInt)

  /** `knn_quant` — the int8-quantized ANN path: rank the probe's
    * auto-widened LSH bucket selection on QUANTIZED vectors (4×
    * smaller — at 100 TB the ANN index stores only `quantizeInt8`
    * codes and the scale float), keep the top `RescorePool`, then
    * rescore those few on the original float vectors. Simulated
    * single-table here (both columns derived in one scan); in
    * production the codes live in the bucket-partitioned index and the
    * originals are fetched by id from the full-precision store for the
    * rescore only. Same shape as FAISS SQ8 + refine. Cosine is
    * scale-invariant, so ranking on dequantized codes equals ranking
    * on the codes themselves — the only error is int8 rounding.
    *
    * Candidate scope = `selectedBuckets(k = RescorePool)` (r12 verdict:
    * the old single-bucket form returned 2 rows for a top-10 probe at
    * sf0.01 — the same confinement knn_ann fixed in r12). Widening to
    * the POOL size, not just K, keeps the rescore stage meaningful at
    * small scale: a pool equal to K absorbs no int8 rank inversions.
    * Empty selection (ladder can't fill the pool) degrades to the
    * exact-scan scope, which is cheap exactly when it happens; rows
    * out = min(K, n−1) at every scale, pinned in AnnSpec.
    *
    * No oracle (bucket layout + quantizer are engine-specific);
    * top-k-overlap-vs-exact and exact-dup properties pinned in AnnSpec.
    */
  def knnQuant(spark: SparkSession, sfDir: String): DataFrame = {
    val (e, _) = bucketed(spark, sfDir)
    val (pv, _, _) = probeState(spark, sfDir)
    val pool = rescorePoolFor(embedCount(spark, sfDir), RescorePool)
    val sel = knnQuantBuckets(spark, sfDir)
    val scoped =
      if (sel.isEmpty) e
      else e.filter(col("bucket").isin(sel.toIndexedSeq.map(Integer.valueOf): _*))
    val candidates = scoped.filter(col("vec_id") =!= 0)
      // quantize AFTER the bucket filter (Project stays above Filter in
      // the optimized plan), so the two HOF passes run only over the
      // selected buckets, not the whole table (measured 0.96 s vs
      // 0.38 s warm at sf0.1 for the single-bucket form). Production
      // stores the codes at ingest; per-query cost is the selection
      // either way.
      .withColumn("q", graft.api.GraftOps.quantizeInt8(col("embedding")))
      // rank on the dequantized codes — TakeOrderedAndProject keeps only
      // the rescore pool per partition, never a full sort
      .withColumn("qsim",
        call_function("cosine_sim",
          graft.api.GraftOps.dequantizeInt8(col("q")), typedlit(pv)))
      .orderBy(col("qsim").desc, col("vec_id"))
      .limit(pool)
    candidates
      .select(col("vec_id"), col("bucket"),
        round(call_function("cosine_sim", col("embedding"), typedlit(pv)), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(K)
  }

  /** knn_quant's candidate-bucket selection — the ladder prefix that
    * fills the RESCORE pool (shared with the AnnSpec quality baseline
    * so the test compares against the exact ranking over the SAME
    * scope).
    *
    * Capacity clamp (ADVICE r13): the single-flip ladder tops out at
    * (bits+1) buckets ≈ 25.6k rows (bits capped at 24), but the √n
    * pool demand passes that near n ≈ 6.5e8 — the old form returned
    * EMPTY there and silently degraded to a full-table scan at exactly
    * the scale the tier exists for. When the full ladder can't fill
    * the √n pool but DOES hold at least the FLOOR pool (RescorePool —
    * plenty for a top-10 rescore), the selection is the whole ladder:
    * index-cheap at every scale, and the `.limit(pool)` bound upstream
    * simply saturates at ladder capacity. Empty now means only "even
    * the floor can't be filled" — the tiny-corpus exact-scan
    * degradation, which is cheap exactly when it happens. Bit-identical
    * at every gated sf (sf0.001's ladder holds < RescorePool rows →
    * still empty; sf0.01/0.1 fill the pool from a prefix → unchanged);
    * the huge-n regime is pinned arithmetically in AnnSpec.
    */
  private[graft] def knnQuantBuckets(spark: SparkSession,
      sfDir: String): Array[Int] = {
    val (_, ladder, cum) = probeState(spark, sfDir)
    clampedLadderSelection(ladder, cum,
      pool = rescorePoolFor(embedCount(spark, sfDir), RescorePool),
      floor = RescorePool)
  }

  /** The pure selection rule behind [[knnQuantBuckets]] (factored out
    * so the over-capacity regime — un-reachable with test corpora — is
    * unit-testable on synthetic ladders): shortest prefix whose
    * cumulative count fills `pool`; whole ladder when capacity ≥
    * `floor` but < `pool`; empty (exact-scan degradation) only below
    * `floor`.
    */
  private[graft] def clampedLadderSelection(ladder: Array[Int],
      cum: Array[Long], pool: Int, floor: Int): Array[Int] =
    ladder.indices.find(cum(_) >= pool) match {
      case Some(i) => ladder.take(i + 1)
      case None => if (cum.nonEmpty && cum.last >= floor) ladder else Array.empty
    }

  /** Multi-probe bucket set for a probe vector: the primary signature
    * plus the signatures reached by flipping the LOWEST-MARGIN bits
    * (the hyperplanes the probe sits closest to — where a true
    * neighbour most plausibly landed on the other side). Standard
    * multi-probe LSH: recall stops depending on a single bucket
    * boundary without growing the index. Driver-side: nbits dot
    * products over one vector, nothing data-sized.
    */
  private[graft] def probeBuckets(pv: Seq[Float], bits: Int, nprobe: Int): Array[Int] = {
    val planes = LshBucket.planesFor(bits)
    val dots = planes.map { p =>
      var d = 0.0
      var j = 0
      val n = math.min(pv.length, p.length)
      while (j < n) { d += pv(j) * p(j); j += 1 }
      d
    }
    var sig = 0
    dots.zipWithIndex.foreach { case (d, i) => if (d >= 0) sig |= (1 << i) }
    val byMargin = dots.zipWithIndex.sortBy { case (d, i) => (math.abs(d), i) }
    (sig +: byMargin.take(math.max(nprobe - 1, 0)).map { case (_, i) => sig ^ (1 << i) })
      .distinct.toArray
  }

  /** `knn_ann` generalized to `nprobe` buckets (nprobe=1 ≡ knnAnn's
    * candidate set). The probed buckets become partition filters in the
    * writeBucketed layout, so cost is nprobe/2^bits of the corpus.
    */
  private[graft] def knnAnnProbing(spark: SparkSession, sfDir: String,
      nprobe: Int): DataFrame = {
    val (e, bits) = bucketed(spark, sfDir)
    val pv = e.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    val buckets = probeBuckets(pv, bits, nprobe)
    e.filter(col("bucket").isin(buckets.toIndexedSeq.map(Integer.valueOf): _*) &&
        col("vec_id") =!= 0)
      .select(col("vec_id"), col("bucket"),
        round(call_function("cosine_sim", col("embedding"), typedlit(pv)), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(K)
  }

  /** `knn_ann_multi` — multi-probe variant of knn_ann (4 buckets:
    * primary + 3 lowest-margin bit flips). No oracle; recall
    * monotonicity vs knn_ann and bucket confinement pinned in AnnSpec.
    */
  def knnAnnMulti(spark: SparkSession, sfDir: String): DataFrame =
    knnAnnProbing(spark, sfDir, nprobe = 4)

  /** Write the embedding table PARTITIONED BY bucket — the production
    * layout: with the LSH bucket as the partition key, an ANN probe
    * reads 1/2^nbits of the corpus via partition pruning (the directory
    * listing skips every other bucket) instead of computing signatures
    * over a full scan per query. Returns the signature bits used.
    */
  def writeBucketed(spark: SparkSession, sfDir: String, outDir: String): Int = {
    val (e, bits) = bucketed(spark, sfDir)
    e.write.partitionBy("bucket").mode("overwrite").parquet(outDir)
    bits
  }

  /** `knn_ann` against a bucket-partitioned layout (writeBucketed): the
    * caller passes the auto-widened bucket selection ([[selectedBuckets]]
    * — the same prefix knnAnn reads in-memory), and the scan carries
    * `bucket IN (...)` as a PARTITION filter — pruning at file-listing
    * time, pinned in AnnSpec. Identical results to knnAnn. An empty
    * selection (tiny corpus, ladder can't fill k) reads all buckets,
    * matching knnAnn's exact-scan degradation.
    */
  def knnAnnPruned(spark: SparkSession, bucketDir: String,
      buckets: Array[Int]): DataFrame = {
    val e = spark.read.parquet(bucketDir)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0)
    val pv = typedlit(probe.getSeq[Float](0))
    val scoped =
      if (buckets.isEmpty) e
      else e.filter(col("bucket").isin(buckets.toIndexedSeq.map(Integer.valueOf): _*))
    scoped.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("bucket"),
        round(call_function("cosine_sim", col("embedding"), pv), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(K)
  }

  /** Probe-batch split for the k-NN join queries: the first
    * `JoinProbes` vec_ids are the query batch, the rest the corpus.
    */
  val JoinProbes = 8

  /** `knn_join` — exact batch k-NN join (ORACLE-GATED): top-5 cosine
    * neighbours among vec_id ≥ 8 for EACH probe vec_id < 8, in one
    * pass. The batch generalization of udf_cosine_topk: probes
    * broadcast, corpus scored map-side, per-probe top-k as a
    * rank-limit window (WindowGroupLimit prunes to k per probe per
    * partition before the shuffle). DuckDB reproduces it with a
    * ROW_NUMBER window over the cross join — rounded cosine makes the
    * rank order engine-invariant (dedup_embed_verify's contract).
    */
  def knnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    graft.api.GraftOps.knnJoin(
      e.filter(col("vec_id") >= JoinProbes),
      e.filter(col("vec_id") < JoinProbes),
      "vec_id", "embedding", k = 5)
      .orderBy(col("probe_id"), col("sim").desc, col("vec_id"))
  }

  /** `knn_join_ann` — the LSH-bucketed batch k-NN join (the scale
    * path: equi-join on the shared bucket signature, each probe scores
    * ~n/2^nbits of the corpus). No oracle (bucket layout is
    * engine-specific); bucket confinement, per-probe cardinality, and
    * recall vs the exact join pinned in AnnSpec.
    */
  def knnJoinAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    graft.api.GraftOps.knnJoinLsh(
      e.filter(col("vec_id") >= JoinProbes),
      e.filter(col("vec_id") < JoinProbes),
      "vec_id", "embedding", k = 5, n = n)
      .orderBy(col("probe_id"), col("sim").desc, col("vec_id"))
  }

  /** `knn_range` — radius (range) search: every vector whose ROUND-6
    * cosine similarity to probe vec 0 reaches τ = 0.25 (corpus-tuned
    * so the radius is non-empty at every scale factor) — the
    * fixed-threshold retrieval surface beside the top-k ladder
    * (near-duplicate candidate pull, semantic recall sweeps run this
    * shape, not top-k). Thresholding on the ROUNDED similarity makes
    * boundary membership engine-exact under the same round-6 contract
    * the top-k gates prove. Broadcast 1-row probe, map-side cosine,
    * filter — the vector table never shuffles.
    */
  def knnRange(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.cosineRange(Tables.embeddings(spark, sfDir),
      "vec_id", "embedding", probeId = 0L, tau = 0.25)

  /** `knn_recall_eval` — the retrieval-quality evaluation surface:
    * per-probe recall@5 of the LSH-bucketed batch k-NN join against
    * the exact join — the metric a production ANN deployment tracks
    * before/after every index rebuild (an index that silently lost
    * recall is worse than a slow one). No oracle (the LSH side is
    * bucket-layout-specific by design); the recall floor and the
    * evaluation identity (hits ⊆ exact, recall = hits/k) are pinned
    * in AnnSpec.
    *
    * Scale shape: both joins are the existing broadcast-probe shapes;
    * the hit test is an equi-join on (probe, neighbour) at k-bounded
    * cardinality — the eval costs less than either retrieval.
    */
  def knnRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = knnJoin(spark, sfDir)
      .select(col("probe_id"), col("vec_id"))
    val ann = knnJoinAnn(spark, sfDir)
      .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
    exact.join(ann, Seq("probe_id", "vec_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_exact"), sum(col("hit")).as("n_hit"))
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double"), 6).as("recall_at_5"))
      .orderBy(col("probe_id"))
  }

  /** `knn_mips` — exact maximum-inner-product top-10 for probe vec 0:
    * the UNNORMALIZED retrieval score recommendation and reranking
    * models emit (user·item logits), distinct from cosine — a
    * high-norm vector can out-score a better-aligned short one, so
    * MIPS and cosine top-k genuinely differ. Brute force here is the
    * correctness baseline of the ladder, like knn_ann's exact tier.
    *
    * Scale path (documented, not needed at gate scale): MIPS reduces
    * to cosine ANN by the norm-augmentation transform — append
    * sqrt(M² − ‖x‖²) to each corpus vector (M = max norm) and 0 to
    * the query; the augmented vectors are equi-norm, so cosine order
    * = inner-product order and the whole LSH/IVF ladder applies
    * unchanged.
    *
    * Shape: 1-row broadcast probe, map-side codegen-friendly HOF dot
    * product (argument-position arrays), TakeOrderedAndProject top-k
    * — the corpus never shuffles.
    */
  def knnMips(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("pv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(graft.functions.VectorFns.innerProduct(
          col("embedding"), col("pv")), 6).as("ip"))
      .orderBy(col("ip").desc, col("vec_id"))
      .limit(K)
  }

  /** `knn_sq8_verify` — the SQ8 ENCODE + ADC arithmetic of the
    * quantized ANN path, value-gated against DuckDB (the
    * dedup_embed_verify pattern, like knn_pq_verify gates PQ): per
    * vector, scale = max|x|/127, codes = round(x/scale), then the ADC
    * cosine against probe 0 computed FROM THE CODES
    * (Σ cᵢpᵢ / (√Σ cᵢ² · ‖p‖) — cosine is scale-invariant, so the
    * dequantization scale cancels and the value gates the codes
    * themselves), plus the reconstruction L2 error ‖deq(q) − v‖ which
    * gates the scale. Arithmetic runs in DOUBLE on both engines so the
    * IEEE ops match bit-for-bit before the ROUND-6 gate; the production
    * knn_quant path stays on the float `quantizeInt8` struct (4×
    * storage cut at ingest), this twin pins its algebra.
    *
    * HOF discipline: the per-vector scale reduction rides into the
    * code/error lambda as a zip_with ARGUMENT (array_repeat), so it
    * runs once per row — never once per element (the quantizeInt8
    * docstring's O(d²) interpreted-HOF pathology). One map-side pass,
    * one broadcast probe row, no shuffle beyond the final sort.
    */
  def knnSq8Verify(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val scExpr = greatest(
      aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))),
      lit(java.lang.Float.MIN_NORMAL.toDouble)) / lit(127.0)
    // one element struct per dim: the int8 code and its squared
    // reconstruction error (round(x/s)·s − x)²
    val z = zip_with(col("v"), array_repeat(scExpr, size(col("v"))),
      (x, s) => struct(round(x / s).cast("long").as("c"),
        ((round(x / s) * s - x) * (round(x / s) * s - x)).as("e2")))
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    val pn = probe.select(
      sqrt(aggregate(transform(col("pv"), x => x * x),
        lit(0.0), (s, t) => s + t)).as("pn"))
    e.select(col("vec_id"), col("v"), z.as("z"), scExpr.as("sc"))
      .crossJoin(broadcast(probe)).crossJoin(broadcast(pn))
      .select(col("vec_id"),
        concat_ws("-", transform(col("z"),
          p => p.getField("c").cast("string"))).as("codes"),
        round(col("sc") * lit(127.0), 6).as("max_abs"),
        round(
          aggregate(zip_with(col("z"), col("pv"),
              (p, pv) => p.getField("c") * pv), lit(0.0), (s, t) => s + t) /
            (greatest(sqrt(aggregate(transform(col("z"),
              p => (p.getField("c") * p.getField("c")).cast("double")),
              lit(0.0), (s, t) => s + t)), lit(1e-300)) * col("pn")), 6)
          .as("adc_cos"),
        round(sqrt(aggregate(transform(col("z"), p => p.getField("e2")),
          lit(0.0), (s, t) => s + t)), 6).as("q_err"))
      .orderBy(col("vec_id"))
  }

  /** `knn_lsh_bucket_verify` — the LSH signature algebra value-gated:
    * every vector's primary bucket (`lsh_bucket(v, 8)`) and
    * second-level band (`lsh_bucket(v, 4, MaxBits)`) recomputed by
    * DuckDB from the SAME seeded hyperplanes, inlined into the oracle
    * SQL as double literals (Double.toString round-trips exactly
    * through DuckDB's parser). Gates the sign-random-projection bit
    * assembly — the float→double promote-multiply-add dot product in
    * index order, the d ≥ 0 sign rule, the bit positions, and the
    * offset-window plane selection — that every knn_ann / dedup-embed
    * bucket join builds on; the expression itself stays codegen native
    * in production. Sign flips would need |dot| within one ulp of 0 —
    * measure-zero on gaussian planes × real embeddings, and the gate
    * runs at three scales to keep that claim honest.
    */
  def knnLshBucketVerify(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("CAST(lsh_bucket(embedding, 8) AS BIGINT)").as("bucket"),
        expr(s"CAST(lsh_bucket(embedding, 4, ${LshBucket.MaxBits}) AS BIGINT)")
          .as("band"))
      .orderBy(col("vec_id"))
  }

  /** The DuckDB twin of the bit assembly in [[knnLshBucketVerify]]:
    * one CASE term per bit, each a list_sum dot product against the
    * plane window inlined as literals (same index-order accumulation).
    */
  private def lshBucketOracle: String = {
    def bitTerms(offset: Int, nbits: Int): String =
      LshBucket.planesAt(offset, nbits).zipWithIndex.map { case (p, b) =>
        val plane = p.mkString("[", ", ", "]")
        s"""(CASE WHEN list_sum([ e.v[i] * ($plane)[i]
           |    for i in range(1, ${LshBucket.Dim} + 1) ]) >= 0
           |  THEN ${1 << b} ELSE 0 END)""".stripMargin
      }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings)
       |SELECT vec_id,
       |  CAST(${bitTerms(0, 8)} AS BIGINT) AS bucket,
       |  CAST(${bitTerms(LshBucket.MaxBits, 4)} AS BIGINT) AS band
       |FROM e ORDER BY vec_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_mips" -> knnMips _,
    "knn_lsh_bucket_verify" -> knnLshBucketVerify _,
    "knn_sq8_verify" -> knnSq8Verify _,
    "knn_recall_eval" -> knnRecallEval _,
    "knn_range" -> knnRange _,
    "knn_ann" -> knnAnn _,
    "knn_ann_multi" -> knnAnnMulti _,
    "knn_quant" -> knnQuant _,
    "knn_join" -> knnJoin _,
    "knn_join_ann" -> knnJoinAnn _
  )

  val oracle: Map[String, String] = Map(
    "knn_lsh_bucket_verify" -> lshBucketOracle,
    // DuckDB twin of the SQ8 encode + ADC algebra — same DOUBLE ops:
    // scale = max|x|/127 (Float.MinNormal floor), codes = round(x/s)
    // (both engines round doubles half-away-from-zero), ADC cosine from
    // the codes, reconstruction L2 from codes·s − x.
    "knn_sq8_verify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        greatest(list_max([abs(v[i]) for i in range(1, len(v)+1)]),
        |          1.1754943508222875e-38) / 127.0 AS sc
        |      FROM e),
        |c AS (SELECT vec_id, v, sc,
        |        [CAST(round(v[i] / sc) AS BIGINT)
        |         for i in range(1, len(v)+1)] AS codes
        |      FROM s),
        |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
        |pn AS (SELECT sqrt(list_sum([pv[i]*pv[i]
        |         for i in range(1, len(pv)+1)])) AS pn FROM p)
        |SELECT c.vec_id,
        |  array_to_string(c.codes, '-') AS codes,
        |  ROUND(c.sc * 127.0, 6) AS max_abs,
        |  ROUND(list_sum([c.codes[i]*p.pv[i]
        |      for i in range(1, len(c.codes)+1)])
        |    / (greatest(sqrt(list_sum([CAST(c.codes[i]*c.codes[i] AS DOUBLE)
        |        for i in range(1, len(c.codes)+1)])), 1e-300) * pn.pn), 6)
        |    AS adc_cos,
        |  ROUND(sqrt(list_sum([(c.codes[i]*c.sc - c.v[i])
        |      * (c.codes[i]*c.sc - c.v[i])
        |      for i in range(1, len(c.v)+1)])), 6) AS q_err
        |FROM c, p, pn ORDER BY c.vec_id""".stripMargin,
    "knn_mips" ->
      """WITH probe AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
        |  WHERE vec_id = 0)
        |SELECT vec_id, ip FROM (
        |  SELECT vec_id,
        |    ROUND(list_inner_product(CAST(embedding AS DOUBLE[]), pv), 6)
        |      AS ip
        |  FROM embeddings, probe WHERE vec_id <> 0)
        |ORDER BY ip DESC, vec_id LIMIT 10""".stripMargin,
    "knn_range" ->
      """WITH probe AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
        |  WHERE vec_id = 0)
        |SELECT vec_id, sim FROM (
        |  SELECT vec_id,
        |    ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), pv), 6)
        |      AS sim
        |  FROM embeddings, probe WHERE vec_id <> 0)
        |WHERE sim >= 0.25
        |ORDER BY sim DESC, vec_id""".stripMargin,
    "knn_join" ->
      """SELECT probe_id, vec_id, sim FROM (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
        |    ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |      CAST(p.embedding AS DOUBLE[])), 6) AS sim,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY p.vec_id
        |      ORDER BY ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |        CAST(p.embedding AS DOUBLE[])), 6) DESC,
        |        c.vec_id) AS rn
        |  FROM embeddings c CROSS JOIN embeddings p
        |  WHERE p.vec_id < 8 AND c.vec_id >= 8)
        |WHERE rn <= 5
        |ORDER BY probe_id, sim DESC, vec_id""".stripMargin
  )
}
