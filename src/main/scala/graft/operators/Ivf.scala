package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** IVF (inverted-file) approximate nearest-neighbour search — the
  * data-adaptive complement to the random-hyperplane LSH path (Ann):
  * a k-means coarse quantizer partitions the vectors into Voronoi
  * cells; a probe ranks ONLY the vectors in its `nprobe` nearest
  * cells. Where LSH cells are data-oblivious (fixed hyperplanes), IVF
  * cells follow the corpus's cluster structure, which buys recall on
  * clustered embeddings (exactly this corpus's label-clustered shape)
  * at the cost of a training pass.
  *
  * Scale design: training samples/aggregates per partition (native
  * [[Lloyd]] — one hash-aggregate pass per iteration, map-side
  * partial k×d centroid sums); assignment is a map-side codegen
  * argmin transform; the probe-side filter
  * `cell IN (nprobe nearest)` prunes to nprobe/k of the corpus, and in
  * the production layout the cell id is the partition key exactly like
  * Ann.writeBucketed. Cell count follows the standard IVF sizing
  * k ≈ √n once the corpus is big enough (see `cellCount`), so both the
  * centroid set and the per-cell scan stay sub-linear in n. Probe-cell
  * ranking is a driver loop only while the centroid set is tiny; past
  * `DriverRankMax` it is a distributed DataFrame top-nprobe (see
  * `probeCells`). Ranking runs the codegen `cosine_sim` expression —
  * no UDF.
  */
object Ivf {

  /** IVF coarse-quantizer sizing: ~1024 vectors per cell while the
    * corpus is small (floor 4 for sf0.001 corpora), crossing over to
    * the standard k ≈ √n at n = 2^20 (where the two rules coincide at
    * k = 1024), capped at 65536. The old rule k = n/1024 grows
    * LINEARLY: at 1e11 vectors it implies ~1e8 centroids — untrainable
    * by any k-means pass and ~25 GB of centroid state. √n keeps both
    * sides bounded: k and the expected cell size n/k both grow as √n,
    * and the 65536 cap (hit at n ≈ 4.3e9) keeps the model trainable
    * and the centroid table a small DataFrame at any corpus size —
    * beyond it, recall/latency is tuned by nprobe, not k.
    */
  def cellCount(n: Long): Int = {
    val nn = math.max(n, 1L).toDouble
    val target = math.min(math.ceil(nn / 1024.0), math.ceil(math.sqrt(nn)))
    math.min(math.max(4L, target.toLong), 65536L).toInt
  }

  /** Above this many cells, probe ranking moves off the driver. */
  val DriverRankMax = 4096

  /** Scale-aware default probe width: `max(2, ceil(√cells))`. A FIXED
    * nprobe default decays recall as the corpus grows — `cellCount`
    * grows the cell count as ~√n, so nprobe=2 probes 50% of a 4-cell
    * test corpus but 1% of the 196 cells a 200k-vector corpus trains,
    * and 0.003% at the 65536-cell cap. Probing √cells instead holds
    * the probed CELL FRACTION at cells^(−1/2) (≈ n^(−1/4) of the
    * corpus): 2 of 4 at every gated sf (bit-identical to the historic
    * nprobe=2 default — pinned by IvfSpec), 14 of 196 at the measured
    * 100× ladder (knn_ivf recall@10 0.10 → 0.40, knn_ivfpq 0.10 →
    * 0.30 there — measured, RecallProbe 2026-08-16, in a regime whose
    * exact top-10 sims span only 0.47–0.53, i.e. no planted near
    * neighbours), 256 of 65536 at the cap (0.4% of a 4.3e9-vector
    * corpus — standard IVF operating territory). Explicit-nprobe
    * callers (`knnIvfProbing`, the analytics sweep) are untouched:
    * this is only the DEFAULT for the gated `knn_ivf`/`knn_ivfpq`
    * tiers.
    */
  def defaultNprobe(cells: Int): Int =
    math.max(2, math.ceil(math.sqrt(cells.toDouble)).toInt)

  /** Target k-means training-set size: a coarse quantizer needs a
    * REPRESENTATIVE sample, not the corpus — 256k vectors is ≥4 points
    * per centroid even at the 65536-cell cap, and standard IVF practice
    * (FAISS trains its coarse quantizers on a bounded sample for the
    * same reason). Training on the full corpus at 1e11 vectors would
    * make every one of the 5 k-means iterations a full-corpus pass.
    */
  val TrainSampleMax = 262144L

  /** Below this corpus size the training input is coalesced to 8
    * partitions: each k-means iteration is a treeAggregate job, and on
    * a small corpus per-task overhead dominates the centroid math.
    * Above it, coalescing would be the scale bug (it merges the SCAN
    * into 8 tasks), so the sample path repartitions instead.
    */
  val CoalesceTrainMax = 1L << 20

  /** Fraction of the corpus the trainer sees: everything while the
    * corpus is ≤4× the sample target (sampling a small corpus only
    * loses signal), then TrainSampleMax/n.
    */
  private[graft] def trainFraction(n: Long): Double =
    if (n <= TrainSampleMax * 4) 1.0 else TrainSampleMax.toDouble / n

  /** The k-means training input for a corpus of `n` rows.
    *
    * Small corpus (n ≤ CoalesceTrainMax): `coalesce(8)` — the scan is
    * tiny, so merging it into 8 tasks removes treeAggregate task
    * overhead without costing parallelism that matters.
    *
    * Large corpus: a deterministic content-addressed sample of
    * ~TrainSampleMax rows, taken as a FILTER (full scan parallelism —
    * a coalesce here would funnel the whole corpus scan through 8
    * tasks), then `repartition(16)`: the shuffle moves only the ≤256k
    * sampled rows, and the 5 treeAggregate iterations run over 16
    * well-filled tasks instead of one task per corpus partition.
    *
    * The sample uses 32-bit md5-prefix granularity, not
    * GraftOps.deterministicSample's 16-bit: TrainSampleMax/1e11 ≈
    * 2.6e-6 floors to a zero threshold at 16 bits (empty sample). The
    * threshold is clamped to ≥1 so the sample never vanishes even past
    * n ≈ 1e15. Like deterministicSample, the keep-decision is a pure
    * function of the KEY — retraining on the same snapshot sees the
    * same sample regardless of cluster size or partitioning.
    */
  private[graft] def trainInput(e: DataFrame, n: Long, keyCol: String): DataFrame =
    if (n <= CoalesceTrainMax) e.coalesce(8)
    else {
      val threshold = math.max(1L, math.floor(trainFraction(n) * 4294967296.0).toLong)
      e.filter(substring(md5(col(keyCol).cast("string")), 1, 8) <
          lit(f"$threshold%08x"))
        .repartition(16)
    }

  /** One trained quantizer per (corpus content, k) per JVM — training
    * is a batch job, not a per-query cost (like the signature table in
    * NearDedup.dedupMinhash). Keyed by content fingerprint, not path,
    * so a rewritten corpus retrains instead of serving a stale model.
    * The model IS the centroid matrix (k×d doubles) — r16 replaced the
    * MLlib KMeans fit with the native [[Lloyd]] trainer (same budget:
    * 5 iterations, deterministic init, seed 42), and the assignment
    * stage with Lloyd.assignCell's codegen argmin — zero
    * `org.apache.spark.ml` left in src/main.
    */
  private val modelMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Array[Array[Double]]]

  private[operators] def quantized(spark: SparkSession,
      sfDir: String): (Array[Array[Double]], DataFrame, Int) = {
    val e = Tables.embeddings(spark, sfDir)
    val fp = graft.sources.DataFingerprint.ofTable(sfDir, "embeddings")
    val n = e.count()
    val k = cellCount(n)
    // Training input sized by `trainInput`: coalesced below 1M rows
    // (task overhead dominates), a ~256k deterministic sample above
    // (centroids don't need the full corpus; 5 iterations suffice for
    // a COARSE quantizer — cells only need to be roughly Voronoi,
    // recall comes from nprobe).
    val centers = modelMemo.getOrElseUpdate((fp, k),
      Lloyd.fit(trainInput(e, n, "vec_id"), "embedding", k))
    (centers, e.withColumn("cell", Lloyd.assignCell(col("embedding"), centers)), k)
  }

  /** Rank centroids by squared euclidean distance to the probe, keep
    * the `nprobe` nearest (the standard IVF probe rule). Ties break on
    * cell id in BOTH paths, so the dispatch is result-invariant.
    */
  private[graft] def rankCellsDriver(centers: Array[Array[Double]],
      probe: Seq[Float], nprobe: Int): Array[Int] =
    centers.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < c.length) {
        val diff = probe(j) - c(j); d += diff * diff; j += 1
      }
      (d, i)
    }.sortBy(t => (t._1, t._2)).take(math.min(nprobe, centers.length)).map(_._2)

  /** The same ranking as a DataFrame top-nprobe over a centroids table
    * — TakeOrderedAndProject after a map-side zip_with/aggregate fold,
    * so no linear driver-side scan of a large centroid set. At real
    * scale the centroids DataFrame is a catalog table written at train
    * time; here it is created from the (already driver-resident, k ≤
    * 65536 by `cellCount`) MLlib model.
    */
  private[graft] def rankCellsDistributed(spark: SparkSession,
      centers: Array[Array[Double]], probe: Seq[Float], nprobe: Int): Array[Int] = {
    import spark.implicits._
    val pv = probe.map(_.toDouble).toArray
    centers.toSeq.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "center")
      .select(col("cell"), aggregate(
          zip_with(col("center"), typedlit(pv), (c, p) => (c - p) * (c - p)),
          lit(0.0), (a, x) => a + x).as("d2"))
      .orderBy(col("d2"), col("cell"))
      .limit(math.min(nprobe, centers.length))
      .collect().map(_.getInt(0))
  }

  /** Probe-cell selection, dispatching on centroid count: a driver loop
    * is optimal while the set is tiny; past DriverRankMax the ranking
    * runs distributed (a 65536-cell scan per query belongs on
    * executors, and orderBy+limit collects only nprobe rows).
    */
  private[graft] def probeCells(spark: SparkSession,
      centers: Array[Array[Double]], probe: Seq[Float], nprobe: Int): Array[Int] =
    if (centers.length <= DriverRankMax) rankCellsDriver(centers, probe, nprobe)
    else rankCellsDistributed(spark, centers, probe, nprobe)

  /** Per-cell member counts EXCLUDING the probe (vec 0), memoized per
    * corpus fingerprint — the IVF twin of Ann.probeState's ladder
    * counts: one k-row aggregate per (JVM, corpus snapshot), a catalog
    * statistic a real deployment stores next to the trained quantizer
    * (k is capped at 65536 by [[cellCount]], so the collected map is
    * bounded by the MODEL size, never the data size).
    */
  private val cellCountsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Map[Int, Long]]

  private[graft] def cellCounts(spark: SparkSession,
      sfDir: String): Map[Int, Long] = {
    val (_, assigned, _) = quantized(spark, sfDir)
    val fp = graft.sources.DataFingerprint.ofTable(sfDir, "embeddings")
    cellCountsMemo.getOrElseUpdate(fp,
      assigned.filter(col("vec_id") =!= 0)
        .groupBy(col("cell")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap)
  }

  /** The distance-ranked cell prefix a k-NN probe must read to hold at
    * least `k` candidates, floored at the tier's configured `nprobe` —
    * the IVF form of Ann.selectedBuckets (r12 verdict: audit every
    * single-bucket ANN path for small-scale confinement). When two
    * cells already hold ≥ k the selection IS the classic nprobe=2 probe
    * (behaviour unchanged where it was already correct); small cells
    * widen the prefix data-free from the memoized counts. Empty ⇒ even
    * all cells can't fill k (n−1 < k): callers drop the cell filter
    * and the probe degrades to the exact scan.
    */
  private[graft] def selectedCells(spark: SparkSession, sfDir: String,
      probe: Seq[Float], nprobe: Int, k: Int): Array[Int] = {
    val (centers, _, _) = quantized(spark, sfDir)
    val ranked = probeCells(spark, centers, probe, centers.length)
    val cnts = cellCounts(spark, sfDir)
    val cum = ranked.scanLeft(0L)((a, c) => a + cnts.getOrElse(c, 0L)).tail
    ranked.indices.find(cum(_) >= k) match {
      case Some(i) => ranked.take(math.max(i + 1, math.min(nprobe, ranked.length)))
      case None    => Array.empty
    }
  }

  /** Top-10 cosine neighbours of vec_id=0 among the `nprobe` nearest
    * cells (euclidean centroid distance, standard IVF probe rule),
    * AUTO-WIDENED along the distance-ranked cell prefix until the
    * candidate pool holds ≥ 10 (see [[selectedCells]]).
    */
  private[graft] def knnIvfProbing(spark: SparkSession, sfDir: String,
      nprobe: Int): DataFrame = {
    val (_, assigned, _) = quantized(spark, sfDir)
    val probe = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    val cells = selectedCells(spark, sfDir, probe, nprobe, k = 10)
    val scoped =
      if (cells.isEmpty) assigned
      else assigned.filter(
        col("cell").isin(cells.toIndexedSeq.map(Integer.valueOf): _*))
    scoped.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("cell"),
        round(call_function("cosine_sim", col("embedding"), typedlit(probe)), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(Ann.K)
  }

  /** `knn_ivf` — `defaultNprobe(cells)` of the `cellCount(n)` cells
    * (= the historic nprobe=2 at every gated sf, √cells at scale — see
    * [[defaultNprobe]]). No oracle (quantizer is engine-specific);
    * structural guarantees pinned in IvfSpec.
    */
  def knnIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val (centers, _, _) = quantized(spark, sfDir)
    knnIvfProbing(spark, sfDir, nprobe = defaultNprobe(centers.length))
  }

  /** `embed_kmeans` — k-means clustering of the embedding corpus as a
    * first-class result (not just the IVF router): per cell the member
    * count and the mean squared distance to the centroid — the cluster
    * profile a corpus-curation dashboard reads (topic balance, outlier
    * cells) and the within-cluster-SS the elbow criterion plots.
    *
    * Reuses the IVF coarse quantizer verbatim (same memoized model per
    * corpus fingerprint — clustering is a per-snapshot batch artifact,
    * never a per-query cost). Distances are one map-side zip_with per
    * row against the k-row broadcast center table; the profile is a
    * k-row 2-phase aggregate. No oracle (k-means is engine-specific);
    * IvfSpec pins membership conservation and the variance
    * decomposition (within-cluster SS ≤ total SS about the global
    * mean — the inequality k-means exists to tighten).
    */
  def embedKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val (model, assigned, _) = quantized(spark, sfDir)
    val s2 = spark
    import s2.implicits._
    val centers = model.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "center")
    assigned
      .join(broadcast(centers), Seq("cell"))
      .withColumn("d2", aggregate(
        zip_with(col("embedding").cast("array<double>"), col("center"),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, t) => acc + t))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("d2")), 6).as("avg_d2"))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        col("avg_d2"))
      .orderBy(col("cell"))
  }

  /** `embed_kmeans_assign` — the ASSIGNMENT stage of k-means,
    * value-gated: given FIXED centroids (deterministically the four
    * lowest vec_ids' vectors; in production the trained model's
    * centers — the argmin-squared-L2 assignment is the same arithmetic
    * either way), every vector assigns to its nearest centroid with a
    * centroid-id tie-break. Converts embed_kmeans's property-tested
    * trust into a driver hash-verified value check against DuckDB —
    * the dedup_embed_verify pattern applied to the clustering family.
    * The argmin compares ROUNDED distances (6 dp) so both engines rank
    * the same values; round-6 near-ties are measure-zero on random
    * embeddings.
    *
    * Scale: the centroid side is a k-row broadcast (the documented
    * scalar-broadcast crossJoin pattern); distances are one map-side
    * zip_with per (vector, centroid); the argmin is a min(struct)
    * hash aggregate on vec_id — no window, no all-pairs.
    */
  def embedKmeansAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cell"), col("v").as("center"))
    val d2 = aggregate(
      zip_with(col("v"), col("center"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, t) => acc + t)
    e.crossJoin(broadcast(cents))
      .withColumn("d2", round(d2, 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"), col("m.d2").as("d2"))
      .orderBy(col("vec_id"))
  }

  /** `knn_ivf_probe_verify` — the COMPLETE IVF query algebra
    * value-gated end-to-end: given FIXED centroids (the four lowest
    * vec_ids' vectors — the deterministic stand-in for trained
    * centers, as in embed_kmeans_assign), (1) every vector assigns to
    * its argmin-L2 centroid, (2) the probe (vec 0) ranks the centroids
    * by round-6 squared L2 and keeps the nprobe=2 nearest (tie on
    * cell — the probeCells rule), (3) the output is the per-probed-cell
    * candidate PROFILE — candidate count plus the argmax-cosine
    * neighbour (sim desc, vec_id tie) — so every stage is directly
    * observable in the hashed rows: a wrong assignment moves n_cand, a
    * wrong cell ranking changes WHICH cells appear, a wrong nprobe
    * cutoff changes the row count, a wrong cosine changes
    * top_vec/top_sim. (A top-k detail output was tried first and
    * REJECTED by its own mutation tooth-check: widening nprobe 2→3
    * left the top-10 unchanged at sf0.01 — the extra cell's members
    * never cracked the top-10, so the cutoff was unobserved.)
    * knn_ivf itself stays no_oracle (its quantizer is trained).
    *
    * Scale shape identical to the production path: k-row broadcast
    * centroids, map-side distances, min(struct) argmin, a 2-row
    * broadcast semi-join for the cell filter, and a per-cell hash
    * aggregate — no window over the corpus, no all-pairs.
    */
  def knnIvfProbeVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cell"), col("v").as("center"))
    def sqL2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, t) => acc + t)
    // The vector rides THROUGH the argmin aggregate (first() is
    // deterministic here — embedding is constant per vec_id, and the
    // map-side partial agg collapses the ×4 crossJoin rows before the
    // shuffle), so the candidate side needs ONE full corpus scan, not
    // a second scan re-joined on vec_id.
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("d2", round(sqL2(col("v"), col("center")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).as("m"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("m.cell").as("cell"), col("embedding"))
    val probe = e.filter(col("vec_id") === 0)
      .select(col("v").as("pv"), col("embedding").as("pe"))
    val probedCells = cents.crossJoin(broadcast(probe))
      .withColumn("pd2", round(sqL2(col("pv"), col("center")), 6))
      .orderBy(col("pd2"), col("cell"))
      .limit(2)
      .select(col("cell"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(probedCells), Seq("cell"), "left_semi")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("cell"),
        round(call_function("cosine_sim", col("embedding"), col("pe")), 6)
          .as("sim"))
      // argmax by (sim desc, vec_id asc) as max(struct(sim, -vec_id)):
      // round-6 doubles and long ids negate exactly, so the struct
      // order IS the (sim desc, vec_id asc) order
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_cand"),
        max(struct(col("sim"), (-col("vec_id")).as("nv"))).as("m"))
      .select(col("cell"), col("n_cand"),
        (-col("m.nv")).as("top_vec"), col("m.sim").as("top_sim"))
      .orderBy(col("cell"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_ivf" -> knnIvf _,
    "knn_ivf_probe_verify" -> knnIvfProbeVerify _,
    "embed_kmeans" -> embedKmeans _,
    "embed_kmeans_assign" -> embedKmeansAssign _
  )

  val oracle: Map[String, String] = Map(
    "embed_kmeans_assign" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |c AS (SELECT vec_id AS cell, v AS center FROM e WHERE vec_id < 4),
        |d AS (SELECT e.vec_id, c.cell,
        |        ROUND(list_sum([ (e.v[i] - c.center[i]) * (e.v[i] - c.center[i])
        |          for i in range(1, len(e.v) + 1) ]), 6) AS d2
        |      FROM e CROSS JOIN c)
        |SELECT vec_id, cell, d2 FROM (
        |  SELECT vec_id, cell, d2,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |  FROM d) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    // DuckDB twin of the full IVF probe algebra: same fixed centroids,
    // same round-6 argmin assignment (ROW_NUMBER rn=1 == min(struct)),
    // same nprobe=2 cell cutoff, same round-6 cosine argmax per cell.
    "knn_ivf_probe_verify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |c AS (SELECT vec_id AS cell, v AS center FROM e WHERE vec_id < 4),
        |a AS (SELECT vec_id, cell FROM (
        |  SELECT e.vec_id, c.cell,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      ROUND(list_sum([ (e.v[i] - c.center[i]) * (e.v[i] - c.center[i])
        |        for i in range(1, len(e.v) + 1) ]), 6), c.cell) AS rn
        |  FROM e CROSS JOIN c) WHERE rn = 1),
        |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
        |pc AS (SELECT cell FROM (
        |  SELECT c.cell,
        |    ROUND(list_sum([ (p.pv[i] - c.center[i]) * (p.pv[i] - c.center[i])
        |      for i in range(1, len(p.pv) + 1) ]), 6) AS pd2
        |  FROM c, p) ORDER BY pd2, cell LIMIT 2),
        |cand AS (
        |  SELECT a.cell, e.vec_id,
        |    ROUND(list_cosine_similarity(e.v, p.pv), 6) AS sim
        |  FROM e JOIN a USING (vec_id), p
        |  WHERE e.vec_id <> 0 AND a.cell IN (SELECT cell FROM pc))
        |SELECT cell, n_cand, top_vec, top_sim FROM (
        |  SELECT cell, vec_id AS top_vec, sim AS top_sim,
        |    CAST(COUNT(*) OVER (PARTITION BY cell) AS BIGINT) AS n_cand,
        |    ROW_NUMBER() OVER (PARTITION BY cell
        |      ORDER BY sim DESC, vec_id) AS rn
        |  FROM cand) WHERE rn = 1
        |ORDER BY cell""".stripMargin
  )
}
