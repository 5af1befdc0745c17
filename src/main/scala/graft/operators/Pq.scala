package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftOps
import graft.sources.Tables

/** Product-quantization ANN — the compressed-domain scan tier of the
  * similarity-search family (exact top-k → LSH bucket → IVF cells →
  * PQ codes): every vector stores as M=8 4-bit-ish codes (8 ints here;
  * 8 bytes packed), 32× under float32, and ranking reads ONLY the
  * codes via two ADC lookup tables computed per query from the probe.
  * At 100 TB this is what makes a full-corpus similarity scan feasible
  * at all: the scan is arithmetic over 8-byte codes, the float vectors
  * are touched only for the final rescore of a bounded pool (fetched
  * by id — a point lookup against the full-precision store).
  *
  * Train/encode are batch-ingest costs, not per-query costs: the
  * codebook is memoized per corpus fingerprint and the codes table is
  * materialized once per (JVM, corpus), exactly like the minhash
  * signature table. No oracle (codebooks are engine-specific);
  * overlap-vs-exact, determinism, and exact-dup properties pinned in
  * PqSpec.
  */
object Pq {

  /** Centroids per subspace: K=32 at test scale (production 256 —
    * still one byte per subspace). Measured overlap-vs-exact at
    * sf0.001: K=16/pool=50 → 4/10; K=32/pool=100 → 10/10.
    */
  val K = 32

  /** ADC pool depth: PQ's encoding error is larger than SQ8's, so the
    * rescore pool is deeper than Ann.RescorePool (the standard
    * compensation — pool size, not codebook size, is the cheap knob:
    * it only widens the TakeOrderedAndProject, not the stored codes).
    * 100 → 200 in r13: recall@10 vs exact at sf0.1 read 0.60 at pool
    * 100 and 0.90 at 200 (knn_ivfpq 0.60 → 0.70) at unchanged warm
    * time — RecallSpec pins the floors. FLOOR value — the operating
    * pool is `Ann.rescorePoolFor(n, PqRescorePool)` (√n-scaled, see
    * its scaladoc; bit-identical at every gated sf).
    */
  val PqRescorePool = 200

  /** Codebooks per (corpus fingerprint) — training is an action. */
  private val cbMemo = scala.collection.concurrent.TrieMap
    .empty[String, Array[Array[Array[Float]]]]

  /** Codes-table parquet paths already written by this JVM. */
  private val writtenCodes = scala.collection.mutable.Set.empty[String]

  private lazy val codesRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_pq_")
    p.toFile.deleteOnExit()
    p
  }

  /** The (codes table, codebook) for a corpus: trained + encoded once
    * per (JVM, corpus content), then served from parquet — the ingest/
    * query split a production pipeline would have.
    */
  private[graft] def codesTable(spark: SparkSession,
      sfDir: String): (DataFrame, Array[Array[Array[Float]]]) = {
    val fp = graft.sources.DataFingerprint.ofTable(sfDir, "embeddings")
    val e = Tables.embeddings(spark, sfDir)
    val cb = cbMemo.getOrElseUpdate(fp, GraftOps.pqTrain(e, "embedding", k = K))
    val path = codesRoot.resolve(s"pq_codes_$fp").toString
    Pq.synchronized {
      if (!writtenCodes.contains(path)) {
        // ingest path uses the codegen encoder (PqEncodeExpr) — the
        // pure-HOF GraftOps.pqEncode is its portable cross-check,
        // pinned code-identical in PqSpec
        graft.expressions.PqEncodeExpr.register(spark, cb)
        e.select(col("vec_id"), expr("pq_encode(embedding)").as("codes"))
          .coalesce(4).write.mode("overwrite").parquet(path)
        writtenCodes += path
      }
    }
    (spark.read.parquet(path), cb)
  }

  /** `knn_pq` — top-10 cosine neighbours of vec_id=0: ADC scan over the
    * codes table (map-side lookups + TakeOrderedAndProject, PqRescorePool),
    * then rescore the pool on original floats fetched by id.
    */
  def knnPq(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val (codes, cb) = codesTable(spark, sfDir)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    val (ip, n2) = GraftOps.pqAdcTables(probe, cb)
    val probeNorm = math.sqrt(probe.map(x => x.toDouble * x).sum)
    val pool = codes.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        GraftOps.pqCosineAdc(col("codes"), ip, n2, probeNorm).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(Ann.rescorePoolFor(Ann.embedCount(spark, sfDir), PqRescorePool))
    // the pool-row set broadcasts; originals are fetched by id only for it
    broadcast(pool).join(e, "vec_id")
      .select(col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), typedlit(probe)), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(Ann.K)
  }

  /** IVF-PQ codes-table paths already written by this JVM. */
  private val writtenIvfPq = scala.collection.mutable.Set.empty[String]

  /** RESIDUAL codebooks per corpus fingerprint (the IVF-PQ quantizer —
    * trained on v − centroid[cell(v)], distinct from the raw-vector
    * codebook knn_pq's full-scan tier keeps).
    */
  private val cbResMemo = scala.collection.concurrent.TrieMap
    .empty[String, Array[Array[Array[Float]]]]

  /** Every vector with its IVF cell and residual (v − centroid[cell]).
    * The residual is what IVF-PQ quantizes (FAISS form): inside one
    * Voronoi cell the residuals cluster around 0 with a dynamic range
    * of one CELL, not the whole corpus, so the same codebook bytes
    * carry far more precision than raw-vector codes — the r13 100×
    * measurement read knn_ivfpq recall@10 = 0.30 on raw codes, and
    * residual encoding is the standard fix at identical storage.
    * Shape: one broadcast join against the ≤65536-row centroid table +
    * a map-side zip_with — an ingest cost, same class as the encode.
    */
  private[graft] def residuals(spark: SparkSession, sfDir: String,
      forTrain: Boolean = false): DataFrame = {
    val (model, assignedFull, _) = Ivf.quantized(spark, sfDir)
    // forTrain: sample the BASE rows before the per-row cell/residual
    // arithmetic. Residual computation commutes with row sampling, but
    // pqTrain's internal Bernoulli sample sits ABOVE this transform —
    // at 5M vectors (1000× probe, r16) that cost two full-corpus
    // assignment passes (5M × √n cells × d argmin flops each), the
    // second squeezed through coalesce(8)'s EIGHT tasks: one straggler
    // task measured 23+ min RUNNABLE and the train stage 40+ min. The
    // content-keyed trainInput filter (md5 threshold on vec_id) pushes
    // to the parquet scan, so the expensive arithmetic runs only on
    // the ~256k surviving rows. Invisible at the gated sfs (≤ 5k
    // vectors); the class lesson matches text_edit_distance's r15
    // entry: SAMPLE/FILTER BELOW THE EXPENSIVE MAP, NOT ABOVE IT.
    val assigned =
      if (!forTrain) assignedFull
      else Ivf.trainInput(assignedFull,
        Tables.embeddings(spark, sfDir).count(), "vec_id")
    val s2 = spark
    import s2.implicits._
    val centers = model.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat).toSeq) }.toSeq
      .toDF("cell", "center")
    assigned
      .join(broadcast(centers), Seq("cell"))
      .withColumn("residual",
        zip_with(col("embedding"), col("center"),
          (a, b) => (a - b).cast("float")))
  }

  /** Driver-side ADC state for the residual scorer, covering exactly
    * the probed cells. State size is bounded by nprobe × M × K × 8
    * bytes (cellU dominates): a few KB at gated scales (nprobe ≤ 14,
    * M=8, K=32 → ~29 KB), and ~0.5 MB at the documented extreme
    * (65536-cell cap, nprobe = 256) — still a fine plan literal, but
    * it GROWS with nprobe, so a future nprobe widening should check
    * this bound (ADVICE r14). The empty-selection degradation only
    * happens when n−1 < k, where cellCount caps at 4 cells.
    *
    * The algebra: reconstruction v̂ = centroid_c + r̂, and subspaces
    * are disjoint coordinates, so
    *   ⟨p, v̂⟩  = ⟨p, c⟩ + Σ_m ipP(m)(code_m)
    *   ‖v̂‖²    = ‖c‖² + Σ_m (2·⟨c_m, cent⟩ + ‖cent‖²)(code_m)
    * — both EXACT sums of per-subspace table entries, like the raw
    * ADC, just with two per-cell correction terms.
    */
  private[graft] case class ResidualAdcState(
      ipP: Seq[Seq[Float]],
      cellU: Map[Int, Seq[Seq[Double]]],
      cellIpPC: Map[Int, Double],
      cellC2: Map[Int, Double])

  private[graft] def residualAdcState(probe: Seq[Float],
      centers: Map[Int, Array[Float]],
      cb: Array[Array[Array[Float]]]): ResidualAdcState = {
    val (ipP, n2) = GraftOps.pqAdcTables(probe, cb)
    def dot(a: Seq[Float], b: Array[Float]): Double = {
      // fail fast on a probe/centroid dimension mismatch — silently
      // truncating would mask a wrong-dimension bug as a slightly-wrong
      // score (ADVICE r14); inputs are driver-side and tiny
      require(a.length == b.length,
        s"dimension mismatch: probe ${a.length} vs centroid ${b.length}")
      var s = 0.0; var j = 0
      while (j < a.length) { s += a(j).toDouble * b(j); j += 1 }
      s
    }
    val cellU = centers.map { case (cell, cen) =>
      val ipC = GraftOps.pqAdcTables(cen.toSeq, cb)._1
      cell -> ipC.zip(n2).map { case (ir, nr) =>
        ir.zip(nr).map { case (i2, nn) => 2.0 * i2 + nn.toDouble } }
    }
    ResidualAdcState(ipP, cellU,
      centers.map { case (c, cen) => c -> dot(probe, cen) },
      centers.map { case (c, cen) => c -> dot(cen.toSeq, cen) })
  }

  /** ADC cosine of a RESIDUAL codes column against the probe: the raw
    * pqCosineAdc lookup-sum plus the per-cell correction terms, all
    * table lookups — no float vectors read. The per-cell tables ride
    * in as map literals keyed by the `cell` column; both map lookups
    * sit in ARGUMENT position of their HOFs (evaluated once per row —
    * the interpreted-HOF discipline).
    */
  private[graft] def pqCosineAdcResidual(codes: Column, cell: Column,
      st: ResidualAdcState, probeNorm: Double): Column = {
    val ipSum = element_at(typedlit(st.cellIpPC), cell) +
      aggregate(zip_with(codes, typedlit(st.ipP),
          (c, t) => element_at(t, c + 1)),
        lit(0.0d), (a, x) => a + x.cast("double"))
    val n2Sum = element_at(typedlit(st.cellC2), cell) +
      aggregate(zip_with(codes, element_at(typedlit(st.cellU), cell),
          (c, t) => element_at(t, c + 1)),
        lit(0.0d), (a, x) => a + x)
    ipSum / (lit(probeNorm) * sqrt(greatest(n2Sum, lit(1e-300))))
  }

  /** `knn_ivfpq` — the composed production ANN layout at 100 TB:
    * RESIDUAL PQ codes PARTITIONED BY IVF cell (the FAISS IVF-PQ
    * form). A probe ranks its `nprobe` nearest cells' codes via ADC —
    * the scan is partition-PRUNED at file-listing time (the directory
    * listing skips every other cell; pinned in PqSpec) AND compressed
    * (8-byte codes, no float vectors) — then rescores the pool on
    * originals fetched by id. IVF bounds WHAT is scanned, PQ bounds
    * the BYTES per scanned row.
    *
    * r14: the quantizer trains/encodes RESIDUALS (v − centroid[cell])
    * instead of raw vectors — the codebook's dynamic range covers one
    * Voronoi cell, not the corpus, so the same 8 code bytes carry far
    * more precision (the r13 verdict's top recall item: raw codes
    * measured 0.30 recall@10 at the 100× ladder). The ADC score gains
    * two per-cell correction terms (see [[residualAdcState]]); the
    * rescore-on-originals tail is unchanged. Identical results to
    * knn_ivf's exact in-cell ranking whenever the ADC pool captures
    * the in-cell top-10 (pinned at test scale).
    */
  def knnIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    // bind the model once — re-invoking Ivf.quantized for the center
    // count re-pays its e.count() sizing job (ADVICE r13)
    val (ivfCenters, _, _) = Ivf.quantized(spark, sfDir)
    val fp = graft.sources.DataFingerprint.ofTable(sfDir, "embeddings")
    val cbR = cbResMemo.getOrElseUpdate(fp,
      GraftOps.pqTrain(residuals(spark, sfDir, forTrain = true),
        "residual", k = K))
    val path = codesRoot.resolve(s"ivfpq_codes_$fp").toString
    Pq.synchronized {
      if (!writtenIvfPq.contains(path)) {
        graft.expressions.PqEncodeExpr.register(spark, cbR)
        residuals(spark, sfDir)
          .select(col("vec_id"), col("cell"), expr("pq_encode(residual)").as("codes"))
          .write.partitionBy("cell").mode("overwrite").parquet(path)
        writtenIvfPq += path
      }
    }
    val codes = spark.read.parquet(path)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    // same auto-widened selection as knn_ivf (k = the final top-10, NOT
    // the ADC pool; same defaultNprobe(cells) rule) so the two tiers
    // scan the SAME cells and the "identical to knn_ivf when the pool
    // captures the in-cell top-10" pin (PqSpec) keeps holding after
    // the r13 widen + scale-aware default
    val cells = Ivf.selectedCells(spark, sfDir, probe,
      nprobe = Ivf.defaultNprobe(ivfCenters.length),
      k = 10)
    val centersArr = ivfCenters.map(_.map(_.toFloat))
    // state covers exactly the scanned cells (all of them only in the
    // n−1 < k degradation, where cellCount caps the model at 4 cells)
    val stateCells = if (cells.isEmpty) centersArr.indices.toArray else cells
    val st = residualAdcState(probe,
      stateCells.map(c => c -> centersArr(c)).toMap, cbR)
    val probeNorm = math.sqrt(probe.map(x => x.toDouble * x).sum)
    val scoped =
      if (cells.isEmpty) codes
      else codes.filter(
        col("cell").isin(cells.toIndexedSeq.map(Integer.valueOf): _*))
    val pool = scoped
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        pqCosineAdcResidual(col("codes"), col("cell"), st, probeNorm).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(Ann.rescorePoolFor(Ann.embedCount(spark, sfDir), PqRescorePool))
    broadcast(pool).join(e, "vec_id")
      .select(col("vec_id"),
        round(call_function("cosine_sim", col("embedding"), typedlit(probe)), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(Ann.K)
  }

  /** `knn_pq_verify` — the RESIDUAL encode + corrected-ADC arithmetic
    * of the IVF-PQ path (r14: upgraded from the raw-vector form when
    * knn_ivfpq moved to residual codes, so the PRODUCTION algebra is
    * the one that stays driver-hash-gated; the raw ADC remains pinned
    * by PqSpec's reconstruction identity and ApiFuzzSpec's brute-force
    * twins). Everything is corpus-deterministic: coarse centroids are
    * the four lowest vec_ids' vectors (argmin round-6 L2 assignment,
    * cell tie-break — the embed_kmeans_assign rule); the residual
    * codebook's subspace-m centroids are vec_ids 4..7's RESIDUALS'
    * m-th subvectors. Per vector: its cell, its M=8 residual codes
    * (dash-joined string), and the residual-ADC cosine against probe
    * 0 —
    *   (⟨p,c⟩ + Σ ip) / (‖p‖·√(‖c‖² + Σ(2·ipc + n2)))
    * — exactly [[residualAdcState]]'s per-cell correction algebra, so
    * a wrong assignment, residual, code, or correction term each moves
    * hashed values. Encode argmin compares ROUNDED subspace distances
    * (6 dp) with a centroid-id tie-break so both engines rank the same
    * values.
    *
    * Scale: the codebook/table frame is cells×M×K = 128 rows broadcast
    * to a per-(vector, subspace) explode; encode + ADC reduce via two
    * hash aggregates on (vec_id, mi) then vec_id — same per-row cost
    * class as the production pqEncode expression, no window, no
    * all-pairs.
    */
  def knnPqVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val M = 8
    val ds = 8
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

    // ---- Bounded model fetch (r17, guide §1.2 / r16 verdict item 4) --
    // Every model piece of this query — coarse centroids (vec_ids 0..3),
    // probe (vec_id 0), residual codebook (vec_ids 4..7), the 128-entry
    // ADC tables, the per-cell scalars — is a bounded constant derived
    // from EIGHT rows fetched by a pushed-down point lookup
    // (PushedFilters: vec_id < 8, same O(1)-at-scale property the old
    // inlined-branch form preserved). The old form re-inlined the full
    // assignment subtree under each of the 5 model branches: an 86-node
    // plan with 26 Exchanges and ~0.5 s of catalyst per evaluation.
    // Computing the tables DRIVER-side (identical left-fold IEEE
    // arithmetic — bit-for-bit what the aggregate/zip_with HOFs
    // computed) and inlining them as literals collapses the plan to
    // scan → map-side project → sort: ONE exchange, no joins, no
    // aggregates. Values are unchanged (oracle-gated at 3 SFs); the
    // driver state is the same bounded-model class as residualAdcState.
    val headRows = e.filter(col("vec_id") < 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cellIds: Seq[Int] = (0 to 3).filter(c => headRows.contains(c.toLong))
    val centers: Map[Int, Array[Double]] =
      cellIds.map(c => c -> headRows(c.toLong)).toMap

    def emptyResult: DataFrame = e.filter(lit(false))
      .select(col("vec_id"), col("vec_id").as("cell"),
        lit("").as("codes"), lit(0.0).as("adc_cos"))
    if (cellIds.isEmpty || !headRows.contains(0L)) return emptyResult

    // round(x, 6) twin of Spark's Round (BigDecimal.valueOf = shortest
    // string, HALF_UP) — used only on the 4 codebook-vector assignments
    def r6(d: Double): Double = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    // left-fold Σ f(a_i, b_i) — the exact order aggregate∘zip_with folds
    def fold2(a: Array[Double], b: Array[Double],
        f: (Double, Double) => Double): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += f(a(i), b(i)); i += 1 }; s
    }
    def assign(v: Array[Double]): Int =
      cellIds.map(c => (r6(fold2(v, centers(c), (x, y) => (x - y) * (x - y))), c))
        .min._2
    // residual codebook: vec_ids 4..7's residuals (v − center[cell]),
    // c = vec_id − 4, per-subspace slices
    val cVals: Seq[Int] = (4 to 7).filter(i => headRows.contains(i.toLong))
      .map(_ - 4)
    if (cVals.isEmpty) return emptyResult
    val resid: Map[Int, Array[Double]] = cVals.map { cv =>
      val v = headRows((cv + 4).toLong)
      val cen = centers(assign(v))
      cv -> v.indices.map(i => v(i) - cen(i)).toArray
    }.toMap
    val pv = headRows(0L)
    // ADC tables — mi-major, candidate-index minor (bounded: 8×|c|)
    val cbByMi: Seq[Seq[Seq[Double]]] = (0 until M).map(mi =>
      cVals.map(cv => resid(cv).slice(mi * ds, mi * ds + ds).toSeq))
    val ipByMi: Seq[Seq[Double]] = (0 until M).map(mi =>
      cVals.map(cv => fold2(pv.slice(mi * ds, mi * ds + ds),
        resid(cv).slice(mi * ds, mi * ds + ds), _ * _)))
    val n2ByMi: Seq[Seq[Double]] = (0 until M).map(mi =>
      cVals.map { cv =>
        val cent = resid(cv).slice(mi * ds, mi * ds + ds)
        fold2(cent, cent, _ * _)
      })
    val ipcByCell: Map[Int, Seq[Seq[Double]]] = cellIds.map(cell =>
      cell -> (0 until M).map(mi =>
        cVals.map(cv => fold2(centers(cell).slice(mi * ds, mi * ds + ds),
          resid(cv).slice(mi * ds, mi * ds + ds), _ * _))).toSeq).toMap
    val ippcByCell: Map[Int, Double] =
      cellIds.map(cell => cell -> fold2(pv, centers(cell), _ * _)).toMap
    val c2ByCell: Map[Int, Double] =
      cellIds.map(cell => cell -> fold2(centers(cell), centers(cell), _ * _)).toMap
    val pn = math.sqrt(fold2(pv, pv, _ * _))

    // ---- one map-side pass over the corpus ----
    def sqL2(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (s, t) => s + t)
    // coarse assignment: lexicographic min over (round-6 d2, cell) —
    // the same min(struct(ad2, cell)) the crossJoin+groupBy form took
    val am = array_min(array(cellIds.map(c =>
      struct(round(sqL2(col("v"), typedlit(centers(c).toSeq)), 6).as("ad2"),
        lit(c).as("cell"))): _*))
    // per-mi encode argmin over the candidate structs (d2, c, ip, ipc,
    // n2) — identical struct ordering to the old groupBy-min
    val enc = transform(sequence(lit(0), lit(M - 1)), mi => {
      val rSlice = slice(col("r"), mi * lit(ds) + lit(1), lit(ds))
      array_min(array(cVals.zipWithIndex.map { case (cVal, ci) =>
        val cent = element_at(
          element_at(typedlit(cbByMi), mi + lit(1)), lit(ci + 1))
        struct(
          round(aggregate(zip_with(rSlice, cent, (a, b) => (a - b) * (a - b)),
            lit(0.0), (s, t) => s + t), 6).as("d2"),
          lit(cVal).as("c"),
          element_at(element_at(typedlit(ipByMi), mi + lit(1)),
            lit(ci + 1)).as("ip"),
          element_at(element_at(element_at(typedlit(ipcByCell), col("cell")),
            mi + lit(1)), lit(ci + 1)).as("ipc"),
          element_at(element_at(typedlit(n2ByMi), mi + lit(1)),
            lit(ci + 1)).as("n2"))
      }: _*))
    })
    def encSum(field: String): Column =
      aggregate(col("enc"), lit(0.0), (a, x) => a + x.getField(field))
    e.withColumn("cell", am.getField("cell"))
      .withColumn("r",
        zip_with(col("v"), element_at(typedlit(centers.map {
          case (k, v) => k -> v.toSeq
        }), col("cell")), (a, b) => a - b))
      .withColumn("enc", enc)
      .select(col("vec_id"), col("cell"),
        concat_ws("-", transform(col("enc"),
          s => s.getField("c").cast("string"))).as("codes"),
        encSum("ip").as("sip"), encSum("ipc").as("sipc"),
        encSum("n2").as("sn2"))
      .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
        col("codes"),
        round((element_at(typedlit(ippcByCell), col("cell")) + col("sip")) /
          (lit(pn) * sqrt(greatest(
            element_at(typedlit(c2ByCell), col("cell")) +
              lit(2.0) * col("sipc") + col("sn2"), lit(1e-300)))),
          6).as("adc_cos"))
      .orderBy(col("vec_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_pq" -> knnPq _,
    "knn_ivfpq" -> knnIvfPq _,
    "knn_pq_verify" -> knnPqVerify _
  )

  val oracle: Map[String, String] = Map(
    // DuckDB twin of the RESIDUAL encode + corrected-ADC algebra: same
    // fixed coarse centroids (vec_id < 4), same round-6 argmin
    // assignment, residuals v − center, residual codebook from vec_ids
    // 4..7, round-6 per-subspace encode argmin, and the per-cell
    // correction terms in the ADC cosine.
    "knn_pq_verify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |co AS (SELECT CAST(vec_id AS INT) AS cell, v AS center
        |       FROM e WHERE vec_id < 4),
        |a AS (SELECT vec_id, cell, v FROM (
        |  SELECT e.vec_id, co.cell, e.v,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      ROUND(list_sum([ (e.v[i] - co.center[i]) * (e.v[i] - co.center[i])
        |        for i in range(1, len(e.v) + 1) ]), 6), co.cell) AS rn
        |  FROM e CROSS JOIN co) WHERE rn = 1),
        |r AS (SELECT a.vec_id, a.cell,
        |        [ a.v[i] - co.center[i] for i in range(1, len(a.v) + 1) ] AS r
        |      FROM a JOIN co USING (cell)),
        |rcb AS (
        |  SELECT m.mi, CAST(s.vec_id - 4 AS INT) AS c,
        |         s.r[m.mi*8+1 : m.mi*8+8] AS cent
        |  FROM (SELECT unnest(range(0, 8)) AS mi) m,
        |       (SELECT vec_id, r FROM r WHERE vec_id >= 4 AND vec_id < 8) s),
        |p AS (SELECT v AS pv FROM e WHERE vec_id = 0),
        |t AS (
        |  SELECT co.cell, rcb.mi, rcb.c, rcb.cent,
        |    list_sum([ p.pv[rcb.mi*8+i] * rcb.cent[i] for i in range(1, 9) ]) AS ip,
        |    list_sum([ co.center[rcb.mi*8+i] * rcb.cent[i] for i in range(1, 9) ]) AS ipc,
        |    list_sum([ rcb.cent[i] * rcb.cent[i] for i in range(1, 9) ]) AS n2
        |  FROM co CROSS JOIN rcb, p),
        |enc AS (
        |  SELECT vec_id, cell, mi, c, ip, ipc, n2,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id, mi ORDER BY d2, c) AS rn
        |  FROM (
        |    SELECT r.vec_id, r.cell, t.mi, t.c, t.ip, t.ipc, t.n2,
        |      ROUND(list_sum([ (r.r[t.mi*8+i] - t.cent[i])
        |        * (r.r[t.mi*8+i] - t.cent[i]) for i in range(1, 9) ]), 6) AS d2
        |    FROM r JOIN t ON r.cell = t.cell)),
        |pcc AS (SELECT co.cell,
        |    list_sum([ p.pv[i] * co.center[i]
        |      for i in range(1, len(co.center) + 1) ]) AS ippc,
        |    list_sum([ co.center[i] * co.center[i]
        |      for i in range(1, len(co.center) + 1) ]) AS c2
        |  FROM co, p),
        |pn AS (SELECT sqrt(list_sum([ pv[i] * pv[i]
        |         for i in range(1, len(pv) + 1) ])) AS pn FROM p),
        |agg AS (
        |  SELECT vec_id, cell,
        |    string_agg(CAST(c AS VARCHAR), '-' ORDER BY mi) AS codes,
        |    sum(ip) AS sip, sum(ipc) AS sipc, sum(n2) AS sn2
        |  FROM enc WHERE rn = 1 GROUP BY vec_id, cell)
        |SELECT agg.vec_id, CAST(agg.cell AS BIGINT) AS cell, agg.codes,
        |  ROUND((pcc.ippc + agg.sip) / (pn.pn * sqrt(greatest(
        |    pcc.c2 + 2.0 * agg.sipc + agg.sn2, 1e-300))), 6) AS adc_cos
        |FROM agg JOIN pcc USING (cell), pn ORDER BY agg.vec_id""".stripMargin
  )
}
