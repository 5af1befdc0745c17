package graft.operators

import graft.Query
import graft.api.Barrier._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorFns, WeightedMean}
import graft.sources.Tables

/** LLM-data-pipeline operators (SURVEY.md §2.1 category J): exact dedup,
  * tokenization, text statistics, similarity search, multimodal joins,
  * and the typed-UDAF surface.
  *
  * Scale design: every op here is a hash-partitioned groupBy or a
  * broadcast probe — no all-pairs comparison anywhere. Exact dedup
  * groups by content hash (md5), so the shuffle key is uniformly
  * distributed regardless of text skew. Tokenization is a Catalyst
  * `Generate` (explode) feeding a partial-agg'd count — the classic
  * scalable word-count plan. Similarity search broadcasts the single
  * probe vector and streams the embedding table map-side.
  */
object Pipeline {

  /** J5 `dedup_exact` — exact-duplicate detection by content hash.
    * Per lang: #docs, #distinct md5(text) hashes, #duplicate docs.
    * md5 is bit-identical across engines; at 100 TB the same plan holds
    * because the hash-groupBy distributes on the digest.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), md5(col("text")).as("h"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_uniq"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dups"))
      .orderBy(col("lang"))

  /** J3 `udtf_explode` — tokenize on single spaces (corpus-verified
    * single-space separators) and count tokens; top-20 by (count DESC,
    * token). `explode(split(...))` is a Catalyst Generate: each input
    * partition expands locally, partial-aggregates, then shuffles one
    * row per (partition, token).
    */
  def udtfExplode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** J4 `text_stats` — per-language document statistics. The mean is
    * SUM/COUNT in double (exact long sum, one IEEE division) — identical
    * in both engines, unlike their different AVG(decimal) widenings.
    */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy(col("lang"))

  /** J6 `multimodal_join` — text table ⋈ vector table on doc_id=vec_id:
    * the canonical "join modalities, then aggregate" shape. Plain
    * equi-join; at scale both sides hash-partition on the key (or the
    * embedding side broadcasts if it fits).
    */
  def multimodalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val e = Tables.embeddings(spark, sfDir)
    d.join(e, d("doc_id") === e("vec_id"))
      .groupBy(col("lang"), col("label"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy(col("lang"), col("label"))
  }

  /** J1 `udf_cosine_topk` — similarity search: top-10 nearest to the
    * probe vector (vec_id=0) by cosine. The probe is a 1-row broadcast;
    * the scan side is map-only + TakeOrderedAndProject — no shuffle of
    * the embedding table, no all-pairs.
    */
  def udfCosineTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_vec"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(VectorFns.cosineSim(col("embedding"), col("probe_vec")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** `embed_rproject` — signed random projection of the embedding
    * table 64 → 16 dims: the JL dimensionality-reduction pass a
    * 100 TB pipeline runs before clustering or coarse ANN to cut
    * vector bytes 4× with bounded distance distortion. Pure map-side
    * (the ±1 matrix is a row-local integer formula, no broadcast, no
    * shuffle); ROUND-6 doubles per output dim.
    *
    * Gated on the NATIVE codegen expression (expressions
    * .SignedProject — a fused k×d loop inside whole-stage codegen);
    * the declarative HOF twin (GraftOps.signedProjection) is pinned
    * bit-identical in CosineExprSpec, so the oracle covers both.
    */
  def embedRproject(spark: SparkSession, sfDir: String): DataFrame = {
    // Flattened to 16 scalar DOUBLE columns (p0..p15): gated outputs
    // must carry scalars only — the driver's pandas-based checker
    // cannot sort/hash array columns (demonstrated in r8).
    val proj = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("signed_project(embedding, 16)").as("proj"))
    proj.select(col("vec_id") +:
        (0 until 16).map(j => col("proj")(j).as(s"p$j")): _*)
      .orderBy(col("vec_id"))
  }

  /** `pipeline_bpe_train` — BPE tokenizer training (GraftOps.bpeTrain)
    * over the document corpus: the first 8 learned merge rules. Each
    * round is a vocab-sized pair aggregate + a 1-row argmax collect
    * (the pageRank convergence-scalar pattern); training state is one
    * checkpointed vocabulary table. No oracle (iterative argmax is not
    * reasonably SQL-expressible); the merge sequence is pinned against
    * the classic hand-computed low/lower/newest/widest fixture in
    * PipelineSpec, with deterministic count-then-lexicographic
    * tie-breaks.
    */
  /** The trained merge table is a per-(JVM, corpus content) parquet
    * artifact (Materialize.once — the signature-table policy): a
    * tokenizer is trained ONCE per corpus snapshot and consumed by
    * every encode pass; re-running the 8 iterative rounds per query
    * run is the anti-pattern this cache models away.
    */
  private def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Materialize.once(spark, sfDir, Seq("documents"),
      "bpe_merges_8")(
      graft.api.GraftOps.bpeTrain(
        Tables.documents(spark, sfDir).select(col("text")), "text", 8))

  def pipelineBpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    bpeMerges(spark, sfDir)
      .select(col("round").cast("long").as("round"), col("left"),
        col("right"), col("pair_count"))
      .orderBy(col("round"))

  /** `pipeline_bpe_pairs` — round 1 of BPE training, value-gated: the
    * adjacent-symbol pair counts over the distinct-word × frequency
    * table (the EXACT table bpeTrain's first argmax reads — same
    * pre-tokenizer, same zip-with-shifted pair explode), top-20 by
    * (count desc, pair asc). Pure integer counting — zero FP-boundary
    * risk — so this converts pipeline_bpe_train's property-tested
    * trust (Sennrich merge sequence) into a driver hash-verified
    * value check on the quantity that DECIDES merge 1.
    *
    * Scale: identical to bpeTrain round 1 — the pair explode is
    * vocab-sized (distinct words × word length), never corpus-sized,
    * and the count is a map-combined hash aggregate.
    */
  def pipelineBpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    // same linear one-pass char split bpeTrain round 1 uses — this twin
    // mirrors that algebra, so it must stay in lockstep
    val chars = expr("kgrams(word, 1)")
    Tables.documents(spark, sfDir)
      .select(explode(graft.api.GraftOps.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), chars.as("sym"))
      .select(col("freq"), explode(zip_with(
        slice(col("sym"), lit(1), size(col("sym")) - 1),
        slice(col("sym"), lit(2), size(col("sym")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("l"), col("r"))
      .limit(20)
  }

  /** `pipeline_bpe_encode` — exact BPE token-budget accounting: train
    * 8 merges on the corpus (GraftOps.bpeTrain — an action, amortized
    * like the minhash signature build), then encode every document
    * with the learned rules (GraftOps.bpeEncode — pure map-side, rules
    * ride as literals) and report per-doc word and BPE token counts.
    * The real number a packing/pricing pipeline budgets on, vs the
    * whitespace under-count. No oracle (depends on the trained rule
    * sequence); encoder semantics pinned in PipelineSpec against
    * hand-encoded words, and token-count bounds pinned corpus-wide.
    */
  def pipelineBpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val rules = bpeMerges(spark, sfDir)
      .orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.api.GraftOps.bpeEncode(
        docs.select(col("doc_id"), col("text")), "text", rules)
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** `pipeline_dataset_card` — the corpus DATASET CARD: the one-table
    * summary a data release ships (doc/token/char volume, language and
    * source diversity, exact-duplication rate) as (metric, value)
    * rows — what a curation dashboard reads and a training run records
    * as provenance.
    *
    * Two branches over the corpus, BOTH Expand-free: the volume
    * metrics are one plain aggregate; the three distinct-cardinality
    * metrics (langs, sources, distinct texts) ride dq_profile's
    * two-level shape — a `stack` generator unpivots (kind, value)
    * pairs map-side, the first aggregate collapses distinct pairs
    * two-phase (shuffle carries distinct values per partition, never
    * rows), the second counts per kind. A single-aggregate
    * formulation with three countDistincts would Expand the corpus
    * ×4 through the shuffle — the exact hazard dq_profile documents.
    * A card runs once per corpus snapshot, so the second scan is the
    * right trade against an Expand'd shuffle of the whole corpus.
    */
  def pipelineDatasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val volumes = d.agg(
        count(lit(1)).cast("double").as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).cast("double")
          .as("total_tokens"),
        sum(col("n_chars")).cast("double").as("total_chars"))
      .select(expr(
        """stack(3,
          |  'n_docs', n_docs,
          |  'total_tokens', total_tokens,
          |  'total_chars', total_chars) AS (metric, value)""".stripMargin))
    val distincts = d
      .select(expr(
        """stack(3,
          |  'n_langs', lang,
          |  'n_sources', source,
          |  'n_distinct_texts', md5(text)) AS (kind, v)""".stripMargin))
      .groupBy(col("kind"), col("v")).agg(count(lit(1)).as("c"))
      .groupBy(col("kind").as("metric"))
      .agg(count(lit(1)).cast("double").as("value"))
    volumes.unionByName(distincts).orderBy(col("metric"))
  }

  /** J2 `udaf_weighted` — typed Aggregator registered through `udaf()`:
    * quantity-weighted mean extended price per return flag. Decimal
    * buffer keeps partial aggregation associative (see WeightedMean).
    */
  def udafWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val wm = udaf(WeightedMean)
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(round(wm(col("l_extendedprice"), col("l_quantity")), 6).as("w_mean_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** `pipeline_curate` — the composed training-data curation funnel:
    * quality gate (≥50 whitespace tokens) → exact-dedup keeping the
    * lowest doc_id per content hash → deterministic 50% sample keyed on
    * doc_id → per-lang survivor counts. Every stage is a pure function
    * of the data (md5-based dedup and sampling), so a re-run on any
    * cluster size curates the SAME corpus — and the whole funnel is
    * expressible in ANSI SQL, so the composition itself is oracle-gated.
    */
  def pipelineCurate(spark: SparkSession, sfDir: String): DataFrame = {
    val quality = Tables.documents(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= 50)
    val deduped = graft.api.GraftOps.dedupExactKeep(quality, "text", "doc_id")
    val sampled = graft.api.GraftOps.deterministicSample(deduped, "doc_id", 0.5)
    sampled.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))
  }

  /** `sample_stratified` — per-language deterministic sampling
    * (GraftOps.stratifiedSample): keep 25% of English (the dominant
    * lang), 50% of Spanish, none of Chinese, everything else whole —
    * the training-mix rebalancing primitive. Content-addressed (md5 of
    * doc_id), so the SAME documents survive any re-run, repartition, or
    * engine; map-side filter, no shuffle before the final count.
    */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.stratifiedSample(Tables.documents(spark, sfDir),
        "doc_id", "lang", Map("en" -> 0.25, "es" -> 0.5, "zh" -> 0.0))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  /** `agg_centroid` — per-label embedding centroids (the class
    * prototype vectors a training pipeline derives for few-shot
    * selection, clustering seeds, or drift monitoring): posexplode the
    * vector, average per (label, dimension). 1-based dim to match the
    * oracle's SQL array indexing.
    *
    * Scale shape: the explode is map-side (×64 rows, but projected to
    * three narrow columns before the shuffle) and the average
    * partial-aggregates per partition — the exchange carries
    * (label × dim × partitions) partial sums, never the exploded
    * corpus. The alternative shape (aggregate() HOF over collected
    * arrays) would buffer whole vectors per group; this one never
    * holds more than a scalar per key. avg over doubles matches the
    * oracle at ROUND 6: addition-order variance is ~1e-14 abs, seven
    * orders below the rounding grain.
    */
  def aggCentroid(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("p", "v")))
      .groupBy(col("label"), (col("p") + 1).as("dim"))
      .agg(round(avg(col("v")), 6).as("centroid"), count(lit(1)).as("n"))
      .select(col("label").cast("long").as("label"),
        col("dim").cast("long").as("dim"), col("centroid"), col("n"))
      .orderBy(col("label"), col("dim"))

  /** `pipeline_e2e` — the WHOLE training-data preparation flow as ONE
    * declarative plan, end-to-end oracle-gated: quality gate (≥50
    * tokens) → exact dedup keep-min (GraftOps.dedupExactKeep) →
    * deterministic 80/10/10 split (GraftOps.splitAssign) → per
    * (split, lang) packing stats (docs, tokens, number of 4096-token
    * bins under the pack_sequences prefix-sum binning). The "a user
    * could switch" query: every stage is the library call a real
    * pipeline would make, and Catalyst fuses them into one job.
    *
    * Scale shape inherited from the pieces: the quality filter is
    * map-side ahead of every shuffle; dedup is one md5-partitioned
    * window; the split is a pure projection; the pack window rides a
    * (split, lang)-bounded partition. Nothing in the composition adds
    * a shuffle beyond the stages' own.
    */
  def pipelineE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.documents(spark, sfDir)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .filter(col("n_tokens") >= 50)
    val d = graft.api.GraftOps.dedupExactKeep(q, "text", "doc_id")
    val s = graft.api.GraftOps.splitAssign(d, "doc_id", "split",
      Seq("train" -> 0.8, "val" -> 0.1), rest = "test")
    val w = Window.partitionBy(col("split"), col("lang"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    s.withColumn("bin",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) * lit(1.0)
          / 4096).cast("long"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        (max(col("bin")) + 1).as("n_bins"))
      .orderBy(col("split"), col("lang"))
  }

  /** `sample_weighted` — deterministic WEIGHTED sampling
    * (GraftOps.weightedPrioritySample): the 5 documents per language
    * with the smallest content-addressed priority u/n_chars, so longer
    * documents are proportionally likelier picks — the quality- or
    * length-weighted draw a mixture pipeline uses where the uniform
    * `sample_stratified` is not enough. The priority is one IEEE
    * division of exact integers (no ln/pow whose last-ulp engine
    * variance could flip a near-tie), which is what makes the SELECTED
    * SET oracle-gateable, not just its size. Output carries u itself
    * (exact bigint) rather than the derived double.
    *
    * Scale: rank-filter compiles to WindowGroupLimit — each partition
    * forwards its local top-5 per lang, the shuffle moves
    * O(partitions × langs × 5), never the corpus.
    */
  def sampleWeighted(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.weightedPrioritySample(
        Tables.documents(spark, sfDir).select(
          col("lang"), col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", Seq("lang"), k = 5)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        col("sample_u").as("u"))
      .orderBy(col("lang"), col("doc_id"))

  /** `pipeline_split` — deterministic train/val/test assignment
    * (GraftOps.splitAssign): 80/10/10 by md5 band of doc_id, counted
    * per (split, lang). Content-addressed, so a document keeps its
    * split across re-runs, engines, and corpus growth — and the bands
    * nest, so widening train never migrates a train doc into test.
    * Pure map-side projection before the count: no shuffle, no join.
    */
  def pipelineSplit(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.splitAssign(Tables.documents(spark, sfDir),
        "doc_id", "split", Seq("train" -> 0.8, "val" -> 0.1), rest = "test")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("split"), col("lang"))

  /** `pipeline_mixture` — mixture rebalancing (GraftOps.mixtureSample):
    * the largest deterministic subsample with EQUAL language
    * proportions (w=0.2 each). The binding (smallest-capacity) language
    * is kept whole — its keep-rate is exactly 1.0, exercising the
    * full-band boundary — and the dominant language (en ≈ 44% of the
    * corpus) downsamples hardest. One stratum-count aggregate broadcast
    * back, then a map-side md5-prefix filter whose threshold is a
    * per-row COLUMN; the corpus never shuffles on data keys.
    */
  def pipelineMixture(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.mixtureSample(Tables.documents(spark, sfDir),
        "doc_id", "lang",
        Map("en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "de" -> 0.2, "zh" -> 0.2))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  /** `pipeline_quality_cut` — top-quartile quality retention per
    * language (GraftOps.topFractionByScore on n_chars): per-lang doc
    * counts and the min surviving score. Rank-based PERCENT_RANK cut —
    * engine-exact integer arithmetic, tied scores share a fate. The
    * window is per-lang (state bounded by the largest stratum); the
    * approx-threshold two-pass form is the documented scale path for
    * strata that outgrow a sort.
    */
  def pipelineQualityCut(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.topFractionByScore(Tables.documents(spark, sfDir),
        "lang", "n_chars", 0.25)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"))
      .orderBy(col("lang"))

  /** `pack_sequences` — sequence packing: assign documents (in stable
    * doc_id order, per lang) to fixed-budget training bins by exclusive
    * prefix-sum of token counts DIV 4096 — the context-window packing
    * step between curation and tokenizer sharding. The running sum is a
    * window per lang: packing is inherently sequential WITHIN a shard,
    * so the shard key (lang here; (lang, shard) at 100 TB, with shard =
    * doc_id ranges) bounds each window partition — never a global
    * single-partition window. Output: per (lang, seq bin) doc and token
    * counts. FLOOR(x*1.0/4096) on both engines — integer `/` semantics
    * differ between Spark and DuckDB, double division does not.
    */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.packBins(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        shardCol = "lang", orderCol = "doc_id", weightCol = "n_tokens",
        budget = 4096L)
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("lang"), col("bin"))

  /** `knn_hybrid` — HYBRID retrieval: the lexical candidates (BM25
    * top-100, GraftOps.bm25) and the dense candidates (exact-cosine
    * top-100 against the vec-0 probe) fused by RECIPROCAL RANK FUSION
    * — score = Σ 1/(60 + rank) over the lists a doc appears in, the
    * industry-standard no-tuning fusion (Cormack et al.'s k=60). This
    * is the retrieval stack a RAG/search service actually runs: two
    * cheap recalls with different blind spots, one rank-space merge —
    * and because RRF is pure integer-rank arithmetic it is fully
    * ORACLE-GATED, unlike score-space fusions that need normalization.
    *
    * Scale shape: each side is a distributed top-k
    * (TakeOrderedAndProject) BEFORE any ranking window, so the
    * row_number windows only ever see the k-bounded candidate sets —
    * never a global window over the corpus; the fuse join is
    * k-vs-k. At 100 TB the dense side swaps to the LSH/IVF path
    * (knn_ann/knn_ivf) unchanged downstream of the rank columns.
    */
  def knnHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bmTop = graft.api.GraftOps.bm25(Tables.documents(spark, sfDir),
        "doc_id", "text", Seq("data", "merge", "vector"))
      .filter(col("doc_id") =!= 0)
      .orderBy(col("bm25").desc, col("doc_id")).limit(100)
      .withColumn("r_lex", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("r_lex"))
    val emb = Tables.embeddings(spark, sfDir)
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
    val csTop = emb.crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        round(expr("cosine_sim(embedding, pv)"), 6).as("cos"))
      .filter(col("doc_id") =!= 0)
      .orderBy(col("cos").desc, col("doc_id")).limit(100)
      .withColumn("r_dense", row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("r_dense"))
    bmTop.join(csTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_dense"),
        (coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_dense")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
  }

  /** `pipeline_token_budget` — token-budget curation: fill 40 % of the
    * corpus's token mass with the HIGHEST-quality documents — quality
    * here the type-token ratio (vocabulary richness, the cheap
    * repetition-penalizing score), ranked descending with doc_id
    * tie-breaks on the ROUND-6 score (cross-engine-unique selection,
    * the text_keywords discipline). The "which docs make the training
    * mix under a budget" planner — analytics_pareto's
    * cumulative-prefix machinery pointed at corpus curation, with the
    * budget as exact integer token arithmetic (5·cum_before < 2·total
    * ⟺ cum_before < 40 %).
    *
    * Scale shape: one map-side score pass; the doc-cardinality
    * ranking + running sum ride GraftOps.sortedPrefixSums
    * (range-partitioned shards, per-shard bounded windows,
    * driver-scanned shard offsets — NEVER a global single-partition
    * window over the corpus); the total is a one-row broadcast.
    * Output is the admitted prefix with its running budget
    * consumption.
    */
  def pipelineTokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val tk = split(col("text"), " ")
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(tk).cast("long").as("n_tokens"),
        round(size(array_distinct(tk)).cast("double") /
          size(tk).cast("double"), 6).as("ttr"))
    // total token mass rides the prefix-sum grand totals (withTotals)
    // — a separate scored.agg() branch would re-scan the documents
    graft.api.GraftOps.sortedPrefixSums(scored,
        Seq(col("ttr").desc, col("doc_id")), Seq("n_tokens"),
        withTotals = true)
      .withColumnRenamed("cum_n_tokens", "cum_tokens")
      .withColumnRenamed("tot_n_tokens", "total_tokens")
      .filter((col("cum_tokens") - col("n_tokens")) * 5 <
        col("total_tokens") * 2)
      .select(col("doc_id"), col("rnk"), col("n_tokens"), col("ttr"),
        col("cum_tokens"),
        round(col("cum_tokens").cast("double") * 100.0 /
          col("total_tokens").cast("double"), 6).as("budget_pct"))
      .orderBy(col("rnk"))
  }

  /** `pipeline_epoch_shuffle` — deterministic per-epoch reshuffling:
    * for each training epoch, every document gets a shuffle rank from
    * the md5 of (epoch, doc_id) — a different, reproducible, seedable
    * permutation per epoch with ZERO coordination (any worker can
    * compute any row's position). This is how a data loader reshuffles
    * 100 TB between epochs without materializing a permutation: the
    * order IS the sort key. Two epochs are emitted so the gate pins
    * both completeness (each epoch is a full permutation) and
    * decorrelation (the orders differ).
    *
    * Scale shape: map-side hash + one rank window per epoch partition;
    * at scale the rank is realized by the shuffle-write sort itself
    * (sortWithinPartitions on the hash), not a global window.
    */
  def pipelineEpochShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("epoch"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array(lit(0L), lit(1L))).as("epoch"))
      .withColumn("shuffle_key",
        md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))))
      .withColumn("shuffle_rank", row_number().over(w).cast("long"))
      .select(col("epoch"), col("doc_id"), col("shuffle_rank"))
      .orderBy(col("epoch"), col("shuffle_rank"))
  }

  /** `sample_systematic` — systematic (every k-th) sampling over the
    * doc_id-ordered corpus: rank rows, keep rank ≡ 3 (mod 7) — the
    * audit-sampling scheme QA teams use when they want coverage spread
    * EVENLY across the corpus rather than hash-random
    * (sample_weighted / pipeline_split are the content-addressed
    * family; this is the positional one, and the right choice when
    * adjacent rows are correlated and you want one per neighbourhood).
    *
    * Scale shape: the rank IS zipWithIndex-style partition arithmetic
    * now — GraftOps.sortedPrefixSums (range shards + driver-scanned
    * offsets), never a global single-partition window; the modulus
    * filter is map-side.
    */
  def sampleSystematic(spark: SparkSession, sfDir: String): DataFrame = {
    graft.api.GraftOps.sortedPrefixSums(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("n_chars")),
        Seq(col("doc_id")), Seq.empty)
      .withColumnRenamed("rnk", "rn")
      .filter(pmod(col("rn"), lit(7)) === 3)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("rn"))
      .orderBy(col("rn"))
  }

  /** `pipeline_drift_report` — dataset drift card between two corpus
    * snapshots: the doc_id-parity halves stand in for "yesterday's
    * crawl" vs "today's", and the report gives per-language counts,
    * shares, share deltas, and the total-variation distance between
    * the two language mixtures — the distribution-shift gate a
    * training-data pipeline runs before accepting a new snapshot into
    * the mixture (a silent source flip shows up here first).
    *
    * Exactness: all counts exact integers (one map-combined
    * aggregate); shares and TVD = ½Σ|p_a − p_b| are doubles over the
    * language-domain-sized frame, ROUND-6. The TVD rides a
    * whole-frame window over ≤|languages| rows.
    */
  def pipelineDriftReport(spark: SparkSession, sfDir: String): DataFrame = {
    val half = when(pmod(col("doc_id"), lit(2)) === 0, "a").otherwise("b")
    val counts = Tables.documents(spark, sfDir)
      .select(col("lang"), half.as("half"))
      .groupBy(col("lang"))
      .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).as("n_b"))
    val tot = counts.agg(sum(col("n_a")).cast("double").as("ta"),
      sum(col("n_b")).cast("double").as("tb"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    counts.crossJoin(broadcast(tot))
      .withColumn("share_a", col("n_a") / col("ta"))
      .withColumn("share_b", col("n_b") / col("tb"))
      .select(col("lang"), col("n_a"), col("n_b"),
        round(col("share_a"), 6).as("share_a"),
        round(col("share_b"), 6).as("share_b"),
        round(col("share_a") - col("share_b"), 6).as("share_delta"),
        round(sum(abs(col("share_a") - col("share_b"))).over(wAll) / 2.0, 6)
          .as("tvd"))
      .orderBy(col("lang"))
  }

  /** `sample_balanced` — class-balanced corpus sampling: at most 100
    * documents per language, chosen by md5(doc_id) order — the
    * "rebalance the multilingual mixture to a per-class budget" pass
    * that stops a crawl's dominant language from swamping training.
    * Selection is content-addressed (the pipeline_split policy):
    * deterministic, coordination-free, stable under corpus growth for
    * already-selected ids' relative order — no RNG state anywhere.
    *
    * Scale shape: the literal cap turns the per-class ranking into a
    * `WindowGroupLimit` — each task keeps a bounded top-100 heap per
    * language BEFORE the exchange, so the shuffle carries
    * O(partitions × classes × cap) rows, not the corpus (pinned in
    * PipelineSpec). A data-dependent cap (e.g. min class size) would
    * forfeit that pushdown — compute the budget out-of-band and bind
    * it as a literal, which is how a real curation config works
    * anyway.
    */
  def sampleBalanced(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 100)
      .select(col("doc_id"), col("lang"),
        col("rn").cast("long").as("pick_rank"))
      .orderBy(col("lang"), col("pick_rank"))
  }

  /** `pipeline_curriculum` — curriculum phase assignment: documents
    * quartile into 4 training phases by length (the simplest
    * difficulty proxy — short/clean first, long-tail last) via
    * `ntile(4)` per language, with per-phase doc and character
    * budgets. The phase boundary table a curriculum-ordered training
    * run consumes; also the engine's NTILE window surface (the one
    * ranking function the battery didn't cover).
    *
    * Determinism: the ntile ORDER BY carries doc_id as an exact
    * tie-break, so equal lengths split between phases identically in
    * both engines (NTILE at a tie boundary is order-dependent —
    * without the tie-break this query would be engine-divergent BY
    * SPEC). Scale: one lang-keyed window over the doc table, then a
    * (lang, phase)-ary rollup; a language partition at web scale
    * swaps exact NTILE for approx-quantile boundary predicates (the
    * analytics_gains note) — same output contract, sort-free.
    */
  def pipelineCurriculum(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("phase", ntile(4).over(w).cast("long"))
      .groupBy(col("lang"), col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("phase"))
  }

  /** `embed_norm_audit` — embedding-vector hygiene per label class:
    * count, mean and sd of the L2 norm, and the number of 3σ norm
    * outliers. Degenerate vectors (zeros from a failed encoder call,
    * explosions from a bad batch) show up as norm outliers long
    * before they poison ANN recall or centroid drift — the first QA
    * pass any embedding pipeline runs on a fresh shard.
    *
    * Exactness: the norm is the argument-position HOF dot product
    * (identical element order to DuckDB's list_inner_product),
    * ROUNDED to 6 and then cast to DECIMAL(12,6) so the per-label
    * power sums are EXACT — mean, sd, and every 3σ boundary test are
    * identical-text arithmetic over exact sums, not order-dependent
    * double aggregation. Outlier counting needs the mean first, so
    * the stats broadcast back (the BM25 one-row pattern, per label).
    *
    * Scale: map-side norms, one (label)-combined aggregate, one
    * label-keyed broadcast join back. No shuffle of vectors.
    */
  def embedNormAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val normed = Tables.embeddings(spark, sfDir)
      .select(col("label").cast("long").as("label"),
        round(sqrt(graft.functions.VectorFns.innerProduct(
          col("embedding"), col("embedding"))), 6)
          .cast("decimal(12,6)").as("nm"))
      .barrier()
    val stats = normed.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("nm")).cast("double").as("s1"),
        sum((col("nm").cast("decimal(19,6)") * col("nm"))
          .cast("decimal(31,12)")).cast("double").as("s2"))
      .select(col("label"), col("n_vecs"),
        (col("s1") / col("n_vecs")).as("mu"),
        sqrt((col("s2") - col("s1") * col("s1") / col("n_vecs")) /
          (col("n_vecs") - 1)).as("sd"))
    normed.join(broadcast(stats), Seq("label"))
      .groupBy(col("label"))
      .agg(max(col("n_vecs")).as("n_vecs"),
        round(max(col("mu")), 6).as("mean_norm"),
        round(max(col("sd")), 6).as("sd_norm"),
        sum(when(abs(col("nm").cast("double") - col("mu")) >
          lit(3.0) * col("sd"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("label"))
  }

  /** `pipeline_mix_plan` — the downsampling plan that rebalances the
    * corpus to a TARGET language mixture (en 40%, others 15% each)
    * without upsampling: the feasible total is M = min_l(n_l/t_l)
    * (the scarcest language binds), each language keeps
    * ⌊M·t_l⌋ docs, and the plan emits current share, target share,
    * planned docs, and the keep rate. This is the arithmetic a
    * mixture config compiles into per-source sampling rates before
    * sample_balanced/pipeline_split execute them — planning surface,
    * not a sample (pipeline_mixture is the executed counterpart with
    * md5 sampling).
    *
    * Exactness: counts exact; M and the plan are identical-text
    * double arithmetic over exact counts (FLOOR of bit-identical
    * doubles agrees); windows ride the 5-row language frame.
    */
  def pipelineMixPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val target = when(col("lang") === "en", 0.40).otherwise(0.15)
    val counts = Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("t", target)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    counts
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("m", min(col("n") / col("t")).over(wAll))
      .select(col("lang"), col("n").as("n_docs"),
        round(col("n") / col("total"), 6).as("current_share"),
        col("t").as("target_share"),
        floor(col("m") * col("t")).cast("long").as("planned_docs"),
        round(floor(col("m") * col("t")) / col("n"), 6).as("keep_rate"))
      .orderBy(col("lang"))
  }

  /** DuckDB lacks conv(): the 8-hex md5 prefix parses to an integer by
    * per-digit strpos arithmetic, the idiom dedup_simhash_md5 uses.
    */
  private val md5Hex8ToInt: String = (1 to 8).map { i =>
    s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16, 8 - i).toLong}"
  }.mkString("(", " + ", ")")

  val registry: Seq[Query] = Seq(
    Query("pipeline_bpe_pairs", pipelineBpePairs _, Some(
      """WITH w AS (
        |  SELECT word, count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0
        |  GROUP BY word),
        |p AS (
        |  SELECT unnest([ {'l': word[i:i], 'r': word[i+1:i+1]}
        |           for i in range(1, length(word)) ]) AS pr, freq
        |  FROM w)
        |SELECT pr.l AS l, pr.r AS r,
        |  CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1, 2
        |ORDER BY pair_count DESC, l, r LIMIT 20""".stripMargin)),
    Query("pipeline_mix_plan", pipelineMixPlan _, Some(
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n,
        |    CAST(CASE WHEN lang = 'en' THEN 0.40 ELSE 0.15 END
        |      AS DOUBLE) AS t
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT lang, n, t,
        |    SUM(n) OVER () AS total,
        |    MIN(n / t) OVER () AS m
        |  FROM c)
        |SELECT lang, CAST(n AS BIGINT) AS n_docs,
        |  ROUND(CAST(n AS DOUBLE) / total, 6) AS current_share,
        |  t AS target_share,
        |  CAST(FLOOR(m * t) AS BIGINT) AS planned_docs,
        |  ROUND(FLOOR(m * t) / n, 6) AS keep_rate
        |FROM w ORDER BY lang""".stripMargin)),
    Query("embed_norm_audit", embedNormAudit _, Some(
      """WITH nm AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(ROUND(sqrt(list_inner_product(
        |      CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))), 6) AS DECIMAL(12,6)) AS nm
        |  FROM embeddings),
        |st AS (
        |  SELECT label, COUNT(*) AS n_vecs,
        |    CAST(SUM(nm) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(CAST(nm AS DECIMAL(19,6)) * nm
        |      AS DECIMAL(31,12))) AS DOUBLE) AS s2
        |  FROM nm GROUP BY 1),
        |mu AS (
        |  SELECT label, n_vecs, s1 / n_vecs AS mu,
        |    sqrt((s2 - s1 * s1 / n_vecs) / (n_vecs - 1)) AS sd
        |  FROM st)
        |SELECT nm.label AS label, CAST(MAX(mu.n_vecs) AS BIGINT) AS n_vecs,
        |  ROUND(MAX(mu.mu), 6) AS mean_norm,
        |  ROUND(MAX(mu.sd), 6) AS sd_norm,
        |  CAST(SUM(CASE WHEN abs(CAST(nm.nm AS DOUBLE) - mu.mu) >
        |    3.0 * mu.sd THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM nm JOIN mu ON nm.label = mu.label
        |GROUP BY nm.label ORDER BY nm.label""".stripMargin)),
    Query("pipeline_curriculum", pipelineCurriculum _, Some(
      """WITH p AS (
        |  SELECT lang, doc_id, n_chars,
        |    NTILE(4) OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS phase
        |  FROM documents)
        |SELECT lang, CAST(phase AS BIGINT) AS phase,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM p GROUP BY 1, 2 ORDER BY lang, phase""".stripMargin)),
    Query("sample_balanced", sampleBalanced _, Some(
      """SELECT doc_id, lang, CAST(rn AS BIGINT) AS pick_rank FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 100 ORDER BY lang, pick_rank""".stripMargin)),
    Query("pipeline_drift_report", pipelineDriftReport _, Some(
      """WITH counts AS (
        |  SELECT lang,
        |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS n_b
        |  FROM documents GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_a) AS DOUBLE) AS ta,
        |    CAST(SUM(n_b) AS DOUBLE) AS tb
        |  FROM counts),
        |sh AS (
        |  SELECT lang, n_a, n_b, n_a / ta AS share_a, n_b / tb AS share_b
        |  FROM counts, tot)
        |SELECT lang, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  ROUND(share_a, 6) AS share_a, ROUND(share_b, 6) AS share_b,
        |  ROUND(share_a - share_b, 6) AS share_delta,
        |  ROUND(SUM(abs(share_a - share_b)) OVER () / 2.0, 6) AS tvd
        |FROM sh ORDER BY lang""".stripMargin)),
    Query("sample_systematic", sampleSystematic _, Some(
      """SELECT doc_id, lang, n_chars, rn FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn % 7 = 3 ORDER BY rn""".stripMargin)),
    Query("pipeline_epoch_shuffle", pipelineEpochShuffle _, Some(
      """WITH x AS (
        |  SELECT doc_id, epoch,
        |    md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
        |      AS shuffle_key
        |  FROM documents, (SELECT unnest([0, 1]) AS epoch))
        |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch
        |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS shuffle_rank
        |FROM x ORDER BY epoch, shuffle_rank""".stripMargin)),
    Query("pipeline_token_budget", pipelineTokenBudget _, Some(
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS ttr
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, n_tokens, ttr,
        |    CAST(ROW_NUMBER() OVER o AS BIGINT) AS rnk,
        |    CAST(SUM(n_tokens) OVER (o
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens,
        |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens
        |  FROM s WINDOW o AS (ORDER BY ttr DESC, doc_id))
        |SELECT doc_id, rnk, n_tokens, ttr, cum_tokens,
        |  ROUND(CAST(cum_tokens AS DOUBLE) * 100.0 /
        |    CAST(total_tokens AS DOUBLE), 6) AS budget_pct
        |FROM w
        |WHERE (cum_tokens - n_tokens) * 5 < total_tokens * 2
        |ORDER BY rnk""".stripMargin)),
    Query("knn_hybrid", knnHybrid _, Some({
      val terms = Seq("data", "merge", "vector")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS DOUBLE) AS tf$i"
      }.mkString(",\n    ")
      val dfCols = terms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
        .mkString(",\n    ")
      val score = terms.indices.map(i =>
        s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * (tf$i * (1.2 + 1.0)) / " +
          s"(tf$i + 1.2 * (1.0 - 0.75 + 0.75 * l / (sumlen / n)))")
        .mkString(" + ")
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS l,
         |    $tfCols
         |  FROM documents),
         |st AS (
         |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(l) AS sumlen,
         |    $dfCols
         |  FROM base),
         |bm AS (
         |  SELECT doc_id, ROUND($score, 6) AS bm25
         |  FROM base CROSS JOIN st WHERE doc_id <> 0
         |  ORDER BY bm25 DESC, doc_id LIMIT 100),
         |bmr AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex FROM bm),
         |cs AS (
         |  SELECT vec_id AS doc_id,
         |    ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
         |       WHERE vec_id = 0)), 6) AS cos
         |  FROM embeddings WHERE vec_id <> 0
         |  ORDER BY cos DESC, doc_id LIMIT 100),
         |csr AS (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r_dense FROM cs)
         |SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
         |  CAST(b.r_lex AS BIGINT) AS r_lex,
         |  CAST(c.r_dense AS BIGINT) AS r_dense,
         |  COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.r_lex), CAST(0 AS DOUBLE))
         |    + COALESCE(CAST(1.0 AS DOUBLE) / (60 + c.r_dense), CAST(0 AS DOUBLE)) AS rrf
         |FROM bmr b FULL OUTER JOIN csr c ON b.doc_id = c.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
    })),
    Query("agg_centroid", aggCentroid _, Some(
      """WITH e AS (
        |  SELECT label, i AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i))
        |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
        |  ROUND(avg(v), 6) AS centroid, count(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("sample_weighted", sampleWeighted _, Some(
      s"""WITH pr AS (
         |  SELECT lang, doc_id, n_chars, $md5Hex8ToInt AS u,
         |    CAST($md5Hex8ToInt AS DOUBLE) / n_chars AS priority
         |  FROM documents),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER
         |    (PARTITION BY lang ORDER BY priority, doc_id) AS rn
         |  FROM pr)
         |SELECT lang, doc_id, n_chars, CAST(u AS BIGINT) AS u
         |FROM r WHERE rn <= 5 ORDER BY lang, doc_id""".stripMargin)),
    Query("pack_sequences", packSequences _, Some(
      """WITH t AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT lang, n_tokens,
        |    CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 1.0 / 4096) AS BIGINT) AS bin
        |  FROM t)
        |SELECT lang, bin, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM b
        |GROUP BY lang, bin
        |ORDER BY lang, bin""".stripMargin)),
    Query("pipeline_split", pipelineSplit _, Some(
      """SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |FROM (
        |  SELECT lang, n_chars,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents) t
        |GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin)),
    Query("pipeline_quality_cut", pipelineQualityCut _, Some(
      """SELECT lang, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars
        |FROM (
        |  SELECT lang, n_chars,
        |    PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars DESC) AS pr
        |  FROM documents) t
        |WHERE pr <= 0.25
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),
    Query("pipeline_mixture", pipelineMixture _, Some(
      """WITH n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT MIN(CAST(n AS DOUBLE) / CAST(0.2 AS DOUBLE)) AS t FROM n),
        |r AS (SELECT lang,
        |        CAST(0.2 AS DOUBLE) * t.t / CAST(n AS DOUBLE) AS rate
        |      FROM n, t)
        |SELECT d.lang, COUNT(*) AS n_docs
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE rate >= 1.0 - 1.0e-9
        |   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |      printf('%04x', CAST(FLOOR(rate * 65536.0) AS BIGINT))
        |GROUP BY d.lang
        |ORDER BY d.lang""".stripMargin)),
    Query("sample_stratified", sampleStratified _, Some(
      """SELECT lang, COUNT(*) AS n_docs
        |FROM documents
        |WHERE CASE lang
        |  WHEN 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |  WHEN 'es' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
        |  WHEN 'zh' THEN FALSE
        |  ELSE TRUE END
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),
    Query("pipeline_e2e", pipelineE2e _, Some(
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE len(string_split(text, ' ')) >= 50),
        |d AS (
        |  SELECT doc_id, lang, n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM q),
        |s AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM d WHERE rn = 1),
        |b AS (
        |  SELECT split, lang, n_tokens,
        |    CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY split, lang
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) * 1.0 / 4096) AS BIGINT) AS bin
        |  FROM s)
        |SELECT split, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(MAX(bin) + 1 AS BIGINT) AS n_bins
        |FROM b GROUP BY split, lang ORDER BY split, lang""".stripMargin)),
    Query("pipeline_curate", pipelineCurate _, Some(
      """WITH q AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE len(string_split(text, ' ')) >= 50
        |), d AS (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM q
        |)
        |SELECT lang, COUNT(*) AS n_docs
        |FROM d
        |WHERE rn = 1 AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),
    Query("dedup_exact", dedupExact _, Some(
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(text)) AS n_uniq,
        |  COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dups
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),
    Query("udtf_explode", udtfExplode _, Some(
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token
        |ORDER BY n DESC, token LIMIT 20""".stripMargin)),
    Query("text_stats", textStats _, Some(
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        |  MAX(n_chars) AS max_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),
    Query("multimodal_join", multimodalJoin _, Some(
      """SELECT lang, label, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents
        |JOIN embeddings ON doc_id = vec_id
        |GROUP BY lang, label
        |ORDER BY lang, label""".stripMargin)),
    Query("pipeline_dataset_card", pipelineDatasetCard _, Some(
      """SELECT metric, value FROM (
        |  SELECT 'n_docs' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM documents
        |  UNION ALL
        |  SELECT 'total_tokens', CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) FROM documents
        |  UNION ALL
        |  SELECT 'total_chars', CAST(SUM(n_chars) AS DOUBLE) FROM documents
        |  UNION ALL
        |  SELECT 'n_langs', CAST(COUNT(DISTINCT lang) AS DOUBLE) FROM documents
        |  UNION ALL
        |  SELECT 'n_sources', CAST(COUNT(DISTINCT source) AS DOUBLE) FROM documents
        |  UNION ALL
        |  SELECT 'n_distinct_texts', CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) FROM documents) t
        |ORDER BY metric""".stripMargin)),
    Query("embed_rproject", embedRproject _, Some({
      // Scalar columns p0..p15, one per projected dim — array outputs
      // crash the driver's pandas sort (r8 lesson).
      val dims = (0 until 16).map(j => s"proj[${j + 1}] AS p$j")
        .mkString(",\n        |  ")
      s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |p AS (
        |  SELECT vec_id,
        |    [ROUND(list_sum(
        |       [emb[i + 1] * (CASE WHEN (i * 37 + j * 101 + i * j * 13) % 4 < 2
        |                      THEN 1.0 ELSE -1.0 END)
        |        FOR i IN range(0, 64)]), 6)
        |     FOR j IN range(0, 16)] AS proj
        |  FROM e)
        |SELECT vec_id,
        |  $dims
        |FROM p ORDER BY vec_id""".stripMargin
    })),
    Query("udf_cosine_topk", udfCosineTopk _, Some(
      """WITH probe AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), pv), 6) AS sim
        |FROM embeddings, probe
        |WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)),
    Query("udaf_weighted", udafWeighted _, Some(
      """SELECT l_returnflag,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS w_mean_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    Query("pipeline_bpe_train", pipelineBpeTrain _),
    Query("pipeline_bpe_encode", pipelineBpeEncode _)
  )
}
