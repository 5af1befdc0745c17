package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build each piece of per-corpus derived state ONCE per (JVM, source
  * content), through one fingerprint-keyed, registered and timed cache:
  *
  *  - [[model]] keeps an in-memory value — a trained model (k-means
  *    centers, PQ codebooks, the PCA eigenbasis), a catalog statistic
  *    (row count, per-cell counts, the LSH probe ladder, the
  *    equi-depth histogram's rows) or the probe vector;
  *  - [[once]] is [[model]] plus a parquet write and the resolved
  *    re-read — signature tables, similarity edge sets, basket tables,
  *    PQ codes: the per-snapshot artifacts a production pipeline WRITES
  *    in a batch job and every downstream query joins from, instead of
  *    re-running the derivation lineage per query per run.
  *
  * POLICY (what qualifies — r12): state a production pipeline keeps
  * once per corpus snapshot — an index (minhash/winnow fingerprints,
  * LSH buckets, PQ codes), a trained model (BPE merges, LM counts, PMI
  * collocations, quantizer centers and codebooks, the PCA basis), a
  * per-entity score/label snapshot (quality scores, keyword tags,
  * authority ranks, RFM ranking snapshots), an edge set or its
  * components, or a catalog statistic (equi-depth histogram, row and
  * cell counts). A catalog statistic is a bounded summary, so it is a
  * [[model]]: the driver holds it and nothing is written
  * (`weighted_median_stats` still goes through [[once]]). NEVER an
  * ad-hoc per-query intermediate: queries must still do their own
  * relational work over the artifacts, and every artifact-backed
  * declared query stays oracle-gated end-to-end (the gate validates
  * artifact build + read).
  *
  * Key = kind + content fingerprint of every SOURCE table (file listing
  * + sizes + mtimes): a corpus rewrite within one JVM yields a new key
  * (stale state can't be served). Every build lands in [[buildTimes]].
  * Written artifacts live under a per-process `graft_artifacts_*` temp
  * root, so other processes can't collide on or poison a predictable
  * shared /tmp location (the root embeds a random suffix, is owned by
  * this process and is removed at JVM exit).
  */
object Materialize {

  /** Every artifact kind the engine may build — the r13 budget
    * tripwire's registry (r12 verdict: the ladder grew ~20 artifacts in
    * one round with nothing gating the trend). Adding an artifact now
    * means adding its kind HERE — a deliberate, reviewable diff;
    * [[model]] and [[once]] throw on an unregistered kind and
    * ArtifactBudgetSpec pins the registry size the way InventorySpec
    * pins the query count. Kind names embed their load-bearing build
    * tunables (ADVICE r12: a kind keyed only on the source fingerprint would
    * silently serve a differently-tuned artifact to a future call
    * site with a different threshold — e.g. `minhash_pairs_d010` is
    * the maxDist=0.10 edge set).
    */
  val Kinds: Set[String] = Set(
    // NearDedup — signature tables, edge sets, graph artifacts
    "minhash_sig", "minhash_pairs_d010", "md5_sig", "md5_pairs_d050b3",
    "banded_edges", "cc_components", "rare_shingle_edges",
    "pagerank_ranks", "reach_sym_edges", "reach_closure",
    // Text — fingerprint indexes, trained model tables, label snapshots
    "winnow_fp", "winnow_fp_md5", "keyword_tags", "bigram_lm_scores",
    "pmi_collocations",
    // Analytics — per-entity ranking/score snapshots, basket tables
    "rfm_ranked3", "rfm_migration_ranked", "pareto_rev_ranked",
    "gains_user_ranked", "brand_baskets", "brand_pair_counts",
    // Aggregates — catalog statistics
    "equidepth_stats", "weighted_median_stats",
    // Pipeline — trained tokenizer table
    "bpe_merges_8",
    // Ann/Ivf/Pq/Pca — the similarity-search family's shared state
    "embeddings_count", "probe_vec0", "lsh_probe_ladder",
    "ivf_centers", "ivf_cell_counts", "pca_full_rank",
    "pq_codebook_k32", "ivfpq_codebook_k32", "pq_codes_k32",
    "ivfpq_codes_k32",
    // Joins — co-located join tables
    "bucketed_join_b16")

  /** Test-only escape hatch: kinds prefixed `spec_` bypass the
    * registry so MaterializeSpec can exercise cache semantics with
    * throwaway builds without polluting the production registry.
    */
  private val TestKindPrefix = "spec_"

  private[graft] lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_artifacts_")
    // deleteOnExit silently skips non-empty directories — a recursive
    // shutdown hook actually bounds /tmp growth across sessions
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p
  }

  /** A fresh directory path under this process's artifact root, named
    * after `prefix`: a rebuild never overwrites files an earlier plan
    * still reads, and the files go when the JVM exits.
    */
  def freshDir(prefix: String): String =
    root.resolve(s"${prefix}_${java.util.UUID.randomUUID()}").toString

  /** Per-key build monitors (ADVICE r12: a single global lock
    * serialized DISTINCT builds — the whole ladder routes through
    * here, and one slow build would block every consumer in the JVM).
    * Distinct keys build concurrently; two threads racing on the SAME
    * key still build exactly once.
    */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Built values by key: the models themselves, and for [[once]] the
    * path its table was written to.
    */
  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, Any]()

  /** Wall-seconds of each build THIS JVM actually ran, keyed by kind —
    * the budget tripwire's measurement half: Bench dumps it to
    * target/artifact_builds.json so a round can see exactly where
    * first_run_total goes and diff it against the previous round.
    */
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def buildTimes: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecs.asScala.toMap
  }

  /** Resolved-plan cache for artifact re-reads, mirroring
    * Tables.catalog: `spark.read.parquet` lists the artifact dir and
    * reads footers on EVERY call, and artifact consumers (minhash
    * edges, components, BPE merges, baskets…) re-read per query per
    * run. Every build writes a new path, so (session, path) alone is a
    * staleness-safe key — a corpus rewrite rebuilds onto a new path and
    * misses this cache.
    */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  /** In-memory read-through cache for a value derived from the given
    * source tables under `sfDir`: `fit` runs once per (kind, source
    * content), under that key's lock, timed into [[buildTimes]]. EVERY
    * table the fit reads must be listed — the key is the combined
    * content fingerprint, and omitting one source would serve stale
    * state after that table alone regenerates.
    */
  def model[V](sfDir: String, tables: Seq[String], kind: String)(fit: => V): V = {
    require(Kinds.contains(kind) || kind.startsWith(TestKindPrefix),
      s"unregistered artifact kind '$kind' — add it to Materialize.Kinds " +
        "(the artifact-budget tripwire; see ArtifactBudgetSpec)")
    val key = (kind +: tables.map(DataFingerprint.ofTable(sfDir, _))).mkString("_")
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      if (!built.containsKey(key)) {
        val t0 = System.nanoTime()
        built.put(key, fit)
        buildSecs.merge(kind, (System.nanoTime() - t0) / 1e9,
          (a, b) => a + b)
      }
      built.get(key).asInstanceOf[V]
    }
  }

  /** [[model]] for a table: builds + writes `kind` on first use, then
    * serves the parquet re-read. `partitionBy` lays the artifact out by
    * those columns (a consumer that prunes partitions at file-listing
    * time); otherwise it is written as 4 files.
    */
  def once(spark: SparkSession, sfDir: String, tables: Seq[String],
      kind: String, partitionBy: Seq[String] = Nil)(build: => DataFrame): DataFrame = {
    val path = model(sfDir, tables, kind) {
      val p = freshDir(kind)
      // repartition(4), not coalesce(4) (ADVICE r12): coalesce merges
      // the build's FINAL stage into 4 tasks, computing the heavy
      // projections at 4-way parallelism on a 32-core box; the
      // repartition keeps the upstream stage at natural parallelism
      // and shuffles only the (small, per-corpus) artifact rows into
      // 4 output files.
      if (partitionBy.isEmpty) build.repartition(4).write.mode("overwrite").parquet(p)
      else build.write.partitionBy(partitionBy: _*).mode("overwrite").parquet(p)
      p
    }
    // Evict entries of stopped sessions on insert (mirrors
    // Tables.table): a cached DataFrame strongly references its
    // SparkSession, so without this a many-session run (test suites)
    // would pin every stopped session in memory and defeat the
    // sessionIds WeakHashMap reclamation.
    resolved.entrySet().removeIf(
      _.getValue.sparkSession.sparkContext.isStopped)
    resolved.computeIfAbsent((Tables.sessionId(spark), path),
      _ => spark.read.parquet(path))
  }
}
