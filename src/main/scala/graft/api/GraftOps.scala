package graft.api

import graft.api.Barrier._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftExtensions
import graft.expressions.LshBucket

/** The library-facing API: every LLM-pipeline operator as a
  * DataFrame→DataFrame (or Column) function over ARBITRARY input — the
  * corpus-bound entries in `graft.operators` are thin bindings of these
  * to the test corpus. A user switching from the reference engine calls
  * these on their own tables.
  *
  * All functions are pure plan constructors (no actions, no writes
  * unless documented); custom scalars are native codegen expressions,
  * so every operator here composes inside whole-stage codegen.
  */
object GraftOps {

  // ---- text shaping ----------------------------------------------------

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct k-gram shingles over a token array (the near-dedup unit:
    * shingling cubes the effective vocabulary so LSH buckets only
    * collide for genuinely similar documents).
    *
    * Built as a zip-with-shifted chain, NOT as
    * `transform(sequence, i => concat_ws(slice(tokens, i, k)))`: HOFs
    * are interpreted, and an expression referenced inside a lambda
    * re-evaluates per ELEMENT — when callers pass `split(text)`
    * directly, the slice form re-splits the document once per shingle
    * position (O(n²) total; the same pathology measured at 66 s vs
    * 0.5 s in winnowFingerprints). In the chain every tokens
    * reference is in ARGUMENT position — k O(n) passes per row. The
    * null-padded tail zip_with produces is folded with
    * concat_ws-compatible semantics (skip missing), so short
    * documents (n < k) still emit their single whole-text shingle.
    * NULL ELEMENTS inside the array are dropped before shingling
    * (they would otherwise be indistinguishable from the tail padding
    * and null-poison their windows); `tokens()`-produced arrays never
    * contain them, so corpus semantics are unchanged.
    */
  def shingles(tokens: Column, k: Int = 3): Column =
    array_distinct(expr_transform(tokens, k))

  private def expr_transform(tokens: Column, k: Int): Column = {
    val t = filter(tokens, x => x.isNotNull)
    val n = size(t)
    var grams = t
    for (off <- 1 until k)
      grams = zip_with(grams, slice(t, lit(off + 1), n),
        (a, b) => when(b.isNull, a).otherwise(concat(a, lit(" "), b)))
    slice(grams, lit(1), greatest(n - lit(k - 1), lit(1)))
  }

  // ---- dedup family ----------------------------------------------------

  /** Exact-duplicate statistics per group: input any DataFrame, returns
    * (groupCols..., n_rows, n_uniq, n_dups) with duplicates defined by
    * md5 of `textCol`. Hash-groupBy on the digest: uniform shuffle keys
    * regardless of content skew.
    */
  def dedupExactStats(df: DataFrame, textCol: String,
      groupCols: Seq[String]): DataFrame =
    df.select(groupCols.map(col) :+ md5(col(textCol)).as("__h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("__h")).as("n_uniq"),
        (count(lit(1)) - countDistinct(col("__h"))).as("n_dups"))

  /** Keep one row per distinct `textCol` content (first by `keyCol`
    * order): the materializing form of exact dedup.
    */
  def dedupExactKeep(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol))).orderBy(col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** 64-bit SimHash signature of a token-array column (native codegen
    * expression — xxhash64 bit-vote, no UDF, no explode). Column-level
    * helpers resolve through the function registry: sessions built with
    * GraftExtensions have them; otherwise call `GraftExtensions.ensure`
    * (the DataFrame-level ops here do this automatically).
    */
  def simhash(tokens: Column): Column = call_function("simhash64", tokens)

  // ---- similarity family ----------------------------------------------

  /** Cosine similarity of two array<float> columns (codegen expression;
    * null on length mismatch / null elements).
    */
  def cosine(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** LSH bucket id of an embedding column; `nbits` from `bucketBitsFor`. */
  def lshBucket(vec: Column, nbits: Int): Column =
    call_function("lsh_bucket", vec, lit(nbits))

  /** The bucket-count sizing rule: ~log2(n/1024), floor 6, cap 24. */
  def bucketBitsFor(n: Long): Int = LshBucket.bitsFor(n)

  /** Exact top-k cosine neighbours of one probe row, over any
    * embeddings DataFrame: broadcast 1-row probe, map-side cosine,
    * TakeOrderedAndProject — no shuffle of the vector table.
    */
  def cosineTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      probeId: Long, k: Int): DataFrame = {
    GraftExtensions.ensure(embeddings.sparkSession)
    val probe = embeddings.filter(col(idCol) === probeId)
      .select(col(vecCol).as("__pv"))
    embeddings.filter(col(idCol) =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col(idCol), round(cosine(col(vecCol), col("__pv")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Radius (range) search: ALL neighbours of one probe row whose
    * ROUND-6 cosine similarity reaches `tau` — the fixed-threshold
    * twin of `cosineTopK` (near-duplicate candidate pull, semantic
    * recall sweeps). Thresholding on the ROUNDED similarity makes
    * boundary membership engine-exact under the same round-6 contract
    * the top-k surfaces gate on. Same scale shape: broadcast 1-row
    * probe, map-side cosine, filter — no shuffle of the vector table
    * (the result ordering is a presentation sort over the radius hits).
    */
  def cosineRange(embeddings: DataFrame, idCol: String, vecCol: String,
      probeId: Long, tau: Double): DataFrame = {
    GraftExtensions.ensure(embeddings.sparkSession)
    val probe = embeddings.filter(col(idCol) === probeId)
      .select(col(vecCol).as("__pv"))
    embeddings.filter(col(idCol) =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col(idCol), round(cosine(col(vecCol), col("__pv")), 6).as("sim"))
      .filter(col("sim") >= tau)
      .orderBy(col("sim").desc, col(idCol))
  }

  /** LSH-bucketed approximate top-k: rank only the probe's bucket.
    * `nbits` defaults to the sizing rule over a caller-supplied count
    * (a catalog statistic at scale).
    */
  def annTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      probeId: Long, k: Int, n: Long): DataFrame = {
    GraftExtensions.ensure(embeddings.sparkSession)
    val bits = bucketBitsFor(n)
    val e = embeddings.withColumn("__bucket", lshBucket(col(vecCol), bits))
    val probe = e.filter(col(idCol) === probeId)
      .select(col("__bucket").as("__pb"), col(vecCol).as("__pv"))
    e.join(broadcast(probe), col("__bucket") === col("__pb"))
      .filter(col(idCol) =!= probeId)
      .select(col(idCol), round(cosine(col(vecCol), col("__pv")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Exact batch k-NN JOIN: top-k cosine neighbours in `corpus` for
    * EVERY probe row — the batch generalization of `cosineTopK`
    * (retrieval evaluation, cross-dataset near-dup, hard-negative
    * mining all run this shape, not single probes). The probe set
    * broadcasts (it is the small side by construction — a batch of
    * queries, not a second corpus); each corpus partition scores all
    * probes map-side, and the per-probe top-k runs as a rank-limit
    * window on `__pid` — Spark's WindowGroupLimit prunes to k rows per
    * probe per partition BEFORE the shuffle, so the exchange moves
    * O(partitions × probes × k), never the scored cross product. The
    * nested-loop broadcast join is the intent: exact brute force IS
    * n×p scoring; the scale path is `knnJoinLsh`.
    *
    * Output: (probe_id, idCol, sim), top-k rows per probe. Cosine is
    * rounded to 6 (the cross-engine contract used everywhere else).
    */
  def knnJoin(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    GraftExtensions.ensure(corpus.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col(idCol))
    corpus.crossJoin(broadcast(p))
      .select(col("probe_id"), col(idCol),
        round(cosine(col(vecCol), col("__pv")), 6).as("sim"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** LSH-bucketed batch k-NN join — the scale path for `knnJoin`: both
    * sides take the same `lsh_bucket` signature and the scoring join
    * becomes an EQUI-join on the bucket, so each probe scores only
    * ~n/2^nbits corpus rows instead of all of them. With the corpus
    * written bucket-partitioned (Ann.writeBucketed) the join prunes at
    * file-listing time. Same output contract as `knnJoin`; recall is
    * tuned by nbits (and multi-probe on the probe side if needed) —
    * per-probe results are always a subset of the probe's bucket.
    */
  def knnJoinLsh(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, n: Long): DataFrame = {
    GraftExtensions.ensure(corpus.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val bits = bucketBitsFor(n)
    val c = corpus.withColumn("__bucket", lshBucket(col(vecCol), bits))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .withColumn("__pb", lshBucket(col("__pv"), bits))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col(idCol))
    c.join(broadcast(p), col("__bucket") === col("__pb"))
      .select(col("probe_id"), col(idCol),
        round(cosine(col(vecCol), col("__pv")), 6).as("sim"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** The minhash permutation modulus: 2³¹ − 1 (Mersenne prime). Shingle
    * features live in [0, p); permutation products stay < 2⁶² — exact
    * in 64-bit integer arithmetic, no float anywhere in the family.
    */
  val MinhashPrime: Long = 2147483647L

  /** Per-table permutation coefficients (a, b) with a ∈ [1, p), b ∈
    * [0, p), drawn from a fixed-seed PRNG — the same seeded-coefficient
    * design as a classic MinHash implementation, but PUBLISHED: the
    * whole hash family (xxhash64 → mod p → min over (a·h + b) mod p) is
    * stated arithmetic a consumer can re-derive, not an engine-internal
    * layout. NearDedupSpec re-derives signatures from these through an
    * independent explode/groupBy plan and pins row-identity.
    */
  def minhashCoefficients(numTables: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42L)
    Seq.fill(numTables)(
      (1L + rnd.nextInt((MinhashPrime - 1).toInt),
        rnd.nextInt(MinhashPrime.toInt).toLong))
  }

  /** MinHash signature table over any (id, text) DataFrame: one row per
    * document with `idx` (distinct hashed 3-gram shingle features,
    * array<long> in [0, 2³¹−1)) and `h` (one minhash value per band,
    * array<long>) — plain parquet-native types by design.
    *
    * NATIVE-EXPRESSION STAGE (r15): shingle → xxhash64 (codegen) →
    * mod-Mersenne feature, then per-table array_min over the exact
    * (a·h + b) mod p permutation — the same integer algebra the
    * oracle-gated md5 twin (NearDedup.dedupMinhashMd5) value-checks
    * end-to-end, over a 64-bit hash. This replaced the r2–r14 MLlib
    * HashingTF(2¹⁸) + MinHashLSH stage: VectorUDT columns plus
    * per-row UDFs showed last-decade exp ~1.3 on the 1000× ladder
    * (71 → 1402 s, 100×→1000×, single-JVM heap pressure) while the
    * identical banded algebra over plain arrays read 0.58. Array
    * expressions also hash shingles into 2³¹ space instead of 2¹⁸ —
    * strictly fewer feature collisions, so the verify Jaccard sits
    * closer to the true shingle Jaccard.
    *
    * AT SCALE, WRITE THIS ONCE per corpus snapshot and run
    * `minhashPairsFromSignatures` against the re-read: an unpersisted
    * signature plan is re-evaluated on BOTH sides of every band join
    * (2·numTables scans of the raw text — measured 16.7 s vs 1 s at
    * sf0.1 in this repo's bench history).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numTables: Int = 3): DataFrame = {
    val p = MinhashPrime
    val coeffs = minhashCoefficients(numTables)
    // idx behind a barrier-free two-step select: the permutations only
    // reference the computed `idx` column (argument position in their
    // HOFs), and CollapseProject keeps a multi-referenced non-trivial
    // alias as its own projection, so the shingle hash runs once per row
    df.select(col(idCol), shingles(tokens(col(textCol))).as("__sh"))
      .select(col(idCol),
        array_distinct(transform(col("__sh"), s => pmod(xxhash64(s), lit(p))))
          .as("idx"))
      .select(col(idCol), col("idx"),
        array(coeffs.map { case (a, b) =>
          array_min(transform(col("idx"), x => (lit(a) * x + lit(b)) % lit(p)))
        }: _*).as("h"))
  }

  /** Near-duplicate pairs from a signature table (minhashSignatures
    * output, ideally re-read from parquet): candidate iff SOME band
    * collides (numTables equi-joins — AQE skew-join handles hot band
    * values), verified with exact Jaccard over the hashed shingle index
    * sets. Semantics pinned in NearDedupSpec by (a) a driver-side
    * closed form on a constructed corpus and (b) an independent
    * explode/groupBy-min signature plan reproducing these pairs —
    * the r15 xxhash64 hash family is intentionally NOT pair-identical
    * to the deleted MLlib path.
    */
  def minhashPairsFromSignatures(sig: DataFrame, idCol: String,
      maxDist: Double = 0.1, numTables: Int = 3): DataFrame = {
    val bands = (0 until numTables).map { j =>
      val a = sig.select(col(idCol).as("id_a"), col("idx").as("__idx_a"),
        col("h").getItem(j).as("__hb"))
      val b = sig.select(col(idCol).as("id_b"), col("idx").as("__idx_b"),
        col("h").getItem(j).as("__hb"))
      a.join(b, "__hb").filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("__idx_a"), col("__idx_b"))
    }
    // Jaccard + threshold BEFORE the cross-band dedup (r14, the r13
    // artifact-ledger trim): the verify arrays are already co-located
    // on the band-join output, so dist is map-side there, and the
    // dropDuplicates shuffle then moves only the slim verified rows
    // (id_a, id_b, est_dist — ~24 bytes) instead of every candidate
    // with two shingle-index arrays (~KBs/row). A pair colliding in
    // multiple bands re-verifies once per band (≤ numTables×, identical
    // value each time — same sig rows), which is cheap codegen'd
    // array work; the shuffle it removes was the 100×-ladder's largest
    // single artifact-build cost. Row-identical output: dedup keys and
    // values are unchanged, est_dist is a pure function of the pair.
    bands.reduce(_ unionAll _)
      .withColumn("dist", lit(1.0) -
        size(array_intersect(col("__idx_a"), col("__idx_b"))).cast("double") /
          size(array_union(col("__idx_a"), col("__idx_b"))).cast("double"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), round(col("dist"), 6).as("est_dist"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Convenience one-shot for small inputs: signatures + band join in
    * one plan (re-evaluates the signature lineage per band side — use
    * the two-step form with a parquet write at scale).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Double = 0.1, numTables: Int = 3): DataFrame =
    minhashPairsFromSignatures(
      minhashSignatures(df, idCol, textCol, numTables), idCol, maxDist, numTables)

  /** Exact k-gram Jaccard similarity between paired texts. */
  def ngramJaccard(a: Column, b: Column, k: Int = 3): Column = {
    val ga = shingles(tokens(a), k)
    val gb = shingles(tokens(b), k)
    size(array_intersect(ga, gb)).cast("double") /
      size(array_union(ga, gb)).cast("double")
  }

  // ---- membership sketch (incremental-dedup prefilter) -----------------

  /** Serialized bloom filter of xxhash64(`key`) over `df` — the
    * broadcastable membership sketch for prefiltering a new batch
    * against a large history (see `bloomMightContain` and
    * `NearDedup.dedupBloom`). `items`/`bits` size the filter: fpp ≈
    * 0.62^(bits/items), so 8 bits/item ≈ 2%, 10 ≈ 1%. Built by Spark's
    * own `BloomFilterAggregate` in ONE 2-phase pass (constant-size
    * partial per task); the returned bytes are ~bits/8 — for a 1e11-doc
    * history at 8 bits/doc that is ~100 GB, so at extreme scale shard
    * the history (e.g. by hash prefix) and build one filter per shard.
    * This IS an action (the sketch must materialize to be broadcast).
    */
  def bloomBuild(df: DataFrame, key: Column, items: Long,
      bits: Long): Array[Byte] = {
    GraftExtensions.ensure(df.sparkSession)
    df.select(call_function("bloom_filter_agg",
        xxhash64(key), lit(items), lit(bits)).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  /** Codegen membership test of xxhash64(`key`) against a `bloomBuild`
    * filter (Spark's `BloomFilterMightContain`): NEVER false-negative,
    * false-positive rate set by the build sizing — so
    * `batch.filter(bloomMightContain(spark, bf, key))` before an exact
    * verify join drops ~(1-fpp) of the non-duplicate rows map-side
    * without risking a missed duplicate. The filter bytes ship to
    * executors as a literal inside the broadcast plan fragment.
    */
  def bloomMightContain(spark: org.apache.spark.sql.SparkSession,
      bf: Array[Byte], key: Column): Column = {
    GraftExtensions.ensure(spark)
    call_function("might_contain", lit(bf), xxhash64(key))
  }

  /** Serialized Count-Min sketch of a long `key` over `df` — the
    * frequency companion to `bloomBuild`'s membership sketch: point
    * frequency estimates for AD-HOC keys without a full-table group-by
    * shuffle or a stored per-key table. One 2-phase pass via Spark's
    * `count_min_sketch` aggregate; the sketch is O(1/eps · ln(1/(1-conf)))
    * bytes regardless of corpus size (eps 0.001/conf 0.99 → ~2 MB),
    * so it broadcasts trivially. Deterministic under a fixed seed.
    */
  def cmsBuild(df: DataFrame, key: Column, eps: Double = 0.001,
      confidence: Double = 0.99, seed: Int = 42): org.apache.spark.util.sketch.CountMinSketch = {
    val bytes = df
      .select(call_function("count_min_sketch",
        key, lit(eps), lit(confidence), lit(seed)).as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  /** Point estimates from a `cmsBuild` sketch as a DataFrame — CMS
    * guarantee: exact ≤ estimate, and estimate ≤ exact + eps·N with
    * probability ≥ confidence (N = total rows aggregated).
    */
  def cmsEstimates(spark: org.apache.spark.sql.SparkSession,
      cms: org.apache.spark.util.sketch.CountMinSketch,
      keys: Seq[Long], keyName: String = "key",
      estName: String = "est_count"): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, cms.estimateCount(k))).toDF(keyName, estName)
  }

  /** Deterministic content-addressed sampling: keep a row iff the md5
    * of its key falls under the fraction threshold (16-bit granularity).
    * Unlike `df.sample`, the decision is a pure function of the KEY —
    * reproducible across runs, cluster sizes, and engines (md5 is
    * bit-identical everywhere), and stable under re-partitioning: the
    * property a training-data pipeline needs so a re-run samples the
    * SAME documents. Map-side only, pushes down like any filter.
    */
  def deterministicSample(df: DataFrame, keyCol: String,
      fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction")
    // The boundary fractions can't go through the hex-threshold compare:
    // floor(1.0 * 65536) formats as the 5-char "10000", and a 4-char hex
    // prefix compares lexicographically below it only when it starts
    // with '0' — so 1.0 would keep ~1/16 of rows instead of all of them.
    if (fraction >= 1.0) df
    else if (fraction <= 0.0) df.filter(lit(false))
    else {
      val threshold = f"${math.floor(fraction * 65536).toInt}%04x"
      df.filter(substring(md5(col(keyCol).cast("string")), 1, 4) < threshold)
    }
  }

  /** Deterministic train/val/test split assignment: adds `splitCol`
    * naming the band of the md5 hash space the row's key falls in.
    * `bands` lists (name, fraction) in order; fractions must sum to
    * ≤ 1.0 (any remainder falls to `rest`). Content-addressed like
    * `deterministicSample`, which buys the two properties a training
    * split actually needs: (1) a document keeps its split across
    * re-runs, repartitions, and engines — no train/test leakage from
    * nondeterminism; (2) bands are NESTED — growing train from 0.8 to
    * 0.9 keeps every old train row in train, so an enlarged corpus
    * never migrates examples from train INTO test (the leakage
    * direction that silently inflates eval). Pure map-side projection:
    * no shuffle, no state, safe at any scale.
    */
  def splitAssign(df: DataFrame, keyCol: String, splitCol: String,
      bands: Seq[(String, Double)], rest: String = "test"): DataFrame = {
    require(bands.nonEmpty && bands.map(_._2).sum <= 1.0 + 1e-9,
      s"band fractions must sum to <=1: $bands")
    val h = substring(md5(col(keyCol).cast("string")), 1, 4)
    val cuts = bands.scanLeft(0.0)(_ + _._2).tail
    val assigned = bands.zip(cuts).foldLeft(when(lit(false), lit(""))) {
      case (acc, ((name, _), cut)) =>
        // cut==1.0 would format as the 5-char "10000" (see
        // deterministicSample) — a full-width band keeps everything.
        if (cut >= 1.0) acc.when(lit(true), lit(name))
        else acc.when(h < lit(f"${math.floor(cut * 65536).toInt}%04x"), lit(name))
    }.otherwise(lit(rest))
    df.withColumn(splitCol, assigned)
  }

  /** Mixture (re-)balancing: the largest deterministic subsample whose
    * stratum proportions EXACTLY match `weights` — the domain/language
    * mixing step of training-data curation. With n_l rows in stratum l
    * and target weight w_l, the binding stratum is argmin n_l/w_l (it
    * is kept whole); every other stratum downsamples to rate
    * w_l·T/n_l where T = min_l n_l/w_l is the achievable total. No
    * stratum ever upsamples.
    *
    * Scale shape: one tiny aggregate (one row per stratum) broadcast
    * back onto the corpus, then a map-side content-addressed filter —
    * the same md5-prefix rule as `deterministicSample`, with the
    * threshold a COLUMN (per-row hex compare) instead of a literal.
    * The corpus is scanned once; nothing shuffles on data keys.
    * Strata absent from `weights` are dropped (weight 0). Temp columns
    * `__stratum`/`__rate` are reserved during the join.
    *
    * The binding stratum's rate computes as w·(n/w)/n, which in IEEE
    * arithmetic can land one ulp BELOW 1.0 — without slack it would
    * drop the hash prefix 'ffff' from the one stratum meant to be kept
    * whole. The ≥ 1−1e-9 compare absorbs that; a GENUINE rate inside
    * (1−1e-9, 1) needs a stratum above ~1e9 rows, where the error is
    * one row of noise in the opposite, harmless direction.
    */
  def mixtureSample(df: DataFrame, keyCol: String, strataCol: String,
      weights: Map[String, Double]): DataFrame = {
    require(weights.values.forall(_ > 0.0), s"weights must be positive: $weights")
    // T = min n_l/w_l over strata present in the data; rate_l = w_l*T/n_l.
    val withW = df.filter(col(strataCol).isin(weights.keys.toSeq: _*))
    // strata-cardinality counts behind a lazy barrier: the T scalar and
    // the per-stratum rates both consume this frame — one counting scan
    // of the corpus, not one per branch (the output filter pass is the
    // second, unavoidable, corpus read)
    val nPerStratum = withW
      .groupBy(col(strataCol).as("__stratum"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", weights.foldLeft(when(lit(false), lit(0.0))) {
        case (acc, (s, v)) => acc.when(col("__stratum") === s, lit(v))
      })
      .withColumn("__cap", col("__n").cast("double") / col("__w"))
      .barrier(eager = false)
    val t = nPerStratum.agg(min(col("__cap")).as("__t"))
    val rated = nPerStratum.crossJoin(broadcast(t))
      .select(col("__stratum"),
        (col("__w") * col("__t") / col("__n").cast("double")).as("__rate"))
    withW.join(broadcast(rated), col(strataCol) === col("__stratum"))
      .filter(col("__rate") >= lit(1.0 - 1e-9) ||
        substring(md5(col(keyCol).cast("string")), 1, 4) <
          lpad(lower(hex(floor(col("__rate") * 65536.0).cast("long"))), 4, "0"))
      .drop("__stratum", "__rate")
  }

  /** Connected components over an undirected edge list — the CLUSTER
    * step of near-dedup: pair generation (LSH/minhash) yields edges,
    * but "keep one doc per duplicate GROUP" needs the transitive
    * closure (A~B, B~C ⇒ {A,B,C} one cluster, even if A and C never
    * collided). Returns (id, comp) with comp = the minimum reachable
    * vertex id — a deterministic canonical cluster representative.
    *
    * Algorithm: hash-min label propagation with pointer-jumping
    * shortcuts (Shiloach-Vishkin style). Each round every vertex takes
    * the min label among itself and its neighbours (equi-join +
    * min-agg), then jumps its label to its LABEL's label (one more
    * equi-join — labels only decrease and comp(x) ≤ x, so
    * comp(comp(v)) ≤ comp(v) always holds and the jump is a pure
    * improvement). The jump is what turns O(diameter) rounds into
    * O(log n): label-chains halve every round, so a 200-vertex path
    * converges in ~8 rounds, not 200 (pinned in ApiSpec). Everything
    * is shuffle-partitioned on vertex id — no driver-side graph, no
    * collect. `localCheckpoint` truncates the lineage each round,
    * keeping plan size and task count CONSTANT per iteration — an
    * unchecked iterative join would double the plan every round.
    * (The large-star/small-star formulation — Kiveris et al.,
    * "Connected Components in MapReduce", SoCC'14 — achieves the same
    * bound by rewriting the EDGE set; labels + jumps need strictly
    * less state per round: |V| label rows vs the full edge list.)
    */
  /** Release the executor-storage blocks behind a `localCheckpoint()`ed
    * DataFrame once it is SUPERSEDED. Iterative ops checkpoint per round
    * to keep lineage/plan size constant, but each checkpoint pins an RDD
    * in the block manager for the session's life — over a long session
    * (141-query bench, 25-round CC) that accumulates into eviction
    * pressure that degrades unrelated queries. No-op on a DataFrame that
    * is not itself a checkpoint handle (root not a LogicalRDD), so it is
    * always safe to call; never call it on a df still reachable from a
    * plan a caller will execute (the lineage is truncated — the data
    * cannot be recomputed).
    */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
        // Under reliable barriers (spark.graft.barrier.reliable=true,
        // see graft.api.Barrier) the checkpoint FILES outlive the
        // unpersist — without this, iterative ops (connectedComponents,
        // pageRank, bpeTrain) accumulate checkpoint-dir data every
        // round. getCheckpointFile is None for localCheckpoint, so the
        // default mode never touches the filesystem. Best-effort: a
        // failed delete leaks disk, never correctness.
        lr.rdd.getCheckpointFile.foreach { dir =>
          scala.util.Try {
            val p = new org.apache.hadoop.fs.Path(dir)
            val fs = p.getFileSystem(
              df.sparkSession.sparkContext.hadoopConfiguration)
            fs.delete(p, true)
          }: Unit
        }
      case _ => ()
    }

  /** localCheckpoint that PRESERVES the DataFrame's hash partitioning.
    *
    * `Dataset.localCheckpoint` captures `executedPlan.outputPartitioning`
    * into the resulting LogicalRDD — but under AQE (default-on) the
    * executed plan's root is AdaptiveSparkPlanExec, which never overrides
    * `outputPartitioning`, so the capture degrades to UnknownPartitioning
    * and every later join re-shuffles the checkpointed side (verified in
    * ApiSpec). Materializing the checkpoint with AQE off for just this
    * one action keeps the real HashPartitioning; iterative ops use it on
    * their loop-invariant edge sets so per-round joins move only the
    * small labels/ranks side. AQE stays on for everything else.
    *
    * CONSTRAINT (session-global toggle): `spark.sql.adaptive.enabled` is
    * a SESSION conf, so during the eager materialization inside
    * `barrier()` ANY other query planned concurrently on the SAME
    * SparkSession plans without AQE (losing runtime coalescing/skew
    * handling for that one plan — correctness is unaffected). The graft
    * harnesses (Verify/Bench/tests) are sequential per session, so this
    * never fires there; a multi-threaded caller should either serialize
    * calls into this helper, or give concurrent workloads their own
    * `SparkSession.newSession()` (separate conf, shared context), which
    * is also the scheduling-isolation a production multi-tenant driver
    * wants anyway. Scoping it per-thread is not expressible today:
    * `withSQLConf` is test-only and the AQE flag is read at planning
    * time on whichever thread plans the job.
    */
  private[graft] def checkpointPartitioned(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    val prev = session.conf.get("spark.sql.adaptive.enabled", "true")
    session.conf.set("spark.sql.adaptive.enabled", "false")
    try df.barrier()
    finally session.conf.set("spark.sql.adaptive.enabled", prev)
  }

  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // Pre-partition the (large, loop-invariant) edge set by the per-round
    // join key ONCE: localCheckpoint preserves the hash partitioning, so
    // every round's sym⋈labels exchange moves only the |V|-row labels
    // side — at 100 TB the edge set never re-shuffles after round 0.
    val sym = checkpointPartitioned(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("dst")))
    // LAZY barriers + the labelSum collect as the ONE materializing
    // action per round (r17, r16 verdict item 5 — the sortedPrefixSums
    // pattern): the eager form paid three driver actions per round
    // (relaxed checkpoint, next checkpoint, labelSum), each with its
    // own result-stage job and inter-job gap. MECHANISM, precisely
    // (the release calls below rest on it): in the default
    // localCheckpoint mode, marking sets the storage level at once, so
    // the labelSum job CACHES the blocks of `relaxed` and `next` as it
    // computes them — that persist-at-mark side effect, not checkpoint
    // FINALIZATION, is what makes the blocks reusable and
    // releaseCheckpoint's unpersist meaningful (RDD.doCheckpoint
    // finalizes only the first marked RDD from the action root;
    // `relaxed` is typically never finalized). The DataFrame-level
    // plan is a flat LogicalRDD either way, so the O(1)-plan-per-round
    // property holds regardless. Under `spark.graft.barrier.reliable`
    // (Dataset.checkpoint(eager = false)) lazy marking sets NO storage
    // level: intermediates recompute per consumer within the round —
    // correct, and acceptable for the cluster mode the flag exists for.
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).barrier(eager = false)
    // Convergence probe: labels only ever DECREASE under hash-min, so
    // the label sum is strictly monotone until the fixpoint — comparing
    // one scalar per round replaces a per-round join against the
    // previous labels (a whole extra shuffle). decimal sum: exact for
    // any vertex-id range, no overflow at 1e10 vertices.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val viaNeighbor = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("comp"))
      // checkpoint the relaxed labels BEFORE the self-join: truncates
      // the per-round lineage AND gives the jump join two clean sides
      val relaxed = labels.unionAll(viaNeighbor)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
        .barrier(eager = false)
      // pointer jump: comp := comp(comp). comp(x) ≤ x under hash-min,
      // so the looked-up label is never worse; chains halve per round.
      val jump = relaxed.select(col("id").as("cid"), col("comp").as("ccomp"))
      val next = relaxed.join(jump, col("comp") === col("cid"))
        .select(col("id"), col("ccomp").as("comp"))
        .barrier(eager = false)
      val s = labelSum(next) // materializes relaxed + next
      // the round's scratch state and the previous labels are dead —
      // release their blocks so a 25-round run pins ONE labels RDD,
      // not 50 superseded ones.
      releaseCheckpoint(relaxed)
      releaseCheckpoint(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      i += 1
    }
    releaseCheckpoint(sym) // consumed only inside the loop
    labels
  }

  /** Keep ONE representative row per near-dup cluster: the complete
    * dedup decision given a candidate-pair edge set (from
    * `minhashPairsFromSignatures`, a SimHash band join, or an
    * embedding LSH join — any (src, dst) id pairs). Components via
    * hash-min `connectedComponents`, whose label IS the cluster's min
    * id — so the survivor test is `id == coalesce(comp, id)` after one
    * left join (rows in no pair survive trivially; no window, no
    * second aggregation). The corpus query `pipeline_near_dedup` is
    * this over the banded edge set.
    */
  def keepClusterRepresentatives(df: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    keepClusterRepresentativesFromComps(df, idCol,
      connectedComponents(edges, srcCol, dstCol))

  /** Survivor selection from a PRECOMPUTED (id, comp) component map —
    * the artifact-consuming form: a production pipeline materializes
    * cluster assignments once per snapshot (signatures → edges →
    * components is the standard curation artifact ladder) and every
    * downstream selection joins that table instead of re-running the
    * iterative CC rounds.
    */
  def keepClusterRepresentativesFromComps(df: DataFrame, idCol: String,
      components: DataFrame): DataFrame = {
    // temp names derived to miss every input column (the
    // sharedFingerprintIds rule): a caller whose frame already has an
    // "id"/"comp" column must not hit an ambiguous-column error
    val cid = Iterator.from(0).map(i => s"__cc_id$i")
      .find(n => !df.columns.contains(n)).get
    val ccomp = Iterator.from(0).map(i => s"__cc_comp$i")
      .find(n => !df.columns.contains(n)).get
    val comps = components
      .select(col("id").as(cid), col("comp").as(ccomp))
    df.join(comps, df(idCol) === col(cid), "left")
      .filter(coalesce(col(ccomp), df(idCol)) === df(idCol))
      .drop(cid, ccomp)
  }

  /** Salted equi-join for skewed keys: the FACT side gets a
    * deterministic per-row salt in [0, buckets); the (smaller, but not
    * broadcastable) build side is replicated `buckets`× with one row
    * per salt; the join key becomes (key, salt), so a hot key's rows
    * spread over `buckets` shuffle partitions instead of one reducer.
    * Semantically identical to `fact.join(build, keys)` — pinned in
    * SkewSpec. Prefer AQE's runtime skew-join split when it applies
    * (batch SMJ, see SkewSpec); salting is the static fallback for the
    * cases AQE can't touch — streaming joins, bucketed-table joins, or
    * build sides just over the broadcast threshold.
    * The salt is a partition-local counter, NOT rand(): a retried task
    * re-derives the same salts, so the join stays deterministic under
    * speculative execution.
    */
  def saltedJoin(fact: DataFrame, build: DataFrame, keys: Seq[String],
      buckets: Int): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(buckets.toLong)).cast("int"))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  /** Stratified deterministic sampling: per-stratum fractions over the
    * same content-addressed md5 rule as `deterministicSample` (strata
    * absent from the map keep fraction `default`). The training-data
    * rebalancing primitive: e.g. keep 10% of English but all of a
    * low-resource language, reproducibly across runs and engines.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      fractions: Map[String, Double], default: Double = 1.0): DataFrame = {
    (fractions.values.toSeq :+ default).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fraction $f"))
    def keep(fraction: Double): Column =
      if (fraction >= 1.0) lit(true)
      else if (fraction <= 0.0) lit(false)
      else substring(md5(col(keyCol).cast("string")), 1, 4) <
        lit(f"${math.floor(fraction * 65536).toInt}%04x")
    val cond = fractions.foldLeft(when(lit(false), lit(false))) {
      case (acc, (stratum, f)) => acc.when(col(strataCol) === stratum, keep(f))
    }.otherwise(keep(default))
    df.filter(cond)
  }

  /** Keep the top `fraction` of rows per stratum by a score column —
    * the quality-retention step of curation ("keep the best quarter of
    * each language"). Rank-based, not threshold-based: PERCENT_RANK is
    * pure integer arithmetic ((r−1)/(n−1)) over the sort order, so the
    * cut is engine-exact and tie rows share a fate (every row of a
    * tied score is in or out together — no arbitrary winner).
    *
    * Scale: the window partitions by stratum, so state is bounded by
    * the largest stratum, never the corpus. When a stratum itself is
    * 100 TB-large, the sort dominates — switch to the two-pass
    * approximate form (per-stratum `approx_percentile` threshold
    * broadcast back, then a map-side filter, same shape as
    * `mixtureSample`) and accept sketch error at the boundary.
    */
  def topFractionByScore(df: DataFrame, strataCol: String, scoreCol: String,
      fraction: Double): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0, s"fraction $fraction")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__pr", percent_rank().over(
        Window.partitionBy(col(strataCol)).orderBy(col(scoreCol).desc)))
      .filter(col("__pr") <= lit(fraction))
      .drop("__pr")
  }

  /** Symmetric int8 scalar quantization of a float-vector column: each
    * vector stores as (array<tinyint>, one float scale) — a 4× storage
    * cut for a 100 TB embedding corpus, applied at ingest. Pure
    * Catalyst: per-vector scale = max|x|/127, code = round(x/scale).
    * `dequantize` reverses it; cosine on dequantized vectors tracks the
    * exact cosine within ~1e-2 (pinned in ApiSpec; expected deviation
    * ~1.4e-3 at d=64), which is far inside
    * ANN bucketing noise — rank candidates on quantized vectors, rescore
    * the top-k on originals if exactness matters.
    */
  def quantizeInt8(vec: Column): Column = {
    val scale = greatest(
      aggregate(vec, lit(0.0f), (a, x) => greatest(a, abs(x))),
      lit(java.lang.Float.MIN_NORMAL)) / lit(127.0f)
    // The scale rides in as a zip_with ARGUMENT (array_repeat) so the
    // max|x| reduction runs once per vector — referencing `scale`
    // inside a transform lambda would re-reduce the whole vector per
    // element (O(d²); the interpreted-HOF pathology, see
    // winnowFingerprints).
    struct(
      zip_with(vec, array_repeat(scale, size(vec)),
        (x, s) => round(x / s).cast("tinyint")).as("codes"),
      scale.cast("float").as("scale"))
  }

  /** Reverse of quantizeInt8: array<float> ≈ the original vector. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c => (c.cast("float") * q.getField("scale")).cast("float"))

  /** Johnson–Lindenstrauss-style signed random projection of a
    * float-vector column to `outDims` dimensions: out[j] = Σᵢ v[i]·s(i,j)
    * with a dense ±1 sign matrix — the standard cheap dimensionality
    * reduction in front of clustering / LSH / near-dup scans (JL: a
    * ±1 matrix preserves pairwise distances within (1±ε) at
    * k = O(ln n / ε²) output dims). The matrix is never materialized:
    * s(i,j) derives row-locally from a fixed integer polynomial
    * ((37i + 101j + 13ij) mod 4 < 2 → +1 else −1 — the ij cross term
    * breaks row/column degeneracy), so the operator is a pure map-side
    * projection with zero state to ship; a production variant swaps in
    * any per-(i,j) hash without changing the plan shape.
    *
    * HOF discipline: the element product rides a zip_with whose inputs
    * are all ARGUMENT-position (the vector attribute, an index
    * sequence), and the fold consumes that zipped array as an argument
    * too — per output dim the work is one O(d) pass, O(k·d) per row
    * total, with no interpreted-lambda re-evaluation blowup. Output is
    * ROUND-6ed double per dimension (fold order is left-to-right in
    * both engines — same discipline as the cosine oracles).
    */
  def signedProjection(vec: Column, outDims: Int): Column = {
    require(outDims > 0, s"outDims $outDims")
    transform(sequence(lit(0), lit(outDims - 1)), j =>
      round(aggregate(
        zip_with(vec.cast("array<double>"),
          sequence(lit(0), size(vec) - 1),
          (x, i) => x * when(
            (i * 37 + j * 101 + i * j * 13) % 4 < 2, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, x) => acc + x), 6))
  }

  // ---- product quantization (PQ) ---------------------------------------
  //
  // The heavier compression tier above int8: split each d-dim vector
  // into M subvectors, quantize each against its own K-centroid
  // codebook, store M small ints (d=64, M=8, K=16 → 8 bytes/vector,
  // 32× under float32; production K=256 → still 8 bytes). Ranking uses
  // asymmetric distance computation (ADC): per query, precompute an
  // M×K lookup table of subspace inner products against the PROBE
  // (driver-side, codebook is tiny), then score a code as a sum of M
  // table lookups — no float vector is touched during the scan, which
  // is the point at 100 TB: the scan reads 8-byte codes, not 256-byte
  // vectors. Cross-subspace dot products vanish, so the reconstruction
  // inner product and squared norm are EXACT sums of per-subspace
  // table entries — cosine(probe, reconstruction) is computable from
  // two lookup tables alone.

  /** Train a PQ codebook: M per-subspace KMeans fits (k = K) on a
    * bounded sample of the vector column. Returns
    * codebook(m)(c)(j) = j-th component of centroid c of subspace m —
    * M*K*(d/M) floats, driver-resident by design (it rides into plans
    * as a literal). An ACTION (fits models); train once per corpus
    * snapshot and reuse, like the minhash signature table.
    */
  def pqTrain(df: DataFrame, vecCol: String, m: Int = 8, k: Int = 16,
      sampleMax: Long = 65536L): Array[Array[Array[Float]]] = {
    val d = df.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"dim $d not divisible by M=$m subspaces")
    val ds = d / m
    val n = df.count()
    // repartition, NOT coalesce: coalesce's narrow dependency pulls
    // the ENTIRE upstream computation of `df` into 8 tasks — fine for
    // a raw parquet column, a 40+-min straggler stage when df carries
    // per-row argmin/join arithmetic at blow-up scale (the r16 1000×
    // probe finding; see Pq.residuals). The shuffle moves only the
    // ≤ sampleMax sampled rows.
    val sample = (if (n <= sampleMax) df
      else df.sample(withReplacement = false, sampleMax.toDouble / n, seed = 42L))
      .repartition(8).cache()
    try {
      // the M fits are independent tiny jobs — run them concurrently
      // (the scheduler interleaves them over idle cores; sequential
      // fits pay M× the per-job fixed overhead, measured ~12 s vs ~3 s
      // for M=8 at sf0.1). 5 deterministic-init iterations suffice
      // for a COARSE per-subspace quantizer (same budget as Ivf's
      // cell trainer) — recall comes from the rescore pool, not
      // codebook polish. r16: fits are the native Lloyd trainer
      // (graft.operators.Lloyd) — no MLlib, no VectorUDT conversion.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fits = (0 until m).map { mi =>
        Future {
          val sub = sample.select(slice(col(vecCol), mi * ds + 1, ds).as("v"))
          graft.operators.Lloyd.fit(sub, "v", k, maxIter = 5, seed = 42L + mi)
            .map(_.map(_.toFloat))
        }
      }
      fits.map(Await.result(_, Duration.Inf)).toArray
    } finally sample.unpersist()
  }

  /** PQ-encode a float-vector column against a trained codebook:
    * array<int> of length M, code m = argmin-distance centroid of
    * subspace m. Pure Catalyst (nested HOF argmin over a codebook
    * literal) — map-side, no shuffle; encode once at ingest and store
    * the codes, exactly like quantizeInt8.
    */
  def pqEncode(vec: Column, codebook: Array[Array[Array[Float]]]): Column = {
    val m = codebook.length
    val k = codebook(0).length
    val ds = codebook(0)(0).length
    val cb = typedlit(codebook.map(_.map(_.toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(m - 1)), mi =>
      aggregate(
        sequence(lit(0), lit(k - 1)),
        struct(lit(-1).cast("int").as("best"), lit(Double.MaxValue).as("bd")),
        (s, c) => {
          val d2 = aggregate(sequence(lit(0), lit(ds - 1)), lit(0.0d), (a, j) => {
            val x = element_at(vec, mi * lit(ds) + j + 1).cast("double") -
              element_at(element_at(element_at(cb, mi + 1), c + 1), j + 1).cast("double")
            a + x * x
          })
          when(d2 < s.getField("bd"),
            struct(c.cast("int").as("best"), d2.as("bd"))).otherwise(s)
        },
        s => s.getField("best")))
  }

  /** IVF coarse-quantizer centroids over any vector column: one
    * bounded-sample KMeans fit, returned as a plain (k × d) float
    * array like pqTrain's codebooks (driver-resident by design — at
    * k ≤ 65536, Ivf.cellCount's cap, it is a small table). IVF
    * training IS pqTrain with a single subspace spanning the whole
    * vector — one codebook, k centroids.
    */
  def ivfCentroids(df: DataFrame, vecCol: String, k: Int,
      sampleMax: Long = 262144L): Array[Array[Float]] =
    pqTrain(df, vecCol, m = 1, k = k, sampleMax = sampleMax)(0)

  /** Voronoi-cell assignment of a vector column against trained
    * centroids: argmin squared distance, as a Column. The same
    * unification as ivfCentroids — assignment is PQ encoding with one
    * whole-vector subspace, so the pure-HOF encoder serves both; for
    * ingest-scale assignment register `PqEncodeExpr` with
    * `Array(centroids)` and use the codegen `pq_encode` instead.
    */
  def ivfAssign(vec: Column, centroids: Array[Array[Float]]): Column =
    element_at(pqEncode(vec, Array(centroids)), 1)

  /** The two ADC lookup tables for a probe vector: (m)(c) = inner
    * product of the probe's m-th subvector with centroid c, and the
    * squared norm of centroid c — driver-side arithmetic over the tiny
    * codebook. cosine(probe, reconstruction(codes)) =
    * Σ ip(m)(code_m) / (‖probe‖ · sqrt(Σ norm2(m)(code_m))).
    */
  def pqAdcTables(probe: Seq[Float],
      codebook: Array[Array[Array[Float]]]): (Seq[Seq[Float]], Seq[Seq[Float]]) = {
    val ds = codebook(0)(0).length
    val ip = codebook.zipWithIndex.map { case (cents, mi) =>
      cents.map { c =>
        var s = 0.0
        var j = 0
        while (j < ds) { s += probe(mi * ds + j) * c(j); j += 1 }
        s.toFloat
      }.toSeq
    }.toSeq
    val norm2 = codebook.map(_.map { c =>
      var s = 0.0
      var j = 0
      while (j < c.length) { s += c(j) * c(j); j += 1 }
      s.toFloat
    }.toSeq).toSeq
    (ip, norm2)
  }

  /** ADC cosine score of a PQ codes column against a probe, given that
    * probe's lookup tables and norm: M table lookups + a fold — the
    * compressed-domain scan body. Pure Catalyst; no float vectors read.
    */
  def pqCosineAdc(codes: Column, ipTable: Seq[Seq[Float]],
      norm2Table: Seq[Seq[Float]], probeNorm: Double): Column = {
    val ipSum = aggregate(
      zip_with(codes, typedlit(ipTable), (c, t) => element_at(t, c + 1)),
      lit(0.0d), (a, x) => a + x.cast("double"))
    val n2Sum = aggregate(
      zip_with(codes, typedlit(norm2Table), (c, t) => element_at(t, c + 1)),
      lit(0.0d), (a, x) => a + x.cast("double"))
    ipSum / (lit(probeNorm) * sqrt(n2Sum))
  }

  /** Gopher-style repetition signals over a text column: struct of
    * (n_tokens, n_distinct, top_bigram_n) — duplicate-token and
    * top-bigram fractions derive from these. The top-bigram count is
    * the longest equal-run over the SORTED per-row bigram array (≡ max
    * bigram frequency), one `aggregate` higher-order fold — per-row
    * map-side work, no explode, no shuffle.
    */
  def repetitionSignals(textCol: String): Column = {
    // Bigrams come from ONE zip-with-shifted pass (both split
    // references in argument position — evaluated once per row), not
    // from `transform(sequence, i -> slice(split(..), i, 2))`, whose
    // lambda would re-split the document per bigram position (the
    // interpreted-HOF O(n²) pathology; see shingles/winnowFingerprints).
    val maxRun =
      s"""aggregate(
         |  array_sort(zip_with(
         |    slice(split($textCol, ' '), 1, greatest(size(split($textCol, ' ')) - 1, 1)),
         |    slice(split($textCol, ' '), 2, size(split($textCol, ' '))),
         |    (a, b) -> IF(b IS NULL, a, concat(a, ' ', b)))),
         |  named_struct('prev', '', 'run', 0, 'best', 0),
         |  (s, g) -> named_struct(
         |    'prev', g,
         |    'run', IF(g = s.prev, s.run + 1, 1),
         |    'best', greatest(s.best, IF(g = s.prev, s.run + 1, 1))),
         |  s -> s.best)""".stripMargin
    struct(
      size(split(col(textCol), " ")).cast("long").as("n_tokens"),
      size(array_distinct(split(col(textCol), " "))).cast("long").as("n_distinct"),
      expr(maxRun).cast("long").as("top_bigram_n"))
  }

  /** Corpus-level TF-IDF table over any (id, text) DataFrame: one row
    * per token with (token, tf, df, tfidf = tf·ln(N/df)). Two-phase
    * aggregation after the explode; N is taken from one count action
    * (a catalog statistic at scale).
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val n = df.count()
    toks.groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col(idCol)).as("df"))
      .select(col("token"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          log(lit(n.toDouble) / col("df").cast("double")), 6).as("tfidf"))
  }

  /** Per-document keyword extraction over any (id, text) DataFrame:
    * the top-k tokens of each document by PER-DOC TF-IDF (document
    * term frequency × corpus ln(N/df)) — the cheap extractive
    * keyword/tag primitive (faceting, weak labels, BM25 query
    * seeding).
    *
    * Like [[unigramLogprob]], NOT a pure plan constructor: the
    * document-frequency vocabulary is materialized (`localCheckpoint`,
    * one corpus tokenize + distinct + agg job — all two-phase, so
    * stopword-grade hot tokens partial-aggregate map-side instead of
    * piling onto one partition as a per-token window count would).
    * The scoring pass then tokenizes once more into the (doc, token)
    * tf aggregate and joins the vocabulary — two corpus tokenizes
    * total, one Generate in the scoring plan (pinned in TextSpec),
    * and ZERO corpus-scale state pinned in storage (only the
    * vocab-sized df table). The df join is deliberately unhinted —
    * a web-corpus vocabulary outgrows broadcast; AQE broadcasts it
    * exactly when it actually is small. The top-k cut is a row_number
    * window; its doc_id re-shuffle is real ((doc, token) hash
    * partitioning does not satisfy a doc_id-only requirement) but
    * Spark 4 inserts a PARTIAL WindowGroupLimit below that exchange,
    * so each map partition ships at most k candidate rows per doc —
    * the shuffle carries O(docs·k), not the full tf table (verified
    * in the formatted plan: WindowGroupLimit above AND below the
    * doc_id exchange).
    *
    * Determinism: scores are ROUND-6ed BEFORE ranking and ties break
    * on the token itself, so the chosen top-k is unique cross-engine
    * (ranking on the raw double would let a last-ulp difference pick
    * a different keyword).
    */
  def docKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k > 0, s"k $k")
    val n = df.count()
    val toks = df.select(col(idCol),
      explode(tokens(col(textCol))).as("token"))
    val dfreq = toks.distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .barrier()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token"))
    toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
      .join(dfreq, "token")
      .select(col(idCol), col("token"),
        round(col("tf").cast("double") *
          log(lit(n.toDouble) / col("df").cast("double")), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"),
        col("token"), col("score"))
  }

  /** Byte-pair-encoding TOKENIZER TRAINING over any text column: learn
    * `merges` BPE merge rules from the corpus — the vocabulary-build
    * step every LLM data pipeline runs before token counting, packing
    * and budget accounting can be exact. Classic word-frequency
    * formulation (Sennrich et al.): train on the DISTINCT-word ×
    * frequency table, not the raw stream, so each round's pair count
    * is a vocab-sized aggregate no matter how large the corpus.
    *
    * Per round: (1) adjacent symbol pairs explode from each word's
    * current symbol array (zip-with-shifted-slice — the symbol array
    * stays in ARGUMENT position, no interpreted-HOF blowup) weighted
    * by word frequency; (2) the argmax pair is ONE driver-side
    * 1-row collect (deterministic: count desc, then lexicographic —
    * the same per-round convergence-scalar pattern pageRank uses);
    * (3) occurrences merge left-to-right non-overlapping via a fold
    * whose state is (emitted-prefix, pending-symbol) — "aaa" under
    * (a,a) correctly yields [aa, a]. The rewritten vocabulary is
    * localCheckpoint'd and the superseded round released, so state
    * never exceeds one vocab table regardless of merge count.
    *
    * Returns the learned rules (round, left, right, pair_count) —
    * rounds stop early if every word collapses to one symbol. An
    * ACTION (runs `merges` jobs); train once per corpus snapshot,
    * like the minhash signature table.
    */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    require(merges > 0, s"merges $merges")
    GraftExtensions.ensure(df.sparkSession)
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    // kgrams(word, 1) = the char split in ONE byte walk — the
    // substring(word, i, 1)-per-position form re-scans to char i each
    // call (O(len²) bytes per word: fine for prose tokens, quadratic
    // for the long URL/hash/code tokens a web corpus carries).
    // Identical output for the non-empty words this sees (KGramsSpec).
    val chars = expr("kgrams(word, 1)")
    var words = df
      .select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), chars.as("sym"))
      .barrier()
    val rules = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, Long)]
    var exhausted = false
    for (m <- 1 to merges if !exhausted) {
      val top = words
        .select(col("freq"), explode(zip_with(
          slice(col("sym"), lit(1), size(col("sym")) - 1),
          slice(col("sym"), lit(2), size(col("sym")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rules += ((m, l, r, cnt))
        val (lq, rq) = (esc(l), esc(r))
        val merged = expr(
          s"""aggregate(sym,
             |  named_struct('acc', CAST(array() AS array<string>),
             |               'prev', CAST(NULL AS string)),
             |  (s, x) -> IF(s.prev = '$lq' AND x = '$rq',
             |    named_struct('acc', array_append(s.acc, '$lq$rq'),
             |                 'prev', CAST(NULL AS string)),
             |    named_struct('acc', IF(s.prev IS NULL, s.acc,
             |                           array_append(s.acc, s.prev)),
             |                 'prev', x)),
             |  s -> IF(s.prev IS NULL, s.acc, array_append(s.acc, s.prev)))"""
            .stripMargin)
        val prev = words
        words = words.select(col("freq"), merged.as("sym")).barrier()
        releaseCheckpoint(prev)
      }
    }
    releaseCheckpoint(words)
    val sp = df.sparkSession
    import sp.implicits._
    rules.toSeq.toDF("round", "left", "right", "pair_count")
  }

  /** Apply learned BPE merge rules to a text column: per row, the
    * total BPE token count and per-word average — the EXACT
    * token-budget accounting a pipeline needs once a tokenizer is
    * trained (whitespace counts under-estimate; char counts
    * over-estimate; this is the real number packing and pricing run
    * on). Merges never cross word boundaries (same contract as
    * [[bpeTrain]]).
    *
    * Pure map-side: the rule list is tiny and driver-resident, so the
    * encoder composes ONE nested expression — per word, the rule
    * sequence applies in training order as a chain of the same
    * (emitted, pending) folds the trainer uses, each O(word length).
    * Rules ride into the plan as literals: nothing is broadcast,
    * nothing shuffles, and the expression pipelines inside the scan
    * stage like any other projection.
    */
  def bpeEncode(df: DataFrame, textCol: String,
      rules: Seq[(String, String)]): DataFrame = {
    GraftExtensions.ensure(df.sparkSession)
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    // char split of one word (linear one-pass kgrams — see bpeTrain),
    // then the rule chain folded over it
    var sym = "kgrams(w, 1)"
    for ((l, r) <- rules) {
      val (lq, rq) = (esc(l), esc(r))
      sym =
        s"""aggregate($sym,
           |  named_struct('acc', CAST(array() AS array<string>),
           |               'prev', CAST(NULL AS string)),
           |  (s, x) -> IF(s.prev = '$lq' AND x = '$rq',
           |    named_struct('acc', array_append(s.acc, '$lq$rq'),
           |                 'prev', CAST(NULL AS string)),
           |    named_struct('acc', IF(s.prev IS NULL, s.acc,
           |                           array_append(s.acc, s.prev)),
           |                 'prev', x)),
           |  s -> IF(s.prev IS NULL, s.acc, array_append(s.acc, s.prev)))"""
          .stripMargin
    }
    df.withColumn("__wt", expr(
        s"transform(filter(split(${textCol}, ' '), w -> length(w) > 0), " +
          s"w -> size($sym))"))
      .withColumn("n_words", size(col("__wt")).cast("long"))
      .withColumn("n_bpe_tokens", expr(
        "aggregate(__wt, 0L, (a, x) -> a + CAST(x AS BIGINT))"))
      .drop("__wt")
  }

  /** Per-document unigram LM score over any (id, text) DataFrame:
    * avg over tokens of ln(tf/N) against the corpus's own unigram
    * frequencies — the cheap LM-score quality filter (gibberish and
    * boilerplate sit in the tails). One aggregation per doc.
    *
    * NOT a pure plan constructor: the vocabulary aggregate is
    * materialized (`localCheckpoint`, one corpus tokenize+agg job) and
    * the corpus token count N derives from `sum(tf)` over that small
    * materialized table — so the whole operator tokenizes the corpus
    * exactly TWICE (once building the vocabulary, once scoring), not
    * three times as the naive form would (a separate `count()` pass,
    * plus the unmaterialized freq lineage re-tokenizing inside the
    * scoring join). At cluster scale the checkpointed vocabulary is
    * the freq table a pipeline writes per corpus snapshot. The scoring
    * plan itself carries exactly one Generate over the corpus — pinned
    * in ApiSpec.
    *
    * The frequency join is deliberately UNHINTED: a web-corpus unigram
    * table runs to ~1e9 rows, far past broadcast limits, so a forced
    * `broadcast(freq)` would turn a working query into a driver OOM at
    * scale. AQE sees the materialized size at runtime and picks
    * broadcast exactly when the vocabulary actually is small (as at
    * test sfs); otherwise it stays a shuffle join on the token key.
    */
  def unigramLogprob(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .barrier()
    val nRow = freq.agg(sum(col("tf"))).collect()(0)
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    toks.join(freq, "token")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("tf").cast("double") / lit(n.toDouble))), 6)
          .as("avg_logprob"))
  }

  /** Ids of documents sharing at least one k-gram with a probe corpus —
    * the benchmark-decontamination primitive. The probe's distinct
    * grams broadcast (an eval suite is tiny next to a training corpus);
    * the scan is one map-side semi-join over exploded grams.
    */
  def contaminatedIds(corpus: DataFrame, probe: DataFrame, idCol: String,
      textCol: String, k: Int = 5): DataFrame = {
    def grams(df: DataFrame, cols: Seq[Column]): DataFrame =
      df.select(cols :+ explode(shingles(tokens(col(textCol)), k)).as("__gram"): _*)
    grams(corpus, Seq(col(idCol)))
      .join(broadcast(grams(probe, Seq.empty).select(col("__gram")).distinct()), "__gram")
      .select(col(idCol)).distinct()
  }

  /** Sequence packing: assign rows to fixed-budget bins by exclusive
    * prefix-sum of `weightCol` DIV `budget`, ordered by `orderCol`
    * WITHIN each `shardCol` partition — packing is inherently
    * sequential per shard, so the shard key bounds every window
    * partition (never a global single-partition sort). Adds a `bin`
    * column. FLOOR(x*1.0/budget): integer-division semantics differ
    * across engines, double division does not.
    */
  def packBins(df: DataFrame, shardCol: String, orderCol: String,
      weightCol: String, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("bin",
      floor(coalesce(sum(col(weightCol)).over(w), lit(0L)) * lit(1.0) / budget)
        .cast("long"))
  }

  /** Sliding token-window chunking — the context-length shaper of a
    * training pipeline: documents longer than a model's window are cut
    * into overlapping chunks (packBins is the complement: it PACKS the
    * short side; this SPLITS the long side). One output row per
    * (doc, chunk): chunk index, start-token offset, chunk token count,
    * and the md5 of the chunk text (the join key for downstream
    * chunk-level dedup/embedding tables).
    *
    * Chunks start every `stride` tokens (overlap = window − stride);
    * an n-token document yields max(0, ⌈(n−window)/stride⌉) + 1
    * chunks: every token is covered, the final chunk keeps the
    * (possibly short) tail, and a chunk whose tokens are ALREADY fully
    * inside the previous chunk is never emitted — the last start is
    * the smallest stride multiple whose window reaches n, so no
    * redundant duplicate content leaks into chunk_md5-keyed downstream
    * dedup/embedding tables. Zero-token inputs are filtered before the
    * fan-out, so the no-empty-chunk invariant holds structurally, not
    * by tokenizer coincidence.
    *
    * Scale shape: entirely map-side — the token array is projected
    * ONCE by name before the explode (inlining the split inside the
    * per-chunk lambda re-evaluates the regex per chunk — the
    * bigramLogprob O(n²) lesson), the chunk slice likewise projects
    * once before fan-out into (count, md5). One Generate, zero
    * shuffles, output ~n/stride rows per doc; at 100 TB the cost is
    * the corpus scan plus proportional output writes.
    */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
      window: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    // Collision-free temp names (the sharedFingerprintIds rule: a
    // caller column literally named __toks must not break analysis).
    val taken = df.columns.toSet
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(!taken(_)).get
    val tk = fresh("__toks")
    val ix = fresh("__i")
    val ck = fresh("__chunk")
    df.select(col(idCol), tokens(col(textCol)).as(tk))
      .filter(size(col(tk)) > 0)
      .select(col(idCol), col(tk),
        explode(sequence(lit(0),
          greatest(ceil((size(col(tk)) - window).cast("double") / stride)
            .cast("int"), lit(0))))
          .as(ix))
      .select(col(idCol), col(ix),
        slice(col(tk), col(ix) * stride + 1, lit(window)).as(ck))
      .select(col(idCol),
        col(ix).cast("long").as("chunk_idx"),
        (col(ix) * stride).cast("long").as("start_tok"),
        size(col(ck)).cast("long").as("chunk_tokens"),
        md5(array_join(col(ck), " ")).as("chunk_md5"))
  }

  /** Ids of rows sharing at least one fingerprint with another row —
    * the sharing scan over any (id, array<fingerprint>) DataFrame (the
    * winnow near-dup signal; also works over minhash band or simhash
    * signature arrays). Aggregation state is BOUNDED by construction:
    * shared fingerprints are found with a per-fingerprint
    * countDistinct (Catalyst plans it as a distributed two-phase
    * aggregate keyed on (fingerprint, id)), never a per-group
    * collect_set — a ubiquitous boilerplate fingerprint shared by
    * millions of docs would otherwise materialize one giant array in a
    * single reducer row. The ids come back via a semi-join of the
    * exploded pairs against the shared fingerprints.
    */
  def sharedFingerprintIds(df: DataFrame, idCol: String, fpCol: String): DataFrame = {
    // Temp names derived to miss every input column — a caller whose id
    // column is literally "__f" must not hit an ambiguous-column error.
    val f = Iterator.from(0).map(i => if (i == 0) "__f" else s"__f$i")
      .find(n => !df.columns.contains(n)).get
    val nd = Iterator.from(0).map(i => if (i == 0) "__nd" else s"__nd$i")
      .find(n => !df.columns.contains(n)).get
    val pairs = df.select(col(idCol), explode(col(fpCol)).as(f))
    val shared = pairs.groupBy(col(f))
      .agg(countDistinct(col(idCol)).as(nd))
      .filter(col(nd) > 1)
      .select(col(f))
    pairs.join(shared, Seq(f), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03) —
    * the rolling-hash fingerprinting scheme: hash every character
    * k-gram, slide a window of `w` hashes, keep each window's minimum;
    * the distinct minima are the fingerprint set. Guarantees any shared
    * substring of length ≥ w+k-1 contributes at least one common
    * fingerprint, while keeping ~2/(w+1) of the hashes. Pure Catalyst
    * higher-order functions over substrings + xxhash64 — map-side only,
    * no UDF, no explode.
    *
    * The window minima come from a shift-and-min DOUBLING cascade
    * (`zip_with(arr, slice(arr, 1+step, n), least)` — the sparse-table
    * min trick), NOT from
    * `transform(sequence, i => array_min(slice(grams, i, w)))`:
    * higher-order functions are interpreted (no codegen), and a
    * subexpression referenced inside a lambda is RE-EVALUATED on every
    * lambda invocation — the slice-per-position form recomputes the
    * entire O(n)-hash grams array once per window position, turning
    * the scan O(n²)-hashes per document (measured 66 s vs 0.5 s over
    * 500 toy docs; at corpus scale that is the difference between a
    * map-side pass and an unusable operator). In the cascade every
    * array reference sits in ARGUMENT position (evaluated once per
    * row, never per element) and each level doubles the covered
    * window. Each level references the previous one twice, but
    * row-level subexpression elimination covers ARGUMENT-position
    * duplicates even in interpreted projections, so the gram pass runs
    * ~once per row — measured (r11, 256×32 k-char synthetic docs): an
    * explicit let-binding of every level via `transform(array(x),
    * v => f(v))` timed the same as this form (58 vs 62 ms median), so
    * the simpler tree stays. CSE does NOT reach inside lambda BODIES —
    * that is why the per-position naive form above is quadratic
    * (measured 66 s → 0.5 s on 500 toy docs).
    * zip_with pads the shifted (shorter) side with nulls and `least`
    * ignores them, which exactly yields the shorter trailing windows
    * that the final slice drops.
    */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    winnowFingerprintsHashed(text, s => xxhash64(s), k, w)

  /** winnowFingerprints with a caller-supplied gram hash — same cascade,
    * same coverage guarantee. Exists so the oracle twin
    * (`text_winnow_md5`) can run the IDENTICAL window-minimum algebra
    * over a hash DuckDB reproduces (48-bit md5 prefix) while the
    * production entry stays on codegen xxhash64.
    */
  private[graft] def winnowFingerprintsHashed(text: Column,
      gramHash: Column => Column, k: Int, w: Int): Column = {
    val n = greatest(length(text) - lit(k - 1), lit(1)) // == size(grams)
    // Gram extraction is the native one-pass KGrams expression, NOT
    // `transform(sequence(1, n), i => text.substr(i, k))`: substr(i, k)
    // re-scans the string from byte 0 to char i on every call (UTF-8
    // has no O(1) char index), making the substr form O(len²) bytes
    // per document — a 100 k-char doc costs ~400× a 5 k-char one. The
    // expression walks the bytes once and emits zero-copy gram views;
    // the cascade's ~w re-evaluations each cost O(len), so the whole
    // fingerprint pass is linear in document length (KGramsSpec pins
    // both the scaling and value-equality with the substr form).
    val grams = transform(
      graft.expressions.KGramsUtil.kgramsCol(text, k),
      g => gramHash(g))
    var arr = grams
    var covered = 1
    while (covered < w) {
      val step = math.min(covered, w - covered)
      arr = zip_with(arr, slice(arr, lit(step + 1), n),
        (a, b) => least(a, b))
      covered += step
    }
    val minima = slice(arr, lit(1), greatest(n - lit(w - 1), lit(1)))
    // null text → null fingerprints (not a hash of nothing): without
    // the guard every null document would emit the same seed hash and
    // appear to near-dup-share with every other null document
    when(text.isNotNull, array_sort(array_distinct(minima)))
  }

  /** Small-file compaction: rewrite a parquet directory into
    * size-targeted files — the OPTIMIZE pass a 100 TB ingest needs
    * once streaming/microbatch writers have fragmented a table into
    * thousands of small files (each file costs a task, a footer read,
    * and an open per scan; compaction restores full-size row groups
    * and min/max usefulness). File count = ceil(bytes / targetBytes)
    * from the ACTUAL on-disk size, via coalesce — a shuffle-free
    * narrow repartition (we are only gluing files, not re-clustering;
    * for re-clustering compose with writeZOrdered). Writes to
    * `outPath`: rewriting a table in place atop a live reader is a
    * transaction-log concern, out of scope for a layout pass.
    * Returns the file count actually written — coalesce may produce
    * fewer than the size-derived target when the scan already
    * bin-packed the fragments into fewer read partitions (each then
    * at least target-sized, which is the goal).
    */
  def compactFiles(df: DataFrame, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(inPath), conf)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath))
      .getLength
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    df.coalesce(files).write.mode("overwrite").parquet(outPath)
    fs.listStatus(new org.apache.hadoop.fs.Path(outPath))
      .count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Morton (Z-order) code: interleave the low `bits` bits of two
    * non-negative integer columns — a's bit i lands at position 2i,
    * b's at 2i+1. Sorting by this code clusters rows that are close in
    * BOTH dimensions, so parquet row-group min/max stats stay narrow
    * on each column and a range predicate on EITHER prunes — the
    * multi-column layout trick a single-column sort can't give
    * (a secondary sort key's stats go full-range within every primary
    * run). Pure integer shift/and/or expression tree: codegen'd,
    * map-side, no shuffle of its own.
    */
  def mortonCode(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Write `df` Z-ordered on two columns: range-partition + sort by
    * the morton code so each output file covers a compact rectangle of
    * the (a, b) key space. `filesTarget` bounds output file count via
    * repartitionByRange on the code (a range exchange — the one
    * shuffle this costs; at 100 TB that is the point: one layout pass
    * buys pruning on every later scan of either column).
    */
  def writeZOrdered(df: DataFrame, path: String, a: Column, b: Column,
      bits: Int = 16, filesTarget: Int = 8): Unit =
    df.withColumn("__z", mortonCode(a, b, bits))
      .repartitionByRange(filesTarget, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** BM25 relevance of each document against a FIXED query term set —
    * the lexical half of a hybrid retrieval stack (BM25 candidates ∪
    * ANN candidates → rerank), and the classic quality-weighted
    * keyword filter for corpus curation. Lucene's +1 idf variant:
    * score = Σ_t ln((N−df+0.5)/(df+0.5)+1) · tf·(k1+1) /
    * (tf + k1·(1−b+b·len/avglen)).
    *
    * Shape: per-doc tf per term via higher-order filters (map-side,
    * no explode of the token stream for a handful of query terms);
    * ONE one-row global stats aggregate (N, Σlen, df per term)
    * broadcast-cross-joined back; scoring row-local. Determinism: the
    * constants enter as engine-folded literal arithmetic and ln is
    * the only transcendental (ROUND-6 gate, the text_logprob
    * precedent).
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = df.select(
      col(idCol) +:
        size(split(col(textCol), " ")).cast("double").as("__len") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(split(col(textCol), " "), x => x === lit(t)))
            .cast("double").as(s"__tf$i")
        }: _*)
      // doc-cardinality (id, len, tf…) frame — no text — behind a lazy
      // barrier: the corpus stats and the scored output both consume
      // it; one corpus scan + tokenize, not two
      .barrier(eager = false)
    val aggs =
      count(lit(1)).cast("double").as("__n") +:
        sum(col("__len")).as("__sumlen") +:
        terms.indices.map(i =>
          sum((col(s"__tf$i") > 0).cast("long")).cast("double").as(s"__df$i"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val score = terms.indices.map { i =>
      val tf = col(s"__tf$i")
      val dfT = col(s"__df$i")
      log((col("__n") - dfT + lit(0.5)) / (dfT + lit(0.5)) + lit(1.0)) *
        (tf * (lit(k1) + lit(1.0))) /
        (tf + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("__len") / (col("__sumlen") / col("__n"))))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col(idCol), round(score, 6).as("bm25"))
  }

  /** Hilbert-curve index of two non-negative integer columns (low
    * `bits` bits each) — the stronger 2-D layout code beside
    * [[mortonCode]]: consecutive indices are always ADJACENT cells, so
    * sorted runs never jump across the key space at quadrant seams and
    * per-file bounding boxes stay compact everywhere, not only at
    * power-of-two block boundaries. Native codegen expression
    * (`hilbert_code` in SQL text); the sequential per-level rotation
    * is why this is an Expression and not a Column fold — see
    * graft.expressions.HilbertCode.
    */
  def hilbertCode(a: Column, b: Column, bits: Int = 16): Column =
    call_function("hilbert_code", a.cast("long"), b.cast("long"), lit(bits))

  /** Write `df` Hilbert-ordered on two columns — [[writeZOrdered]]'s
    * shape (one range exchange + in-partition sort, the once-paid
    * layout pass) with the curve swapped for the seam-free one.
    */
  def writeHilbertOrdered(df: DataFrame, path: String, a: Column, b: Column,
      bits: Int = 16, filesTarget: Int = 8): Unit = {
    GraftExtensions.ensure(df.sparkSession)
    df.withColumn("__h", hilbertCode(a, b, bits))
      .repartitionByRange(filesTarget, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
      .write.mode("overwrite").parquet(path)
  }

  /** Bigram language-model scoring: per-document average conditional
    * log-probability avg ln(c(w1 w2) / c_prefix(w1)) under the
    * corpus's own bigram MLE — the sharper perplexity proxy a quality
    * filter uses where the unigram score (`unigramLogprob`) can't
    * tell fluent text from a bag of frequent words. Prefix counts
    * come from the bigram table itself (sum of counts sharing w1), so
    * probabilities are a proper conditional distribution over
    * observed continuations.
    *
    * Scale shape mirrors unigramLogprob: the bigram explode is the
    * map-side Generate, the frequency and prefix tables are
    * vocab²-bounded two-phase aggregates (checkpointed once), and
    * scoring rejoins them — AQE broadcasts them while they fit, and
    * both joins shuffle on the SAME derived key stream otherwise.
    */
  def bigramLogprob(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // project the token array FIRST: inlining split(text) inside the
    // transform lambda re-evaluates the split per element (O(tokens²)
    // regex work per doc — measured 5 s vs 0.7 s on the 5k-doc corpus);
    // a named column is computed once per row and read by reference.
    val bi = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(col("__toks")) - 1),
          i => concat_ws(" ", element_at(col("__toks"), i),
            element_at(col("__toks"), i + 1))))
          .as("bigram"))
    val freq = bi.groupBy(col("bigram")).agg(count(lit(1)).as("bf"))
      .barrier()
    val pref = freq
      .groupBy(substring_index(col("bigram"), " ", 1).as("w1"))
      .agg(sum(col("bf")).as("pf"))
    // Join the prefix totals onto the DISTINCT-bigram table, not the
    // exploded corpus: bf and pf depend only on the bigram, so scoring
    // the vocab-sized freq table first leaves exactly ONE corpus-sized
    // equi-join (bi ⋈ scored on bigram). The previous shape joined the
    // exploded corpus twice (once on bigram, again on w1) — the second
    // corpus-sized shuffle was the 100×-ladder's worst cold exponent
    // (0.88; the per-copy token suffixing grows the vocab with the
    // corpus, so freq is never broadcastable and every shuffle counts).
    val scored = freq
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(pref, "w1")
      .select(col("bigram"), col("bf"), col("pf"))
    bi.join(scored, "bigram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("bf").cast("double") / col("pf"))), 6)
          .as("avg_logprob"))
  }

  /** PageRank over an undirected edge set: `iters` rounds of the
    * damped power iteration r(v) = (1-d)/N + d·Σ r(u)/deg(u) over the
    * symmetrized edges, started uniform. The document-authority score
    * a curation pipeline uses to weight quality by graph centrality
    * (link graphs, near-dup graphs, citation graphs). Simplified
    * dangling handling: sink nodes keep the teleport term only (their
    * mass is not redistributed) — ranks are comparable, not a strict
    * probability distribution.
    *
    * Scale shape: the out-degree is loop-INVARIANT, so `1/deg(u)` is
    * folded into the edge set ONCE before the loop (one weighted edge
    * table, hash-partitioned on src and checkpointed with its layout
    * preserved — see checkpointPartitioned). Each round is then exactly
    * ONE equi-join (weighted edges ⋈ |V| rank rows — only the rank side
    * shuffles) and one map-side-combined sum; state per round is |V|
    * rows, never edge-materialized; `localCheckpoint` truncates lineage
    * so plan size stays constant across rounds, the same discipline as
    * `connectedComponents`. The single driver scalar is N (one count
    * at start). Hot vertices skew the contribution groupBy like any
    * aggregate key — AQE's skew handling applies; degree is bounded by
    * the edge-generation policy (banded candidates here).
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, idCol: String,
      srcCol: String, dstCol: String, iters: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && damping > 0.0 && damping < 1.0)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val symRaw = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = symRaw.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // Weighted edges (src, dst, w = 1/deg(src)): built once, partitioned
    // by the per-round join key, layout preserved through the checkpoint
    // — the loop never touches raw edges or deg again.
    val sym = checkpointPartitioned(
      symRaw.join(deg, "src")
        .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w"))
        .repartition(col("src")))
    val n = nodes.select(col(idCol).cast("long").as("id")).distinct()
      .barrier()
    val nN = n.count()
    val teleport = (1.0 - damping) / nN
    var ranks = n.withColumn("r", lit(1.0 / nN))
    // Intermediate rounds checkpoint LAZILY and only the LAST round is
    // eager (r17, the connectedComponents fusion): an eager barrier per
    // round paid one result-stage driver action per iteration; a lazy
    // one defers that stage into the NEXT round's shuffle
    // materialization (its map stage computes — and, in the default
    // localCheckpoint mode, CACHES via the persist-at-mark storage
    // level — the previous round's blocks as part of its lineage), so
    // the loop runs ONE driver action total instead of one per round.
    // The per-round plan is a flat LogicalRDD either way (O(1) size).
    // The price is transient storage: superseded rounds release only
    // after the final materialization — peak (iters+1)·|V| narrow
    // (id, r) rows instead of 2·|V|, bounded by the iteration CONSTANT,
    // never by the edges. Under `spark.graft.barrier.reliable`, lazy
    // marking persists nothing (the stale releases are no-ops) and
    // intermediates recompute within the final write — correct; the
    // reliable flag trades this recompute for executor-loss survival.
    val stale = scala.collection.mutable.ListBuffer.empty[DataFrame]
    for (it <- 1 to iters) {
      val contrib = sym
        .join(ranks, sym("src") === ranks("id"))
        .groupBy(sym("dst").as("id"))
        .agg(sum(col("w") * col("r")).as("x"))
      val prev = ranks
      ranks = n.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) + lit(damping) * coalesce(col("x"), lit(0.0)))
            .as("r"))
        .barrier(eager = it == iters)
      // round 1's `prev` is not a checkpoint handle — skip it
      if (it > 1) stale += prev
    }
    // every superseded round's blocks exist once the final eager
    // barrier materialized — release them, then the loop inputs
    stale.foreach(releaseCheckpoint)
    releaseCheckpoint(sym); releaseCheckpoint(n)
    ranks
  }

  /** Per-vertex triangle counts over an undirected edge set — the
    * local clustering signal (tightly-knit boilerplate families,
    * template clusters, citation cliques) that pairwise similarity
    * and connected components both miss: a component says "these
    * touch", a triangle count says "these are MUTUALLY similar".
    *
    * Algorithm: degree-ordered orientation. Each undirected edge is
    * directed from its lower (degree, id) endpoint to the higher, a
    * total order, so the oriented graph is acyclic and every triangle
    * appears as exactly ONE path pattern u→v, v→w plus the closing
    * edge u→w. Counting is two equi-joins: oriented ⋈ oriented on the
    * middle vertex (wedge generation), then ⋈ oriented on the (u, w)
    * closing pair. The triangle SET is orientation-invariant — any
    * total order yields the same triangles — which is what keeps this
    * SQL-oracle-able while the engine uses the scale-optimal order.
    *
    * Scale shape: degree-ordering is THE bound — max out-degree is
    * O(√m), so wedge count is O(m^1.5) total (Schank/Wagner; the
    * MapReduce triangle-count standard) versus O(Σ deg²) under id
    * order, where one celebrity vertex quadratizes the join. All three
    * joins are shuffle equi-joins on vertex keys; nothing driver-side.
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // canonical edge set feeds the degree aggregate (twice, via the
    // union) AND the orientation join; the oriented set feeds THREE
    // self-join branches — materialize both once (the
    // connectedComponents lineage discipline), or Spark re-evaluates
    // the whole upstream edge-generation plan per branch.
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .barrier()
    val deg = e0.select(col("a").as("v")).unionAll(e0.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val withDeg = e0
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val oriented = withDeg.select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t")))
          .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .barrier()
    // e0 fed deg/withDeg, both now folded into the materialized
    // `oriented`; only `oriented` (referenced thrice by the returned
    // plan) must stay pinned
    releaseCheckpoint(e0)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.t") === col("e2.s"))
      .select(col("e1.s").as("u"), col("e1.t").as("v"), col("e2.t").as("w"))
    val tris = wedges.join(oriented.as("e3"),
      col("u") === col("e3.s") && col("w") === col("e3.t"))
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
  }

  /** Deterministic WEIGHTED priority sample: keep the `k` rows with the
    * smallest priority `u / w` per stratum, where `u` is the first 32
    * bits of the key's md5 (a content-addressed uniform) and `w` the
    * row's weight column — higher weight ⇒ smaller expected priority ⇒
    * higher inclusion odds, the weighted twin of `deterministicSample`.
    * The priority is one integer-by-double IEEE division — exactly
    * reproducible across runs, partitionings, and engines (no
    * transcendentals, whose last-ulp variance could flip near-ties).
    *
    * Scale shape: the rank filter compiles to WindowGroupLimit, so each
    * input partition forwards only its local top-k per stratum — the
    * shuffle moves O(partitions × strata × k), never the corpus. With
    * few strata the post-shuffle side is k-bounded per stratum, so the
    * classic few-huge-groups window skew does not apply.
    */
  def weightedPrioritySample(df: DataFrame, keyCol: String,
      weightCol: String, strataCols: Seq[String], k: Int,
      uCol: String = "sample_u"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    import org.apache.spark.sql.expressions.Window
    val u = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(col("__prio"), col(keyCol))
    df.withColumn(uCol, u)
      .withColumn("__prio", col(uCol).cast("double") / col(weightCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__prio", "__rn")
  }

  /** Redaction: apply `patterns` (regex → replacement) left to right to
    * `text`. The PII-scrub shape of a curation pipeline (mask numbers,
    * emails, addresses before training). Pure map-side codegen'd
    * regexp_replace chain — pushes through any downstream plan, no
    * shuffle, no UDF; at 100 TB the cost is the regex engine alone.
    */
  def redact(text: Column, patterns: Seq[(String, String)]): Column =
    patterns.foldLeft(text) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }

  /** Fuzzy near-dup candidate pairs by BLOCKING + edit distance: rows
    * sharing `blockKey` are paired (id ascending, so each unordered
    * pair appears once) and rescored with full Levenshtein; `isDupCol`
    * flags pairs whose distance relative to the longer side is ≤
    * `maxRel`. The classic record-linkage shape: the block equi-join
    * bounds comparisons to within-block pairs (vs the quadratic
    * all-pairs), and the O(len²) distance runs only on candidates.
    *
    * Scale notes: block-key cardinality controls the join fan-out —
    * callers pick a key whose block sizes are bounded (first tokens,
    * minhash band, simhash prefix); a hot block salts like any skewed
    * equi-join. For long texts swap the rescorer for the
    * threshold-bounded `levenshtein(l, r, t)` (early-abandons the DP
    * once the band exceeds t — returns -1 ⇒ not a dup) — the gated
    * query keeps the unbounded form so the distance VALUE is
    * oracle-checkable.
    */
  /** Late-arrival audit: per key, replay the stream in ARRIVAL order
    * (`arrivalCol`) and measure each event's lateness against the
    * running event-time high-water mark — `late_us` = how far below
    * the key's watermark this event arrived (0 if in order; the first
    * arrival has no watermark and is never late). The delay
    * distribution `withWatermark` must cover. ONE key-partitioned
    * running-max window, O(1) state/row, no self-join.
    */
  /** CONTRACT: `arrivalCol` must be a TOTAL order per key (an ingest
    * sequence / offset). With tied arrivals the running high-watermark
    * over the tie group is sort-order-dependent — the same class of
    * nondeterminism a streaming system has when two events share an
    * offset, so the fix belongs at ingest (assign unique sequence
    * numbers), not here.
    */
  def latenessAudit(df: DataFrame, keyCol: String, arrivalCol: String,
      tsCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(arrivalCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__hwm", max(col(tsCol)).over(w))
      .withColumn("late_us",
        // coalesce BEFORE greatest: the first arrival's watermark is
        // NULL, and greatest() null semantics differ across engines
        greatest(coalesce(
          unix_micros(col("__hwm")) - unix_micros(col(tsCol)), lit(0L)),
          lit(0L)))
      .drop("__hwm")
  }

  def fuzzyDupPairs(df: DataFrame, idCol: String, textCol: String,
      blockKey: Column, maxRel: Double,
      isDupCol: String = "is_dup"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(textCol).as("text_a"),
      blockKey.as("__blk"))
    val b = df.select(col(idCol).as("id_b"), col(textCol).as("text_b"),
      blockKey.as("__blk"))
    a.join(b, Seq("__blk")).filter(col("id_a") < col("id_b"))
      .withColumn("lev", levenshtein(col("text_a"), col("text_b")).cast("long"))
      // greatest(..., 1): two EMPTY texts in one block made this a
      // 0/0 (ANSI divide-by-zero crash — found by ApiFuzzSpec); their
      // lev is 0, so the floor-1 denominator classifies them dup
      .withColumn(isDupCol,
        col("lev").cast("double") /
          greatest(length(col("text_a")), length(col("text_b")), lit(1))
          <= maxRel)
      .drop("__blk")
  }

  /** Global rank (`rnk`, 1-based) and inclusive prefix sums
    * (`cum_<c>`) over a VALUE-ordered frame without a global sort or
    * single-partition window — globalPrefixSums' sibling for frames
    * ordered by data values (revenue desc, score desc) rather than a
    * dense non-negative id.
    *
    * Shape: `repartitionByRange` on the order expressions puts each
    * shard's rows in a contiguous key range; per-shard ranks and
    * running sums ride BOUNDED windows keyed by `spark_partition_id`;
    * the exclusive scan over the ≤`shards`-row (count, total) frame
    * runs DRIVER-SIDE on a collect bounded by the `shards` config
    * constant (the `RDD.zipWithIndex` pattern), and the per-shard
    * offsets return to the plan as a literal map projection — no
    * offsets join, no single-partition window. Shard BOUNDARIES are
    * sampling-dependent (hence the materialization barriers: the
    * collect and the final output must see the SAME sampled
    * partitioning), but ranks and cumsums depend only on the global
    * order, so outputs are deterministic whenever `orderExprs` is a
    * total order (pass a unique tie-break key) and the summed columns
    * are LONG (exact commutative arithmetic). NOTE: the offsets
    * collect makes this an ACTION at plan-construction time (like
    * bpeTrain/pqTrain) — it is also the action that materializes the
    * lazy barriers, so consumers pay no extra pass.
    *
    * `withTotals = true` additionally attaches the GRAND totals as
    * constant columns — `tot_rn` (total row count) and `tot_<c>` per
    * sum column — summed driver-side from the same collected
    * ≤`shards`-row frame and inlined as literals. Callers that need
    * "cum vs total" (pareto cuts, budget fills, gain denominators)
    * read them for free instead of re-aggregating the input a second
    * time (a second fact pass at corpus scale, the exact redundancy
    * this helper exists to avoid).
    */
  def sortedPrefixSums(df: DataFrame, orderExprs: Seq[Column],
      sumCols: Seq[String], shards: Int = 64,
      withTotals: Boolean = false): DataFrame = {
    require(orderExprs.nonEmpty && shards > 0)
    requireIntegralSumCols(df, sumCols, "sortedPrefixSums")
    // Two LAZY materialization barriers, zero eager jobs:
    // (1) below the range exchange — the range partitioner's SAMPLING
    //     pass and the shuffle itself both read the input snapshot, so
    //     the upstream (often a corpus-scale aggregate) computes ONCE;
    // (2) ABOVE the run windows — the shard-totals branch and the
    //     final joined output both consume the numbered/running rows,
    //     and a barrier erases partitioning info (AQE captures
    //     UnknownPartitioning), so a pre-window barrier made BOTH
    //     consumers re-exchange the full frame by __shard (measured in
    //     the r10 plan audit: Exchange+Sort per branch). Post-window,
    //     the window's one exchange+sort runs once inside the barrier
    //     materialization and every consumer reads finished blocks —
    //     one full-data exchange instead of two, and the shard totals
    //     degrade to a map-side max/max_by over already-running sums
    //     (the last running value per shard IS its total).
    // The offsets-collect below materializes both; every other
    // consumer reads the cached blocks.
    val snap = df.barrier(eager = false)
    val parted = snap.repartitionByRange(shards, orderExprs: _*)
      .withColumn("__shard", spark_partition_id().cast("long"))
    val w = Window.partitionBy(col("__shard")).orderBy(orderExprs: _*)
    val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run0 = parted.withColumn("__rn", row_number().over(w).cast("long"))
    val run = sumCols.foldLeft(run0) { (d, c) =>
      // the running NON-NULL count rides the SAME window operator (no
      // extra exchange): it decides cum-NULLness GLOBALLY below — the
      // run sum alone resets to NULL at every shard whose prefix is
      // all-NULL, which made cum_ depend on the shard count whenever a
      // NULL run crossed a shard boundary after non-NULL values (found
      // by ApiFuzzSpec; the window form this machinery replaces keeps
      // the last running value through NULLs).
      d.withColumn(s"__run_$c", sum(col(c)).over(wcum))
        .withColumn(s"__nn_$c", count(col(c)).over(wcum))
    }.barrier(eager = false)
    val aggs = max(col("__rn")).as("__cnt") +:
      (sumCols.map(c =>
        max_by(col(s"__run_$c"), col("__rn")).cast("long").as(c)) ++
       sumCols.map(c =>
        max(col(s"__nn_$c")).as(s"__nncnt_$c")))
    val totals = run.groupBy(col("__shard"))
      .agg(aggs.head, aggs.tail: _*)
    // Exclusive scan over the ≤`shards`-row totals frame DRIVER-SIDE —
    // the `RDD.zipWithIndex` pattern (Spark's own zipWithIndex runs
    // exactly this per-partition-counts collect): the frame is bounded
    // by the `shards` CONFIG constant, never by the data, so the
    // collect is a convergence-scalar-class action at any corpus size.
    // Folding it out of the plan removes the lit(0) exclusive-scan
    // window, its exchange, the broadcast build, and the per-row
    // offsets JOIN itself — rnk/cum_ become literal-map projections
    // over the barriered run blocks (measured r10: rfm family −20-30%
    // per-evaluation before this fold, more after). This makes
    // sortedPrefixSums an ACTION at plan-construction time, like
    // bpeTrain/pqTrain; the collect is also what materializes the two
    // lazy barriers, so no extra pass is paid.
    val totRows = totals.collect().sortBy(_.getLong(0))
    val cnts = totRows.map(_.getLong(1))
    // A shard whose sum column is entirely NULL yields a NULL
    // max_by total (SQL aggregates skip NULLs) — read it as 0, the
    // contribution NULL rows make to a running sum, matching the
    // window-based offsets this fold replaced (getLong would NPE).
    def sumAt(r: org.apache.spark.sql.Row, i: Int): Long = {
      val v = r.getAs[java.lang.Long](i)
      if (v == null) 0L else v.longValue()
    }
    val offRn = totRows.map(_.getLong(0))
      .zip(cnts.scanLeft(0L)(_ + _)).toMap
    val offC: Map[String, Map[Long, Long]] = sumCols.zipWithIndex.map {
      case (c, i) =>
        val vals = totRows.map(sumAt(_, 2 + i))
        c -> totRows.map(_.getLong(0)).zip(vals.scanLeft(0L)(_ + _)).toMap
    }.toMap
    // prefix NON-NULL counts per shard: cum_ is NULL exactly while the
    // GLOBAL prefix holds zero non-NULL values (single-window parity)
    val offNN: Map[String, Map[Long, Long]] = sumCols.zipWithIndex.map {
      case (c, i) =>
        val vals = totRows.map(sumAt(_, 2 + sumCols.length + i))
        c -> totRows.map(_.getLong(0)).zip(vals.scanLeft(0L)(_ + _)).toMap
    }.toMap
    def mapLit(m: Map[Long, Long]): Column =
      if (m.isEmpty) typedlit(Map(-1L -> 0L)) else typedlit(m)
    val joined = run
      .withColumn("rnk",
        element_at(mapLit(offRn), col("__shard")) + col("__rn"))
    val withCums = sumCols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"cum_$c",
        when(element_at(mapLit(offNN(c)), col("__shard")) +
            col(s"__nn_$c") === 0L, lit(null).cast("long"))
          .otherwise(
            (element_at(mapLit(offC(c)), col("__shard")) +
              coalesce(col(s"__run_$c").cast("long"), lit(0L)))))
    }
    val withTots =
      if (!withTotals) withCums
      else sumCols.foldLeft(
          withCums.withColumn("tot_rn", lit(cnts.sum))
        ) { (d, c) =>
          val i = sumCols.indexOf(c)
          d.withColumn(s"tot_$c", lit(totRows.map(sumAt(_, 2 + i)).sum))
        }
    withTots.drop("__shard" +: "__rn" +:
      (sumCols.map(c => s"__run_$c") ++ sumCols.map(c => s"__nn_$c")): _*)
  }

  /** Exact SQL-NTILE(k) bucket from a 1-based global rank and total
    * row count — integer-only arithmetic, bit-identical to the window
    * NTILE in every engine: with n = q·k + m, the first m buckets
    * carry q+1 rows. Pair with sortedPrefixSums' `rnk` to decile an
    * UNBOUNDED frame without the single-partition NTILE window.
    */
  def ntileFromRank(rnk: Column, n: Column, k: Int): Column = {
    require(k > 0)
    val kL = lit(k.toLong)
    val q = call_function("div", n, kL)
    val m = pmod(n, kL)
    val thr = (q + 1) * m
    when(rnk <= thr, call_function("div", rnk + q, q + 1))
      .otherwise(m + call_function("div", rnk - thr + q - 1, q))
      .cast("long")
  }

  /** The two-phase prefix sums are EXACT only for integral sum columns:
    * shard totals are cast to LONG for the offsets frame, while the
    * per-row running sums stay in the column's native type. A double or
    * decimal column would silently truncate its `tot_`/`__off_` side —
    * fail fast instead (the caller should pre-scale to integer units,
    * e.g. cents, exactly as the rfm/pareto/token-budget queries do).
    */
  private def requireIntegralSumCols(df: DataFrame, sumCols: Seq[String],
      fn: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral: Set[org.apache.spark.sql.types.DataType] =
      Set(ByteType, ShortType, IntegerType, LongType)
    sumCols.foreach { c =>
      val dt = df.schema(c).dataType
      require(integral.contains(dt),
        s"$fn: sum column '$c' must be an integral type (BYTE/SHORT/INT/" +
          s"LONG) for exact prefix sums; got ${dt.simpleString}. " +
          "Pre-scale fractional values to integer units (e.g. cents).")
    }
  }

  /** Global inclusive prefix sums of integral columns over an
    * UNBOUNDED ordered spine without a single-partition window — the
    * scale shape an unpartitioned `Window.orderBy` cumsum cannot give
    * (at 10⁹ rows that window is one task sorting the whole spine).
    *
    * Two-phase, the `RDD.zipWithIndex` pattern re-expressed on
    * DataFrames: (1) shard by `orderCol DIV shardWidth` — an
    * order-monotone key, so per-shard running sums ride a BOUNDED
    * window partition; (2) the exclusive scan over the shard-totals
    * frame (~n/shardWidth rows) is a driver-bounded window broadcast
    * back as per-shard offsets. `cum_<c> = offset + run`. Everything
    * is ONE lazy plan — no action, no materialization (value-derived
    * shards make both branches consistent by construction).
    *
    * Requires: non-negative integral `orderCol` whose values are
    * dense enough that n/shardWidth shards stay tiny relative to the
    * data (ingest ids, epoch days, row sequence numbers), and LONG
    * sum columns (exact integer arithmetic — bit-identical in any
    * order).
    */
  def globalPrefixSums(df: DataFrame, orderCol: String,
      sumCols: Seq[String], shardWidth: Long = 65536L): DataFrame = {
    require(sumCols.nonEmpty && shardWidth > 0)
    requireIntegralSumCols(df, sumCols, "globalPrefixSums")
    // __shard derives from DATA VALUES (id DIV width), so the run
    // branch and the totals branch agree by construction even if the
    // upstream recomputes — no materialization barrier needed, and the
    // whole prefix sum stays ONE lazy plan (zero extra Spark jobs; the
    // shared upstream dedupes via exchange reuse).
    val shard = expr(s"CAST($orderCol AS BIGINT) DIV $shardWidth")
    val sharded = df.withColumn("__shard", shard)
    val w = Window.partitionBy(col("__shard")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = sumCols.foldLeft(sharded) { (d, c) =>
      d.withColumn(s"__run_$c", sum(col(c)).over(w))
    }
    val totAggs = sumCols.map(c => sum(col(c)).cast("long").as(c))
    val totals = sharded.groupBy(col("__shard"))
      .agg(totAggs.head, totAggs.tail: _*)
    // Exclusive scan over the SHARD-TOTALS frame: n/shardWidth rows
    // (one per non-empty shard) — the driver-bounded class, not the
    // data; lit(0) partition keys the bounded single partition.
    val ow = Window.partitionBy(lit(0)).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sumCols.foldLeft(totals) { (d, c) =>
      d.withColumn(s"__off_$c",
        coalesce(sum(col(c)).over(ow), lit(0L)).cast("long"))
    }.select(col("__shard") +:
      sumCols.map(c => col(s"__off_$c")): _*)
    val joined = run.join(broadcast(offsets), Seq("__shard"))
    val withCums = sumCols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"cum_$c",
        (col(s"__off_$c") + col(s"__run_$c")).cast("long"))
    }
    withCums.drop("__shard" +:
      sumCols.flatMap(c => Seq(s"__run_$c", s"__off_$c")): _*)
  }
}
