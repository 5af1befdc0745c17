package graft.operators

import graft.Query
import graft.api.Barrier._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Text-analysis operators for large-scale training-data pipelines:
  * quality scoring, document fingerprinting, marker-based language ID.
  * All pure Catalyst expressions (split / higher-order filter / md5) —
  * per-document work is map-side only; the only shuffles are the final
  * aggregations, keyed on low-cardinality (lang) or unique (doc_id)
  * columns. Everything here runs unchanged over a 100 TB document set.
  */
object Text {

  private val stopwords = Seq("the", "a", "of", "and", "to")

  /** `text_quality` — per-document quality signals: token count,
    * stopword count, average token length, and a stopword-heavy flag.
    * The flag uses integer arithmetic (n_stop*10 >= n_tokens), not a
    * double threshold, so the band edges are exact in both engines.
    * Average token length exploits the corpus's single-space invariant:
    * sum(token lengths) = n_chars - (n_tokens - 1).
    */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin(stopwords: _*)))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        nStop.cast("long").as("n_stop"),
        round((col("n_chars") - nTok + 1).cast("double") / nTok, 6).as("avg_token_len"),
        (nStop * 10 >= nTok).as("stop_heavy"))
      .orderBy(col("doc_id"))
  }

  /** `text_fingerprint` — canonical document fingerprint: md5 over the
    * sorted distinct token set (an order-insensitive content signature,
    * the building block of shingle-based near-dedup). Per lang: #docs
    * and #distinct fingerprints.
    */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val print_ = md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
    Tables.documents(spark, sfDir)
      .select(col("lang"), print_.as("fp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_fingerprints"))
      .orderBy(col("lang"))
  }

  /** `text_langid` — n-gram-marker language ID heuristic: count English
    * vs German marker tokens, classify by majority (ties → 'und'
    * undetermined), then cross-tab guesses against the labeled lang.
    * On this synthetic corpus (shared vocabulary across langs) the value
    * is the mechanics: the same marker-count plan is how a real
    * stopword-profile classifier runs at scale — one map-side pass, one
    * small aggregation.
    */
  def textLangid(spark: SparkSession, sfDir: String): DataFrame = {
    val enMarkers = Seq("the", "a", "of")
    val deMarkers = Seq("der", "die", "das")
    val toks = split(col("text"), " ")
    val nEn = size(filter(toks, t => t.isin(enMarkers: _*)))
    val nDe = size(filter(toks, t => t.isin(deMarkers: _*)))
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        when(nEn > nDe, "en").when(nDe > nEn, "de").otherwise("und").as("guess"))
      .groupBy(col("lang"), col("guess"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("guess"))
  }

  /** `text_tokens_regex` — regex tokenization (the BPE-ish path: split
    * on any non-alphanumeric run, not just literal spaces): per source,
    * total and distinct token counts. The regex runs inside the
    * codegen'd split; the explode is a Catalyst Generate feeding a
    * 2-phase aggregation.
    */
  def textTokensRegex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(array_remove(split(col("text"), "[^a-z0-9]+"), "")).as("token"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("n_distinct"))
      .orderBy(col("source"))

  /** `text_winnow` — winnowing (rolling-hash) fingerprint statistics
    * per source: #docs, total fingerprints kept, #docs sharing at least
    * one fingerprint with another doc (the plagiarism/near-dup signal
    * winnowing exists for). Deterministic (xxhash64, fixed k=5/w=4) but
    * hash-scheme-specific ⇒ no SQL oracle; the coverage guarantee is
    * pinned in ApiSpec, accounting in TextSpec.
    */
  def textWinnow(spark: SparkSession, sfDir: String): DataFrame = {
    // Barriered: the HOF fingerprint cascade is the dominant cost and
    // the frame is consumed three times (join side + the sharing scan's
    // two pair passes) — one materialization, zero re-derives. (Without
    // the barrier the plan LOOKS cheap under a count() action — pruning
    // guts the fp column and eliminates the join — but any real
    // consumer, Verify's dump included, pays the cascade 3×.)
    // The repartition spreads the CPU-bound cascade across tasks before
    // it runs: a compact single-row-group input would otherwise put the
    // whole hash pass on ONE task. The partition count MUST be explicit
    // (see Barrier's AQE-coalesce note): `repartition(col)` with no N
    // emits an AQE-advisory exchange, and AQE coalesces the few MB of
    // text right back into one partition — the cost here is CPU per
    // row, which byte-based coalescing cannot see (measured 8.3 s
    // keyed-no-N vs 0.9 s explicit-N at sf0.1; this exact footgun
    // shipped in r10 as a 3× bench regression). One pass of corpus
    // text through the exchange is the price; the hash work it
    // parallelizes dominates it at every scale, and at production
    // scale the same exchange rebalances skewed file splits.
    // the fingerprint index IS the artifact winnowing systems persist
    // (per-corpus parquet via Materialize.once; formerly a per-build
    // localCheckpoint): three consumers read the written table
    val docs = graft.sources.Materialize.once(spark, sfDir,
      Seq("documents"), "winnow_fp")(
      Tables.documents(spark, sfDir)
        .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
        .select(col("doc_id"), col("source"),
          graft.api.GraftOps.winnowFingerprints(col("text")).as("fp")))
    // Sharing scan with BOUNDED per-group state (no collect_set — see
    // GraftOps.sharedFingerprintIds; a hot boilerplate fingerprint
    // would otherwise collect every sharing doc_id into one reducer
    // row). Output identical to the collect_set form, pinned in
    // TextSpec (plan) and the verify baseline diff (values).
    val shared = graft.api.GraftOps.sharedFingerprintIds(docs, "doc_id", "fp")
      .withColumn("has_shared", lit(1L))
    docs.join(shared, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("fp")).cast("long")).as("n_fingerprints"),
        sum(coalesce(col("has_shared"), lit(0L))).as("n_docs_sharing"))
      .orderBy(col("source"))
  }

  /** `text_winnow_md5` — oracle-gated twin of text_winnow: the SAME
    * shift-and-min winnowing cascade (k=5, w=4, distinct window minima,
    * shared-fingerprint scan) over a 48-bit md5-prefix gram hash that
    * DuckDB can reproduce — so the window-minimum algebra, the
    * fingerprint accounting, and the sharing semi-join are value-checked
    * end-to-end (the dedup_simhash_md5 pattern). The production query
    * stays on the 64-bit xxhash64 codegen expression; only the hash
    * differs. Plan shape identical to text_winnow: map-side HOF cascade,
    * two-phase countDistinct sharing scan, per-source aggregate.
    */
  def textWinnowMd5(spark: SparkSession, sfDir: String): DataFrame = {
    val gramHash = (s: org.apache.spark.sql.Column) =>
      conv(substring(md5(s), 1, 12), 16, 10).cast("long")
    // same artifact shape as text_winnow's fingerprint index
    val docs = graft.sources.Materialize.once(spark, sfDir,
      Seq("documents"), "winnow_fp_md5")(
      Tables.documents(spark, sfDir)
        // explicit-N spread of the cascade; see textWinnow's AQE note
        .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
        .select(col("doc_id"), col("source"),
          graft.api.GraftOps.winnowFingerprintsHashed(col("text"), gramHash, 5, 4)
            .as("fp")))
    val shared = graft.api.GraftOps.sharedFingerprintIds(docs, "doc_id", "fp")
      .withColumn("has_shared", lit(1L))
    docs.join(shared, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("fp")).cast("long")).as("n_fingerprints"),
        sum(coalesce(col("has_shared"), lit(0L))).as("n_docs_sharing"))
      .orderBy(col("source"))
  }

  /** `text_repetition` — Gopher-style repetition quality signals per
    * document (Rae et al. 2021 §A1.1.2 use exactly these to drop
    * boilerplate/spam before LLM training): duplicate-token fraction
    * (1 − distinct/total) and top-bigram fraction (most frequent
    * bigram's share of all bigrams), plus a repetitive flag on exact
    * integer arithmetic (top bigram ≥ 20% of bigrams).
    *
    * The top-bigram count is computed WITHOUT an explode/groupBy
    * shuffle: sort the per-doc bigram array, then the longest equal-run
    * (≡ max frequency) falls out of one `aggregate` higher-order fold —
    * per-document work stays map-side, the whole query is one pass over
    * the corpus with no shuffle at all (the output is per-doc).
    */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    // corpus binding of GraftOps.repetitionSignals; n_bigrams is
    // derivable as greatest(n_tokens - 1, 1) (single-space invariant)
    val nBigrams = greatest(col("s.n_tokens") - 1, lit(1L))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.api.GraftOps.repetitionSignals("text").as("s"))
      .select(col("doc_id"),
        col("s.n_tokens").as("n_tokens"),
        col("s.n_distinct").as("n_distinct"),
        round(lit(1.0) - col("s.n_distinct").cast("double") / col("s.n_tokens"), 6)
          .as("dup_token_frac"),
        round(col("s.top_bigram_n").cast("double") / nBigrams, 6)
          .as("top_bigram_frac"),
        (col("s.top_bigram_n") * 5 >= nBigrams).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  /** `text_tfidf` — corpus-level TF-IDF: per token, total term
    * frequency, document frequency, and tf·ln(N/df); top-20 by score.
    * Two-phase aggregation after a Generate (explode) — partial
    * aggregation absorbs the token stream map-side, so the shuffle
    * carries one row per (partition, distinct token), not per token
    * occurrence. N comes from a count action (a catalog statistic at
    * scale, not a scan).
    */
  def textTfidf(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.tfidf(Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy(col("tfidf").desc, col("token"))
      .limit(20)

  /** `text_decontaminate` — benchmark-contamination scan: how many
    * corpus documents share at least one 5-gram with a probe set (here
    * the first 10 docs standing in for an eval benchmark)? The standard
    * pre-training decontamination check. Probe grams are DISTINCT and
    * broadcast (an eval suite is tiny next to the corpus), so the scan
    * is one map-side semi-join over exploded grams + a distinct on hit
    * doc ids — no shuffle of the corpus text anywhere.
    */
  def textDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    // corpus binding of GraftOps.contaminatedIds: first 10 docs stand
    // in for the eval benchmark, the rest are the training corpus
    val docs = Tables.documents(spark, sfDir)
    val rest = docs.filter(col("doc_id") >= 10)
    val hits = graft.api.GraftOps.contaminatedIds(
        rest, docs.filter(col("doc_id") < 10), "doc_id", "text", k = 5)
      .withColumn("hit", lit(1L))
    rest.select(col("doc_id"), col("lang"))
      .join(hits, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .orderBy(col("lang"))
  }

  /** `text_logprob` — unigram log-probability quality score per doc:
    * avg over tokens of ln(tf/N) against the corpus's own unigram
    * model (the cheap LM-score filter of training-data pipelines —
    * gibberish and boilerplate sit in the tails). The frequency table
    * is the broadcast side (a vocabulary is tiny next to its corpus);
    * token stream joins map-side, one aggregation per doc.
    */
  def textLogprob(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.unigramLogprob(
        Tables.documents(spark, sfDir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** `text_bigram_lm` — per-doc bigram conditional log-probability
    * (GraftOps.bigramLogprob): the perplexity-proxy quality score
    * under the corpus's own bigram MLE. See the library scaladoc for
    * the two-phase vocab²-bounded shape.
    */
  def textBigramLm(spark: SparkSession, sfDir: String): DataFrame =
    // per-doc quality scores are a persisted curation artifact (the LM
    // filter stage writes them once per corpus snapshot; downstream
    // selection reads the table) — Materialize.once, like winnow_fp
    graft.sources.Materialize.once(spark, sfDir,
        Seq("documents"), "bigram_lm_scores")(
      graft.api.GraftOps.bigramLogprob(
        Tables.documents(spark, sfDir), "doc_id", "text"))
      .orderBy(col("doc_id"))

  /** `text_redact` — PII-style masking audit over the event payloads:
    * every digit run in `props` is replaced with a `<NUM>` token
    * (`GraftOps.redact`), then the masked corpus is summarized per
    * event type — row count, digits masked, number of DISTINCT masked
    * shapes, and the min/max shape strings (value-gating the exact
    * replacement output, not just its statistics). The scrub a
    * training pipeline runs before text ever reaches a tokenizer.
    *
    * Scale shape: the regex chain is map-side codegen; the distinct-
    * shape count aggregates two-level ((type, shape) partial-reduces
    * before the exchange, then per-type counts) so no Expand and no
    * per-row shuffle — same discipline as dq_profile. At 100 TB the
    * shuffle carries one row per distinct shape per partition.
    */
  def textRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val red = Tables.events(spark, sfDir).select(
      col("event_type"),
      graft.api.GraftOps.redact(col("props"),
        Seq("[0-9]+" -> "<NUM>")).as("redacted"),
      (length(col("props")) -
        length(regexp_replace(col("props"), "[0-9]", ""))).cast("long")
        .as("nd"))
    red.groupBy(col("event_type"), col("redacted"))
      .agg(count(lit(1)).as("c"), sum(col("nd")).as("d"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_events"), sum(col("d")).as("n_digits"),
        count(lit(1)).as("n_shapes"),
        min(col("redacted")).as("shape_min"),
        max(col("redacted")).as("shape_max"))
      .orderBy(col("event_type"))
  }

  /** `text_chunk` — sliding context-window chunking of the corpus
    * (GraftOps.chunkWindows, window 64 / stride 48): one row per
    * chunk with its offset, token count, and content md5. The
    * context-length shaper every LLM pipeline runs between curation
    * and packing — long documents become overlapping model-window
    * pieces (pack_sequences then bins the short side). The chunking
    * itself is map-side — one token-array projection, one Generate,
    * no aggregation (pinned in TextSpec); the final orderBy is a
    * presentation sort for the gate (one range exchange, dropped when
    * a pipeline consumes chunks unordered).
    */
  def textChunk(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.chunkWindows(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
        "doc_id", "text", window = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** `text_keywords` — per-document top-3 keywords by per-doc TF-IDF
    * (GraftOps.docKeywords): the extractive tagging primitive for
    * faceting and weak labelling. The corpus document-frequency
    * vocabulary builds once (materialized, vocab-sized); the scoring
    * pass is one tokenize → tf aggregate → vocab join → per-doc
    * row_number cut, with ROUND-6 scores and token tie-breaks
    * (cross-engine-unique selection).
    */
  def textKeywords(spark: SparkSession, sfDir: String): DataFrame =
    // the per-doc tag table is the weak-label artifact a pipeline
    // persists once per corpus snapshot (Materialize.once, like
    // winnow_fp / bigram_lm_scores)
    graft.sources.Materialize.once(spark, sfDir,
        Seq("documents"), "keyword_tags")(
      graft.api.GraftOps.docKeywords(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 3))
      .orderBy(col("doc_id"), col("rank"))

  /** `text_pmi` — pointwise mutual information of adjacent token
    * pairs: PMI = ln(c(x,y)·N / (c(x)·c(y))) over the whole corpus,
    * for pairs seen ≥ 5 times — the collocation detector ("new york",
    * "machine learning") that phrase-mining and tokenizer-merge
    * pipelines rank candidates with (BPE's merge objective is the
    * count form of the same statistic).
    *
    * Spark-first shape: bigrams come from the zip-with-shifted-slice
    * idiom (argument-position arrays — the interpreted-HOF O(n²)
    * lesson), counted in one vocab²-bounded 2-phase aggregate; the
    * unigram vocabulary is one vocab-sized aggregate joined back
    * twice (AQE broadcasts it), and the corpus token count N is a
    * one-row broadcast. All counts are exact int64; the PMI is ONE
    * IEEE division inside ln, ROUND-6ed with identical operation
    * order in the oracle.
    */
  def textPmi(spark: SparkSession, sfDir: String): DataFrame =
    // the collocation table IS the persisted phrase-mining artifact
    // (tokenizer-merge candidates are ranked from the written table)
    graft.sources.Materialize.once(spark, sfDir,
        Seq("documents"), "pmi_collocations")(textPmiBuild(spark, sfDir))
      .orderBy(col("w1"), col("w2"))

  private def textPmiBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val tk = split(col("text"), " ")
    val toks = Tables.documents(spark, sfDir).select(tk.as("tk"))
    val bigrams = toks.select(explode(slice(
        zip_with(col("tk"), slice(col("tk"), lit(2), size(col("tk"))),
          (a, b) => concat_ws(" ", a, b)),
        lit(1), greatest(size(col("tk")) - 1, lit(0)))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 5)
      .select(substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"), col("n_pair"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n")).barrier()
    val total = uni.agg(sum(col("n")).as("n_tokens"))
    bigrams
      .join(uni.select(col("w").as("w1"), col("n").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        round(log((col("n_pair") * col("n_tokens")).cast("double") /
          (col("n_w1") * col("n_w2")).cast("double")), 6).as("pmi"))
      .orderBy(col("w1"), col("w2"))
  }

  /** `text_vocab_growth` — the Heaps'-law vocabulary growth curve:
    * per document (in doc_id ingest order) the cumulative token count
    * and cumulative DISTINCT-type count — the corpus statistic that
    * sizes tokenizer vocabularies and flags dedup failures (a
    * near-dup-heavy corpus grows types far below the V = K·nᵝ
    * expectation).
    *
    * Spark-first shape: "running distinct count" is NOT a window
    * distinct (no such aggregate, and a naive prefix-join is O(n²)) —
    * each type is attributed to its FIRST document (min(doc_id) per
    * token: one vocab-sized 2-phase aggregate), so the curve is a
    * plain running SUM of new-type counts over the document spine.
    * The spine cumsum is GraftOps.globalPrefixSums — the two-phase
    * prefix sum (shard-bounded running windows + driver-scanned shard
    * offsets, the zipWithIndex pattern), NEVER an unpartitioned
    * window over the doc-cardinality spine: at 10⁹ docs that window
    * is one task sorting the corpus. Exact long sums, so the
    * two-phase result is bit-identical to the naive cumsum.
    */
  def textVocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val firstDoc = toks.groupBy(col("w"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("new_types"))
    val spine = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val joined = spine.join(firstDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    graft.api.GraftOps
      .globalPrefixSums(joined, "doc_id", Seq("n_tokens", "new_types"))
      .select(col("doc_id"), col("n_tokens"), col("new_types"),
        col("cum_n_tokens").as("cum_tokens"),
        col("cum_new_types").as("vocab_size"))
      .orderBy(col("doc_id"))
  }

  /** `text_zipf` — the Zipf rank-frequency diagnostic of the corpus
    * vocabulary: OLS slope and intercept of ln(freq) on ln(rank) over
    * the full type-frequency table. Natural text sits near slope −1;
    * a corpus far off is template spam, tokenizer damage, or synthetic
    * data — the one-number screen a pretraining-data audit runs per
    * source. Ranks tie-break by token (count desc, token asc) so the
    * regression inputs are engine-identical.
    *
    * Scale shape: token explode collapses immediately to the
    * VOCABULARY-bounded frequency table (one map-combined shuffle);
    * the global rank rides GraftOps.sortedPrefixSums
    * (range-partitioned shards + offset broadcast — a ~10⁷-type
    * web-corpus vocabulary never funnels through one task) and the
    * 5-sum OLS aggregate runs over types, not tokens. The ln sums
    * are doubles over the vocab-sized frame, ROUND-6 (order band
    * ~1e-12).
    */
  def textZipf(spark: SparkSession, sfDir: String): DataFrame = {
    val freqs = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val slopeExpr = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    graft.api.GraftOps.sortedPrefixSums(freqs,
        Seq(col("freq").desc, col("tok")), Seq.empty)
      .select(log(col("rnk").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n").cast("long").as("n_types"),
        round(expr(slopeExpr), 6).as("zipf_slope"),
        round(expr(s"(sy - ($slopeExpr) * sx) / n"), 6)
          .as("zipf_intercept"))
  }

  /** `text_hapax` — per-language hapax legomena profile: vocabulary
    * size, token count, the number of once-occurring types and their
    * share of the vocabulary. The hapax ratio is the classic
    * lexical-richness / OCR-noise signal a corpus-quality pass tracks:
    * clean prose sits near Zipf's ~50% hapax share, while boilerplate
    * collapses it and OCR garbage inflates it (every misread is a new
    * "word"). Complements text_vocab_growth (Heaps' law) with the
    * frequency-spectrum head.
    *
    * Scale shape: the token explode feeds ONE (lang, token)
    * map-combined aggregate — state bounded by per-language vocabulary,
    * not corpus size — then a language-domain-sized rollup. No second
    * pass, no distinct over raw tokens.
    */
  def textHapax(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("lang"), col("n_tokens"), col("vocab_size"),
        col("n_hapax"),
        round(col("n_hapax").cast("double") /
          col("vocab_size").cast("double"), 6).as("hapax_ratio"))
      .orderBy(col("lang"))
  }

  /** `text_vocab_jaccard` — pairwise vocabulary overlap between
    * languages: |V_a ∩ V_b| and Jaccard |∩|/|∪| for every language
    * pair. The cross-lingual contamination screen: a language pair
    * whose vocabularies overlap beyond the numerals-and-names baseline
    * signals mislabeled documents or code-switching — exactly what a
    * langid-based mixture audit (text_langid's confusion risk) wants
    * to see quantified.
    *
    * Scale shape: the (lang, token) DISTINCT collapses the corpus to
    * vocabulary cardinality in one map-combined shuffle; the
    * intersection is a token-keyed self-join of that vocab table —
    * per-token fan-out bounded by the LANGUAGE DOMAIN squared (≤C(5,2)
    * pairs per token), never corpus-sized — and the union comes from
    * the inclusion–exclusion identity with broadcast per-language
    * sizes, not a second join. Same aliased-self-join checkpoint
    * rationale as analytics_ttest.
    */
  def textVocabJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .distinct()
      .barrier()
    val sizes = vocab.groupBy(col("lang")).agg(count(lit(1)).as("v"))
    val inter = vocab.toDF("lang_a", "w")
      .join(vocab.toDF("lang_b", "w2"),
        col("w") === col("w2") && col("lang_a") < col("lang_b"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.toDF("lang_a", "va")), Seq("lang_a"))
      .join(broadcast(sizes.toDF("lang_b", "vb")), Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("va"), col("vb"),
        col("n_common"),
        round(col("n_common").cast("double") /
          (col("va") + col("vb") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  /** `text_code_detect` — the code-vs-prose screen of an LLM corpus
    * router: per document, the density of code-ish symbol characters
    * ({}[]();=<>), the digit density, the mean token length, and a
    * flag at symbol density > 2% — code and prose want different
    * tokenization, different dedup thresholds, and different mixture
    * weights, so the split happens this early in every real pipeline.
    * Distinct from text_quality (prose wellness) and text_langid
    * (which language): this is WHICH MODALITY of text.
    *
    * Determinism: densities are exact integer character counts (length
    * minus the symbol-stripped length) over identical regexes; the
    * flag derives from the ROUNDED ratio (the multimodal_quality
    * contract — both engines compare the same 6-decimal value). All
    * map-side, no shuffle before the presentation sort.
    */
  def textCodeDetect(spark: SparkSession, sfDir: String): DataFrame = {
    val n = length(col("text"))
    val symbols = n - length(regexp_replace(col("text"),
      lit("[{}\\[\\]();=<>]"), lit("")))
    val digits = n - length(regexp_replace(col("text"),
      lit("[0-9]"), lit("")))
    val toks = size(split(col("text"), " "))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        n.cast("long").as("n_chars_m"),
        round(symbols.cast("double") / n.cast("double"), 6)
          .as("symbol_ratio"),
        round(digits.cast("double") / n.cast("double"), 6)
          .as("digit_ratio"),
        round((n - (toks - 1)).cast("double") / toks.cast("double"), 6)
          .as("mean_token_len"))
      .withColumn("is_codeish", col("symbol_ratio") > 0.02)
      .orderBy(col("doc_id"))
  }

  /** `text_oov_rate` — vocabulary-budget coverage: for tokenizer
    * vocab budgets {1k, 5k, 10k}, the share of all token OCCURRENCES
    * covered by the top-N most frequent types, and the resulting
    * out-of-vocabulary rate. The curve a tokenizer-vocab decision is
    * made from ("10k types covers 98.7% of the stream") — the
    * occurrence-weighted complement of text_vocab_growth's type
    * curve, and the planning input to pipeline_bpe_train.
    *
    * Determinism: type ranking ties-break on the token string;
    * coverage picks are exact integer sums, ROUND-6 on the rate only.
    *
    * Scale shape (the r8 perf-weak fix, then one better): the top
    * max(budget) types are selected with orderBy(...).limit(10000) —
    * Spark plans TakeOrderedAndProject, a per-partition bounded top-k
    * heap + one 10k-row merge, so NO global sort and NO vocab-sized
    * single-partition window ever exists (at a ~10⁷-type web-corpus
    * vocabulary the old rank window was one task sorting the whole
    * vocab, and the old broadcast shipped all of it to every task).
    * The rank/cumsum windows then ride the literal-bounded 10k-row
    * frame — the calendar-bounded-window class, constant at any
    * corpus size.
    */
  def textOovRate(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // Distributed top-k heap selection (TakeOrderedAndProject) — the
    // ONLY rows that ever see a window are these 10k.
    val top = types.orderBy(col("c").desc, col("w")).limit(10000)
    val w = Window.orderBy(col("c").desc, col("w"))
    val cum = Window.orderBy(col("c").desc, col("w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val topRanked = top
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_occ", sum(col("c")).over(cum))
    val tot = types.agg(sum(col("c")).as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    val budgets = spark.range(1)
      .select(explode(array(lit(1000L), lit(5000L), lit(10000L)))
        .as("vocab_budget"))
    budgets.crossJoin(broadcast(topRanked))
      .filter(col("rnk") <= col("vocab_budget"))
      .groupBy(col("vocab_budget"))
      .agg(max(col("cum_occ")).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("vocab_budget"), col("vocab_size"),
        col("covered_tokens"), col("total_tokens"),
        round(lit(1.0) - col("covered_tokens").cast("double") /
          col("total_tokens").cast("double"), 6).as("oov_rate"))
      .orderBy(col("vocab_budget"))
  }

  /** `text_js_divergence` — pairwise Jensen–Shannon divergence
    * between the languages' unigram distributions, via the entropy
    * identity JS(P,Q) = H((P+Q)/2) − (H(P)+H(Q))/2: the
    * frequency-aware corpus-similarity metric (text_vocab_jaccard
    * compares SUPPORTS; JS compares the distributions on them —
    * bounded [0, ln 2], symmetric, defined without smoothing because
    * a token absent from one side simply contributes only the other
    * side's mass to the mixture). The distance a mixture audit uses
    * to say "these two sources are near-duplicates of each other's
    * distribution".
    *
    * Spark-first shape: ONE (token)-keyed aggregate pivots the corpus
    * to a token × 5-language count matrix (vocab-bounded state); the
    * 10 pairs then ride a row-local explode over that matrix — no
    * per-pair joins, no second corpus pass; per-language totals are a
    * 5-row broadcast. Entropy terms are doubles of exact counts,
    * identical text, ROUND-6 on the [0, ln 2]-scale output.
    */
  def textJsDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val cAggs = langs.map(l =>
      sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"c_$l"))
    // vocabulary-bounded count matrix behind a lazy barrier: the
    // per-language totals and the pairwise explode both consume it —
    // one corpus scan + token aggregate, not two
    val counts = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(cAggs.head, cAggs.tail: _*)
      .barrier(eager = false)
    val totals = langs.map(l => sum(col(s"c_$l")).as(s"n_$l"))
    val tot = counts.agg(totals.head, totals.tail: _*)
    val pairs = for {
      i <- langs.indices; j <- i + 1 until langs.size
    } yield (langs(i), langs(j))
    val pairStructs = array(pairs.map { case (a, b) =>
      struct(lit(a).as("la"), lit(b).as("lb"),
        col(s"c_$a").as("ca"), col(s"c_$b").as("cb"),
        col(s"n_$a").as("na"), col(s"n_$b").as("nb"))
    }: _*)
    val exploded = counts.crossJoin(broadcast(tot))
      .select(explode(pairStructs).as("p"))
      .select(col("p.la"), col("p.lb"),
        (col("p.ca").cast("double") / col("p.na")).as("pw"),
        (col("p.cb").cast("double") / col("p.nb")).as("qw"))
    def hTerm(x: Column) = when(x > 0, -x * log(x)).otherwise(lit(0.0))
    exploded
      .groupBy(col("la").as("lang_a"), col("lb").as("lang_b"))
      .agg(sum(hTerm((col("pw") + col("qw")) / 2)).as("hm"),
        sum(hTerm(col("pw"))).as("hp"), sum(hTerm(col("qw"))).as("hq"))
      .select(col("lang_a"), col("lang_b"),
        round(col("hm") - (col("hp") + col("hq")) / 2, 6).as("js_nats"),
        // ln(2) as an explicit literal in BOTH engines: same digits,
        // same double, no dependence on either libm's ln(2.0)
        round((col("hm") - (col("hp") + col("hq")) / 2) /
          lit(0.6931471805599453), 6).as("js_normalized"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  /** `text_edit_distance` — blocked Levenshtein fuzzy-pair mining: the
    * record-linkage primitive dedup_minhash's set-similarity can't
    * replace (edit distance sees transpositions/typos that shingle
    * overlap blurs). Candidate pairs come from TWO-PASS CLASSIC
    * BLOCKING — same language, same 16-char length bucket, |Δn_chars|
    * ≤ 8, and (same FIRST token ∨ same LAST token) — and each pair is
    * scored on a 48-char prefix probe (bounds the DP cost per pair);
    * the per-language report counts candidate, exact (d = 0) and
    * close (d ≤ 12) pairs with min/avg distance.
    *
    * Scale shape: the O(n²) all-pairs trap is cut to within-block
    * pairs by the equi-join on (lang, tok0, bucket) — a plain shuffle
    * join whose cost is Σ|block|². THE BLOCK KEY MUST GAIN CARDINALITY
    * WITH THE CORPUS: the r2–r15 key (lang, bucket) had a BOUNDED
    * domain (≈5 langs × the doc-length range), so block size grew ∝ n
    * and Σ|block|² went quadratic — measured at the 100× ladder as a
    * single skewed task grinding ~10⁹ Levenshtein probes for 30+ min
    * (sf0.1 gates could never see it: blocks of ~10² hide any
    * exponent). The first-token content key is dedup_fuzzy's fix
    * re-applied: content-key cardinality grows with corpus diversity,
    * so expected block size stays bounded; the recall trade (a typo in
    * the FIRST token breaks candidacy) is the standard blocking trade,
    * RECOVERED (r16, verdict item 4) by the second pass on the LAST
    * token — a pair survives unless BOTH its first and last tokens
    * were edited. The two passes stay a disjoint UNION ALL (no
    * pair-dedup shuffle): pass B carries `a.tok0 <> b.tok0`, i.e.
    * exactly the pairs pass A missed, so each qualifying pair is
    * emitted once; measured candidate recall vs the unblocked
    * close-pair truth set is documented in TextSpec (info output).
    * The bucket fan-out {bkt−1, bkt, bkt+1}
    * keeps |Δn_chars| ≤ 8 the true length criterion (Δ ≤ 8 < 16 ⇒
    * buckets differ ≤ 1, each pair matches exactly one of b's three
    * distinct entries — no dedup pass needed). Levenshtein is a
    * codegen'd built-in (character-based in both engines); all
    * outputs are exact integers but the ROUND-6 mean.
    */
  def textEditDistance(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        substring(col("text"), 1, 48).as("probe"),
        toks(0).as("tok0"),
        element_at(toks, -1).as("tokl"),
        expr("n_chars DIV 16").as("bkt"))
    val a = d.alias("a")
    val b = d.select(col("doc_id"), col("lang"), col("n_chars"),
        col("probe"), col("tok0"), col("tokl"),
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1))
          .as("blk"))
      .alias("b")
    val dist = levenshtein(col("a.probe"), col("b.probe"))
    val common = col("a.lang") === col("b.lang") &&
      col("a.bkt") === col("b.blk") &&
      col("a.doc_id") < col("b.doc_id") &&
      abs(col("a.n_chars") - col("b.n_chars")) <= 8
    // Pass A: first-token block. Pass B: last-token block, restricted
    // to pairs whose first tokens DIFFER — exactly pass A's complement,
    // so the union is disjoint by construction and needs no pair-dedup
    // shuffle (each side is still an equi-join on a content key whose
    // cardinality grows with the corpus).
    val passA = a.join(b, common && col("a.tok0") === col("b.tok0"))
      .select(col("a.lang").as("lang"), dist.as("dist"))
    val passB = a.join(b, common && col("a.tokl") === col("b.tokl") &&
        col("a.tok0") =!= col("b.tok0"))
      .select(col("a.lang").as("lang"), dist.as("dist"))
    passA.unionByName(passB)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("dist") <= 12, 1L).otherwise(0L)).as("n_close"),
        min(col("dist")).cast("long").as("min_dist"),
        round(avg(col("dist")), 6).as("avg_dist"))
      .orderBy(col("lang"))
  }

  /** `text_bm25` — BM25 relevance of every document against a fixed
    * 3-term query (GraftOps.bm25): the lexical retrieval score a
    * hybrid search stack unions with the ANN candidates before
    * reranking, and a keyword-weighted curation filter. One map-side
    * tf pass (higher-order filters, no token explode), one one-row
    * stats aggregate broadcast back, row-local scoring; ln is the
    * only transcendental (ROUND-6 gate).
    */
  def textBm25(spark: SparkSession, sfDir: String): DataFrame =
    graft.api.GraftOps.bm25(Tables.documents(spark, sfDir),
        "doc_id", "text", Seq("data", "merge", "vector"))
      .orderBy(col("doc_id"))

  val registry: Seq[Query] = Seq(
    // DuckDB twin of the winnow cascade: gram hashes via 48-bit md5
    // prefix, window minima via list_min over 4-wide slices (the
    // comprehension clamps trailing slices exactly like the cascade's
    // null-padded zip_with), distinct minima, then the same sharing
    // accounting. fp lists are distinct per doc, so HAVING count(*)>=2
    // counts distinct docs.
    Query("text_winnow_md5", textWinnowMd5 _, Some(
      """WITH g AS (SELECT doc_id, source,
        |    [('0x'||substr(md5(substr(text, i, 5)),1,12))::BIGINT
        |     for i in range(1, greatest(length(text)-4, 1)+1)] AS gh
        |  FROM documents),
        |m AS (SELECT doc_id, source,
        |    list_distinct([list_min(gh[i:i+3])
        |      for i in range(1, greatest(len(gh)-3, 1)+1)]) AS fp
        |  FROM g),
        |u AS (SELECT doc_id, unnest(fp) AS f FROM m),
        |hot AS (SELECT f FROM u GROUP BY f HAVING count(*) >= 2),
        |shared AS (SELECT DISTINCT u.doc_id FROM u JOIN hot s ON u.f = s.f)
        |SELECT m.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(fp)) AS BIGINT) AS n_fingerprints,
        |  CAST(sum(CASE WHEN sh.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_sharing
        |FROM m LEFT JOIN shared sh ON sh.doc_id = m.doc_id
        |GROUP BY m.source ORDER BY m.source""".stripMargin)),
    Query("text_edit_distance", textEditDistance _, Some(
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars, substr(text, 1, 48) AS probe,
        |    string_split(text, ' ')[1] AS tok0,
        |    string_split(text, ' ')[-1] AS tokl,
        |    n_chars // 16 AS bkt
        |  FROM documents),
        |p AS (
        |  SELECT a.lang AS lang, levenshtein(a.probe, b.probe) AS dist
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.tok0 = b.tok0
        |    AND a.bkt BETWEEN b.bkt - 1 AND b.bkt + 1
        |    AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 8
        |  UNION ALL
        |  SELECT a.lang AS lang, levenshtein(a.probe, b.probe) AS dist
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.tokl = b.tokl
        |    AND a.tok0 <> b.tok0
        |    AND a.bkt BETWEEN b.bkt - 1 AND b.bkt + 1
        |    AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 8)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact,
        |  CAST(SUM(CASE WHEN dist <= 12 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_close,
        |  CAST(MIN(dist) AS BIGINT) AS min_dist,
        |  ROUND(AVG(dist), 6) AS avg_dist
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("text_js_divergence", textJsDivergence _, Some(
      """WITH t AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |m AS (
        |  SELECT w,
        |    SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS c_de,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en,
        |    SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS c_es,
        |    SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS c_fr,
        |    SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS c_zh
        |  FROM t WHERE w <> '' GROUP BY w),
        |tot AS (
        |  SELECT SUM(c_de) AS n_de, SUM(c_en) AS n_en, SUM(c_es) AS n_es,
        |    SUM(c_fr) AS n_fr, SUM(c_zh) AS n_zh
        |  FROM m),
        |px AS (
        |  SELECT p.la AS lang_a, p.lb AS lang_b,
        |    CAST(p.ca AS DOUBLE) / p.na AS pw,
        |    CAST(p.cb AS DOUBLE) / p.nb AS qw
        |  FROM m, tot, UNNEST([
        |    {'la': 'de', 'lb': 'en', 'ca': c_de, 'cb': c_en, 'na': n_de, 'nb': n_en},
        |    {'la': 'de', 'lb': 'es', 'ca': c_de, 'cb': c_es, 'na': n_de, 'nb': n_es},
        |    {'la': 'de', 'lb': 'fr', 'ca': c_de, 'cb': c_fr, 'na': n_de, 'nb': n_fr},
        |    {'la': 'de', 'lb': 'zh', 'ca': c_de, 'cb': c_zh, 'na': n_de, 'nb': n_zh},
        |    {'la': 'en', 'lb': 'es', 'ca': c_en, 'cb': c_es, 'na': n_en, 'nb': n_es},
        |    {'la': 'en', 'lb': 'fr', 'ca': c_en, 'cb': c_fr, 'na': n_en, 'nb': n_fr},
        |    {'la': 'en', 'lb': 'zh', 'ca': c_en, 'cb': c_zh, 'na': n_en, 'nb': n_zh},
        |    {'la': 'es', 'lb': 'fr', 'ca': c_es, 'cb': c_fr, 'na': n_es, 'nb': n_fr},
        |    {'la': 'es', 'lb': 'zh', 'ca': c_es, 'cb': c_zh, 'na': n_es, 'nb': n_zh},
        |    {'la': 'fr', 'lb': 'zh', 'ca': c_fr, 'cb': c_zh, 'na': n_fr, 'nb': n_zh}
        |  ]) AS u(p)),
        |h AS (
        |  SELECT lang_a, lang_b,
        |    SUM(CASE WHEN (pw + qw) / 2 > 0
        |      THEN -((pw + qw) / 2) * ln((pw + qw) / 2) ELSE 0.0 END) AS hm,
        |    SUM(CASE WHEN pw > 0 THEN -pw * ln(pw) ELSE 0.0 END) AS hp,
        |    SUM(CASE WHEN qw > 0 THEN -qw * ln(qw) ELSE 0.0 END) AS hq
        |  FROM px GROUP BY 1, 2)
        |SELECT lang_a, lang_b,
        |  ROUND(hm - (hp + hq) / 2, 6) AS js_nats,
        |  ROUND((hm - (hp + hq) / 2) / 0.6931471805599453, 6)
        |    AS js_normalized
        |FROM h ORDER BY lang_a, lang_b""".stripMargin)),
    Query("text_oov_rate", textOovRate _, Some(
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (
        |  SELECT w, COUNT(*) AS c FROM t WHERE w <> '' GROUP BY 1),
        |r AS (
        |  SELECT c,
        |    ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rnk,
        |    SUM(c) OVER (ORDER BY c DESC, w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_occ
        |  FROM f),
        |tot AS (
        |  SELECT SUM(c) AS total_tokens, COUNT(*) AS vocab_size FROM f),
        |b AS (SELECT unnest([1000, 5000, 10000]) AS vocab_budget),
        |cov AS (
        |  SELECT b.vocab_budget, MAX(r.cum_occ) AS covered_tokens
        |  FROM b JOIN r ON r.rnk <= b.vocab_budget
        |  GROUP BY b.vocab_budget)
        |SELECT CAST(cov.vocab_budget AS BIGINT) AS vocab_budget,
        |  CAST(tot.vocab_size AS BIGINT) AS vocab_size,
        |  CAST(cov.covered_tokens AS BIGINT) AS covered_tokens,
        |  CAST(tot.total_tokens AS BIGINT) AS total_tokens,
        |  ROUND(1.0 - CAST(cov.covered_tokens AS DOUBLE) /
        |    CAST(tot.total_tokens AS DOUBLE), 6) AS oov_rate
        |FROM cov, tot ORDER BY vocab_budget""".stripMargin)),
    Query("text_code_detect", textCodeDetect _, Some(
      """WITH m AS (
        |  SELECT doc_id, length(text) AS n,
        |    length(text) - length(regexp_replace(text,
        |      '[{}\[\]();=<>]', '', 'g')) AS symbols,
        |    length(text) - length(regexp_replace(text,
        |      '[0-9]', '', 'g')) AS digits,
        |    len(string_split(text, ' ')) AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars_m,
        |  ROUND(CAST(symbols AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS symbol_ratio,
        |  ROUND(CAST(digits AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS digit_ratio,
        |  ROUND(CAST(n - (toks - 1) AS DOUBLE) / CAST(toks AS DOUBLE), 6)
        |    AS mean_token_len,
        |  ROUND(CAST(symbols AS DOUBLE) / CAST(n AS DOUBLE), 6) > 0.02
        |    AS is_codeish
        |FROM m ORDER BY doc_id""".stripMargin)),
    Query("text_vocab_jaccard", textVocabJaccard _, Some(
      """WITH v AS (
        |  SELECT DISTINCT lang, w FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  WHERE w <> ''),
        |sz AS (SELECT lang, COUNT(*) AS n FROM v GROUP BY 1),
        |i AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b,
        |    COUNT(*) AS n_common
        |  FROM v a JOIN v b ON a.w = b.w AND a.lang < b.lang
        |  GROUP BY 1, 2)
        |SELECT lang_a, lang_b, sa.n AS va, sb.n AS vb, n_common,
        |  ROUND(CAST(n_common AS DOUBLE) /
        |    CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS jaccard
        |FROM i
        |JOIN sz sa ON sa.lang = i.lang_a
        |JOIN sz sb ON sb.lang = i.lang_b
        |ORDER BY lang_a, lang_b""".stripMargin)),
    Query("text_hapax", textHapax _, Some(
      """WITH t AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |f AS (
        |  SELECT lang, w, COUNT(*) AS c FROM t WHERE w <> ''
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS vocab_size,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin)),
    Query("text_zipf", textZipf _, Some(
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (
        |  SELECT tok, COUNT(*) AS freq FROM t WHERE tok <> '' GROUP BY 1),
        |r AS (
        |  SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok)
        |      AS DOUBLE)) AS x,
        |    ln(CAST(freq AS DOUBLE)) AS y
        |  FROM f),
        |s AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * x) AS sxx, SUM(x * y) AS sxy
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n_types,
        |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
        |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |    AS zipf_intercept
        |FROM s""".stripMargin)),
    Query("text_vocab_growth", textVocabGrowth _, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |fd AS (
        |  SELECT doc_id, COUNT(*) AS new_types FROM (
        |    SELECT w, MIN(doc_id) AS doc_id FROM toks GROUP BY w)
        |  GROUP BY doc_id),
        |spine AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tokens,
        |  COALESCE(fd.new_types, 0) AS new_types,
        |  CAST(SUM(s.n_tokens) OVER (ORDER BY s.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |  CAST(SUM(COALESCE(fd.new_types, 0)) OVER (ORDER BY s.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
        |FROM spine s LEFT JOIN fd USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin)),
    Query("text_pmi", textPmi _, Some(
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT unnest([tk[i] || ' ' || tk[i+1]
        |    for i in range(1, len(tk))]) AS bigram
        |  FROM t),
        |pc AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1,
        |    split_part(bigram, ' ', 2) AS w2, COUNT(*) AS n_pair
        |  FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |uc AS (SELECT w, COUNT(*) AS n
        |  FROM (SELECT unnest(tk) AS w FROM t) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tokens FROM uc)
        |SELECT w1, w2, n_pair, a.n AS n_w1, b.n AS n_w2,
        |  ROUND(ln(CAST(n_pair * n_tokens AS DOUBLE) /
        |    CAST(a.n * b.n AS DOUBLE)), 6) AS pmi
        |FROM pc
        |  JOIN uc a ON pc.w1 = a.w
        |  JOIN uc b ON pc.w2 = b.w
        |  CROSS JOIN tot
        |ORDER BY w1, w2""".stripMargin)),
    Query("text_keywords", textKeywords _, Some(
      """WITH ex AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (
        |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM ex GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |s AS (
        |  SELECT t.doc_id, t.token,
        |    ROUND(CAST(t.tf AS DOUBLE) *
        |      ln(CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS score
        |  FROM tf t JOIN dfreq d USING (token) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, token, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, token) AS rank
        |  FROM s)
        |SELECT doc_id, rank, token, score FROM r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),
    Query("text_chunk", textChunk _, Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |c AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
        |idx AS (
        |  SELECT doc_id, tk, n,
        |    unnest(range(0,
        |      greatest(CAST(ceil((n - 64) / 48.0) AS BIGINT), 0) + 1)) AS i
        |  FROM c)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(i * 48 AS BIGINT) AS start_tok,
        |  CAST(len(tk[i*48+1 : least(i*48+64, n)]) AS BIGINT) AS chunk_tokens,
        |  md5(array_to_string(tk[i*48+1 : least(i*48+64, n)], ' ')) AS chunk_md5
        |FROM idx
        |ORDER BY doc_id, chunk_idx""".stripMargin)),
    Query("text_bm25", textBm25 _, Some({
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
         |  FROM base)
         |SELECT doc_id, ROUND($score, 6) AS bm25
         |FROM base CROSS JOIN st
         |ORDER BY doc_id""".stripMargin
    })),
    Query("text_bigram_lm", textBigramLm _, Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ex AS (
        |  SELECT doc_id,
        |    unnest([toks[i] || ' ' || toks[i+1]
        |      for i in range(1, len(toks))]) AS bigram
        |  FROM t),
        |freq AS (SELECT bigram, COUNT(*) AS bf FROM ex GROUP BY bigram),
        |pref AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1, SUM(bf) AS pf
        |  FROM freq GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(ln(CAST(bf AS DOUBLE) / pf)), 6) AS avg_logprob
        |FROM ex
        |JOIN freq USING (bigram)
        |JOIN pref ON split_part(ex.bigram, ' ', 1) = pref.w1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Query("text_redact", textRedact _, Some(
      """WITH red AS (
        |  SELECT event_type,
        |    regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted,
        |    CAST(length(props)
        |      - length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT) AS nd
        |  FROM events),
        |g AS (
        |  SELECT event_type, redacted, COUNT(*) AS c, SUM(nd) AS d
        |  FROM red GROUP BY 1, 2)
        |SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_events,
        |  CAST(SUM(d) AS BIGINT) AS n_digits, COUNT(*) AS n_shapes,
        |  MIN(redacted) AS shape_min, MAX(redacted) AS shape_max
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Query("text_decontaminate", textDecontaminate _, Some(
      """WITH g AS (
        |  SELECT doc_id, lang,
        |    unnest([array_to_string(string_split(text, ' ')[i:i+4], ' ')
        |      for i in range(1, greatest(len(string_split(text, ' ')) - 4, 1) + 1)]) AS gram
        |  FROM documents),
        |probe AS (SELECT DISTINCT gram FROM g WHERE doc_id < 10),
        |cont AS (
        |  SELECT DISTINCT g.doc_id FROM g JOIN probe USING (gram)
        |  WHERE g.doc_id >= 10)
        |SELECT d.lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
        |FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
        |WHERE d.doc_id >= 10
        |GROUP BY d.lang
        |ORDER BY d.lang""".stripMargin)),
    Query("text_logprob", textLogprob _, Some(
      """WITH ex AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |freq AS (SELECT token, COUNT(*) AS tf FROM ex GROUP BY token)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(AVG(ln(CAST(tf AS DOUBLE) / (SELECT COUNT(*) FROM ex))), 6) AS avg_logprob
        |FROM ex JOIN freq USING (token)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)),
    Query("text_quality", textQuality _, Some(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop,
        |  ROUND(CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |      / len(string_split(text, ' ')), 6) AS avg_token_len,
        |  len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the', 'a', 'of', 'and', 'to'))) * 10 >= len(string_split(text, ' ')) AS stop_heavy
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),
    Query("text_fingerprint", textFingerprint _, Some(
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS n_fingerprints
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),
    Query("text_tokens_regex", textTokensRegex _, Some(
      """SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct
        |FROM (SELECT source,
        |        unnest(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'),
        |          t -> t <> '')) AS token
        |      FROM documents)
        |GROUP BY source
        |ORDER BY source""".stripMargin)),
    Query("text_langid", textLangid _, Some(
      """SELECT lang,
        |  CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of')))
        |          > len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das'))) THEN 'en'
        |       WHEN len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das')))
        |          > len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of'))) THEN 'de'
        |       ELSE 'und' END AS guess,
        |  COUNT(*) AS n_docs
        |FROM documents
        |GROUP BY lang, guess
        |ORDER BY lang, guess""".stripMargin)),
    Query("text_repetition", textRepetition _, Some(
      """WITH grams AS (
        |  SELECT doc_id,
        |    [array_to_string(string_split(text, ' ')[i:i+1], ' ')
        |      for i in range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1)] AS g,
        |    len(string_split(text, ' ')) AS nt,
        |    len(list_distinct(string_split(text, ' '))) AS nd
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, gram, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(g) AS gram FROM grams)
        |  GROUP BY doc_id, gram),
        |perdoc AS (
        |  SELECT doc_id, MAX(c) AS maxc, CAST(SUM(c) AS BIGINT) AS tot
        |  FROM cnt GROUP BY doc_id)
        |SELECT g.doc_id,
        |  CAST(g.nt AS BIGINT) AS n_tokens,
        |  CAST(g.nd AS BIGINT) AS n_distinct,
        |  ROUND(1.0 - CAST(g.nd AS DOUBLE) / g.nt, 6) AS dup_token_frac,
        |  ROUND(CAST(p.maxc AS DOUBLE) / p.tot, 6) AS top_bigram_frac,
        |  p.maxc * 5 >= p.tot AS repetitive
        |FROM grams g JOIN perdoc p ON g.doc_id = p.doc_id
        |ORDER BY g.doc_id""".stripMargin)),
    Query("text_tfidf", textTfidf _, Some(
      """WITH ex AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |st AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
        |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM ex GROUP BY token),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT token, tf, df,
        |  ROUND(CAST(tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
        |FROM st, n
        |ORDER BY tfidf DESC, token
        |LIMIT 20""".stripMargin)),
    Query("text_winnow", textWinnow _)
  )
}
