#!/bin/bash
# Empirical scale-ladder probe (SURVEY §3.0 companion; r11 verdict item 4,
# extended to arbitrary factors for the r12 verdict's 100x ask):
# deterministic FACTOR x blow-up of sf0.1 under /tmp, then cold/warm timings
# and scaling exponents for the heaviest + iterative queries at 1x vs
# FACTOR x. exp ~1.0 = linear; > ~1.3 needs a docstring justification or a
# fix (log-factor shuffles and n·log n sorts read ~1.0-1.15 at this grain).
# Artifacts are cleared first so COLD includes artifact builds — for
# artifact-backed queries the cold exponent is the scaling claim. Each
# timed run materializes every row (a `noop` write), after one untimed
# warm-up of the JVM on a copy of the 1x corpus (see ScaleProbe).
# Run from /root/repo. 10x takes ~10 min (corpus build ~2 min on first
# use); 100x takes ~30-60 min and wants SPARK_DRIVER_MEM=24g.
#
# Usage: tools/scale_probe.sh [sfDir] [outDir] [factor] [query...]
SF="${1:-/root/testdata/sf0.1}"
FACTOR="${3:-10}"
OUT="${2:-/tmp/graft_scale${FACTOR}x}"
shift 3 2>/dev/null || shift $#
QUERIES="${@:-tpch_q21 tpch_q18 tpch_q9 tpch_q2 agg_weighted_median
analytics_basket analytics_rfm_migration dedup_minhash dedup_minhash_md5
dedup_cluster graph_pagerank graph_reach text_winnow text_bigram_lm
text_keywords agg_equidepth join_pit knn_join pipeline_near_dedup
pipeline_bpe_encode}"
echo "== uptime (re-run if load_avg > ~1) =="
uptime
rm -rf /tmp/graft_artifacts_*
tools/run_main.sh graft.ScaleProbe "$SF" "$OUT" "$FACTOR" $QUERIES
