#!/usr/bin/env bash
# SCALECHECK10 capture (round-15 verdict directive 1): bench the declared
# scale-critical subset at the self-generated sf10 corpus, in-suite AND
# isolated, both records carrying the pinned canary pair, then regenerate
# SCALECHECK10.md's table.
#
# Usage: scripts/bench_sf10.sh <round> [sf10_dir]
#   sf10_dir default /tmp/sf10 — regenerate per box-reset with
#   `python3 scripts/gen_sf.py /root/testdata/sf0.1 /tmp/sf10 100`
#   (seed-deterministic, ~2 min, ~1.5 GB).
#
# Protocol notes:
# - SPARK_DRIVER_MEM=32g: the only records captured off the default 8g
#   heap — 60M-row shuffles at local[32] need the headroom; the canary
#   pair makes the records comparable to the 8g ones anyway.
# - Canary: every run that writes a record file takes the canary pair, so
#   these committed subset records carry it with no extra switch.
# - The subset list is THE declared scale-critical set (dedup/similarity/
#   text/graph families + the relational anchors + the two round-15
#   watch-item scans); scripts/scalecheck10.py derives its table from
#   whatever the records contain, so keep additions here.
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND=${1:?usage: scripts/bench_sf10.sh <round> [sf10_dir]}
SF10=${2:-/tmp/sf10}
[ -d "$SF10" ] || { echo "no $SF10 — run gen_sf.py first"; exit 1; }

QUERIES="c1_scan_project,c2_filter_pushdown,c4_shuffle_join,c9_tpch_q1,\
c12_window_funcs,c8_asof_join,c16_session_window,b3_per_user_stats,\
c17_minhash_lsh,c17_ngram_jaccard,c17_dedup_clusters,\
c17_embedding_neardup_lsh,c18_knn_agg,c18_ann_ivf,c19_quality_score,\
pipeline_curate,c14_pagerank,c14_triangle_count,\
c14_pagerank_from_layout,c14_pagerank_layout_build,\
c18_ann_index_build,c18_ann_ivfpq_from_index,\
pipeline_span_dedup_apply,c17_passage_dedup,c17_containment,\
c17_editdist_join,c17_incremental_dedup,\
c19_bigram_ppl,c14_pagerank_layout_delete,c18_ann_index_delete,\
c14_pagerank_layout_upsert,c18_ann_index_upsert"
# round-17 additions: the persisted-layout PageRank query path (measured
# against c14_pagerank, the in-query twin) and the five pair-generating
# plans the r16 verdict flagged as unmeasured past sf1 (directive 4).
# round-18 additions (r17 verdict directive 4): the persisted-artifact
# BUILD paths and the ANN from-index query, so both artifacts' build-vs-
# amortize claims carry a full decade of evidence.
# round-19 additions (r18 verdict directives 3+7): c19_bigram_ppl — the
# steepest member of the round-18 (doc,term) count-table family (1.58 s
# at sf0.1 vs 1.41/0.82 for nb/dsir, and the only one whose state is a
# BIGRAM table) — and both artifacts' DELETE maintenance legs, so the
# inverse-maintenance claim carries decade evidence like the builds.
# round-20 additions (r19 verdict directive 5): both artifacts' UPSERT
# legs — the one-commit correction path — so the composed maintenance
# claim carries the same decade evidence; the per-phase build/maintain/
# return split for all six maintenance legs lives in MAINTPHASES*.json
# (graft.MaintBench, r19 directive 7) rendered in PERFTABLE.md.

echo "[sf10] compile gate"
sbt -batch Test/compile

echo "[sf10] in-suite subset (3-rep interleaved medians, with canary)"
SPARK_GRAFT_SF_DIR=$SF10 SPARK_DRIVER_MEM=32g \
  SPARK_GRAFT_BENCH_ONLY=$QUERIES \
  SPARK_GRAFT_BENCH_OUT=BENCH_SF10.json \
  sbt -batch "runMain graft.Bench"

echo "[sf10] isolated subset (fresh JVM per query, in-child 3-rep median)"
SPARK_GRAFT_SF_DIR=$SF10 SPARK_DRIVER_MEM=32g \
  SPARK_GRAFT_BENCH_ONLY=$QUERIES \
  SPARK_GRAFT_BENCH_OUT=BENCHISO_SF10.json \
  sbt -batch "runMain graft.BenchIsolated"

echo "[sf10] SCALECHECK10.md table"
python3 scripts/scalecheck10.py "$ROUND"
echo "[sf10] done — review flags, then commit BENCH*_SF10.json + SCALECHECK10.md"
