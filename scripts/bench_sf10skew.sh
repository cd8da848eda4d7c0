#!/usr/bin/env bash
# SCALECHECK10 skewed-decade capture (round-16 verdict directive 3): the
# uniform sf10 rung measures scaling on balanced keys, but skew is where
# granule-collision and replication bounds actually bite — so bench the
# skew-critical subset on the --skew corpora at BOTH ends of the decade
# (skewed sf1 and skewed sf10), in-suite AND isolated, with the pinned
# canary pair, then regenerate SCALECHECK10.md's skew section.
#
# Usage: scripts/bench_sf10skew.sh <round> [sf1skew_dir] [sf10skew_dir]
#   defaults /tmp/sf1skew /tmp/sf10skew — regenerate per box-reset with
#   `python3 scripts/gen_sf.py /root/testdata/sf0.1 /tmp/sf1skew 10 --skew`
#   `python3 scripts/gen_sf.py /root/testdata/sf0.1 /tmp/sf10skew 100 --skew`
#   (seed-deterministic; the skew superimposition is identical per copy
#   count, so the decade compares the same hot-key structure at 10x rows).
#
# Protocol matches scripts/bench_sf10.sh: SPARK_DRIVER_MEM=32g on the
# sf10 end (60M-row shuffles need the headroom), the canary on every
# record (a run that writes its record file takes it), 3-rep interleaved
# medians in-suite, fresh-JVM in-child medians isolated. The subset is THE declared skew-critical set: the salted-join
# machinery (the chooser's own queries), the hot-key window shape, the
# boilerplate-gram dedup path, and the curation pipeline.
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND=${1:?usage: scripts/bench_sf10skew.sh <round> [sf1skew_dir] [sf10skew_dir]}
SF1SKEW=${2:-/tmp/sf1skew}
SF10SKEW=${3:-/tmp/sf10skew}
[ -d "$SF1SKEW" ] || { echo "no $SF1SKEW — run gen_sf.py --skew first"; exit 1; }
[ -d "$SF10SKEW" ] || { echo "no $SF10SKEW — run gen_sf.py --skew first"; exit 1; }

QUERIES="c4_hot_salted_join,c4_hot_salted_agg,c4_salted_join,\
c4_shuffle_join,c12_gaps_islands,c17_minhash_lsh,pipeline_curate,\
c14_triangle_count"

echo "[sf10skew] compile gate"
sbt -batch Test/compile

echo "[sf10skew] skewed sf1 in-suite subset"
SPARK_GRAFT_SF_DIR=$SF1SKEW \
  SPARK_GRAFT_BENCH_ONLY=$QUERIES \
  SPARK_GRAFT_BENCH_OUT=BENCH_SF1SKEW.json \
  sbt -batch "runMain graft.Bench"

echo "[sf10skew] skewed sf1 isolated subset"
SPARK_GRAFT_SF_DIR=$SF1SKEW \
  SPARK_GRAFT_BENCH_ONLY=$QUERIES \
  SPARK_GRAFT_BENCH_OUT=BENCHISO_SF1SKEW.json \
  sbt -batch "runMain graft.BenchIsolated"

echo "[sf10skew] skewed sf10 in-suite subset (32g driver)"
SPARK_GRAFT_SF_DIR=$SF10SKEW SPARK_DRIVER_MEM=32g \
  SPARK_GRAFT_BENCH_ONLY=$QUERIES \
  SPARK_GRAFT_BENCH_OUT=BENCH_SF10SKEW.json \
  sbt -batch "runMain graft.Bench"

echo "[sf10skew] skewed sf10 isolated subset (32g driver)"
SPARK_GRAFT_SF_DIR=$SF10SKEW SPARK_DRIVER_MEM=32g \
  SPARK_GRAFT_BENCH_ONLY=$QUERIES \
  SPARK_GRAFT_BENCH_OUT=BENCHISO_SF10SKEW.json \
  sbt -batch "runMain graft.BenchIsolated"

echo "[sf10skew] SCALECHECK10.md skew section"
python3 scripts/scalecheck10.py "$ROUND"
echo "[sf10skew] done — review flags, then commit BENCH*SKEW.json + SCALECHECK10.md"
