#!/usr/bin/env bash
# Pre-snapshot compile gate (round-13 verdict directive 2): round 12 was
# lost to an end-of-round snapshot commit that did not compile
# (Dedup.scala `shiftleft` type mismatch — BENCH_r12.json rc=1,
# CORRECTNESS_r12.json empty, a full round of gate signal gone). ADVICE
# promised "snapshot commits now get a compile check"; this script IS the
# mechanism, committed so the promise is enforceable, not prose.
#
# Run before EVERY commit that could be the round's gated snapshot
# (i.e. before any end-of-round commit, and ideally before every commit):
#
#   scripts/precommit.sh && git commit ...
#
# `sbt Test/compile` covers main AND test sources — the r12 failure was in
# main, but a test-source breakage equally voids the round (the driver
# runs `sbt test`). Exits non-zero on any compile error; nothing is
# committed past a red gate.
#
# Optionally install as an actual git hook (idempotent):
#   ln -sf ../../scripts/precommit.sh .git/hooks/pre-commit
set -euo pipefail
cd "$(dirname "$0")/.."
# One Spark listener: graft.obs.Recorder records every job and task a
# scoped call causes, with exact listener-bus drains. A listener declared
# anywhere else under src/ is a copy of it, and a sleep in the mains that
# fold its records is a guess at listener delivery it makes unneeded.
echo "[precommit] Spark listeners only in graft/obs/, no sleeps in the bench mains..."
if grep -rnE "(extends|new) +([A-Za-z_.]*\.)?SparkListener\b" src/ | grep -v "^src/main/scala/graft/obs/"; then
  echo "[precommit] FAIL: a SparkListener outside src/main/scala/graft/obs/ (use graft.obs.Recorder)"
  exit 1
fi
if grep -n "Thread.sleep" src/main/scala/graft/{Bench,SkewBench}.scala; then
  echo "[precommit] FAIL: Thread.sleep in Bench or SkewBench (Recorder.record drains exactly)"
  exit 1
fi
# The mains are a reviewed list: a new probe main is a decision, not a
# file that appears. The bench canary follows from whether a record file
# is written, and Bench's full record carries the per-query CPU split, so
# the switches that used to select either must not come back.
echo "[precommit] mains only from the reviewed list, no removed bench switches..."
mains="Bench|BenchIsolated|MaintBench|SkewBench|PlanDump|Fuzz|Verify"
if grep -rn "def main(" src/main | grep -vE "^src/main/scala/graft/($mains)\.scala:"; then
  echo "[precommit] FAIL: a main outside the reviewed list ($mains)"
  exit 1
fi
if grep -rnE "SPARK_GRAFT_(BENCH_CANARY_ONLY|BENCH_FORCE_CANARY|PROF_REPS)" src/ scripts/ .claude/; then
  echo "[precommit] FAIL: a removed canary or profiling switch (the canary follows the record file)"
  exit 1
fi
# Queries leave no state behind: building a query changes no session conf
# and injects nothing into the session, and a graft.plans rule rewrites
# only the plan it is applied to (GraftBridge.withRule), never a plan that
# a session conf switched on.
echo "[precommit] no session changes in query construction, no conf-gated rules..."
if grep -rnE "conf\.set\(|registerInto\(" \
    src/main/scala/graft/{queries,text,dedup,similarity,pipelines,multimodal,operators}; then
  echo "[precommit] FAIL: a query module changes its session (apply a rule with GraftBridge.withRule)"
  exit 1
fi
if grep -rnE "(Enabled|BinWidth)Conf" src/; then
  echo "[precommit] FAIL: a conf-gated rewrite rule (pass the rule to GraftBridge.withRule)"
  exit 1
fi
# The artifact stores address their bucketed tables by path
# (ArtifactStore.writeBucketed/readBucketed): nothing under src/main
# registers, resolves or drops a session-catalog table. Imports are exempt
# (BucketSpec lives in the catalyst.catalog package), and so is the JDBC
# DDL of etl/Sinks.scala, which runs on the sink database, not in Spark.
echo "[precommit] no session-catalog tables in the library..."
if grep -rnE "saveAsTable\(|spark\.table\(|\.catalog\.|CREATE TABLE" src/main/scala/graft \
    | grep -vE "^src/main/scala/graft/etl/Sinks\.scala:|^[^:]+:[0-9]+:import "; then
  echo "[precommit] FAIL: a session-catalog table (write and read by path with ArtifactStore.writeBucketed/readBucketed)"
  exit 1
fi
# One integer IVF-PQ pipeline: the in-query twin and the persisted ANN
# index both encode through Similarity.encode and answer through
# Similarity.search, so the similarity module calls the PQ encoder and the
# shortlist rerank exactly once each. A second call is a second copy of
# the pipeline.
echo "[precommit] one IVF-PQ encode and one search in graft/similarity..."
for fn in intPqCodes intShortlistRerank; do
  calls=$(grep -rhoE "(def +)?$fn\(" src/main/scala/graft/similarity | grep -cv "^def" || true)
  if [ "$calls" -ne 1 ]; then
    echo "[precommit] FAIL: $calls calls of $fn( under src/main/scala/graft/similarity, expected 1 (encode with Similarity.encode, query with Similarity.search)"
    exit 1
  fi
done
echo "[precommit] sbt Test/compile (compile gate for snapshot commits)..."
sbt -batch Test/compile
# The benchmark (perfbench/) is its own sbt build over the root's main
# sources and calls public store functions: a signature change there
# compiles above but breaks `python3 perfbench/run.py`. Compile it with the
# environment run.py builds it with (offline, its SBT_OPTS).
echo "[precommit] perfbench compile (the benchmark's own build)..."
repos="$HOME/.sbt/repositories"
opts="-Dsbt.offline=true -Xmx2g"
if [ -f "$repos" ]; then
  opts="$opts -Dsbt.override.build.repos=true -Dsbt.repository.config=$repos"
fi
(cd perfbench && COURSIER_MODE=offline SBT_OPTS="$opts" sbt --batch -Dsbt.log.noformat=true compile)
echo "[precommit] OK - listener, main, switch, session-state, catalog and IVF-PQ gates, main + test sources and the benchmark compile"
