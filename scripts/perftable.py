#!/usr/bin/env python3
"""Regenerate PERFTABLE.md — THE per-headline performance record (round-11
verdict directive: one committed table instead of perf claims scattered
across BENCHFULL/BENCHISO/BENCH_SF1/scaladoc; scaladoc perf claims cite
this file).

Merges, per headline query:
  - BENCHFULL.json   in-suite sf0.1 wall (3-rep median, one shared JVM)
  - BENCHISO.json    isolated sf0.1 wall + process-cpu (fresh JVM per query)
  - BENCH_SF1.json   in-suite sf1 wall (3-rep median since r14)
  - BENCHISO_SF1.json isolated sf1 wall (fresh JVM per query), if present

Run via scripts/refresh_bench.sh, which regenerates the records and then
THIS table as its unconditional last step — the r13 inconsistency (table
generated one commit before the final record refresh) is structurally
impossible when the refresh path owns the regeneration order.

Usage: python3 scripts/perftable.py [round_label]   (run from repo root)
"""
import json
import os
import sys

ROUND = sys.argv[1] if len(sys.argv) > 1 else "current"


def load(path):
    if not os.path.exists(path):
        return {}
    return json.load(open(path))


full = load("BENCHFULL.json")
iso = load("BENCHISO.json")
sf1 = load("BENCH_SF1.json")
iso1 = load("BENCHISO_SF1.json")

headline = list(iso.get("queries", {}).keys())


def fmt(d, q, key="queries"):
    v = d.get(key, {}).get(q)
    return f"{v:.2f}" if isinstance(v, (int, float)) else "—"


lines = [
    f"# PERFTABLE — per-headline query performance record (round {ROUND})",
    "",
    "Regenerated per round by `python3 scripts/perftable.py <round>` from the",
    "four committed bench records. THIS file is the citation target for any",
    "perf claim in scaladoc or SURVEY — one table, four protocols, no",
    "cross-referencing. Protocol meanings:",
    "",
    "- **in-suite sf0.1** (BENCHFULL.json): 3-rep median, all registered",
    "  queries back-to-back in ONE JVM — carries JVM/GC/cache state of the",
    "  whole suite; the driver-comparable number.",
    "- **iso sf0.1** (BENCHISO.json): fresh JVM per query, 3-rep median —",
    "  the plan's own cost, no suite state. `iso cpu` is whole-process CPU",
    "  seconds (driver + all local[32] executor threads + GC).",
    "- **in-suite sf1** (BENCH_SF1.json): 3-rep interleaved median (1 rep",
    "  through r13) at the 10x self-generated scale (SCALECHECK.md) — the",
    "  scale-trend signal.",
    "- **iso sf1** (BENCHISO_SF1.json): fresh JVM per query at sf1.",
    "",
    "A real plan regression moves BOTH the in-suite and isolated columns;",
    "a move in only one column is protocol noise (JVM state or box drift —",
    "see the bench-noise notes in VERDICT/ADVICE history).",
    "",
    "## Canary (drift normalization)",
    "",
    "Every record carries a pinned CANARY pair (`graft.Bench.runCanary`,",
    "3-rep medians): `range_mod_sum_s` = sum(id % 7) over a 1e9 range",
    "(pure codegen CPU, data-independent) and `scan_sf01_lineitem_s` = a",
    "Q6-shaped aggregate over the PINNED read-only sf0.1 lineitem (IO +",
    "parquet decode) — the same work in every record regardless of the",
    "record's own sf. To compare two records, divide each side's",
    "per-query numbers by its own canary: a move the canary shares is box",
    "drift (the r11→r13 uniform 1.39×), a move it doesn't is a plan",
    "change.",
    "",
    "| record | range_mod_sum_s | scan_sf01_lineitem_s |",
    "|---|---|---|",
] + [
    f"| {name} | {fmt(rec, 'range_mod_sum_s', 'canary')} "
    f"| {fmt(rec, 'scan_sf01_lineitem_s', 'canary')} |"
    for name, rec in [("BENCHFULL (in-suite sf0.1)", full),
                      ("BENCHISO (iso sf0.1)", iso),
                      ("BENCH_SF1 (in-suite sf1)", sf1),
                      ("BENCHISO_SF1 (iso sf1)", iso1)]
] + [
    "",
    "| query | in-suite sf0.1 s | iso sf0.1 s | iso sf0.1 cpu-s | in-suite sf1 s | iso sf1 s |",
    "|---|---|---|---|---|---|",
]
for q in headline:
    lines.append(
        f"| `{q}` | {fmt(full, q)} | {fmt(iso, q)} | {fmt(iso, q, 'cpu_s')} "
        f"| {fmt(sf1, q)} | {fmt(iso1, q)} |")

# ---- maintenance-leg phase decomposition (round-20, r19 directive 7) ----
maint = [("sf0.1", load("MAINTPHASES.json")),
         ("sf1", load("MAINTPHASES_SF1.json")),
         ("sf10", load("MAINTPHASES_SF10.json"))]
if any(rec for _, rec in maint):
    lines += [
        "",
        "## Maintenance-leg phase decomposition (graft.MaintBench)",
        "",
        "The registered artifact maintenance legs deliberately compose a",
        "full/reduced BUILD + one MAINTAIN commit + the stored-table RETURN",
        "so the driver's hash compare gates parity-with-rebuild — their",
        "headline numbers above therefore conflate the (deliberate,",
        "artifact-sized) build with the maintenance cost rounds 19-20 made",
        "batch-proportional. `runMain graft.MaintBench` re-times the three",
        "phases separately per rung (median of reps, same batch strata as",
        "the registered legs, same pinned canary pair). Watch the",
        "`maintain` column: it should scale with the BATCH, and its",
        "sf-decade exponent — not the build's — is the incremental-",
        "maintenance claim.",
        "",
        "| leg | rung | build s | maintain s | return s |",
        "|---|---|---|---|---|",
    ]
    leg_names = []
    for _, rec in maint:
        for n in rec.get("legs", {}):
            if n not in leg_names:
                leg_names.append(n)
    for n in [x for x in leg_names if "small" not in x]:
        for rung, rec in maint:
            leg = rec.get("legs", {}).get(n)
            if leg:
                lines.append(
                    f"| `{n}` | {rung} | {leg['build_s']:.2f} "
                    f"| {leg['maintain_s']:.2f} | {leg['return_s']:.2f} |")
    lines += [
        "",
        "The registered strata above are deliberately CORPUS-SIZED (1/8 or",
        "1/16 of all rows — the parity-gate design needs oracle-expressible",
        "strata), so they touch essentially every bucket/cell and the",
        "copy-on-write win cannot appear in them. The SMALL-BATCH legs",
        "below run the same maintenance APIs at the production cadence —",
        "ONE whole order / a handful of vectors against the FULL artifact",
        "(append→delete self-cleaning, upsert-to-identical-content = the",
        "unfold∘fold identity) — where a batch-proportional commit must",
        "stay near-FLAT across the corpus decade while the corpus-stratum",
        "maintain column above grows with it:",
        "",
        "| artifact | rung | small append s | small delete s | small upsert s | batch rows |",
        "|---|---|---|---|---|---|",
    ]
    for n in [x for x in leg_names if "small" in x]:
        for rung, rec in maint:
            leg = rec.get("legs", {}).get(n)
            if leg:
                lines.append(
                    f"| `{n}` | {rung} | {leg['append_s']:.2f} "
                    f"| {leg['delete_s']:.2f} | {leg['upsert_s']:.2f} "
                    f"| {leg['batch_rows']} |")
    lines += [
        "",
        "Canaries per MAINTPHASES record (drift normalization): " + "; ".join(
            f"{rung} {rec.get('canary', {}).get('range_mod_sum_s', '—')}/"
            f"{rec.get('canary', {}).get('scan_sf01_lineitem_s', '—')}"
            for rung, rec in maint if rec) + ".",
    ]

lines += [
    "",
    "## c14_pagerank CPU anatomy (graft.ProfileQuery, measured round 13)",
    "",
    "`graft.ProfileQuery` was removed after commit `19c141c`, where its",
    "source can be read; `BENCHFULL.json`'s per-query `task_cpu_s` and",
    "`jvm_gc_s` now carry the same split. The recorded numbers stay.",
    "",
    "The round-11 gate asked for isolated sf0.1 proc-cpu <= 50 or a",
    "profile-backed irreducibility note. Fresh-JVM anatomy, 3 reps",
    "(`runMain graft.ProfileQuery c14_pagerank`, sf0.1, local[32]):",
    "",
    "| rep | wall s | proc-cpu s | task-cpu s | task-gc s | jvm-gc wall s |",
    "|---|---|---|---|---|---|",
    "| 1 (JIT warmup) | 18.0 | 158.5 | 100.3 | 7.5 | 0.40 |",
    "| 2 | 4.6 | 53.4 | 35.9 | 1.4 | 0.11 |",
    "| 3 | 4.3 | 48.5 | 35.6 | 2.0 | 0.13 |",
    "",
    "Warm-state proc-cpu is 48-53 s, straddling the 50 s gate within box",
    "drift. Of it, ~36 s is executor task CPU — the distributed work",
    "itself (pair self-join pre-aggregated to multiplicities + 3 rank",
    "iterations, every join shuffle_hash, rank never broadcast, plan",
    "audited in VERDICT r11) — GC is <2 s, and the ~13-17 s remainder is",
    "driver planning + codegen + residual JIT, which a plan change cannot",
    "remove. BENCHISO's committed cpu_s (55.1 at the r13 capture) is the",
    "median of 3 in-child reps, i.e. it still carries partial first-rep",
    "warmup.",
    "Conclusion: the plan is at its floor; remaining spread is JVM",
    "warmup + box drift, not shape.",
    "",
    "Round-17 close-out of the co-partitioned-layout lever (named since",
    "r15, graded weak in VERDICT r16): TRIED and MEASURED, and the win is",
    "real — but it lives in the LAYOUT, not the iteration. The persisted",
    "bucketed edge layout (`c14_pagerank_from_layout`, PageRankLayout",
    ".scala) answers the identical oracle in iso 3.15 s sf0.1 / 4.61 s",
    "sf1 / 17.0 s sf10 vs the in-query twin's 3.76 / 8.00 / 71.2 s: a",
    "4.2x wall, 5x CPU cut at sf10, growing with scale because the pair",
    "self-join + cache build the in-query path repeats per execution is",
    "amortized into a build the corpus pays once per snapshot. The",
    "per-iteration joins run with ZERO Exchange over the bucketed tables",
    "(PageRankLayoutSpec pins the plan); the remaining per-iteration",
    "shuffle is the dst contribution aggregate, inherent to rank",
    "propagation. c14_pagerank itself stays registered as the",
    "no-precomputation form at its documented Theta(edges*iters) floor.",
    "",
    "from_layout anatomy (graft.ProfileQuery, sf0.1, warm layout, round",
    "17): reps 2-3 read 2.1-2.2 s wall / 8.8-9.8 s proc-cpu / 2.6-2.7 s",
    "executor task-cpu vs the in-query twin's 4.3-4.6 / 48-53 / 35.6-35.9",
    "above - 13x less distributed work, because the ~33 s the twin spends",
    "regenerating and caching the pair join is simply absent; what",
    "remains is the three iterations' bucketed scans + contribution",
    "aggregates and their rank-table writes.",
    "",
    f"Suite totals: in-suite sf0.1 {full.get('value', '—')} s over "
    f"{len(full.get('queries', {}))} queries (reps={full.get('reps', '?')}, "
    f"spill={full.get('spilled_bytes', '?')} B, "
    f"load1 before/after {full.get('load1_before', '?')}/"
    f"{full.get('load1_after', '?')}); "
    f"isolated sf0.1 {iso.get('value', '—')} s over "
    f"{iso.get('n_queries', '?')} headliners; "
    f"in-suite sf1 {sf1.get('value', '—')} s over "
    f"{len(sf1.get('queries', {}))} queries.",
    "",
]
with open("PERFTABLE.md", "w") as f:
    f.write("\n".join(lines))
print(f"PERFTABLE.md written: {len(headline)} headline rows, round {ROUND}")
