#!/usr/bin/env python3
"""Benchmark of the hourly purchases pipeline, the query registry and
artifact maintenance. See perfbench/README.md.

One run (prints one JSON result line last):
    python3 perfbench/run.py --workload etl_hourly --seed 1 --seconds 20 --trace 0

Every workload, untraced then traced, every metric by name with its unit:
    python3 perfbench/run.py --all

Each workload once at minimum size, checking that every metric is present:
    python3 perfbench/run.py --smoke

The first call in a checkout builds the repository's sources and the
benchmark with sbt; later calls reuse the build.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "perfbench.classpath")
OUT_DIR = os.path.join(HERE, "out")
TMP_DIR = os.path.join(HERE, ".work", "tmp")  # the JVM's temporary files stay in the checkout
WORKLOADS = ["etl_hourly", "query_mix", "artifact_maint"]
RUN_TIMEOUT_S = 170  # one run must end within 180 s

# Every run is a fresh JVM. C2's code depends on the profile each JVM
# happens to collect, and on a shared 4-core machine that moved query_mix
# by 14-34% (quartile spread over 10 runs) from run to run; with the C1
# compiler only, the spread was under 10%. Both commits of a comparison run
# with the same flags, so absolute times are C1 times. -XX:-UsePerfData
# keeps the JVM from writing its counter file outside the checkout.
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the repository and the benchmark once per checkout and keep
    the runtime classpath, so runs start the JVM directly."""
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"the repository's {need} is missing; cannot build the program")
            sys.exit(2)
    log("building (first run in this checkout)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or os.pathsep not in cp or "[" in cp:
        sys.stderr.write(proc.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp + "\n")
    return cp


def driver_mem():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // 2 // 1024 // 1024))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, main_args, tag, jvm_opts=JVM_OPTS):
    """Run the benchmark main; returns its stdout lines. Spark's log goes
    to perfbench/out/<tag>.log."""
    os.makedirs(OUT_DIR, exist_ok=True)
    os.makedirs(TMP_DIR, exist_ok=True)
    cmd = ["java", f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={TMP_DIR}"] + jvm_opts
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--data", DATA, "--bench-dir", HERE] + main_args
    log_path = os.path.join(OUT_DIR, f"{tag}.log")
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"run timed out after {RUN_TIMEOUT_S} s; log in {log_path}")
            sys.exit(1)
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        log(f"run failed with code {proc.returncode}; log in {log_path}")
        sys.exit(1)
    return [l for l in out.splitlines() if l.strip()]


def one_run(cp, workload, seed, seconds, trace, smoke=False):
    """One run; returns (record, result)."""
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace)] + (["--smoke", "1"] if smoke else [])
    lines = run_jvm(cp, args, f"{workload}-s{seed}-t{trace}")
    record = next((json.loads(l)["record"] for l in reversed(lines)
                   if l.startswith('{"record"')), None)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or record is None:
        log("malformed output from the benchmark main")
        sys.exit(1)
    return record, result


def canary(cp, tag):
    """The canary pair of `graft.Bench.runCanary`, in its own JVM with the
    default JIT: it labels the machine's speed the way the repository's
    other records do (under C1 its 1e9-row loop alone takes ~25 s). Only
    --all and --smoke run it: its scan half reads a fixed data directory
    outside this checkout when that exists, and a single run reads only
    inside the checkout."""
    lines = run_jvm(cp, ["--canary"], f"{tag}-canary",
                    jvm_opts=[o for o in JVM_OPTS if not o.startswith("-XX:TieredStopAtLevel")])
    return json.loads(lines[-1])["canary"]


def check_metrics(spec, workload, record, result):
    """Names of the metrics that are missing from a run: every end-to-end
    metric of BENCHMARK.json (in the record, so traced runs are checked
    too), every per-layer one on a traced run, every issue-named one."""
    need = [("e2e", m["name"]) for m in spec["end_to_end"]]
    need += [("named", n) for n in record["named"]]
    if record["trace"]:
        need += [("layers", m["name"]) for m in spec["per_layer"]]
    return [f"{workload}: {n}" for where, n in need
            if record[where].get(n, {}).get("value") is None]


def show(title, metrics):
    print(title)
    for name, m in metrics.items():
        v = m["value"]
        print(f"  {name:28s} {'n/a' if v is None else f'{v:.6g}':>14s} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    spec = benchmark_json()
    seconds = a.seconds or spec["run_seconds"]
    cp = build()

    if a.smoke or a.all:
        # --smoke: one traced run per workload at minimum size;
        # --all: an untraced and a traced run per workload
        missing, failed = [], 0
        for w in WORKLOADS:
            records = {}
            for trace in ((1,) if a.smoke else (0, 1)):
                record, result = one_run(cp, w, a.seed, 1 if a.smoke else seconds, trace, a.smoke)
                if trace:
                    record["canary"] = canary(cp, f"{w}-s{a.seed}-t1")
                records[trace] = record
                missing += check_metrics(spec, w, record, result)
                failed += result["failed"] + (0 if result["correct"] else 1)
            first = records[min(records)]
            show(f"{w} (seed {a.seed}, nproc {first['nproc']}, load {first['load1_before']}"
                 f" -> {first['load1_after']}, steal {first['steal_s']} s, {result['attempted']} operations, "
                 f"{result['failed']} failed)", {**first["e2e"], **first["named"]})
            show(f"{w} per layer (traced run; canary {records[1]['canary']})", records[1]["layers"])
            if 0 in records:
                t, u = (records[i]["e2e"]["pass_s"]["value"] for i in (1, 0))
                print(f"  tracing overhead: traced pass_s {t:.4g} s against untraced "
                      f"{u:.4g} s ({t / u - 1:+.1%})")
        if missing:
            log("missing metrics: " + ", ".join(missing))
        print(json.dumps({"ok": not missing and failed == 0, "missing": missing, "failed": failed}))
        sys.exit(0 if not missing and failed == 0 else 1)

    if a.workload is None:
        ap.error("--workload is required")
    record, result = one_run(cp, a.workload, a.seed, seconds, a.trace)
    # the result carries exactly the metrics BENCHMARK.json names; the
    # record above it carries everything the run measured
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    result["metrics"] = {n: result["metrics"][n] for n in names if n in result["metrics"]}
    print(json.dumps({"record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
