#!/usr/bin/env python3
"""Benchmark of the graft engine: end-to-end and per-layer numbers for a
few fixed workloads, with an output check.

    python3 perfbench/run.py --workload game-pipeline --seed 1 --seconds 30 --trace 0

Run from the repository root. Each run builds the engine and the harness
from source when they changed (sbt, offline), stages the vendored input
tables with a row order drawn from --seed, starts one JVM (perfbench.Harness)
that times a cold pass and warm passes over the workload's queries, checks
every query's output digest against perfbench/expected.json, and prints a report
whose last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(listeners on, spans written to .bench_build/perfbench/). See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(BENCH, "data")
SPEC = json.load(open(os.path.join(BENCH, "workloads.json")))

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found: run from a checkout of the repository")
    os.makedirs(WORK, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    log("perfbench: building engine + harness (sbt)")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    lines = open(os.path.join(WORK, "build.log")).read().splitlines()
    if r.returncode != 0 or not lines:
        log("\n".join(lines[-30:]))
        fail("build failed", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- inputs

def stage(scale, seed):
    """Copies the vendored tables with every row in a seeded order. The
    content and the parquet schema are unchanged, so expected outputs do
    not depend on the seed; only the physical order the engine scans does."""
    import numpy as np
    import pyarrow.parquet as pq
    src = os.path.join(DATA, scale)
    dst = os.path.join(WORK, f"staged-{scale}-{seed}")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, name))
        t = t.take(rng.permutation(t.num_rows))
        out = os.path.join(dst, name)
        pq.write_table(t, out, row_group_size=max(1, t.num_rows),
                       compression="snappy", version="2.6",
                       coerce_timestamps=None, use_deprecated_int96_timestamps=False)
        if not pq.ParquetFile(out).schema.equals(pq.ParquetFile(os.path.join(src, name)).schema):
            fail(f"staging changed the parquet schema of {name}")
    return dst


# ---------------------------------------------------------------- launch

def launch(cp, staged, names, seconds, traced, tag, dump, layer_split):
    """One harness JVM; returns (its result, seconds from process start to
    the first query submitted)."""
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, f"{tag}.json")
    cwd = os.path.join(WORK, "jvm")
    shutil.rmtree(cwd, ignore_errors=True)
    os.makedirs(os.path.join(cwd, "tmp"))
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms4g", "-Xmx4g", "-Djava.io.tmpdir=" + os.path.join(cwd, "tmp"),
            "-cp", cp, "perfbench.Harness", staged, ",".join(names),
            str(seconds), "1" if traced else "0", "1" if layer_split else "0",
            out, dump]
    with open(os.path.join(WORK, f"{tag}.log"), "w") as errf:
        t0 = time.time()
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=errf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=170)
        finally:
            # on a timeout or a terminated run, stop the JVM with SIGTERM
            # first so the engine's shutdown hooks remove its scratch dirs
            if proc.poll() is None:
                proc.terminate()
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    if rc != 0 or not os.path.isfile(out):
        log(open(os.path.join(WORK, f"{tag}.log")).read()[-3000:])
        fail(f"harness exited with {rc}", 1)
    res = json.load(open(out))
    shutil.rmtree(cwd, ignore_errors=True)
    return res, res["first_submit_us"] / 1e6 - t0


# ---------------------------------------------------------------- main

def metric_specs(traced):
    """(name, unit) of every metric this run must print, from BENCHMARK.json."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(path))
    return [(m["name"], m["unit"]) for m in spec["per_layer" if traced else "end_to_end"]]


def check(res, expected):
    """Counts failed executions: a thrown query, a row count other than the
    expected one, and every execution of a query whose output digest differs
    from the expected one. Returns (attempted, failed, {query: reason})."""
    reasons = {}
    for q, got in res["digests"].items():
        exp = expected[q]
        rows, sha = got["rows"], got["sha256"]
        if rows != exp["rows"] or sha != exp["sha256"]:
            reasons[q] = (f"output {rows} rows, sha256 {sha[:12]}; expected "
                          f"{exp['rows']} rows, sha256 {exp['sha256'][:12]}")
    failed = 0
    for e in res["execs"]:
        q = e["query"]
        if e["error"] is not None:
            reasons.setdefault(q, f"pass {e['pass']} threw {e['error']}")
            failed += 1
        elif e["rows"] != expected[q]["rows"]:
            reasons.setdefault(q, f"pass {e['pass']}: {e['rows']} rows, expected {expected[q]['rows']}")
            failed += 1
        elif q in reasons:
            failed += 1
    return len(res["execs"]), failed, reasons


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat, or None where it is absent."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return None


def run(workload, seed, seconds, traced, scale):
    w = SPEC["workloads"][workload]
    ticks0, load0 = cpu_ticks(), os.getloadavg()[0]
    specs = metric_specs(traced)
    expected = json.load(open(os.path.join(BENCH, "expected.json")))[scale]
    cp = build()
    staged = stage(scale, seed)
    names = list(w["queries"])
    random.Random(seed).shuffle(names)
    try:
        tag = f"{workload}-{seed}-{'traced' if traced else 'plain'}"
        res, setup = launch(cp, staged, names, seconds, traced, tag, "-",
                            w["layer_split"])
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    attempted, failed, reasons = check(res, expected)
    if traced:
        values = dict(res["layers"], **{"trace.cold_pass_s": res["cold_pass_s"]})
        # layers this workload does not run read 0: the game-pipeline split
        # elsewhere, and the per-query lines of other workloads' queries
        values.update({n: 0.0 for n, _ in specs if n not in values and (
            n.startswith("queries.") or
            (not w["layer_split"] and n.startswith(("nba.", "graph."))))})
    else:
        values = {
            "setup_s": setup,
            "cold_pass_s": res["cold_pass_s"],
            "warm_pass_s": statistics.median(res["warm_pass_s"]),
            "cpu_core_s": res["cpu_core_s"],
            "heap_live_peak_mb": res["heap_live_peak_mb"],
        }
    missing = [n for n, _ in specs if values.get(n) is None]
    if missing:
        fail(f"no value for metrics {missing}", 1)
    metrics = {n: {"value": values[n], "unit": u} for n, u in specs}
    print(f"workload {workload}  seed {seed}  scale {scale}  cores {res['cores']}  "
          f"trace {int(traced)}  warm passes {len(res['warm_pass_s'])}")
    print("query order: " + ", ".join(names))
    # host context is printed for the record only; it never gates a result
    ticks1 = cpu_ticks()
    steal = (f"{100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.2f}%"
             if ticks0 and ticks1 and ticks1[1] > ticks0[1] else "n/a")
    print(f"host: nproc {os.cpu_count()}, load average {load0:.2f} at start, "
          f"cpu steal {steal} over the run")
    for n, m in metrics.items():
        print(f"  {n:36s} {m['value']:16.6g} {m['unit']}")
    print(f"check: {attempted} executions, {failed} failed, "
          f"failed_frac {failed / attempted:.4f}, verdict {'PASS' if not reasons else 'FAIL'}")
    for q, why in sorted(reasons.items()):
        print(f"  FAILED {q}: {why}")
    if traced:
        print(f"spans: {res['spans']}")
    return {"correct": not reasons, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    # a terminated run raises SystemExit, so the build or harness it is
    # waiting on is stopped instead of left running
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=SPEC["scale"], choices=sorted(os.listdir(DATA)))
    a = ap.parse_args()
    result = run(a.workload, a.seed, a.seconds, a.trace == 1, a.scale)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
