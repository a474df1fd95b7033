#!/usr/bin/env python3
"""Benchmark of the engine's catalog queries, end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness with sbt on first use, then runs one
workload in one JVM (`graft.perfbench.Harness`, local[N] with N = the
machine's cores) over the read-only testdata. Every query is built through
`SparkEntry.queries` and materialized through the `noop` sink. The seed
sets the query order of every pass. The warm-up pass checks each result
against `fingerprints/<workload>.json` and checks that the sink kept every
Window, Aggregate, Join and Generate node of the query's optimized plan.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones; the
last stdout line is one JSON object. See README.md for the metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import layers
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEFAULT_DATA = os.path.expanduser("~/testdata/sf0.1")  # see TESTDATA.md
JVM_TIMEOUT_S = 170

# Queries are run in seeded order; names must exist in SparkEntry.queries.
# README.md says why each workload holds what it holds.
WORKLOADS = {
    "olap_window": [
        "q_w2_pct_change", "q_w3_zscore", "q_asof_join", "q_cube", "q_a21_entropy",
    ],
    "rank_stats": [
        "q_a20_gini", "q_a27_iqr_outliers", "q_m42_auc",
    ],
    "index_lifecycle": [
        "q_t_bm25_stream_ingest",
    ],
}

# Timed passes per 10 s of --seconds, two at least; warm passes take about
# 3, 5 and 10 s on a 4-core machine. The count is the same in every run
# because passes keep getting faster while the JIT still compiles, so a
# count read off the clock would move the median.
PASSES_PER_10S = {"olap_window": 4, "rank_stats": 2, "index_lifecycle": 2}


def timed_passes(workload, seconds, trace):
    n = max(2, round(seconds / 10 * PASSES_PER_10S[workload]))
    return 4 * -(-n // 4) if trace else n

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, to rebuild when it changes."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt (offline) unless the classpath is current."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        out.write(r.stdout)
    cps = [l for l in r.stdout.splitlines() if l.startswith("/")]
    if r.returncode != 0 or not cps:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def orders(names, seed, passes=64):
    """One query order per pass; the first is the warm-up pass's."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        o = list(names)
        rng.shuffle(o)
        out.append(o)
    return out


def run_jvm(cp, workload, seed, seconds, trace, data):
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    order_file = os.path.join(run_dir, "orders.txt")
    with open(order_file, "w") as f:
        f.write("\n".join(",".join(o) for o in orders(WORKLOADS[workload], seed)) + "\n")
    out = os.path.join(run_dir, "records.jsonl")
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:+UseG1GC", "-Djava.awt.headless=true",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-cp", cp, "graft.perfbench.Harness", "--data", data,
           "--orders", order_file, "--passes", str(timed_passes(workload, seconds, trace)),
           "--trace", str(trace), "--out", out]
    launch_ms = time.time() * 1000
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=log,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out, see {log.name}")
    if r.returncode != 0 or not os.path.exists(out):
        fail(f"harness exited {r.returncode}, see {log.name}")
    with open(out) as f:
        recs = [json.loads(l) for l in f]
    shutil.rmtree(tmp, ignore_errors=True)
    return run_dir, launch_ms, recs


def check(workload, run):
    """Result and plan-pruning checks of the warm-up pass. Returns a list
    of (query, problem)."""
    path = os.path.join(HERE, "fingerprints", f"{workload}.json")
    golden = {}
    if os.path.exists(path):
        with open(path) as f:
            golden = json.load(f)
    problems = []
    for q in run.queries.values():
        if q["pass"] != 0:
            continue
        name = q["name"]
        if q["err"] is not None:
            problems.append((name, q["err"]))
            continue
        g = golden.get(name)
        if g is None:
            problems.append((name, "no committed fingerprint"))
        elif (q["rows"], q["schema"]) != (g["rows"], g["schema"]):
            problems.append((name, f"rows/schema {q['rows']} {q['schema']} != {g['rows']} {g['schema']}"))
        elif g["sum"] is not None and q["sum"] != g["sum"]:
            problems.append((name, f"checksum {q['sum']} != {g['sum']}"))
        plan = layers.sink_plan(run, q["qid"])
        if plan is None:
            problems.append((name, "no plan recorded for the sink action"))
        else:
            for k, n in q["logical"].items():
                if plan[k] < n:
                    problems.append((name, f"sink plan has {plan[k]} {k}, optimized plan {n}"))
    return problems


def end_to_end(run, launch_ms):
    timed = [p for p in run.passes if p["pass"] > 0]
    lat = [(q["build_ns"] + q["action_ns"]) / 1e9
           for q in run.queries.values() if q["pass"] > 0 and q["err"] is None]
    if not lat:
        fail("no timed query execution returned")
    pct, tail, beyond = stats.tail_percentile(lat)
    metrics = {
        "setup_s": (run.setup["timed_start_ms"] - launch_ms) / 1000,
        "pass_s": statistics.median(p["wall_ns"] / 1e9 for p in timed),
        "query_p50_s": statistics.median(lat),
    }
    # printed, not in BENCHMARK.json (README.md says why): below 40 samples
    # the tail rule yields the median, and the heap jumps between passes
    notes = {"passes": len(timed), "query_samples": len(lat), "query_tail_s": tail,
             "tail_percentile": pct, "tail_samples_beyond": beyond,
             "peak_heap_mb": max(p["old_after_gc_b"] for p in timed) / layers.MB}
    return metrics, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA, help="scale-factor directory (read only)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}; run from a checkout")
    if not os.path.isdir(a.data):
        fail(f"data directory {a.data} not found")
    cp = build()
    run_dir, launch_ms, recs = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, a.data)
    run = layers.Run(recs)

    problems = check(a.workload, run)
    failed_names = {n for n, _ in problems}
    failed = sum(1 for q in run.queries.values()
                 if q["err"] is not None or (q["pass"] == 0 and q["name"] in failed_names))
    for name, why in problems:
        print(f"FAILED {name}: {why}")

    if a.trace == 0:
        metrics, notes = end_to_end(run, launch_ms)
        unit = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s"}
    else:
        metrics, notes = layers.per_layer(run)
        unit = layers.UNITS
        layers.write_outputs(run_dir, a.workload, run, notes)
    notes["failed_frac"] = failed / len(run.queries)
    for k, v in metrics.items():
        print(f"{a.workload:16} {k:24} {v:14.6f} {unit[k]}")
    for k, v in notes.items():
        if not isinstance(v, (dict, list)):
            print(f"{a.workload:16} {k:24} {v}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(run.queries),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
