#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each end-to-end
metric's spread (quartile distance over median) against its bound.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--out FILE]

Reads the command, run length, workloads and bounds from BENCHMARK.json.
With --out, writes every run's metrics and the summary as JSON. Exits 1
if a run fails or a spread (set-up time excepted) exceeds its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="N or N-M")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs, ok = [], True
    for w in names:
        for seed in seeds(a.seeds):
            t = time.time()
            r = subprocess.run([*bench["command"], "--workload", w, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if r.returncode == 0 and lines else None
            if res is None or not res["correct"]:
                ok = False
                print(f"{w} seed {seed}: exit {r.returncode}\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
                continue
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            runs.append({"workload": w, "seed": seed, "wall_s": wall, "metrics": vals})
            print(f"{w} seed {seed} ({wall:.1f} s): "
                  + " ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
    summary = {}
    for w in names:
        rs = [r for r in runs if r["workload"] == w]
        if len(rs) < 2:
            continue
        summary[w] = {}
        for m, bound in bounds.items():
            vals = [r["metrics"][m] for r in rs]
            sp = stats.spread(vals)
            summary[w][m] = {"median": statistics.median(vals), "spread": sp, "bound": bound}
            flag = "" if sp <= bound else "  OVER BOUND"
            if sp > bound and m != "setup_s":
                ok = False
            print(f"{w:16} {m:14} median {statistics.median(vals):10.4f}  "
                  f"spread {sp:6.3f}  bound {bound}{flag}")
        print(f"{w:16} mean wall per run {statistics.mean(r['wall_s'] for r in rs):.1f} s")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)
            f.write("\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
