#!/usr/bin/env python3
"""Maintains the benchmark's committed reference files.

    python3 perfbench/golden.py fingerprints WORKLOAD RECORDS.jsonl...
        Writes fingerprints/WORKLOAD.json from the warm-up passes of the
        given runs (.bench_build/perfbench/runs/*/records.jsonl). Row
        counts and schemas must agree; a checksum that differs between
        runs is stored as null, and the query is then checked by row count
        and schema only.
    python3 perfbench/golden.py ledger WORKLOAD LEDGER.json...
        Writes ledger/WORKLOAD.json from the ledgers of traced runs,
        keeping the counters that agree in every run.
    python3 perfbench/golden.py diff OLD.json NEW.json
        Prints the counters that differ; exits 1 if any do.
"""
import json
import os
import sys

import layers

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as f:
        return json.load(f)


def save(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")


def fingerprints(workload, paths):
    seen = {}
    for p in paths:
        with open(p) as f:
            for r in map(json.loads, f):
                if r["ev"] != "q" or r["pass"] != 0:
                    continue
                if r["err"] is not None:
                    sys.exit(f"{p}: {r['name']} failed: {r['err']}")
                seen.setdefault(r["name"], []).append(r)
    out = {}
    for name, rs in sorted(seen.items()):
        if len({(r["rows"], r["schema"]) for r in rs}) > 1:
            sys.exit(f"{name}: row count or schema differs between runs")
        sums = {r["sum"] for r in rs}
        out[name] = {"rows": rs[0]["rows"], "schema": rs[0]["schema"],
                     "sum": sums.pop() if len(sums) == 1 else None,
                     "runs": len(rs)}
        if out[name]["sum"] is None:
            print(f"{name}: checksum not stable over {len(rs)} runs; rows and schema only")
    save(os.path.join(HERE, "fingerprints", f"{workload}.json"), out)


def ledger(workload, paths):
    ledgers = [load(p) for p in paths]
    out = {"queries": {}, "unstable": sorted({u for l in ledgers for u in l["unstable"]}),
           "runs": len(ledgers)}
    names = set().union(*(l["queries"] for l in ledgers))
    for name in sorted(names):
        out["queries"][name] = {}
        for k in layers.LEDGER_COUNTERS:
            vals = {json.dumps(l["queries"].get(name, {}).get(k)) for l in ledgers}
            if len(vals) == 1 and "null" not in vals:
                out["queries"][name][k] = json.loads(vals.pop())
            elif f"{name}:{k}" not in out["unstable"]:
                out["unstable"].append(f"{name}:{k}")
    out["unstable"].sort()
    save(os.path.join(HERE, "ledger", f"{workload}.json"), out)


def main(argv):
    if len(argv) >= 3 and argv[0] == "fingerprints":
        fingerprints(argv[1], argv[2:])
    elif len(argv) >= 3 and argv[0] == "ledger":
        ledger(argv[1], argv[2:])
    elif len(argv) == 3 and argv[0] == "diff":
        diff = layers.diff_ledgers(load(argv[1]), load(argv[2]))
        for line in diff:
            print(line)
        print(f"{len(diff)} counters differ")
        sys.exit(1 if diff else 0)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
