"""Spans, per-layer metrics and the counter ledger of a traced run.

The harness tags each job and SQL execution with `pb:<qid>:<phase>`, where
qid numbers query executions and phase is `b` (the build call) or `a` (the
sink action). Planner phases and streaming batches carry only
wall-clock times and are attributed to the query execution whose window
holds them.
"""
import bisect
import json
import os
import statistics
from collections import defaultdict

import stats

# Deterministic counters committed per query in ledger/<workload>.json.
LEDGER_COUNTERS = (
    "queries.build_jobs", "plan.sql_executions", "plan.nodes",
    "plan.exchanges", "plan.windows", "exec.jobs", "exec.stages",
    "exec.tasks", "sources.input_rows", "sources.output_rows",
    "sources.labeled_jobs", "streaming.batches",
)

UNITS = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.analysis_s": "s", "plan.optimize_s": "s", "plan.physical_s": "s",
    "plan.sql_executions": "count", "plan.nodes": "count",
    "plan.exchanges": "count", "plan.windows": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.busy_s": "s", "exec.driver_gap_s": "s", "exec.task_s": "s",
    "exec.task_cpu_s": "s", "exec.slot_util": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "sources.input_mb": "MB",
    "sources.input_rows": "count", "sources.output_mb": "MB",
    "sources.output_rows": "count", "sources.labeled_jobs": "count",
    "sources.labeled_s": "s", "streaming.batches": "count",
    "streaming.input_rows": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.heap_after_gc_mb": "MB",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}

MB = 2 ** 20


def parse_tag(tag):
    _, qid, phase = tag.split(":")
    return int(qid), phase


# Description prefixes set through `ManifestedPartitions.labeled`: generation
# writes, sidecar commits and IVF-PQ training. Spark's own descriptions
# (file listing, streaming batches) are not commit work.
LABELS = ("writeGen ", "sidecar ", "ivfpq:")


def is_labeled(desc):
    return desc is not None and desc.startswith(LABELS)


class Run:
    """The records of one harness run, joined."""

    def __init__(self, recs):
        self.queries = {r["qid"]: r for r in recs if r["ev"] == "q"}
        self.passes = [r for r in recs if r["ev"] == "pass"]
        self.setup = next(r for r in recs if r["ev"] == "setup")
        self.jobs, self.sql, stage_job = {}, {}, {}
        stages = {}
        for r in recs:
            ev = r["ev"]
            if ev == "job":
                self.jobs[r["id"]] = dict(r, t1=r["t0"], stage_recs=[])
                for s in r["stages"]:
                    stage_job.setdefault(s, r["id"])
            elif ev == "jobEnd" and r["id"] in self.jobs:
                self.jobs[r["id"]]["t1"] = r["t1"]
            elif ev == "stage":
                stages[r["id"]] = r
            elif ev == "sql":
                self.sql[r["id"]] = dict(r, t1=r["t0"])
            elif ev == "sqlPlan" and r["id"] in self.sql:
                self.sql[r["id"]]["plan"] = r["plan"]
            elif ev == "sqlEnd" and r["id"] in self.sql:
                self.sql[r["id"]]["t1"] = r["t1"]
        for sid, s in stages.items():
            if sid in stage_job:
                self.jobs[stage_job[sid]]["stage_recs"].append(s)
        self.by_query = defaultdict(lambda: {"jobs": [], "sql": [], "plan": [], "batch": []})
        for j in self.jobs.values():
            self.by_query[parse_tag(j["tag"])[0]]["jobs"].append(j)
        for s in self.sql.values():
            self.by_query[parse_tag(s["tag"])[0]]["sql"].append(s)
        windows = sorted((q["w0"], q["w1"], qid) for qid, q in self.queries.items())
        starts = [w[0] for w in windows]
        for r in recs:
            t = r.get("t") if r["ev"] == "batch" else r.get("t0") if r["ev"] == "plan" else None
            if t is None:
                continue
            i = bisect.bisect_right(starts, t) - 1
            if i >= 0 and t <= windows[i][1]:
                self.by_query[windows[i][2]][r["ev"]].append(r)


def sink_plan(run, qid):
    """Node counts of the query execution's sink action: the first root SQL
    execution tagged with the action phase, in its final adaptive plan."""
    return next((s["plan"] for s in sorted(run.by_query[qid]["sql"], key=lambda s: s["id"])
                 if parse_tag(s["tag"])[1] == "a" and s["root"] in (None, s["id"])), None)


def query_counters(run, qid):
    """Per-layer figures of one traced query execution."""
    q, ev = run.queries[qid], run.by_query[qid]
    jobs, stages = ev["jobs"], [s for j in ev["jobs"] for s in j["stage_recs"]]
    sink = sink_plan(run, qid) or {"nodes": 0, "exchanges": 0, "windows": 0}
    busy = stats.union_length([(j["t0"], j["t1"]) for j in jobs]) / 1000
    labeled = [j for j in jobs if is_labeled(j["desc"])]
    wall = (q["build_ns"] + q["action_ns"]) / 1e9
    return {
        "queries.build_s": q["build_ns"] / 1e9,
        "queries.build_jobs": sum(1 for j in jobs if parse_tag(j["tag"])[1] == "b"),
        "plan.analysis_s": sum(p["an"] for p in ev["plan"]) / 1000,
        "plan.optimize_s": sum(p["op"] for p in ev["plan"]) / 1000,
        "plan.physical_s": sum(p["ph"] for p in ev["plan"]) / 1000,
        "plan.sql_executions": len(ev["sql"]),
        "plan.nodes": sink["nodes"],
        "plan.exchanges": sink["exchanges"],
        "plan.windows": sink["windows"],
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.busy_s": busy,
        "exec.driver_gap_s": wall - busy,
        "exec.task_s": sum(s["run_ms"] for s in stages) / 1000,
        "exec.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.shuffle_write_mb": sum(s["sw_b"] for s in stages) / MB,
        "exec.shuffle_read_mb": sum(s["sr_b"] for s in stages) / MB,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) / MB,
        "sources.input_mb": sum(s["in_b"] for s in stages) / MB,
        "sources.input_rows": sum(s["in_r"] for s in stages),
        "sources.output_mb": sum(s["out_b"] for s in stages) / MB,
        "sources.output_rows": sum(s["out_r"] for s in stages),
        "sources.labeled_jobs": len(labeled),
        "sources.labeled_s": stats.union_length([(j["t0"], j["t1"]) for j in labeled]) / 1000,
        "streaming.batches": len(ev["batch"]),
        "streaming.input_rows": sum(b["rows"] for b in ev["batch"]),
        "streaming.trigger_s": sum(b["trigger"] for b in ev["batch"]) / 1000,
        "streaming.add_batch_s": sum(b["add"] for b in ev["batch"]) / 1000,
        "streaming.wal_commit_s": sum(b["wal"] for b in ev["batch"]) / 1000,
        "streaming.state_rows": max((b["state_rows"] for b in ev["batch"]), default=0),
        "streaming.state_mb": max((b["state_b"] for b in ev["batch"]), default=0) / MB,
    }


def per_layer(run):
    """Per-layer metrics: per-pass totals over the traced timed passes,
    median over those passes."""
    cores = run.setup["cores"]
    traced = [p for p in run.passes if p["pass"] > 0 and p["traced"]]
    plain = [p for p in run.passes if p["pass"] > 0 and not p["traced"]]
    per_pass = []
    for p in traced:
        qs = [qid for qid, q in run.queries.items() if q["pass"] == p["pass"]]
        tot = defaultdict(float)
        for qid in qs:
            for k, v in query_counters(run, qid).items():
                tot[k] += v
        tot["exec.slot_util"] = tot["exec.task_s"] / (tot["exec.busy_s"] * cores) if tot["exec.busy_s"] else 0.0
        tot["jvm.gc_s"] = p["gc_ms"] / 1000
        tot["jvm.heap_after_gc_mb"] = p["old_after_gc_b"] / MB
        per_pass.append(tot)
    metrics = {k: statistics.median(t[k] for t in per_pass)
               for k in UNITS if k in per_pass[0]}
    # JIT work is a set-up cost: it is compiled while the warm-up pass runs
    warm = next(p for p in run.passes if p["pass"] == 0)
    metrics["jvm.jit_s"] = warm["jit_ms"] / 1000
    traced_s = statistics.median(p["wall_ns"] / 1e9 for p in traced)
    metrics["trace.pass_s"] = traced_s
    metrics["trace.overhead_s"] = traced_s - statistics.median(p["wall_ns"] / 1e9 for p in plain)
    metrics = {k: metrics[k] for k in UNITS}
    notes = {"traced_passes": len(traced), "untraced_passes": len(plain),
             "ledger": ledger(run)}
    return metrics, notes


def ledger(run):
    """query -> counter -> value over the traced timed executions; a
    counter whose value differs between executions is left out and listed
    under `unstable`."""
    seen = defaultdict(lambda: defaultdict(set))
    for qid, q in run.queries.items():
        if q["pass"] > 0 and q["traced"] and q["err"] is None:
            c = query_counters(run, qid)
            for k in LEDGER_COUNTERS:
                seen[q["name"]][k].add(c[k])
    out = {"queries": {}, "unstable": []}
    for name in sorted(seen):
        out["queries"][name] = {}
        for k in LEDGER_COUNTERS:
            vals = seen[name][k]
            if len(vals) == 1:
                out["queries"][name][k] = vals.pop()
            else:
                out["unstable"].append(f"{name}:{k}")
    return out


def spans(run):
    """query -> build / action -> SQL execution -> job -> stage, plus
    streaming batches, for the traced timed passes; times in epoch ms, one
    id space per run."""
    out, ids = [], iter(range(1, 10 ** 9))

    def add(kind, name, qid, start, end, parent):
        sid = next(ids)
        out.append({"id": sid, "parent": parent, "qid": qid, "kind": kind,
                    "name": name, "start": start, "end": end})
        return sid

    for qid, q in sorted(run.queries.items()):
        if q["pass"] == 0 or not q["traced"]:
            continue
        b_end = q["w0"] + q["build_ns"] / 1e6
        root = add("query", q["name"], qid, q["w0"], b_end + q["action_ns"] / 1e6, None)
        phase = {"b": add("build", q["name"], qid, q["w0"], b_end, root),
                 "a": add("action", q["name"], qid, b_end, b_end + q["action_ns"] / 1e6, root)}
        ev = run.by_query[qid]
        sql_span = {}
        for s in sorted(ev["sql"], key=lambda s: s["id"]):
            sql_span[str(s["id"])] = add("sql", f"sql {s['id']}", qid, s["t0"], s["t1"],
                                         phase[parse_tag(s["tag"])[1]])
        for j in ev["jobs"]:
            parent = sql_span.get(str(j["sql"]), phase[parse_tag(j["tag"])[1]])
            jid = add("job", j["desc"] or f"job {j['id']}", qid, j["t0"], j["t1"], parent)
            for s in j["stage_recs"]:
                add("stage", f"stage {s['id']}", qid, s["t0"], s["t1"], jid)
        for b in ev["batch"]:
            add("batch", "micro-batch", qid, b["t"], b["t"] + b["trigger"], root)
    return out


def self_times(span_list):
    """kind -> summed self time (s) over all spans of that kind."""
    children = defaultdict(list)
    for s in span_list:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = defaultdict(float)
    for s in span_list:
        out[s["kind"]] += stats.self_time(s["start"], s["end"], children[s["id"]]) / 1000
    return dict(out)


def write_outputs(run_dir, workload, run, notes):
    """Writes spans.jsonl and ledger.json beside the run's records, and
    compares the ledger with the committed one."""
    sp = spans(run)
    with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
        for s in sp:
            f.write(json.dumps(s) + "\n")
    n = notes["traced_passes"]
    notes["self_s"] = {k: v / n for k, v in self_times(sp).items()}
    led = notes["ledger"]
    with open(os.path.join(run_dir, "ledger.json"), "w") as f:
        json.dump(led, f, indent=1, sort_keys=True)
    committed = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ledger", f"{workload}.json")
    if os.path.exists(committed):
        with open(committed) as f:
            diff = diff_ledgers(json.load(f), led)
        notes["ledger_diffs"] = len(diff)
        for line in diff:
            print("ledger", line)
    with open(os.path.join(run_dir, "self_times.json"), "w") as f:
        json.dump(notes["self_s"], f, indent=1, sort_keys=True)
    for kind, v in sorted(notes["self_s"].items()):
        print(f"{workload:16} self time per pass: {kind:8} {v:10.3f} s")
    print(f"spans, ledger and self times in {run_dir}")


def diff_ledgers(old, new):
    """Lines `query counter old -> new` for every committed counter whose
    value differs or is missing."""
    out = []
    for name, counters in sorted(old["queries"].items()):
        got = new["queries"].get(name, {})
        for k, v in sorted(counters.items()):
            if got.get(k) != v:
                out.append(f"{name} {k} {v} -> {got.get(k)}")
    for name in sorted(set(new["queries"]) - set(old["queries"])):
        out.append(f"{name} (new query)")
    return out
