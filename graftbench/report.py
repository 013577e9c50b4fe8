#!/usr/bin/env python3
"""Per-layer report of a traced run, written from its span and counter files.

As a library, run.py calls `layer_metrics` and `table`. As a command:

  python3 graftbench/report.py <run_dir>                 per-layer table of one traced run
  python3 graftbench/report.py <run_dir> <run_dir>       do per-statement job/stage/task
                                                         counts repeat exactly?
  python3 graftbench/report.py --overhead <untraced_run_dir> <traced_run_dir>

A run dir is `<build dir>/runs/<workload>-s<seed>-t<trace>`.

A layer's self time is its span's duration minus the time its child spans
cover; the `stmt` root's self time is the part of statement wall that no
layer span covers. The `api` span is a whole GraftSession call (dispatch,
parse, plan and Spark's eager analysis). Its parser part is measured by
parsing the same text again after the statement (`parser` spans, outside
statement wall); `impl` is the rest of the call, dispatch included.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

LAYERS = ["api", "catalyst.optimize", "catalyst.physical", "exec", "algos.call", "algos.final"]
COMPILE = ["api", "catalyst.optimize", "catalyst.physical"]
MB = 1048576.0

UNITS = {
    "api.cypher_ms": "ms", "parser.parse_ms": "ms", "impl.plan_ms": "ms",
    "impl.analyzed_nodes": "count", "catalyst.optimize_ms": "ms", "catalyst.physical_ms": "ms",
    "catalyst.optimized_nodes": "count", "catalyst.exchanges": "count", "compile.share": "ratio",
    "exec.run_ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_busy_share": "ratio", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.peak_task_mem_mb": "MB",
    "exec.rows_scanned_per_row_out": "ratio", "exec.failed_tasks": "count",
    "exec.storage_mb": "MB", "algos.call_ms": "ms", "algos.final_ms": "ms",
    "algos.jobs": "count", "algos.ms_per_job": "ms", "algos.shuffle_mb": "MB",
    "setup.session_ms": "ms", "setup.graph_build_ms": "ms", "setup.datagen_ms": "ms",
    "setup.warmup_ms": "ms", "trace.uncovered_share": "ratio", "trace.latency_p50_ms": "ms",
}


def _jsonl(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def self_times(out_dir):
    """(per-layer self ns, per-layer inclusive ns, per-layer span count,
    root walls ns, root self ns)."""
    spans = _jsonl(os.path.join(out_dir, "spans.jsonl"))
    child = defaultdict(int)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["end_ns"] - s["start_ns"]
    self_ns, incl_ns, count = defaultdict(int), defaultdict(int), defaultdict(int)
    walls, root_self = [], 0
    for s in spans:
        d = s["end_ns"] - s["start_ns"]
        if s["name"] == "stmt":
            walls.append(d)
            root_self += d - child[s["id"]]
        else:
            self_ns[s["name"]] += d - child[s["id"]]
            incl_ns[s["name"]] += d
            count[s["name"]] += 1
    return self_ns, incl_ns, count, walls, root_self


def layer_metrics(out_dir, out, cores):
    self_ns, incl_ns, _, walls, root_self = self_times(out_dir)
    n = max(1, len(walls))
    wall = max(1, sum(walls))
    ctr = _jsonl(os.path.join(out_dir, "counters.jsonl"))
    rows_out = [len(r["rows"]) for r in _jsonl(os.path.join(out_dir, "rows.jsonl"))]
    plans = [p for c in ctr for p in c["plans"]]
    algo = [c for c in ctr if c["tpl"] in ("pagerank", "sssp", "components", "triangles", "kcore")]

    def per(name):
        return self_ns[name] / 1e6 / n

    def mean(key, xs=ctr):
        return statistics.fmean(c[key] for c in xs) if xs else 0.0

    def plan_mean(key):
        return statistics.fmean(p[key] for p in plans) if plans else 0.0

    busy_ms = (self_ns["exec"] + incl_ns["algos.call"] + incl_ns["algos.final"]) / 1e6
    algo_ms = (incl_ns["algos.call"] + incl_ns["algos.final"]) / 1e6
    algo_jobs = sum(c["jobs"] for c in algo)
    return {
        "api.cypher_ms": incl_ns["api"] / 1e6 / n,
        "parser.parse_ms": per("parser"),
        "impl.plan_ms": (incl_ns["api"] - self_ns["parser"]) / 1e6 / n,
        "impl.analyzed_nodes": plan_mean("analyzed_nodes"),
        "catalyst.optimize_ms": per("catalyst.optimize"),
        "catalyst.physical_ms": per("catalyst.physical"),
        "catalyst.optimized_nodes": plan_mean("optimized_nodes"),
        "catalyst.exchanges": plan_mean("exchanges"),
        "compile.share": sum(self_ns[k] for k in COMPILE) / wall,
        "exec.run_ms": per("exec"),
        "exec.jobs": mean("jobs"),
        "exec.stages": mean("stages"),
        "exec.tasks": mean("tasks"),
        "exec.task_busy_share": sum(c["run_ms"] for c in ctr) / (busy_ms * cores) if busy_ms else 0.0,
        "exec.shuffle_write_mb": mean("shuffle_write") / MB,
        "exec.shuffle_read_mb": mean("shuffle_read") / MB,
        "exec.spill_mb": mean("spill") / MB,
        "exec.peak_task_mem_mb": max((c["peak_task_mem"] for c in ctr), default=0) / MB,
        "exec.rows_scanned_per_row_out":
            sum(c["records_read"] for c in ctr) / max(1, sum(rows_out)),
        "exec.failed_tasks": mean("failed_tasks"),
        "exec.storage_mb": out["storage_mb"],
        "algos.call_ms": per("algos.call"),
        "algos.final_ms": per("algos.final"),
        "algos.jobs": algo_jobs / len(algo) if algo else 0.0,
        "algos.ms_per_job": algo_ms / algo_jobs if algo_jobs else 0.0,
        "algos.shuffle_mb": (sum(c["shuffle_write"] + c["shuffle_read"] for c in algo)
                             / MB / len(algo)) if algo else 0.0,
        "setup.session_ms": out["session_ms"],
        "setup.graph_build_ms": out["graph_build_ms"],
        "setup.datagen_ms": 0.0,
        "setup.warmup_ms": out["warmup_ms"],
        "trace.uncovered_share": root_self / wall,
        "trace.latency_p50_ms": statistics.median(walls) / 1e6 if walls else 0.0,
    }


def table(out_dir):
    """Per-layer self time and span counts of one traced run, as text."""
    self_ns, _, count, walls, root_self = self_times(out_dir)
    n, wall = max(1, len(walls)), max(1, sum(walls))
    lines = [f"{'layer':20s} {'spans':>6s} {'self_ms':>11s} {'ms/stmt':>9s} {'share':>7s}"]
    for name in LAYERS:
        if count[name]:
            ms = self_ns[name] / 1e6
            lines.append(f"{name:20s} {count[name]:6d} {ms:11.1f} {ms / n:9.2f} {self_ns[name] / wall:7.3f}")
    lines.append(f"{'(uncovered)':20s} {len(walls):6d} {root_self / 1e6:11.1f} "
                 f"{root_self / 1e6 / n:9.2f} {root_self / wall:7.3f}")
    lines.append(f"{'statement wall':20s} {len(walls):6d} {wall / 1e6:11.1f} {wall / 1e6 / n:9.2f} {1:7.3f}")
    if count["api"]:
        lines.append("of api:")
        impl = self_ns["api"] - self_ns["parser"]
        for name, ns, k in (("parser (re-parse)", self_ns["parser"], count["parser"]),
                            ("impl (api-parser)", impl, count["api"])):
            lines.append(f"  {name:18s} {k:6d} {ns / 1e6:11.1f} {ns / 1e6 / n:9.2f} {ns / wall:7.3f}")
    return "\n".join(lines)


def repeat_check(a_dir, b_dir):
    """Per-statement counts of two same-seed traced runs, compared exactly."""
    keys = ["jobs", "stages", "tasks"]
    a = {c["id"]: c for c in _jsonl(os.path.join(a_dir, "out", "counters.jsonl"))}
    b = {c["id"]: c for c in _jsonl(os.path.join(b_dir, "out", "counters.jsonl"))}
    common = sorted(set(a) & set(b))
    diff = [(i, a[i]["tpl"], [a[i][k] for k in keys], [b[i][k] for k in keys])
            for i in common if any(a[i][k] != b[i][k] for k in keys)]
    print(f"statements compared: {len(common)}; differing in {keys}: {len(diff)}")
    for d in diff[:20]:
        print("  ", d)
    return not diff


def overhead(untraced_dir, traced_dir):
    with open(os.path.join(untraced_dir, "artifact.json")) as f:
        u = json.load(f)["metrics"]["latency_p50_ms"]["value"]
    with open(os.path.join(traced_dir, "artifact.json")) as f:
        t = json.load(f)["metrics"]["trace.latency_p50_ms"]["value"]
    print(f"latency_p50_ms untraced {u:.2f}  traced {t:.2f}  overhead {(t - u) / u:+.1%}")


if __name__ == "__main__":
    args = sys.argv[1:]
    if args and args[0] == "--overhead":
        overhead(args[1], args[2])
    elif len(args) == 2:
        sys.exit(0 if repeat_check(*args) else 1)
    elif len(args) == 1:
        print(table(os.path.join(args[0], "out")))
    else:
        print(__doc__)
        sys.exit(2)
