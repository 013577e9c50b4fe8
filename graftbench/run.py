#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against one local Spark JVM.

Usage:
  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--tiny] [--perturb]

Run from the root of a graft checkout. The first run builds graft and the
harness with sbt (offline) into the build dir (`$CARGO_TARGET_DIR` or
`.bench_build`); later runs reuse the build while the sources are unchanged.

Workloads: interactive_sf001, algo_rounds, analytic_sf01, write_chain_sf001
(see README.md). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Exit code 1
means a statement failed or a result differed from its independent expected
answer; 2 means the benchmark could not run (no graft sources, build or JVM
failure).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
import workloads as W  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")

# Per workload: data scale, deck shape, untimed warm-up decks and the JVM
# heap. A query deck holds every template `repeats` times: no record of real
# query frequencies exists, so the mix is uniform by choice. The heap is
# fixed (-Xms = -Xmx) for steady timings; memory is measured as the size of
# the objects still reachable at the end of the timed loop (heap_live_mb),
# which the fixed heap size does not decide.
# `deck_s` is a deck's duration on the 4-core reference machine: a run
# executes round(seconds / deck_s) whole decks (at least one), so the work
# measured depends on --seconds and never on the speed of the build.
# `warm_decks` whole decks run untimed before them, one statement at a time,
# in place of the warm-up list (every template once, on all cores): the JIT
# keeps compiling Spark's and graft's hot paths for a minute and more, and a
# deck timed right after the warm-up list ran ~1.5x slower than later ones
# and varied most between runs.
WORKLOADS = {
    "interactive_sf001": dict(sf=0.01, tiny_sf=0.001, repeats=2, deck_s=13, warm_decks=1,
                              heap="2g"),
    "algo_rounds": dict(nodes=4_000, edges=40_000, tiny_nodes=500, tiny_edges=3_000,
                        deck_s=28, heap="2g"),
    "analytic_sf01": dict(sf=0.1, tiny_sf=0.001, repeats=1, deck_s=10, heap="3g"),
    "write_chain_sf001": dict(sf=0.01, tiny_sf=0.001, chains=6, deck_s=10, heap="2g"),
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of everything the build reads: graft's sources and build
    definition, and the harness's."""
    h = hashlib.sha1()
    project = os.path.join(ROOT, "project")
    build_defs = sorted(os.path.join(project, f) for f in os.listdir(project)
                        if f.endswith((".sbt", ".scala", ".properties"))
                        ) if os.path.isdir(project) else []
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"), *build_defs,
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def jvm(classpath, heap, run_dir):
    """Run graftbench.Main on run_dir/inputs.json; returns the exit code."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms" + heap, "-Xmx" + heap, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", os.path.join(run_dir, "inputs.json"),
            os.path.join(run_dir, "out")]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            return subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=170).returncode
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish in time, see {run_dir}/jvm.log")


def build():
    """Compile graft (by its own build) and the harness once per source
    state. Returns the classpath."""
    stamp = os.path.join(BUILD, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["digest"] == digest:
            return got["classpath"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    # sbt's own scratch files (global base, ivy home and its lock, sockets,
    # native libs) go to the build dir too; dependencies resolve from the
    # coursier cache.
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
            "-Dsbt.ivy.home=" + os.path.join(BUILD, "ivy2"), "-Xmx3g",
            "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp,
            "-Dswoval.tmpdir=" + tmp]
    if os.path.exists(repo_cfg):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repo_cfg]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=f, text=True,
                           timeout=700)
        f.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    classpath = lines[-1]
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def make_inputs(workload, seed, seconds, trace, tiny, run_dir):
    """Write run_dir/inputs.json from the seed. Returns the expected answers
    per statement id, the input description, the synthetic-data time and
    the timed decks."""
    cfg = WORKLOADS[workload]
    rng = W.rng_for(seed)
    decks_needed = max(1, round(seconds / cfg["deck_s"]))
    warm_decks = 0 if tiny else cfg.get("warm_decks", 0)
    warm_deck_list = []
    inputs = {"workload": workload, "cores": len(os.sched_getaffinity(0)), "seconds": seconds,
              "trace": trace}
    description = {}
    datagen_s = 0.0
    if workload == "algo_rounds":
        nodes = cfg["tiny_nodes" if tiny else "nodes"]
        edges = cfg["tiny_edges" if tiny else "edges"]
        t = time.time()
        path = os.path.join(run_dir, "edges.parquet")
        description.update(datagen.zipf_edges(path, nodes, edges, seed))
        datagen_s = time.time() - t
        warm, decks = W.algo_workload(nodes, decks_needed, rng)
        expected = oracle.algo_expected(path, nodes, decks)
        inputs.update(nodes=nodes, edges=path)
    else:
        sf = cfg["tiny_sf" if tiny else "sf"]
        tpch_dir = os.path.join(BUILD, "data", f"tpch-sf{sf}")
        datagen.tpch(tpch_dir, sf)
        inputs["tpch_dir"] = tpch_dir
        if workload == "write_chain_sf001":
            warm, decks = W.write_workload(cfg["chains"], decks_needed, rng)
            expected = oracle.chain_expected(tpch_dir, decks)
        else:
            templates = W.INTERACTIVE if workload == "interactive_sf001" else W.ANALYTIC
            warm, decks = W.query_workload(templates, cfg["repeats"], warm_decks + decks_needed, rng)
            # The leading decks run untimed and unchecked, one statement at a
            # time, in place of the warm-up list (they hold every template).
            warm_deck_list, decks = decks[:warm_decks], decks[warm_decks:]
            if warm_deck_list:
                warm = []
            expected = oracle.query_expected(tpch_dir, decks)
    description.update(W.describe(decks))

    def strip(d):
        return [{k: v for k, v in s.items() if k not in ("sql", "apply")} for s in d]
    inputs.update(warmup=strip(warm), decks=[strip(d) for d in decks])
    inputs["warm_decks"] = [strip([dict(s, id=-1000 - s["id"]) for s in d]) for d in warm_deck_list]
    with open(os.path.join(run_dir, "inputs.json"), "w") as f:
        json.dump(inputs, f)
    return expected, description, datagen_s, decks


def percentile(xs, p):
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--tiny", action="store_true", help="sf0.001 / small synthetic graph")
    ap.add_argument("--perturb", action="store_true",
                    help="corrupt one expected answer; the run must then fail")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to the benchmark (expected build.sbt and src/main/scala/graft)")

    classpath = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-tiny' if a.tiny else ''}"
    run_dir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))

    # Expected answers are computed here, before the JVM starts; they are
    # not part of set-up time. Synthetic-graph generation is.
    expected, description, datagen_s, decks = make_inputs(
        a.workload, a.seed, a.seconds, a.trace, a.tiny, run_dir)
    if a.perturb:
        first = decks[0][0]["id"]
        cols, rows = expected[first]
        expected[first] = (cols, rows[1:] if rows else [tuple(None for _ in cols)])

    t_launch = time.time()
    code = jvm(classpath, WORKLOADS[a.workload]["heap"], run_dir)
    if code != 0:
        fail(f"the JVM exited with {code}, see {run_dir}/jvm.log")
    out_dir = os.path.join(run_dir, "out")
    with open(os.path.join(out_dir, "out.json")) as f:
        out = json.load(f)

    # --- correctness ---
    stmts = out["statements"]
    failed_ids = {s["id"] for s in stmts if s["err"]}
    mismatches = []
    with open(os.path.join(out_dir, "rows.jsonl")) as f:
        for line in f:
            got = json.loads(line)
            if got["id"] not in failed_ids and not oracle.same(
                    oracle.canon(got["cols"], got["rows"]), expected[got["id"]]):
                mismatches.append(got["id"])
    failed = len(failed_ids) + len(mismatches)
    attempted = len(stmts)
    correct = failed == 0 and attempted > 0 and out["warmup_errors"] == 0

    # --- metrics ---
    lat = [s["ms"] for s in stmts if s["id"] not in failed_ids] or [0.0]
    p90 = percentile(lat, 90)
    above = sum(1 for x in lat if x > p90)
    art = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "tiny": a.tiny,
           "cores": cores, "inputs": description, "attempted": attempted,
           "failed_ids": sorted(failed_ids), "mismatched_ids": mismatches,
           "error_rate": failed / attempted if attempted else 1.0,
           "setup": {"datagen_ms": datagen_s * 1000.0, "session_ms": out["session_ms"],
                     "graph_build_ms": out["graph_build_ms"], "warmup_ms": out["warmup_ms"]},
           "latency_samples": len(lat), "p90_samples_above": above,
           "timed_wall_s": out["timed_wall_s"], "loop_diag": out["loop_diag"]}
    if a.trace == 0:
        metrics = {
            "setup_s": (datagen_s + out["first_timed_epoch_ms"] / 1000.0 - t_launch, "s"),
            "throughput_qps": (attempted / out["timed_wall_s"], "1/s"),
            "latency_p50_ms": (percentile(lat, 50), "ms"),
            "latency_p90_ms": (p90, "ms"),
            "heap_live_mb": (out["heap_live_mb"], "MB"),
        }
        # Printed and kept in the artifact, not gated: error_rate is 0 on a
        # correct build (failed/attempted carry it), and VmHWM is mostly the
        # fixed heap.
        shown = dict(metrics, error_rate=(art["error_rate"], "ratio"),
                     rss_peak_mb=(out["rss_peak_mb"], "MB"))
    else:
        layers = report.layer_metrics(out_dir, out, cores)
        layers["setup.datagen_ms"] = datagen_s * 1000.0
        metrics = {k: (v, report.UNITS[k]) for k, v in layers.items()}
        shown = metrics
        art["table"] = report.table(out_dir)
    art["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(art, f, indent=1)

    print(f"# {a.workload} seed={a.seed} trace={a.trace} cores={cores} statements={attempted} "
          f"samples above p90: {above}{'' if above >= 10 else ' (fewer than 10)'}")
    if a.trace:
        print(art["table"])
    for k, (v, u) in shown.items():
        print(f"{k:32s} {v:14.4f} {u}")
    if failed:
        print(f"# failed statements: {sorted(failed_ids)[:10]}, mismatched: {mismatches[:10]}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
