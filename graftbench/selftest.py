#!/usr/bin/env python3
"""Checks of the benchmark itself, at tiny size (sf0.001, 500-node graph).

  python3 graftbench/selftest.py

Every workload must run correct; a perturbed expected answer must fail the
run (exit 1); and the benchmark copied without graft's sources must refuse
to run (exit 2, no result line).
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py"), "--seed", "3", "--seconds", "1", "--tiny"]


def run(args, cwd=ROOT, script=None):
    cmd = [sys.executable, script] + RUN[2:] + args if script else RUN + args
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    return r.returncode, last


def main():
    ok = True
    for w in ["interactive_sf001", "algo_rounds", "analytic_sf01", "write_chain_sf001"]:
        for trace in ("0", "1"):
            code, last = run(["--workload", w, "--trace", trace])
            good = code == 0 and json.loads(last)["correct"]
            print(f"{w} trace={trace}: exit {code} {'ok' if good else 'FAIL'}")
            ok &= good
    code, last = run(["--workload", "interactive_sf001", "--trace", "0", "--perturb"])
    good = code == 1 and not json.loads(last)["correct"]
    print(f"perturbed expected answer: exit {code} {'ok' if good else 'FAIL'}")
    ok &= good
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    bare = os.path.join(build, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "graftbench"),
                    ignore=shutil.ignore_patterns("target", "project/project", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, last = run(["--workload", "interactive_sf001", "--trace", "0"], cwd=bare,
                     script=os.path.join(bare, "graftbench", "run.py"))
    good = code == 2 and not last
    print(f"without graft sources: exit {code} {'ok' if good else 'FAIL'}")
    ok &= good
    shutil.rmtree(bare, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
