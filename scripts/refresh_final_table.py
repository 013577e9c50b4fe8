#!/usr/bin/env python3
"""Refresh BASELINE.md's FINAL reference table + BenchRef.scala from a
committed full bench artifact (round-12 process: the r8 quiet table was
four rounds old and 12 rows short; the reference is now the cleanest
available full run at its RECORDED sentinels, and future rounds regress
sentinel-matched).

Usage: scripts/refresh_final_table.py <full bench artifact .json>
"""
import json, sys

if len(sys.argv) != 2:
    sys.exit("usage: refresh_final_table.py <full bench artifact .json>")
src = sys.argv[1]
d = json.load(open(src))
qs = dict(sorted(d["queries"].items()))
scan = d["sentinel_base_sec"]
barrier = d.get("barrier_base_sec")
cpus = d["cpus"]
suspects = len(d.get("suspect", {}))

rows = "\n".join(f"| {k} | {v} |" for k, v in qs.items())
import os
round_no = os.environ.get("GRAFT_ROUND", "13")
table = f"""
## Round-{round_no} FINAL table (sf0.1, local[{cpus}]) — the standing reference

One table, one window (VERDICT r12 #1): every registry row measured in
a single full run at its RECORDED sentinels; future rounds regress
sentinel-matched (scan AND barrier). Source artifact: {src}.

**Sentinels: scan {scan} s, barrier {barrier} s** (quiet refs in force during the run: scan {d['quiet_scan_ref_sec']}, barrier {d['quiet_barrier_ref_sec']}).
Total {d['value']} s / {len(qs)} rows; contaminated={str(d['contaminated']).lower()}, {suspects} suspect rows.

| query | sec |
|---|---|
{rows}
"""
with open("BASELINE.md", "a") as f:
    f.write(table)

lines = ",\n".join(f'    "{k}" -> {v}' for k, v in qs.items())
bench_ref = f'''package graft

/** Committed per-row bench reference (seconds), used by Bench to flag rows
  * whose min-of-passes exceeds SuspectFactor x this value as "suspect" —
  * contention the sentinels under-detected, never folded in silently.
  * Source: {src} (full {len(qs)}-row run at local[{cpus}],
  * scan sentinel {scan}, barrier sentinel {barrier}, contaminated={str(d['contaminated']).lower()}, {suspects} suspect rows).
  * Regenerate with scripts/refresh_final_table.py whenever BASELINE.md's
  * FINAL table is refreshed; a missing row (a query newer than the
  * table) is simply not suspect-checked until the next refresh.
  */
object BenchRef {{
  /** Sentinel values (sec) recorded WITH the table: ratios against these
    * references are only meaningful sentinel-matched. */
  val sentinelSec: Double = {scan}
  val barrierSentinelSec: Double = {barrier}
  val sec: Map[String, Double] = Map(
{lines})
}}
'''
open("src/main/scala/graft/BenchRef.scala", "w").write(bench_ref)
print(f"FINAL table appended ({len(qs)} rows) + BenchRef regenerated from {src}")
