#!/usr/bin/env python3
"""Paired A/B of two checkouts on one perfbench workload.

    python3 tools/perf_ab.py --base <checkout> --change <checkout> \\
        --workload index_ingest --seeds 101-110 [--seconds 14] [--trace 0]

Runs `perfbench/run.py` from each checkout once per seed, alternating which
side goes first from pair to pair (host drift then hits both sides alike),
and prints for every metric: each run's value and run wall, each side's
median and quartiles, and the paired win count. Each run's wall is printed
with the host state perfbench recorded for it (end load average, CPU steal
share), so a contended pair shows as such. A claim holds when the
change wins at least 9 of every 10 pairs and the medians differ by more
than the base's interquartile range. Metric directions come from the
change checkout's BENCHMARK.json; metrics it does not list are printed
without a verdict.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds, trace):
    t0 = time.time()
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=checkout, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    wall = time.time() - t0
    lines = out.stdout.strip().splitlines()
    try:
        r = json.loads(lines[-1])
    except (ValueError, IndexError):
        sys.exit(f"{checkout} seed {seed}: no result (exit {out.returncode})\n{out.stderr[-2000:]}")
    return r, wall, host(lines)


def host(lines):
    """The run's host state from perfbench's `host` line: the 1-minute load
    average at the end of the run and the CPU steal share over it, e.g.
    "load 3.9 steal 0.4%" ("host n/a" when the line is absent)."""
    for line in reversed(lines):
        if line.startswith("host "):
            kv = dict(f.split("=", 1) for f in line.split()[1:] if "=" in f)
            return f"load {kv.get('loadavg_end', 'n/a').split(',')[0]} steal {kv.get('steal_pct', 'n/a')}%"
    return "host n/a"


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="range like 101-110 (>= 10 pairs for a claim)")
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench.get("per_layer", [])}
    sides = {"base": a.base, "change": a.change}
    runs = {"base": [], "change": []}
    for i, s in enumerate(seeds(a.seeds)):
        for side in (("base", "change") if i % 2 == 0 else ("change", "base")):
            r, wall, h = run(sides[side], a.workload, s, a.seconds, a.trace)
            runs[side].append((s, r, wall, h))
            print(f"pair {i + 1} seed {s} {side:6s} wall={wall:5.1f}s {h} correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']}", flush=True)
    n = len(runs["base"])
    need = math.ceil(0.9 * n)
    walls = {side: [w for _, _, w, _ in runs[side]] for side in runs}
    hosts = {side: [h for _, _, _, h in runs[side]] for side in runs}
    print(f"\n{a.workload}: {n} pairs, seeds {a.seeds}, --seconds {a.seconds}, --trace {a.trace}")
    print(f"run wall  base median {statistics.median(walls['base']):.1f}s  "
          f"change median {statistics.median(walls['change']):.1f}s")
    names = [m for m in runs["base"][0][1]["metrics"] if all(m in r["metrics"] for _, r, _, _ in runs["change"])]
    for m in names:
        vals = {side: [r["metrics"][m]["value"] for _, r, _, _ in runs[side]] for side in runs}
        print(f"\n{m}")
        for j in range(n):
            print(f"  seed {runs['base'][j][0]:>5}"
                  f"  base {vals['base'][j]:12.5g} ({walls['base'][j]:5.1f}s, {hosts['base'][j]})"
                  f"  change {vals['change'][j]:12.5g} ({walls['change'][j]:5.1f}s, {hosts['change'][j]})")
        for side in ("base", "change"):
            q1, q3 = quartiles(vals[side])
            print(f"  {side:6s} median {statistics.median(vals[side]):12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}")
        if m not in better:
            continue
        sign = -1 if better[m] == "lower" else 1
        wins = sum(sign * (c - b) > 0 for b, c in zip(vals["base"], vals["change"]))
        q1, q3 = quartiles(vals["base"])
        gap = sign * (statistics.median(vals["change"]) - statistics.median(vals["base"]))
        verdict = "GAIN" if wins >= need and gap > q3 - q1 else "no claim"
        print(f"  change better in {wins}/{n} pairs (need {need}); median gap {gap:.5g} "
              f"vs base IQR {q3 - q1:.5g}: {verdict}")


if __name__ == "__main__":
    main()
