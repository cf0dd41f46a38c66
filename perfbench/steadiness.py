#!/usr/bin/env python3
"""Steadiness check: run one or more workloads once per seed and report, for
every end-to-end metric, the median and the spread (interquartile range as a
share of the median, from statistics.quantiles(values, n=4)) against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --workloads invoice_etl,index_ingest --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            out = subprocess.run(["python3", "perfbench/run.py", "--workload", w, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                                 cwd=ROOT, capture_output=True, text=True)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            try:
                r = json.loads(last)
            except ValueError:
                sys.exit(f"{w} seed {s}: no result (exit {out.returncode})\n{out.stderr[-2000:]}")
            host = [l for l in out.stdout.splitlines() if l.startswith("host ")]
            print(f"{w} seed={s} wall={time.time() - t0:.0f}s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {host[0] if host else ''}", flush=True)
            print("  " + " ".join(f"{m}={v['value']:.4g}" for m, v in r["metrics"].items()), flush=True)
            runs.append(r)
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            print(f"  {m:15s} median={med:10.4f} spread={(q3 - q1) / med:6.3f} bound={bounds[m]}", flush=True)


if __name__ == "__main__":
    main()
