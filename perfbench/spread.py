#!/usr/bin/env python3
"""Run one workload N times, one seed each, and print per-metric spread.

    python3 perfbench/spread.py --workload lake_curation --runs 10 [--first-seed 1]

Each run is untraced and measures for BENCHMARK.json's run_seconds.

For every metric: the median, the quartiles (Python's
statistics.quantiles(n=4)) and the inter-quartile distance as a share of
the median, next to the bound in BENCHMARK.json. Each run's CPU steal share
and wall time are listed too. A run whose metrics are not exactly
BENCHMARK.json's end-to-end metrics, in their units, counts as failed.
The README's bounds rest on this output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}

    values, fails = {}, []
    print(f"{'seed':>5} {'wall_s':>7} {'steal':>7} {'correct':>7} {'failed/attempted':>17}")
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        wall = time.time() - t
        lines = [l for l in proc.stdout.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines:
            print(f"{seed:>5} {wall:7.1f} run failed (exit {proc.returncode})")
            continue
        steal = next((l.split("=")[1] for l in lines if l.startswith("# steal_share=")), "n/a")
        r = json.loads(lines[-1])
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        if got != units:
            print(f"{seed:>5} {wall:7.1f} metrics {got} are not the manifest's {units}")
            continue
        fails.append((r["failed"], r["attempted"]))
        vals = " ".join(f"{k}={v['value']:.6g}" for k, v in r["metrics"].items())
        print(f"{seed:>5} {wall:7.1f} {steal:>7} {str(r['correct']):>7} {r['failed']:>8}/{r['attempted']:<8} {vals}")
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"\n{'metric':32s} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k, "")
        print(f"{k:32s} {len(vs):>3} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.4f} {b!s:>6}")
    shares = sorted({f / att for f, att in fails if att})
    print(f"\nfailed shares seen: {shares}")


if __name__ == "__main__":
    main()
