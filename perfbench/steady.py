#!/usr/bin/env python3
"""Steadiness report: run one workload k times, each with its own seed.

    python3 perfbench/steady.py --workload row_dml --runs 10 [--first-seed 1] [--seconds 6]

For every metric it prints the median, the quartiles and the spread (the
inter-quartile distance as a share of the median, as the bounds in
BENCHMARK.json are judged), and the share of failed operations. It then
prints the warm-up curve, the round time by round index (cold round,
warm-up rounds, timed rounds) as the median over the runs, from which the
warm-up and run lengths in run.py are chosen, and the same statistics for
the time figures that are not end-to-end metrics (cold round, timed round,
CPU per timed round).
"""
import argparse
import statistics
import sys
import time

import run


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    args = ap.parse_args()
    cp = run.build()
    runs = []
    for k in range(args.runs):
        seed = args.first_seed + k
        t0 = time.time()
        summary, result, bad = run.report(args.workload, seed, args.seconds, 0, cp=cp)
        wall = time.time() - t0
        runs.append({"seed": seed, "wall_s": wall, "summary": summary, "times": run.time_figures(result),
                     "curve": [r["wall_s"] for r in result["rounds"]],
                     "kinds": [r["kind"] for r in result["rounds"]]})
        vals = " ".join(f"{n}={m['value']:.4g}" for n, m in summary["metrics"].items())
        print(f"seed {seed}: wall {wall:.1f} s correct={summary['correct']} "
              f"attempted={summary['attempted']} failed={summary['failed']} {vals}", flush=True)
    print()
    print(f"{'metric':40s} {'q1':>12s} {'median':>12s} {'q3':>12s} {'spread':>8s}")
    figures = [(n, lambda r, n=n: r["summary"]["metrics"][n]["value"]) for n in runs[0]["summary"]["metrics"]]
    figures += [(f"({n})", lambda r, n=n: r["times"][n]) for n in runs[0]["times"]]
    for name, value in figures:
        vals = [value(r) for r in runs]
        q1, q2, q3 = quartiles(vals)
        spread = (q3 - q1) / q2 if q2 else 0.0
        print(f"{name:40s} {q1:12.5g} {q2:12.5g} {q3:12.5g} {spread:8.3f}")
    shares = sorted({r["summary"]["failed"] / r["summary"]["attempted"] for r in runs})
    print(f"failed share per run: {shares}")
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f} s, "
          f"max {max(r['wall_s'] for r in runs):.1f} s")
    print()
    print("warm-up curve (median round time by round index over the runs):")
    depth = max(len(r["curve"]) for r in runs)
    for i in range(depth):
        vals = [r["curve"][i] for r in runs if len(r["curve"]) > i]
        kind = next(r["kinds"][i] for r in runs if len(r["kinds"]) > i)
        print(f"  round {i:2d} {kind:7s} {statistics.median(vals):8.3f} s  (n={len(vals)})")


if __name__ == "__main__":
    sys.exit(main())
