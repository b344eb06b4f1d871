#!/usr/bin/env python3
"""Summarizes the run records in perfbench/out/records.jsonl.

    python3 perfbench/summarize.py [--last N]

Records are grouped by workload, source tree, core count, run length and
tracing; figures are never folded across groups. Per metric it prints the
median, the quartiles and their distance as a share of the median, over
the last N records of each group (default: all).
"""
import argparse
import json
import os
import statistics

import measure
import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--last", type=int, default=0)
    a = ap.parse_args()
    groups = {}
    with open(os.path.join(run.BENCH, "out", "records.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            p = r["provenance"]
            key = (p["workload"], p["tree"], p["cpus"], p["seconds"], p["trace"])
            groups.setdefault(key, []).append(r)
    for key, recs in sorted(groups.items()):
        recs = recs[-a.last:] if a.last else recs
        seeds = [r["provenance"]["seed"] for r in recs]
        bad = sum(1 for r in recs if r["failures"])
        print(f"{key[0]} tree={key[1]} cpus={key[2]} seconds={key[3]} "
              f"trace={key[4]} runs={len(recs)} seeds={seeds} runs_with_failures={bad}")
        for m in recs[0]["metrics"]:
            xs = [r["metrics"][m] for r in recs]
            if len(xs) >= 2:
                q1, _, q3 = statistics.quantiles(xs, n=4)
                spread = measure.quartile_spread(xs) if statistics.median(xs) else float("nan")
                print(f"  {m:28s} median={statistics.median(xs):<14.6g} "
                      f"q1={q1:<12.6g} q3={q3:<12.6g} spread={spread:.4f}")
            else:
                print(f"  {m:28s} value={xs[0]:.6g}")


if __name__ == "__main__":
    main()
