#!/usr/bin/env python3
"""Steadiness tool: run one workload N times and summarise every metric.

    python3 perfbench/steady.py --workload NAME [--runs 10] [--seed0 1]
        [--seconds 10] [--trace 0|1] [--json FILE]

Run i uses seed seed0 + i. For each metric it prints the median, the first
and third quartiles (statistics.quantiles(values, n=4)), the spread
(Q3 - Q1) / median, and max / min; then the wall seconds per run and the
attempted/failed counts. Two invocations with the same seeds are an A/A
comparison: their medians should agree within the bounds in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def summarise(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)
            if statistics.median(values) else 0.0,
            "max_over_min": max(values) / min(values) if min(values) else 0.0}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", help="also write the results here")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results, walls = [], []
    for i in range(args.runs):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(args.seed0 + i), "--seconds",
             str(seconds), "--trace", str(args.trace)],
            capture_output=True, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"run {i} failed ({p.returncode})")
        results.append(json.loads(p.stdout.strip().splitlines()[-1]))
        host = [line for line in p.stderr.splitlines() if "timed passes" in line]
        print(f"run {i + 1}/{args.runs} seed {args.seed0 + i}: "
              f"{walls[-1]:.0f}s {host[-1] if host else ''}", file=sys.stderr, flush=True)
    names = sorted(results[0]["metrics"])
    print(f"{'metric':32s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>8s} {'bound/3':>8s} {'max/min':>8s}")
    for n in names:
        s = summarise([r["metrics"][n]["value"] for r in results])
        b = f"{bounds[n] / 3:8.3f}" if n in bounds else " " * 8
        print(f"{n:32s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
              f"{s['spread']:8.3f} {b} {s['max_over_min']:8.3f}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"wall s per run: median {statistics.median(walls):.1f}, "
          f"max {max(walls):.1f}; attempted "
          f"{sorted({r['attempted'] for r in results})}, failed share {sorted(shares)}, "
          f"correct {all(r['correct'] for r in results)}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"workload": args.workload, "results": results,
                       "walls": walls}, fh)


if __name__ == "__main__":
    main()
