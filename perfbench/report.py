#!/usr/bin/env python3
"""Per-layer report of traced runs.

    python3 perfbench/report.py [TRACE.json ...] [--top 5]

Reads the files traced runs write (.bench_out/trace-<workload>-<seed>.json
by default) and prints, for each: the per-layer metrics (median per timed
pass), the top queries by each per-query layer metric (median over the
timed passes), and the self time of each span kind summed over the timed
passes. A span's self time is its duration minus the part of it that its
child spans cover: the self time of `build` and `execute` is time with no
Spark job running.
"""
import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# per-query record key -> the per-layer metric it sums into
QUERY_KEYS = {
    "engine_cpu_s": "rows_per_cpu_s, query_cpu_s.p50 (engine CPU s)",
    "s": "wall.rows_per_s, wall.query_s.p50 (wall s)",
    "build_s": "operators.build_s", "plan_s": "plans.plan_s",
    "aqe_coalesced": "plans.aqe_coalesced",
    "aqe_skew_splits": "plans.aqe_skew_splits",
    "aqe_broadcast_switches": "plans.aqe_broadcast_switches",
    "input_bytes": "catalog.read_mb (bytes)", "jobs": "exec.jobs",
    "stages": "exec.stages", "tasks": "exec.tasks",
    "no_task_s": "exec.no_task_s", "codegen_s": "exec.codegen_s",
    "task_s": "exec.task_s", "cpu_s": "exec.cpu_s",
    "shuffle_write_bytes": "shuffle.write_mb (bytes)",
    "shuffle_write_s": "shuffle.write_s",
    "shuffle_read_bytes": "shuffle.read_mb (bytes)",
    "spill_bytes": "shuffle.spill_mb (bytes)",
    "reduce_skew": "shuffle.reduce_skew", "batch_s": "streaming.batch_s",
}


def self_times(spans, timed_passes):
    """Self seconds per span kind, within the given pass spans."""
    by_id = {s["id"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def under_timed(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
            if s["kind"] == "pass":
                return s["name"] in timed_passes
        return False

    out = defaultdict(float)
    for s in spans:
        if s["kind"] == "run" or (s["kind"] != "pass" and not under_timed(s)):
            continue
        if s["kind"] == "pass" and s["name"] not in timed_passes:
            continue
        covered, end = 0.0, s["start_ms"]
        for a, b in sorted((max(c["start_ms"], s["start_ms"]),
                            min(c["end_ms"], s["end_ms"])) for c in children[s["id"]]):
            if b > end:
                covered += b - max(a, end)
                end = b
        out[s["kind"]] += (s["end_ms"] - s["start_ms"] - covered) / 1e3
    return out


def report(path, top):
    t = json.load(open(path))
    timed = [p for p in t["passes"] if p["timed"]]
    print(f"== {t['workload']} seed {t['seed']}: {len(timed)} timed passes ({path})")
    print("-- per-layer metrics (median per timed pass)")
    for k, v in t["per_layer"].items():
        print(f"   {k:32s} {v:14.4f}")
    print(f"-- top {top} queries by layer metric (median over timed passes)")
    names = [q["name"] for q in timed[0]["queries"]]
    for key, layer in QUERY_KEYS.items():
        med = {n: statistics.median(next(q for q in p["queries"] if q["name"] == n)
                                    .get(key, 0.0) for p in timed) for n in names}
        ranked = [(n, v) for n, v in sorted(med.items(), key=lambda x: -x[1]) if v][:top]
        if ranked:
            print(f"   {layer:32s} " + ", ".join(f"{n} {v:.3g}" for n, v in ranked))
    timed_names = {f"timed-{p['index']}" for p in timed}
    st = self_times(t["spans"], timed_names)
    print("-- self time by span kind, summed over timed passes (s)")
    for k, v in sorted(st.items(), key=lambda x: -x[1]):
        print(f"   {k:32s} {v:10.3f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("traces", nargs="*")
    ap.add_argument("--top", type=int, default=5)
    args = ap.parse_args()
    paths = args.traces or sorted(glob.glob(os.path.join(ROOT, ".bench_out", "trace-*.json")))
    if not paths:
        raise SystemExit("no trace files; run perfbench/run.py with --trace 1")
    for p in paths:
        report(p, args.top)


if __name__ == "__main__":
    main()
