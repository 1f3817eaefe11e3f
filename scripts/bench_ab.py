#!/usr/bin/env python3
"""Dev-only bench A/B triage (NOT part of the engine).

Executable form of README's "Bench artifact & regression triage" recipe:
absolute bench times swing up to ~2x with HOST load (firecracker neighbor /
throttle), so a single query's raw round-over-round delta is meaningless.
This script compares two bench.json files and normalizes every per-query
ratio by the CONTROL band — the geometric-mean ratio of queries known to be
untouched between the two runs. A query is only flagged as a real movement
when its host-normalized ratio leaves the band the controls themselves span.

Usage:
  python3 scripts/bench_ab.py OLD.json NEW.json [--controls q1,q2,...]
                              [--threshold 1.3]

With no --controls, every query present in both files is used as its own
control population (robust when only a few queries changed: the median of
all ratios estimates the host factor). Output: the host factor, the control
band, and per-query normalized ratios sorted by |log ratio|, with the gc /
shuffle / spill deltas that decide recipe step 1-3 vs 4, plus the codegen_s /
plan_s / jobs deltas when both files carry those maps.
"""
import argparse, json, math, sys


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 1.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--controls", default="",
                    help="comma-separated query names known untouched")
    ap.add_argument("--threshold", type=float, default=1.3,
                    help="flag normalized ratios outside [1/t, t]")
    args = ap.parse_args()

    def load(path):
        d = json.load(open(path))
        # driver BENCH_r*.json wrapper: the engine's JSON line is under
        # "parsed" (often null — the wrapper truncates the tail); A/B runs
        # on engine-emitted bench.json files
        if "queries" not in d and isinstance(d.get("parsed"), dict):
            d = d["parsed"]
        if "queries" not in d:
            sys.exit(f"{path}: no per-query map — pass an engine-emitted "
                     "bench.json (driver BENCH_r*.json wrappers truncate it)")
        return d

    a, b = load(args.old), load(args.new)
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    if not common:
        sys.exit("no common queries between the two files")

    # Bench marks a FAILED query with -1.0 — surface failures loudly
    # instead of feeding a negative ratio into math.log (crash) or
    # silently dropping them
    failed = sorted(q for q in common if qa[q] < 0 or qb[q] < 0)
    for q in failed:
        which = [n for n, run in (("old", qa), ("new", qb)) if run[q] < 0]
        print(f"FAILED in {'/'.join(which)}: {q}")
    ratios = {q: qb[q] / qa[q] for q in common
              if qa[q] > 0 and qb[q] > 0}
    controls = [c for c in args.controls.split(",") if c]
    # distinguish "absent from a file" from "present but failed (-1.0)":
    # both exclude a control from ratios, and a generic message sent the
    # user hunting the wrong problem
    absent = [c for c in controls if c not in qa or c not in qb]
    if absent:
        sys.exit(f"controls not in both files: {absent}")
    failed_ctrl = [c for c in controls if c not in ratios]
    if failed_ctrl:
        sys.exit(f"controls failed (non-positive time) in at least one "
                 f"file: {failed_ctrl} — pick healthy controls")
    ctrl = controls or common
    ctrl_ratios = sorted(ratios[c] for c in ctrl if c in ratios)
    if not ctrl_ratios:
        sys.exit("no usable ratios: the two files share no query with "
                 "positive times in both")
    # host factor: geomean of controls when given; median of ALL ratios
    # otherwise (median is robust to the few genuinely-moved queries)
    if controls:
        host = geomean(ctrl_ratios)
    else:
        host = ctrl_ratios[len(ctrl_ratios) // 2]
    band = (min(ctrl_ratios) / host, max(ctrl_ratios) / host) if controls \
        else (1 / args.threshold, args.threshold)

    print(f"old total {a.get('value', 0):.1f}s ({a.get('provenance','?')})  "
          f"new total {b.get('value', 0):.1f}s ({b.get('provenance','?')})")
    print(f"host factor {host:.3f}  "
          f"({'geomean of ' + str(len(ctrl_ratios)) + ' controls' if controls else 'median of all ratios'})  "
          f"control band [{band[0]:.3f}, {band[1]:.3f}]")
    print()

    def aux(run, field, q):
        return run.get(field, {}).get(q, 0)

    flagged = 0
    hdr = f"{'query':30s} {'old_s':>7s} {'new_s':>7s} {'ratio':>6s} {'norm':>6s}  verdict"
    print(hdr)
    for q in sorted(common, key=lambda q: -abs(math.log(ratios.get(q, 1)))):
        if q not in ratios:
            continue
        r, n = ratios[q], ratios[q] / host
        if band[0] * 0.999 <= n <= band[1] * 1.001:
            continue  # inside what the controls themselves span: host noise
        if 1 / args.threshold <= n <= args.threshold:
            continue  # outside the band but too small to chase
        flagged += 1
        dgc = aux(b, "gc", q) - aux(a, "gc", q)
        dsh = (aux(b, "shuffle_read", q) + aux(b, "shuffle_write", q)
               - aux(a, "shuffle_read", q) - aux(a, "shuffle_write", q))
        dsp = aux(b, "spill", q) - aux(a, "spill", q)
        # README recipe, in priority order
        if dsp > 0 and aux(a, "spill", q) == 0:
            why = f"NEW SPILL {dsp/1e6:.1f}MB: partitions outgrew memory"
        elif abs(dsh) > 0.2 * max(1, aux(a, "shuffle_read", q) + aux(a, "shuffle_write", q)):
            why = f"shuffle moved {dsh/1e6:+.1f}MB: diff .explain"
        elif dgc > 0.3 * abs(qb[q] - qa[q]):
            why = f"gc {dgc:+.2f}s: session GC debt, re-run with controls"
        else:
            why = "flat aux metrics: likely residual host noise — isolate A/B"
        # phase deltas, when both files carry the Measure record's maps
        # (the committed bench.json and BENCH_r*.json predate them)
        phases = " ".join(
            f"{k} {aux(b, k, q) - aux(a, k, q):+.{p}f}"
            for k, p in (("codegen_s", 2), ("plan_s", 2), ("jobs", 0))
            if k in a and k in b)
        print(f"{q:30s} {qa[q]:7.2f} {qb[q]:7.2f} {r:6.2f} {n:6.2f}  {why}"
              + (f"  [{phases}]" if phases else ""))
    if flagged == 0:
        print("(no query moved outside the control band — all host noise)")
    print(f"\n{flagged} flagged / {len(common)} common queries")


main()
