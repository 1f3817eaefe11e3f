#!/usr/bin/env python3
"""Benchmark wrapper: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It compiles the engine and the benchmark
through sbt once per source tree (the classpath is cached under
.bench_build/), generates the workload's input from the seed, runs the
benchmark JVM directly from the exported classpath, checks every query's
output against DuckDB's answer to the registry's oracle SQL plus the q19
and w1 properties, and prints one JSON line as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Inputs, warehouse, Spark local dirs and temp dirs live under
.bench_work/ and are removed at exit; traced runs keep their spans under
.bench_out/.
"""
import argparse
import atexit
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

# Block-store queries that read an existing store, and those that write one.
STORE_READS = ["x32_blockstore_scan", "x34_blockstore_agg"]
STORE_WRITES = ["x33_blockstore_write", "x39_blockstore_delete"]

# `warmups`: untimed passes before the timed ones, the first of them the
# check pass. The pipeline's passes still shorten by about a tenth a pass
# after two (its streaming query, s24, plans every micro-batch on the
# benchmark thread while the JIT is still compiling the planner), so it
# warms up twice as long.
WORKLOADS = {
    # SCache's own benchmark shape, a sort and a skewed reduce, with a salted
    # aggregation and a scan-aggregate control (q1); the large tables are
    # split into as many files as the engine's x8 scale-up recipe writes
    "shuffle_sf016": dict(
        queries=["q19_terasort", "w1_weighted_shuffle", "q20_salted_agg",
                 "q1_pricing_summary"],
        sf=0.16, docs=100, vecs=100, warmups=2,
        files=dict(lineitem=32, orders=8, customer=8, part=8, events=8, supplier=4),
        tables=["lineitem"]),
    # the LLM data-prep mix: a text kernel, exact dedup, ANN, block-store
    # reads beside writes, and streaming into the store
    "pipeline_sf001": dict(
        queries=["t17_repetition", "dd1_exact_dedup", "sim1_cosine_topk"] +
        STORE_READS + STORE_WRITES + ["s24_stream_block_sink"],
        sf=0.001, docs=500, vecs=500, files={}, warmups=4,
        tables=["documents", "embeddings"]),
}

# Spark task slots: half the CPUs this process may run on, so that the
# benchmark thread, the JIT compiler threads (still busy at about one CPU
# in the pipeline's timed passes) and host steal do not queue behind tasks
SLOTS = max(1, len(os.sched_getaffinity(0)) // 2)
# a fixed heap and few GC threads, for the same reason; the JIT compiler
# threads live as long as the JVM, so that Main can take their CPU time out
# of the engine's
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
            "-XX:-UseDynamicNumberOfCompilerThreads"]
# timed passes run until --seconds are measured, and at least this many;
# each query's median over them drops a pass that the JIT, still settling,
# or a burst of host steal made slow
MIN_TIMED = 3
# a run must end within 180 s of its start, its build aside: the benchmark
# JVM is killed at this many seconds past the build
DEADLINE_S = 160
# Same work in every pass: per-query task counts may differ by this share
# between timed passes (AQE coalescing follows runtime sizes), shuffle bytes
# by this share (compressed block sizes follow row order within a map task).
TASK_TOLERANCE = 0.10
SHUFFLE_TOLERANCE = 0.05

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


# the benchmark JVM while it runs, so that a signal to this process ends it too
_jvm = None


def _terminate(*_):
    if _jvm is not None and _jvm.poll() is None:
        os.killpg(_jvm.pid, signal.SIGKILL)
        _jvm.wait()
    sys.exit(143)


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_key():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile through sbt once per source tree; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: engine source {need} not found under {ROOT}")
    cache = os.path.join(ROOT, ".bench_build")
    cp_file = os.path.join(cache, f"classpath-{source_key()}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(cache, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building through sbt ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit(f"perfbench: sbt build failed ({p.returncode})")
    cp = [line for line in p.stdout.splitlines()
          if line.startswith("/") and ".jar" in line][-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def run_jvm(cp, wl, args, input_dir, work, out, deadline):
    """Run the benchmark JVM, killed if it runs past the epoch second
    `deadline`; return its raw record."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] +
           [x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] +
           JVM_OPTS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--queries", ",".join(wl["queries"]),
            "--input", input_dir, "--work", work, "--out", out,
            "--slots", str(SLOTS),
            "--seconds", str(args.seconds), "--warmups", str(wl["warmups"]),
            "--min-timed", str(MIN_TIMED),
            "--trace", str(args.trace)])
    env = dict(os.environ, SPARK_GRAFT_TMPDIR=os.path.join(tmp, "graft"))
    t0 = time.time()
    global _jvm
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        _jvm = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = _jvm.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(_jvm.pid, signal.SIGKILL)
            _jvm.wait()
            rc = "timeout"
    log(f"jvm {time.time() - t0:.1f}s wall")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")
    with open(out) as fh:
        return json.load(fh)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def count_rows(input_dir, tables):
    import pyarrow.parquet as pq
    total = 0
    for t in tables:
        p = os.path.join(input_dir, f"{t}.parquet")
        files = ([os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")]
                 if os.path.isdir(p) else [p])
        total += sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return total


def query_medians(timed, key):
    """Each query's median of `key` over the timed passes."""
    per_query = {}
    for p in timed:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q[key])
    return [median(v) for v in per_query.values()]


def end_to_end(res, rows):
    timed = [p for p in res["passes"] if p["timed"]]
    # CPU seconds of the JVM's threads, the JIT compiler's excepted: time
    # the host steals from this machine counts in none of them, where it
    # moved wall-clock pass times by a quarter from run to run. A typical
    # pass is the sum of each query's median over the timed passes.
    cpu = query_medians(timed, "engine_cpu_s")
    return {
        "setup_s": (res["setup"]["s"], "s"),
        "rows_per_cpu_s": (rows / sum(cpu), "rows/cpu_s"),
        "query_cpu_s.p50": (median(cpu), "cpu_s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
    }


def per_layer(res, rows):
    slots = res["slots"]
    timed = [p for p in res["passes"] if p["timed"]]
    wall = query_medians(timed, "s")

    def per_pass(f):
        return median([f(p) for p in timed])

    def qsum(key, names=None):
        return lambda p: sum(q.get(key, 0.0) for q in p["queries"]
                             if names is None or q["name"] in names)

    def skew(p):
        worst = max(p["queries"], key=lambda q: q["reduce_stage_s"])
        return worst["reduce_skew"]

    mb = 1e-6
    m = {
        "catalog.contract_s": (res["setup"]["contract_s"], "s"),
        "catalog.read_mb": (per_pass(qsum("input_bytes")) * mb, "MB"),
        "catalog.read_rows": (per_pass(qsum("input_rows")), "count"),
        "operators.build_s": (per_pass(qsum("build_s")), "s"),
        "plans.plan_s": (per_pass(qsum("plan_s")), "s"),
        "plans.aqe_coalesced": (per_pass(qsum("aqe_coalesced")), "count"),
        "plans.aqe_skew_splits": (per_pass(qsum("aqe_skew_splits")), "count"),
        "plans.aqe_broadcast_switches": (per_pass(qsum("aqe_broadcast_switches")), "count"),
        "exec.jobs": (per_pass(qsum("jobs")), "count"),
        "exec.stages": (per_pass(qsum("stages")), "count"),
        "exec.tasks": (per_pass(qsum("tasks")), "count"),
        "exec.no_task_s": (per_pass(qsum("no_task_s")), "s"),
        "exec.codegen_s": (per_pass(qsum("codegen_s")), "s"),
        "exec.task_s": (per_pass(qsum("task_s")), "s"),
        "exec.cpu_s": (per_pass(qsum("cpu_s")), "s"),
        "exec.slot_busy": (per_pass(lambda p: qsum("task_s")(p) / (p["s"] * slots)), "ratio"),
        "shuffle.write_mb": (per_pass(qsum("shuffle_write_bytes")) * mb, "MB"),
        "shuffle.write_records": (per_pass(qsum("shuffle_write_records")), "count"),
        "shuffle.write_s": (per_pass(qsum("shuffle_write_s")), "s"),
        "shuffle.read_mb": (per_pass(qsum("shuffle_read_bytes")) * mb, "MB"),
        "shuffle.spill_mb": (per_pass(qsum("spill_bytes")) * mb, "MB"),
        "shuffle.reduce_tasks": (per_pass(qsum("reduce_tasks")), "count"),
        "shuffle.reduce_skew": (per_pass(skew), "ratio"),
        "blockstore.read_s": (per_pass(qsum("s", STORE_READS)), "s"),
        "blockstore.write_s": (per_pass(qsum("s", STORE_WRITES)), "s"),
        "blockstore.blocks": (per_pass(lambda p: p["blockstore_blocks"]), "count"),
        "blockstore.memory_mb": (per_pass(lambda p: p["blockstore_memory_mb"]), "MB"),
        "blockstore.demotions": (per_pass(lambda p: p["blockstore_demotions"]), "count"),
        "blockstore.disk_reads": (per_pass(lambda p: p["blockstore_disk_reads"]), "count"),
        "streaming.batches": (per_pass(qsum("batches")), "count"),
        "streaming.batch_s": (per_pass(qsum("batch_s")), "s"),
        "streaming.input_rows": (per_pass(qsum("stream_rows")), "count"),
        "streaming.tmp_dirs": (res["tmp_dirs"], "count"),
        "jvm.shutdown_hooks": (res["shutdown_hooks"], "count"),
        "cache.persisted_mb": (per_pass(lambda p: p["persisted_mb"]), "MB"),
        "jvm.gc_s": (per_pass(qsum("gc_s")), "s"),
        "jvm.process_cpu_s": (per_pass(lambda p: p["proc_cpu_s"]), "s"),
        "jvm.jit_s": (per_pass(lambda p: p["jit_s"]), "s"),
        "jvm.classes_loaded": (per_pass(lambda p: p["classes_loaded"]), "count"),
        "jvm.threads_peak": (per_pass(lambda p: p["threads_peak"]), "count"),
        "wall.rows_per_s": (rows / sum(wall), "rows/s"),
        "wall.query_s.p50": (median(wall), "s"),
        "passes.timed": (len(timed), "count"),
        "passes.last_over_first": (timed[-1]["s"] / timed[0]["s"], "ratio"),
        "host.steal_cpus": (sum(p["steal_s"] for p in timed) / sum(p["s"] for p in timed),
                            "cpus"),
    }
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-oracles", action="store_true",
                    help="recompute the cached DuckDB answers for this input")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    cp = build()
    deadline = time.time() + DEADLINE_S
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    atexit.register(shutil.rmtree, work, True)
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)

    generated = os.path.join(work, "generated")
    gen.generate(generated, args.seed, sf=wl["sf"], docs=wl["docs"],
                 vecs=wl["vecs"], files=wl["files"])
    out = os.path.join(work, "result.json")
    res = run_jvm(cp, wl, args, generated, work, out, deadline)
    timed = [p for p in res["passes"] if p["timed"]]
    log(f"set-up {res['setup']['s']:.2f}s; {len(timed)} timed passes, host steal "
        f"{sum(p['steal_s'] for p in timed) / sum(p['s'] for p in timed):.2f} cpus")
    rows = count_rows(generated, wl["tables"])

    t0 = time.time()
    verdicts, oracle = checks.run_all(
        res, generated, checks.input_key(generated), os.path.join(work, "check"),
        os.path.join(ROOT, ".bench_cache", "oracle"), args.refresh_oracles,
        TASK_TOLERANCE, SHUFFLE_TOLERANCE)
    log(f"checks {time.time() - t0:.1f}s: {len(verdicts)} checks, DuckDB answers "
        f"{oracle.computed} computed, {oracle.cached} cached")
    for name, ok, detail in verdicts:
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
    n_exec = sum(len(p["queries"]) for p in res["passes"])
    failed_exec = sum(1 for p in res["passes"] for q in p["queries"] if not q["ok"])
    attempted = n_exec + len(verdicts)
    failed = failed_exec + sum(1 for _, ok, _ in verdicts if not ok)
    correct = all(ok for _, ok, _ in verdicts)

    if args.trace:
        metrics = per_layer(res, rows)
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        trace = os.path.join(ROOT, ".bench_out",
                             f"trace-{args.workload}-{args.seed}.json")
        with open(trace, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": res["spans"], "passes": res["passes"],
                       "per_layer": {k: v for k, (v, _) in metrics.items()}}, fh)
        log(f"spans and per-layer metrics written to {trace}")
    else:
        metrics = end_to_end(res, rows)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
