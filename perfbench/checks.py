"""Output checks for one benchmark run.

Every query's output from the untimed check pass is compared with DuckDB's
answer to the registry's oracle SQL over the same input, using the
canonical form of scripts/check.py (its `_cell` and `canon` functions are
loaded from that file, not copied). DuckDB answers are cached under
.bench_cache/oracle/ by a key naming the input and by oracle text. Two property
checks ride along: q19 is complete and globally ordered across its output
partitions, and w1's bin loads stay within LPT's 4/3 bound times the
locality swap's 10% cap. A last check asks that the timed passes did the
same work: per-query task counts and shuffle bytes agree between passes.

Each check is (name, ok, detail).
"""
import ast
import functools
import glob
import hashlib
import os
import pickle

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from gen import TABLES

_CHECK_PY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "scripts", "check.py")


@functools.lru_cache(maxsize=None)
def _canonical():
    """`canon` from scripts/check.py, with the helpers it calls."""
    tree = ast.parse(open(_CHECK_PY).read())
    keep = [n for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name in ("_cell", "canon")]
    ns = {"pd": pd}
    exec(compile(ast.Module(body=keep, type_ignores=[]), _CHECK_PY, "exec"), ns)
    return ns["canon"]


def _parquet_glob(path):
    """A table is one parquet file or a directory of them."""
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def connect(input_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = _parquet_glob(os.path.join(input_dir, f"{t}.parquet"))
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def input_key(input_dir):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(input_dir, "**", "*.parquet"),
                              recursive=True)):
        if os.path.isdir(f):
            continue
        h.update(os.path.relpath(f, input_dir).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def read_output(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def same(spark_df, duck_df):
    """check.py's comparison: columns, row count, then every cell."""
    canon = _canonical()
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            neq = ~((av == bv) | (av.isna() & bv.isna()))
        except Exception:
            neq = av.astype(str) != bv.astype(str)
        if neq.any():
            i = int(neq.idxmax())
            return f"col={c} row={i} spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
    return None


class Oracle:
    """DuckDB answers over one input, cached by `key` (which names the
    input's content) and SQL."""

    def __init__(self, input_dir, key, cache_dir, refresh):
        self.input_dir, self.cache_dir, self.refresh = input_dir, cache_dir, refresh
        self.key = key
        self.con = None
        self.computed = self.cached = 0

    def answer(self, sql):
        path = os.path.join(self.cache_dir, hashlib.sha256(
            (self.key + "\0" + sql).encode()).hexdigest() + ".pkl")
        if os.path.exists(path) and not self.refresh:
            self.cached += 1
            with open(path, "rb") as fh:
                return pickle.load(fh)
        self.computed += 1
        if self.con is None:
            self.con = connect(self.input_dir)
        df = self.con.execute(sql).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(df, fh)
        os.replace(path + ".tmp", path)
        return df


def q19_order(check_dir, oracle):
    """q19's partitions, read in partition order, hold every lineitem row
    and are globally sorted by its sort key."""
    files = sorted(glob.glob(os.path.join(check_dir, "q19_terasort", "*.parquet")))
    if not files:
        return "no output"
    key = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    df = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
    n = int(oracle.answer("SELECT count(*) AS n FROM lineitem")["n"][0])
    if len(df) != n:
        return f"{len(df)} rows, lineitem has {n}"
    rows = list(df[key].itertuples(index=False, name=None))
    bad = next((i for i in range(1, len(rows)) if rows[i] < rows[i - 1]), None)
    return None if bad is None else f"order breaks at row {bad} of {len(rows)}"


def w1_bins(record, oracle, sql):
    """Each bin's load (the oracle row counts of its keys) stays within
    1.1 x 4/3 x max(total / m, heaviest key)."""
    counts = oracle.answer(sql)
    weight = dict(zip(counts["skey"].astype(int), counts["n_rows"].astype(int)))
    bins, m = record["bins"], record["num_bins"]
    if set(int(k) for k in bins) != set(weight):
        return "partitioner keys differ from the oracle's keys"
    loads = [0] * m
    for k, b in bins.items():
        loads[b] += weight[int(k)]
    total = sum(weight.values())
    bound = 1.1 * 4 / 3 * max(total / m, max(weight.values()))
    return None if max(loads) <= bound else \
        f"max bin load {max(loads)} > bound {bound:.0f} (loads {loads})"


def same_work(passes, task_tol, shuffle_tol):
    """Per-query task counts and shuffle bytes agree across timed passes."""
    timed = [p for p in passes if p["timed"]]
    bad = []
    for name in [q["name"] for q in timed[0]["queries"]]:
        qs = [next(q for q in p["queries"] if q["name"] == name) for p in timed]
        for key, tol in (("tasks", task_tol), ("shuffle_write_bytes", shuffle_tol)):
            vals = [q.get(key, 0.0) for q in qs]
            if max(vals) > (1 + tol) * min(vals):
                bad.append(f"{name} {key} {min(vals):.0f}..{max(vals):.0f}")
    return "; ".join(bad) or None


def _check(name, f):
    """Run one check; an exception fails it with its message."""
    try:
        diff = f()
    except Exception as e:  # noqa: BLE001 - any error is a failed check
        diff = f"{type(e).__name__}: {e}"
    return name, diff is None, diff


def _oracle_check(name, check_dir, sql, oracle):
    got = read_output(os.path.join(check_dir, name))
    if got is None:
        return "no output"
    if sql is None:
        return None if len(got) > 0 else "no rows (no oracle)"
    return same(got, oracle.answer(sql))


def _w1_check(res, oracle):
    rec = next((c for c in res["checks"] if c["name"] == "w1_bins"), None)
    if rec is None:
        return "no partitioner record"
    return w1_bins(rec, oracle, res["oracles"]["w1_weighted_shuffle"])


def run_all(res, input_dir, key, check_dir, cache_dir, refresh, task_tol, shuffle_tol):
    """All checks of one run, and the Oracle that answered them."""
    oracle = Oracle(input_dir, key, cache_dir, refresh)
    out = [_check(f"oracle:{name}", lambda name=name: _oracle_check(
        name, check_dir, res["oracles"].get(name), oracle))
        for name in sorted(res["order"])]
    if "q19_terasort" in res["order"]:
        out.append(_check("property:q19_order", lambda: q19_order(check_dir, oracle)))
    if "w1_weighted_shuffle" in res["order"]:
        out.append(_check("property:w1_lpt_bound", lambda: _w1_check(res, oracle)))
    out.append(_check("same_work", lambda: same_work(res["passes"], task_tol, shuffle_tol)))
    return out, oracle
