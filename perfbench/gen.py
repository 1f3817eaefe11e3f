"""Seeded generator for the engine's ten input tables.

The tables follow the shapes of the engine's reference test data (the
TPC-H-like star schema plus events, documents and embeddings; see
FIXTURES.md and Catalog.scala): the same column names and parquet types,
the same value domains and the same per-scale-factor row counts. Every
value is drawn from one numpy generator seeded by `seed`, so the same seed
gives byte-identical inputs.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

VOCAB = ("a the data query table row column key value part line order "
         "customer group join merge sort hash scan filter window stream "
         "batch agg vector spark fast slow big small").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _day(y, m, d):
    return np.datetime64(dt.date(y, m, d), "us")


def _ts_days(rng, lo, hi, n):
    days = int((hi - lo) // np.timedelta64(1, "D"))
    return lo + rng.integers(0, days + 1, n) * np.timedelta64(1, "D")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n, p=None):
    return np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)]


def generate(dst, seed, sf=0.01, docs=500, vecs=500, files=None):
    """Write the ten tables at scale factor `sf` into `dst`. A table named
    in `files` becomes a directory of that many parquet files, each a
    contiguous slice of its rows, so that a scan of it runs as that many
    tasks; the others are one file each."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    files = files or {}

    def _write(dst, name, cols):
        t = pa.table(cols)
        path = os.path.join(dst, f"{name}.parquet")
        n = files.get(name, 1)
        if n == 1:
            pq.write_table(t, path, compression="snappy")
            return
        os.makedirs(path)
        for i in range(n):
            lo, hi = t.num_rows * i // n, t.num_rows * (i + 1) // n
            pq.write_table(t.slice(lo, hi - lo),
                           os.path.join(path, f"part-{i:05d}.parquet"),
                           compression="snappy")

    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_user = max(n_cust // 10, 15)
    i32, i64, f64, f32 = pa.int32(), pa.int64(), pa.float64(), pa.float32()
    ts = pa.timestamp("us")

    _write(dst, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dst, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(dst, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(dst, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64)})
    adjs = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
    nouns = ["bolt", "gear", "rod", "ring", "plate", "anvil", "widget", "gizmo"]
    pk = np.arange(n_part)
    _write(dst, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64)})
    _write(dst, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord), f64),
        "o_orderdate": pa.array(_ts_days(rng, _day(1995, 1, 1),
                                         _day(2001, 8, 1), n_ord), ts),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(dst, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(_ts_days(rng, _day(1995, 1, 2),
                                        _day(2001, 11, 4), n_line), ts)})
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / n_evt, n_evt).astype(np.int64)
    _write(dst, "events", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(_day(2024, 1, 1) + np.cumsum(gaps).astype(
            "timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": _pick(rng, ["view", "click", "signup", "purchase",
                                  "error"], n_evt),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for i in range(docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, VOCAB, int(rng.integers(10, 101)))))
    _write(dst, "documents", {
        "doc_id": pa.array(np.arange(docs), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(dst, "embeddings", {
        "vec_id": pa.array(np.arange(vecs), i64),
        "embedding": pa.array(list(emb), pa.list_(f32)),
        "label": pa.array(rng.integers(0, 10, vecs), i32)})
