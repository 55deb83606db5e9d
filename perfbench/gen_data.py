"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
column names and value domains of the engine's test data (FIXTURES.md
section B) and the parquet types its stored files have. Those store the
three timestamp columns (events.ts, o_orderdate, l_shipdate) as naive
microseconds (INT64 TIMESTAMP(MICROS), not adjusted to UTC) at every scale,
where FIXTURES.md lists ns and ms. This generator does the same, so the
engine reads its tables through the code paths it takes on its test data
(for events, the TimestampNTZ cast in `Tables.events`).
Row counts scale with `sf` like the test data: sf 0.01 gives 60,000
lineitem rows.

The tables depend only on (sf, data_seed). The benchmark keeps data_seed
fixed so that the committed result digests stay valid; its --seed varies
entry order and request schedules instead.

    python3 perfbench/gen_data.py <out_dir> [sf] [data_seed]
"""

import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _ts(days, start, rng, n, micros=False):
    """Naive timestamps within `days` after `start`: whole days, or sorted
    microsecond offsets."""
    base = np.datetime64(start, "us")
    if micros:
        off = rng.integers(0, days * 86_400_000_000, n)
        return base + np.sort(off).astype("timedelta64[us]")
    return base + (rng.integers(0, days + 1, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def generate(out_dir, sf=0.01, data_seed=42):
    rng = np.random.default_rng(data_seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")

    def write(name, cols):
        table = pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": (np.arange(5), i32),
        "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    write("nation", {
        "n_nationkey": (np.arange(25), i32),
        "n_name": ([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": (np.arange(25) % 5, i32)})
    write("customer", {
        "c_custkey": (np.arange(n_cust), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": (rng.integers(0, 25, n_cust), i32),
        "c_acctbal": (_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": (_pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                     "HOUSEHOLD", "MACHINERY"], n_cust), s)})
    write("supplier", {
        "s_suppkey": (np.arange(n_supp), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": (rng.integers(0, 25, n_supp), i32),
        "s_acctbal": (_money(rng, -999.99, 9999.99, n_supp), f64)})
    adjectives = ["large", "hot", "blue", "red", "cold", "old", "small", "new"]
    nouns = ["ring", "plate", "gear", "anvil", "gizmo", "widget", "bolt", "rod"]
    keys = np.arange(n_part)
    write("part", {
        "p_partkey": (keys, i64),
        "p_name": ([f"{adjectives[a]} {nouns[b]}" for a, b in
                    zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], s),
        "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": (_pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                               "STANDARD"], n_part), s),
        "p_size": (rng.integers(1, 51, n_part), i32),
        "p_retailprice": (np.round(900 + (keys % 1000) / 10, 2), f64)})
    write("orders", {
        "o_orderkey": (np.arange(n_ord), i64),
        "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": (_pick(rng, ["F", "O", "P"], n_ord), s),
        "o_totalprice": (_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": (_ts(2404, "1995-01-01", rng, n_ord), ts_us),
        "o_orderpriority": (_pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})
    write("lineitem", {
        "l_orderkey": (rng.integers(0, n_ord, n_line), i64),
        "l_partkey": (rng.integers(0, n_part, n_line), i64),
        "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": (rng.integers(1, 8, n_line), i32),
        "l_quantity": (rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": (_money(rng, 900.0, 105000.0, n_line), f64),
        "l_discount": (rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": (rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": (_pick(rng, ["A", "N", "R"], n_line), s),
        "l_linestatus": (_pick(rng, ["F", "O"], n_line), s),
        "l_shipdate": (_ts(2498, "1995-01-02", rng, n_line), ts_us)})
    write("events", {
        "event_id": (np.arange(n_ev), i64),
        "ts": (_ts(30, "2024-01-01", rng, n_ev, micros=True), ts_us),
        "user_id": (rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": (_pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": (np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})

    # ~5% of documents are an earlier document plus " dup" (near-duplicates);
    # a few are exact copies
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.0516:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(_pick(rng, WORDS, int(rng.integers(10, 101)))))
    write("documents", {
        "doc_id": (np.arange(n_doc), i64),
        "text": (texts, s),
        "lang": (_pick(rng, ["en", "es", "zh", "de", "fr"], n_doc,
                       p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]), s),
        "source": ([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": ([len(t) for t in texts], i64)})

    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": (np.arange(n_vec), i64),
        "embedding": (list(vecs), pa.list_(pa.float32())),
        "label": (rng.integers(0, 10, n_vec), i32)})


if __name__ == "__main__":
    out = sys.argv[1]
    sf = float(sys.argv[2]) if len(sys.argv) > 2 else 0.01
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    generate(out, sf, seed)
