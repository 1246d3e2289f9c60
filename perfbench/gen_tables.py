"""Seeded generator of the warehouse tables the `warehouse_sql` workload reads.

`write_tables(dir, seed, sf, corpus_rows)` writes one parquet file per table,
`<dir>/<table>.parquet`, in the schemas the engine's queries and their DuckDB
oracles read: a TPC-H-shaped star schema (region, nation, customer, supplier,
part, orders, lineitem at scale factor `sf`), the `events` stream, and a
`documents` corpus with exact and near duplicates plus clustered
64-dimensional `embeddings` (`corpus_rows` rows each). The same seed always
gives byte-identical values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "value", "vector", "window"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def sizes(sf):
    """Row counts at scale factor `sf` (TPC-H proportions)."""
    n = lambda base: max(1, round(base * sf))
    return {"customer": n(150000), "supplier": n(10000), "part": n(200000),
            "orders": n(1500000), "lineitem": n(6000000), "events": n(1000000),
            "users": max(10, n(15000))}


def _days(rng, start, span, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, size).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(x):
    return np.round(x, 2)


def tables(seed, sf, corpus_rows):
    """Yields (name, pyarrow.Table) for every table; each table draws from
    its own generator so one table's size never shifts another's values."""
    z = sizes(sf)

    def rng(i):
        return np.random.default_rng([seed, i])

    def pick(r, values, size):
        return np.array(values, dtype=object)[r.integers(0, len(values), size)]

    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    r, n = rng(1), z["customer"]
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": _money(r.uniform(-999.99, 9999.99, n)),
        "c_mktsegment": pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                 "MACHINERY"], n)})
    r, n = rng(2), z["supplier"]
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": _money(r.uniform(-999.99, 9999.99, n))})
    r, n = rng(3), z["part"]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(
            pick(r, ["small", "large", "red", "blue", "old", "new", "hot"], n),
            pick(r, ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"], n))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": pick(r, ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n),
        "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": _money(900.0 + (np.arange(n) % 1000) / 10.0)})
    r, n = rng(4), z["orders"]
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, z["customer"], n)),
        "o_orderstatus": pick(r, ["F", "O", "P"], n),
        "o_totalprice": _money(r.uniform(1000.0, 500000.0, n)),
        "o_orderdate": pa.array(_days(r, "1995-01-01", 2404, n), pa.timestamp("us")),
        "o_orderpriority": pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                    "5-LOW"], n)})
    r, n = rng(5), z["lineitem"]
    qty = r.integers(1, 51, n).astype(np.float64)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, z["orders"], n)),
        "l_partkey": pa.array(r.integers(0, z["part"], n)),
        "l_suppkey": pa.array(r.integers(0, z["supplier"], n)),
        "l_linenumber": pa.array((np.arange(n) % 7 + 1).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * r.uniform(900.0, 2100.0, n)),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(r, ["A", "N", "R"], n),
        "l_linestatus": pick(r, ["F", "O"], n),
        "l_shipdate": pa.array(_days(r, "1995-01-02", 2498, n), pa.timestamp("us"))})
    r, n = rng(6), z["events"]
    step = 30 * 86400 * 1_000_000 // n
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (np.arange(n) * step + r.integers(0, step, n)).astype("timedelta64[us]"))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, z["users"], n)),
        "event_type": pick(r, ["view", "click", "signup", "purchase", "error"], n),
        "value": _money(r.uniform(0.01, 490.01, n)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})
    r, n = rng(7), corpus_rows
    # every id % 10 == 9 copies its predecessor exactly; every id % 10 == 7
    # copies id - 3 with its sixth word replaced (a near duplicate)
    texts = []
    for i in range(n):
        if i % 10 == 9:
            texts.append(texts[i - 1])
        elif i % 10 == 7:
            words = texts[i - 3].split(" ")
            k = min(5, len(words) - 1)
            others = [w for w in WORDS if w != words[k]]
            words[k] = others[int(r.integers(0, len(others)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(pick(r, WORDS, int(r.integers(12, 72)))))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": pick(r, ["en", "en", "fr", "es", "zh", "de"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    r = rng(8)
    centres = r.uniform(-0.3, 0.3, (10, 64))
    labels = r.integers(0, 10, n)
    vecs = (centres[labels] + r.normal(0.0, 0.1, (n, 64))).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


def write_tables(out_dir, seed, sf, corpus_rows):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf, corpus_rows):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
