"""Seeded input generator: the TPC-H-ish star schema, the `events`
stream, `documents` and `embeddings`, with the column names, types and
value ranges every graft query and its DuckDB oracle expect.

The same (seed, sf) always writes byte-identical parquet files. The
seed moves every value; the scale factor sets every row count
(sf 0.1 gives 600,000 lineitem rows).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _pick(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    d0 = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - d0).astype(int)
    return pa.array((d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]"),
                    pa.timestamp("us"))


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    ends = np.cumsum(lens)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[words[e - l:e]]) for e, l in zip(ends, lens)]
    # near-duplicate pairs (one side carries an extra "dup" token) and
    # a few exact copies, so the dedup and LSH families find real pairs
    n_near, n_exact = n // 20, max(1, n // 600)
    pairs = rng.choice(n, size=(n_near + n_exact, 2), replace=False)
    for i, (src, dst) in enumerate(pairs):
        texts[dst] = texts[src]
        if i < n_near:
            side = src if rng.random() < 0.5 else dst
            texts[side] = texts[side] + " dup"
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.astype(object), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(out_dir, seed, sf=0.1):
    """Write one parquet file per table into `out_dir`; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": _pick(rng, [f"{a} {b}" for a in
                                  ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
                                  for b in ["anvil", "bolt", "gear", "gizmo", "plate",
                                            "ring", "rod", "widget"]], n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                  "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
                           + np.datetime64("2024-01-01", "us"), pa.timestamp("us")),
            "user_id": rng.integers(0, int(15_000 * sf), n_ev),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": _pick(rng, [f'{{"k": {i}}}' for i in range(100)], n_ev)}),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return {name: t.num_rows for name, t in tables.items()}
