"""Seeded input tables for the benchmark.

Writes the four tables the exercised layers read, in the layout and
physical types graft's loaders expect (one parquet file per table):

  orders       30,000 rows  -> the derived imaging catalog (data_set)
  lineitem   ~120,000 rows  -> the derived frames (one frame per row)
  documents    1,000 rows   -> term index, text search
  embeddings   2,000 rows   -> vector index, vector search

The tables follow the sf0.02 scale of the TPC-H-ish tables graft is
developed against (sf0.1 made a catalog run too long for the run
budget; see README.md), except the embeddings, which keep 2,000 rows so
the vector index trains its quantizer on as many vectors as at sf0.1.
Every value derives from the seed, so the same seed gives
byte-identical tables.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 30_000
N_CUSTOMERS = 3_000
N_PARTS = 4_000
N_SUPPLIERS = 200
N_DOCS = 1_000
N_VECS = 2_000
DIM = 64
N_LABELS = 10

VOCAB = [
    "a", "agg", "batch", "big", "cache", "column", "data", "fast",
    "filter", "group", "hash", "index", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "shuffle", "slow", "small",
    "sort", "spark", "stream", "table", "value", "vector", "window",
]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH = dt.datetime(1995, 1, 1)
DAYS = (dt.datetime(2001, 8, 1) - EPOCH).days


def _ts(days):
    """Day offsets from EPOCH as a timestamp[us] array."""
    base = np.datetime64(EPOCH, "us")
    return pa.array(base + days.astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def orders_and_lineitem(rng):
    keys = np.arange(N_ORDERS, dtype=np.int64)
    odays = rng.integers(0, DAYS, N_ORDERS)
    orders = pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS, dtype=np.int64),
        "o_orderstatus": pa.array(
            np.array(["O", "F", "P"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": np.round(rng.uniform(900, 500_000, N_ORDERS), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]),
    })
    per = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(keys, per)
    n = len(okey)
    start = np.repeat(np.cumsum(per) - per, per)
    line = (np.arange(n) - start + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    li = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PARTS, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n, dtype=np.int64),
        "l_linenumber": line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": np.repeat(odays, per) + rng.integers(1, 122, n),
    }
    # rows arrive unordered, as an unsorted ingest would leave them
    perm = rng.permutation(n)
    cols = {k: v[perm] for k, v in li.items()}
    cols["l_shipdate"] = _ts(cols["l_shipdate"])
    return orders, pa.table(cols)


def doc_text(rng, n_words):
    return " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)])


def documents(rng):
    texts = [doc_text(rng, int(w)) for w in rng.integers(12, 100, N_DOCS)]
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": np.array([f"src{i}" for i in range(20)])[
            rng.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng):
    centers = rng.normal(0, 1, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, N_VECS).astype(np.int32)
    v = centers[labels] + rng.normal(0, 0.8, (N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels,
    })


def write_tables(seed, out_dir):
    """Write the four tables for `seed` under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    orders, lineitem = orders_and_lineitem(rng)
    tables = {
        "orders": orders,
        "lineitem": lineitem,
        "documents": documents(np.random.default_rng([seed, 2])),
        "embeddings": embeddings(np.random.default_rng([seed, 3])),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=200_000)


def embedding_matrix(out_dir):
    """The embeddings table as an (n, DIM) float array."""
    t = pq.read_table(os.path.join(out_dir, "embeddings.parquet"))
    return np.array(t["embedding"].to_pylist(), dtype=np.float64)
