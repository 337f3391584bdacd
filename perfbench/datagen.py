"""Seeded generator of the benchmark's input tables.

Writes TPC-H-shaped parquet tables plus the `events`, `documents` and
`embeddings` side tables, the `kv` base of the written relation and the
`edge` graph, with the column names and types that
`cozo_spark.queries` and its DuckDB oracles expect. Every value comes from
`numpy.random.default_rng(seed)`, so one (seed, scale) pair always gives
byte-identical inputs. Row counts scale linearly with `scale` (scale 1 is
150k customers, 1.5M orders, about 6M lineitems).

Generation is cached: a finished directory holds a `_DONE` marker and is
reused by later runs with the same seed and scale. Run as a script:
`python3 datagen.py <out_dir> <seed> <scale>`.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings", "kv", "edge")

# the `edge` graph: a directed circulant graph, so every start node sees the
# same recursion (eccentricity 5: six fixpoint epochs) whatever the seed
EDGE_NODES = 120
EDGE_STEPS = (9, 23, 33, 68, 74)

# bump when the generated content changes, so stale caches are not reused
VERSION = 3

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.15, 0.4, 0.15, 0.15, 0.15]
_EMBED_DIM = 64


# the documents' words: a small vocabulary drawn uniformly, so every word is
# in most documents (FTS postings are long) and 3-word shingles repeat across
# documents (MinHash finds many candidate pairs)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = int(base.timestamp() * 1e6) + (seconds * 1e6).astype(np.int64)
    return pa.array(us, type=pa.timestamp("us"))


def _days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    return _ts(base, days.astype(np.int64) * 86400)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    epoch = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
    n_cust = max(100, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(1000, int(1_500_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(50, int(15_000 * scale))
    n_docs = max(300, int(50_000 * scale))
    n_vec = max(200, int(20_000 * scale))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})

    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    adjs = np.array(["cold", "small", "big", "fast", "red", "green", "blue"])
    nouns = np.array(["widget", "gadget", "gizmo", "bolt", "valve"])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 7, n_part)], " "),
                              nouns[rng.integers(0, 5, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[
            rng.integers(0, 4, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})

    odays = rng.integers(0, 2400, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(epoch, odays),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]})

    nlines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), nlines)
    starts = np.cumsum(nlines) - nlines
    lnum = np.arange(len(lok)) - np.repeat(starts, nlines) + 1
    n_li = len(lok)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(epoch, np.repeat(odays, nlines)
                            + rng.integers(1, 122, n_li))})

    # strictly increasing timestamps keep (user_id, ts) unique, which the
    # validity (as-of) query relies on
    ev_sec = np.cumsum(rng.uniform(0.001, 2.0 * 2_592_000 / n_ev, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), ev_sec),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    out["documents"] = _documents(rng, n_docs)

    centers = rng.normal(0.0, 1.0, (10, _EMBED_DIM))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vec, _EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vec + 1) * _EMBED_DIM, _EMBED_DIM),
                     pa.int32()), flat),
        "label": pa.array(labels, pa.int32())})

    # the base of the interactive workload's written relation {k => v, w}
    n_kv = max(1000, int(2_000_000 * scale))
    out["kv"] = pa.table({
        "k": np.arange(n_kv, dtype=np.int64),
        "v": rng.integers(0, 1 << 30, n_kv, dtype=np.int64),
        "w": rng.integers(0, 1000, n_kv, dtype=np.int64)})

    src = np.repeat(np.arange(EDGE_NODES, dtype=np.int64), len(EDGE_STEPS))
    out["edge"] = pa.table({
        "src": src, "dst": (src + np.tile(EDGE_STEPS, EDGE_NODES)) % EDGE_NODES})
    return out


def _documents(rng, n_docs: int) -> pa.Table:
    """10 to 99 words drawn uniformly from VOCAB; one document in twenty is
    an earlier document with the word "dup" appended."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 100, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    ends = np.cumsum(lens)
    text = [" ".join(words[e - n:e]) for e, n in zip(ends, lens)]
    for i in range(1, n_docs):
        if rng.random() < 0.05:
            text[i] = text[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})


def table_dir(root: str, seed: int, scale: float) -> str:
    return os.path.join(root, f"v{VERSION}_sf{scale:g}_seed{seed}")


def ensure_tables(out: str, seed: int, scale: float) -> None:
    """Write `<table>.parquet` files for (seed, scale) into `out`, unless a
    finished earlier run left them there."""
    if os.path.exists(os.path.join(out, "_DONE")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(seed, scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


if __name__ == "__main__":
    # python3 datagen.py <out_dir> <seed> <scale>
    ensure_tables(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
