"""Seeded input tables for the benchmark.

Writes the ten tables the engine's queries read (``region`` ... ``embeddings``)
as parquet files into one directory, with the schemas, physical types and
value distributions of the repository's synthetic test tables: a TPC-H-like
star schema, an ``events`` stream, a ``documents`` corpus and 64-d unit-norm
``embeddings`` with a weak 10-class label signal.

The corpus follows the sf0.1 ``documents`` table, measured on it: 10 to 100
words drawn uniformly from the same 30-word vocabulary, and 5 % of the
documents are near-copies, each the text of another document, picked at
random, with the token " dup" appended (a copy of a copy gets " dup dup").
That gives the table's families: mostly pairs, a few triples, word
3-shingle Jaccard 0.8 to 1.0 within a family and no other pair above 0.5.
``perfbench/README.md`` compares the two.

The same seed gives byte-identical tables.  Row counts are fixed (the
relational tables at the sf0.01 size, the corpus and embeddings at the sf0.1
size), so every seed costs the engine the same work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
COPY_SHARE = 0.05  # documents that are a near-copy of another document


def _ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _day_ts(rng: np.random.Generator, n: int, start: str, span: int) -> pa.Array:
    days = rng.integers(0, span, n).astype(np.int64) * 86_400_000_000
    return _ts(days, start)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n),
    })
    n = ROWS["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
    })
    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n).astype(np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": _day_ts(rng, n, "1995-01-01", 2400),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _day_ts(rng, n, "1995-01-02", 2500),
    })
    n = ROWS["events"]
    gaps = rng.exponential(30 * 86_400e6 / n, n).cumsum().astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(gaps, "2024-01-01"),
        "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.lognormal(2.8, 1.1, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    out["documents"] = _documents(rng, ROWS["documents"])
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n, 64)) + 0.6 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    for i in rng.choice(n, int(n * COPY_SHARE), replace=False):
        src = (i + rng.integers(1, n)) % n
        texts[i] = texts[src] + " dup"
    langs, probs = zip(*LANGS)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, langs, n, p=np.asarray(probs) / sum(probs)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
