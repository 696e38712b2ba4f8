"""Result checks: DuckDB oracles for the query workloads, repeat-hash
stability, and the incremental-ingest invariants."""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from tools.verify_oracles import TABLES, _canon, _hash


def result_key(df: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """Row count, columns and hash of ``df`` in the canonical form of
    ``tools/verify_oracles.py``."""
    c = _canon(df)
    return len(c), tuple(c.columns), _hash(c)


class Oracle:
    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def key(self, sql: str) -> tuple[int, tuple[str, ...], str]:
        return result_key(self.con.execute(sql).fetchdf())

    def close(self) -> None:
        self.con.close()


def _shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i:i + k]) for i in range(max(1, len(toks) - k + 1))}


def ingest_violations(docs: pd.DataFrame, batches: list[list[int]],
                      curated: pd.DataFrame, split_history: list[dict[int, str]],
                      min_jaccard: float = 0.5) -> list[str]:
    """Every ingested doc is kept with exactly one split or dropped as a
    near-duplicate of a doc ingested before it; the split store never
    relabels a doc.  Returns human-readable violations (empty = correct)."""
    bad: list[str] = []
    ingested = [d for b in batches for d in b]
    counts = curated.groupby("doc_id")["split"].agg(["count", "nunique"])
    for doc_id, row in counts.iterrows():
        if row["count"] != 1 or row["nunique"] != 1:
            bad.append(f"doc {doc_id} kept {row['count']} times")
    kept = set(counts.index)
    stray = kept - set(ingested)
    if stray:
        bad.append(f"{len(stray)} curated docs were never ingested")
    text = dict(zip(docs["doc_id"], docs["text"]))
    seen: list[set] = []
    for doc_id in ingested:
        sh = _shingles(text[doc_id])
        if doc_id not in kept:
            best = max((len(sh & o) / len(sh | o) for o in seen), default=0.0)
            if best < min_jaccard:
                bad.append(f"doc {doc_id} dropped without a near-duplicate "
                           f"(best Jaccard {best:.2f})")
        seen.append(sh)
    for before, after in zip(split_history, split_history[1:]):
        moved = [d for d, s in before.items() if after.get(d) != s]
        if moved:
            bad.append(f"split store relabelled {len(moved)} docs, e.g. {moved[:3]}")
    return bad
