"""Session state (core/session_cache.py): fixture-path derivation, the
build-once completion marker, the identity rule on a same-second
rewrite, and the memo's eviction/unpersist rule and hit/miss counts.
The plan-memo hit/miss contract is pinned in test_tables.py."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from physicsnemo_curator_spark.core import session_cache
from physicsnemo_curator_spark.plans import queries as Q

# one whole second; the tests stamp sub-second mtimes inside it
_SECOND_NS = 1_700_000_000 * 1_000_000_000


def test_fixture_dir_keys_on_source_and_process(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"a")
    shared = session_cache.fixture_dir("t", str(src))
    assert os.path.isdir(shared)
    assert session_cache.fixture_dir("t", str(src)) == shared
    own = session_cache.fixture_dir("t", str(src), per_process=True)
    assert own.endswith(f"_{os.getpid()}") and own != shared
    src.write_bytes(b"ab")
    assert session_cache.fixture_dir("t", str(src)) != shared


def test_build_once_clears_unmarked_debris(tmp_path):
    d = tmp_path / "store"
    d.mkdir()
    (d / "orphan").write_text("crashed attempt")
    calls = []

    def build(path):
        calls.append(path)
        open(os.path.join(path, "data"), "w").close()

    assert session_cache.build_once(str(d), build) == str(d)
    assert sorted(os.listdir(d)) == sorted(["data", session_cache.MARKER])
    session_cache.build_once(str(d), build)
    assert calls == [str(d)], "a marked directory is never rebuilt"


def _write_docs(path: str, texts: dict[int, str], mtime_ns: int) -> None:
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids], pa.string()),
            }
        ),
        path,
    )
    os.utime(path, ns=(mtime_ns, mtime_ns))


def test_dedup_incremental_store_rekeys_within_one_second(
    spark, tmp_path, monkeypatch
):
    """Two rewrites of documents.parquet inside ONE whole second, with
    different sizes, must land in two MinHash store fixtures, and the
    second run must probe a store built from the new rows."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp))
    sf = tmp_path / "sf"
    sf.mkdir()
    docs = str(sf / "documents.parquet")
    dup_a = "alpha beta gamma delta epsilon zeta"
    _write_docs(
        docs,
        {0: dup_a, 1: dup_a, 2: "one two three four five",
         3: "six seven eight nine ten eleven"},
        _SECOND_NS + 100_000_000,
    )
    first = Q.q_dedup_incremental(spark, str(sf)).collect()
    assert [(r.a, r.b, r.scope) for r in first] == [(0, 1, "corpus")]
    size_1 = os.path.getsize(docs)

    dup_b = "kilo lima mike november oscar papa"
    _write_docs(
        docs,
        {0: "red green blue cyan magenta yellow black",
         1: "lorem ipsum dolor sit amet consectetur", 2: dup_b, 3: dup_b,
         5: "quebec romeo sierra tango"},
        _SECOND_NS + 600_000_000,
    )
    assert os.path.getsize(docs) != size_1
    second = Q.q_dedup_incremental(spark, str(sf)).collect()
    stores = [n for n in os.listdir(tmp) if n.startswith("pcs_mh_store_")]
    assert len(stores) == 2, stores
    assert [(r.a, r.b, r.jaccard, r.scope) for r in second] == [
        (2, 3, 1.0, "corpus")
    ]


def test_pair_memo_hit_submits_no_pair_jobs(spark, sf_dir, tmp_path):
    """q_dedup_representative after q_dedup_components reuses the
    persisted pair frame: one pair-memo hit, no new shingle build, and
    fewer jobs than the same build on a miss (which re-runs the
    shingle and pair jobs)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    docs = str(sf / "documents.parquet")
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), docs)
    sc = spark.sparkContext

    def build_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    Q.q_dedup_components(spark, str(sf))
    before = session_cache.stats(spark)
    n_hit = build_jobs(
        "pcs_rep_hit", lambda: Q.q_dedup_representative(spark, str(sf))
    )
    after = session_cache.stats(spark)
    assert after["pairs"][0] == before["pairs"][0] + 1
    assert after["pairs"][1] == before["pairs"][1]
    assert after["shingles"] == before["shingles"]

    (old_pairs,) = [
        df for k, df in session_cache.entries(spark, "pairs").items()
        if k[1] == str(sf)
    ]
    os.utime(docs, ns=(_SECOND_NS, _SECOND_NS))  # new identity
    n_miss = build_jobs(
        "pcs_rep_miss", lambda: Q.q_dedup_representative(spark, str(sf))
    )
    missed = session_cache.stats(spark)
    assert missed["pairs"][1] == after["pairs"][1] + 1
    assert missed["shingles"][1] == after["shingles"][1] + 1
    assert not old_pairs.is_cached
    assert 0 < n_hit < n_miss, (n_hit, n_miss)
