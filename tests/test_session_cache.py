"""Session state (core/session_cache.py): fixture-path derivation, the
build-once completion rule (also with two writing processes), the
identity rule on a same-second rewrite, and the memo's
eviction/unpersist rule and hit/miss counts.
The plan-memo hit/miss contract is pinned in test_tables.py."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

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
    """One completion rule: a marked directory is never rebuilt; an
    unmarked one (empty, crash debris, or a partial file set) is
    replaced by one whole build; a build that raises leaves the path
    unmarked and the next call rebuilds.  No temp sibling survives."""
    debris_cases = {
        "empty": {},
        "orphan": {"orphan": "crashed attempt"},
        "partial": {"data": "half", "data2": "torn"},
    }
    for case, debris in debris_cases.items():
        parent = tmp_path / case
        d = parent / "store"
        d.mkdir(parents=True)
        for name, text in debris.items():
            (d / name).write_text(text)
        calls = []

        def build(path):
            calls.append(path)
            with open(os.path.join(path, "data"), "w") as fh:
                fh.write("whole")

        assert session_cache.build_once(str(d), build) == str(d)
        assert sorted(os.listdir(d)) == sorted(["data", session_cache.MARKER])
        assert (d / "data").read_text() == "whole"
        session_cache.build_once(str(d), build)
        assert len(calls) == 1, "a marked directory is never rebuilt"
        assert os.listdir(parent) == ["store"], case

    d = tmp_path / "fails" / "store"
    d.mkdir(parents=True)

    def broken(path):
        open(os.path.join(path, "data"), "w").close()
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError):
        session_cache.build_once(str(d), broken)
    assert not os.path.exists(d / session_cache.MARKER)
    assert os.listdir(d.parent) == ["store"]
    session_cache.build_once(
        str(d), lambda p: open(os.path.join(p, "data"), "w").close()
    )
    assert sorted(os.listdir(d)) == sorted(["data", session_cache.MARKER])


_WRITER = """
import os, sys, time
sys.path.insert(0, {repo!r})
from physicsnemo_curator_spark.core import session_cache

target, go = sys.argv[1], sys.argv[2]
open(go + "." + str(os.getpid()), "w").close()
while not os.path.exists(go):
    time.sleep(0.01)

def build(path):
    me = str(os.getpid())
    for i in range(5):
        with open(os.path.join(path, "part%d" % i), "w") as fh:
            fh.write(me)
        time.sleep(0.1)
    # a writer that shares its directory with the other one sees it torn
    for i in range(5):
        with open(os.path.join(path, "part%d" % i)) as fh:
            assert fh.read() == me, "build directory changed under the writer"

print(session_cache.build_once(target, build))
"""


def test_build_once_two_writers_publish_one_whole_build(tmp_path):
    """Two OS processes build one shared path at once: both get the
    path back, it holds exactly one writer's complete output plus the
    marker, and neither leaves a temp sibling behind."""
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "writer.py"
    script.write_text(_WRITER.format(repo=repo))
    work = tmp_path / "work"
    work.mkdir()
    target = str(work / "shared")
    go = str(tmp_path / "go")
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), target, go],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for _ in range(2)
    ]
    try:
        deadline = time.time() + 60
        while len([n for n in os.listdir(tmp_path) if n.startswith("go.")]) < 2:
            assert time.time() < deadline, "writers did not start"
            time.sleep(0.01)
        open(go, "w").close()
        outs = [p.communicate(timeout=60) for p in procs]
    finally:
        for p in procs:
            p.kill()  # no-op for a writer that already exited
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err
        assert out.strip() == target
    assert os.listdir(work) == ["shared"], "a temp sibling was left behind"
    parts = sorted(os.listdir(target))
    assert parts == sorted([f"part{i}" for i in range(5)] + [session_cache.MARKER])
    owners = {open(os.path.join(target, f"part{i}")).read() for i in range(5)}
    assert len(owners) == 1, f"torn output from writers {owners}"


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


def _group_jobs(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` submits, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_shared_fixture_is_built_once_across_gates(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The scan gates' shared fixtures complete through build_once: the
    first build collects the documents, then a warm build of the same
    gate and q_atomic_stats (which scans the q_aselmdb_scan shards)
    submit no job and leave the fixture untouched, with no temp
    sibling beside it."""
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))

    def jobs(group, gate):
        return _group_jobs(spark, group, lambda: gate(spark, sf_dir))

    assert jobs("pcs_lmdb_cold", Q.q_aselmdb_scan) >= 1
    (fx,) = os.listdir(tmp_path)
    fx = str(tmp_path / fx)
    assert sorted(os.listdir(fx)) == sorted(
        [session_cache.MARKER] + [f"shard{s}.aselmdb" for s in range(3)]
    )
    stamp = session_cache.ident(fx)
    assert jobs("pcs_lmdb_warm", Q.q_aselmdb_scan) == 0
    assert jobs("pcs_atomic_warm", Q.q_atomic_stats) == 0
    assert session_cache.ident(fx) == stamp
    assert os.listdir(tmp_path) == [os.path.basename(fx)]


def test_pair_memo_hit_submits_no_pair_jobs(spark, sf_dir, tmp_path):
    """q_dedup_representative after q_dedup_components reuses the
    persisted pair frame: one pair-memo hit, no new shingle build, and
    fewer jobs than the same build on a miss (which re-runs the
    shingle and pair jobs)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    docs = str(sf / "documents.parquet")
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), docs)
    Q.q_dedup_components(spark, str(sf))
    before = session_cache.stats(spark)
    n_hit = _group_jobs(
        spark,
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
    n_miss = _group_jobs(
        spark,
        "pcs_rep_miss", lambda: Q.q_dedup_representative(spark, str(sf))
    )
    missed = session_cache.stats(spark)
    assert missed["pairs"][1] == after["pairs"][1] + 1
    assert missed["shingles"][1] == after["shingles"][1] + 1
    assert not old_pairs.is_cached
    assert 0 < n_hit < n_miss, (n_hit, n_miss)
