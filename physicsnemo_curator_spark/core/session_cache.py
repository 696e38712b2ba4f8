"""The one owner of session state: source identity, the per-session
memo, and per-process fixture stores.

- :func:`ident` is the ONE freshness rule: every file's
  ``(relpath, mtime_ns, size)`` under a path (one ``stat`` for a
  single-file table).  Nanoseconds, not whole seconds: two rewrites
  within one second must still differ.  Recursive, because a store
  mutates below its top level (dynamic partition overwrite rewrites
  files inside an existing ``_batch=<id>/`` dir).
- :func:`memo` holds every session-scoped derived DataFrame (catalog
  plans, store-read plans, shared persisted sub-plans) in one dict on
  the session object, keyed by ``(kind, ...)`` and validated against
  the source's :func:`ident`.  A changed identity drops the entry and
  ``unpersist()``s it when it is cached.  :func:`stats` counts hits
  and misses per kind.
- :func:`fixture_dir` derives a temp fixture path from a tag and its
  sources' identities; :func:`build_once` is the completion rule for
  the per-process ones (no marker: clear, build, mark).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import tempfile

# leading underscore: Spark's file listing skips it, so the marker can
# sit inside a parquet or streaming-source directory
MARKER = "_PCS_DONE"


def ident(path: str) -> str:
    """Freshness token of a file or directory tree ("absent" when it
    does not exist)."""
    try:
        st = os.stat(path)
    except OSError:
        return "absent"
    if not stat.S_ISDIR(st.st_mode):
        return f"{st.st_mtime_ns}:{st.st_size}"
    parts: list[str] = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        rel = os.path.relpath(dirpath, path)
        for fn in sorted(filenames):
            try:
                s = os.stat(os.path.join(dirpath, fn))
                parts.append(f"{rel}/{fn}:{s.st_mtime_ns}:{s.st_size}")
            except OSError:
                parts.append(f"{rel}/{fn}:gone")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def memo(spark, key: tuple, path: str, build):
    """``build()``'s result for ``key`` (``key[0]`` names its kind),
    rebuilt whenever :func:`ident` of ``path`` changes.  Callers
    persist inside ``build`` if they want the data cached; only the
    lazy plan is reused otherwise."""
    entries: dict = spark.__dict__.setdefault("_pcs_memo", {})
    counts: dict = spark.__dict__.setdefault("_pcs_memo_stats", {})
    token = ident(path)
    hits, misses = counts.get(key[0], (0, 0))
    old = entries.get(key)
    if old is not None and old[0] == token:
        counts[key[0]] = (hits + 1, misses)
        return old[1]
    counts[key[0]] = (hits, misses + 1)
    if old is not None:
        del entries[key]
        if old[1].is_cached:
            old[1].unpersist()
    df = build()
    entries[key] = (token, df)
    return df


def entries(spark, kind: str) -> dict:
    """``{key: DataFrame}`` currently memoized under ``kind``."""
    return {
        k: v[1]
        for k, v in spark.__dict__.get("_pcs_memo", {}).items()
        if k[0] == kind
    }


def stats(spark) -> dict[str, tuple[int, int]]:
    """``{kind: (hits, misses)}`` of this session's :func:`memo`."""
    return dict(spark.__dict__.get("_pcs_memo_stats", {}))


def fixture_dir(tag: str, *sources: str, per_process: bool = False) -> str:
    """Temp fixture directory for ``tag`` built from ``sources``: a
    rewritten source gets a new directory.  ``per_process`` adds the
    pid, for stores one process builds and reads under
    :func:`build_once`; shared ones publish file by file instead."""
    key = "|".join([tag, *(f"{s}:{ident(s)}" for s in sources)])
    name = f"pcs_{tag}_{hashlib.md5(key.encode()).hexdigest()[:12]}"
    if per_process:
        name += f"_{os.getpid()}"
    path = os.path.join(tempfile.gettempdir(), name)
    os.makedirs(path, exist_ok=True)
    return path


def build_once(path: str, build) -> str:
    """Run ``build(path)`` unless ``path`` carries the completion
    marker.  An unmarked directory is debris of a build that died
    partway, so it is cleared first."""
    marker = os.path.join(path, MARKER)
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(marker, "w").close()
    return path
