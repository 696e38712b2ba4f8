"""The one owner of session state: source identity, the per-session
memo, and fixture directories.

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
  sources' identities; :func:`build_once` is the ONE completion rule
  for every fixture directory, shared or per-process: build in a
  pid-unique sibling, mark it, rename it onto the path.  A marked path
  is complete and never rebuilt; anything else is rebuilt.
"""

from __future__ import annotations

import fcntl
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
    pid, for stores one process builds and then mutates or reads as a
    whole; without it every process on the box shares the directory.
    Either way it is completed by :func:`build_once`."""
    key = "|".join([tag, *(f"{s}:{ident(s)}" for s in sources)])
    name = f"pcs_{tag}_{hashlib.md5(key.encode()).hexdigest()[:12]}"
    if per_process:
        name += f"_{os.getpid()}"
    path = os.path.join(tempfile.gettempdir(), name)
    os.makedirs(path, exist_ok=True)
    return path


def build_once(path: str, build) -> str:
    """``path``, completed by ``build`` at most once.

    ``build(tmp)`` fills a pid-unique sibling directory; the marker is
    written inside it and the directory is renamed onto ``path``, so a
    reader never sees a partial build.  A marked ``path`` runs nothing.
    An unmarked ``path`` (empty, or debris left by an older in-place
    writer) is cleared at the rename.  A ``build`` that raises leaves
    ``path`` unmarked and its temp directory removed, so the next call
    rebuilds.  Two processes may both build: the rename runs under an
    exclusive lock on the parent directory, and the one that finds
    ``path`` already marked discards its temp directory and returns the
    winner's.  The rename is safe because no fixture store records its
    own absolute path; memo entries a build keys on the temp path are
    never read again (a later build of the same name re-stats it)."""
    marker = os.path.join(path, MARKER)
    if os.path.exists(marker):
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        open(os.path.join(tmp, MARKER), "w").close()
        lock = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not os.path.exists(marker):
                shutil.rmtree(path, ignore_errors=True)
                os.rename(tmp, path)
        finally:
            os.close(lock)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path
