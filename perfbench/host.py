"""Host context recorded in every artifact: calibration probes, versions,
peak memory.  None of this is an end-to-end metric; it is what a reader
needs to tell a code regression from a busy or different machine."""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import subprocess
import sys
import time


def _best_of(fn, reps: int, warm: bool) -> float:
    if not warm:
        fn()  # untimed: compile the plan shape
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def calibrate(spark, scratch: str, warm: bool, reps: int = 1) -> dict[str, float]:
    """CPU and disk probes shaped like bench.py's ``calib``, scaled down:
    a 5M-row range into a hash aggregate (no I/O, no Python) and a 100k-row
    incompressible parquet write plus read-back; best of ``reps``, after an
    untimed compile run unless the session has run the probes before."""
    salt = iter(range(1, 1_000_000))

    def cpu():
        lo = next(salt) * 10_000_000
        spark.range(lo, lo + 5_000_000, 1, 8).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s", "avg(id % 97) AS a",
            "count(*) AS n").collect()

    def disk():
        path = os.path.join(scratch, f"calib_io_{next(salt)}")
        spark.range(100_000, numPartitions=4).selectExpr(
            "id", "repeat(uuid(), 2) AS pad").write.parquet(path)
        spark.read.parquet(path).count()
        shutil.rmtree(path, ignore_errors=True)

    t0 = time.perf_counter()
    out = {"cpu_s": _best_of(cpu, reps, warm), "io_s": _best_of(disk, reps, warm)}
    return out | {"probe_wall_s": round(time.perf_counter() - t0, 3)}


def peak_rss_mb(pids) -> float:
    """Summed peak resident set size (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _git_commit(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None  # not a clone; git would search the parent directories
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def source_digest(root: str) -> str:
    """md5 over the engine's Python sources, for checkouts without git."""
    h = hashlib.md5()
    for dirpath, dirs, names in sorted(os.walk(os.path.join(root, "physicsnemo_curator_spark"))):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), "rb") as fh:
                    h.update(n.encode() + fh.read())
    return h.hexdigest()[:12]


def context(root: str, seed: int, spark) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
        "platform": platform.platform(),
        "commit": _git_commit(root),
        "source_digest": source_digest(root),
        "seed": seed,
    }
