#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload curation_gates --seed 1 --seconds 9 --trace 0

Run from the root of a checkout of the repository.  Generates the seeded
input tables, starts the engine's own session (``get_spark()`` with only the
master set to ``local[<nproc>]``), runs one workload in a closed loop, after
its set-up, for a fixed number of timed passes or batches worked out from
``--seconds`` (``workloads.timed_count``), checks every result,
and prints one JSON object as the last line of standard output.  With
``--trace 0`` it carries the end-to-end metrics, with ``--trace 1`` the
per-layer metrics.  The full artifact (every execution, host context, and
with tracing the span tree) is written to ``.perfbench/artifacts/``.

Exit code 0 only with a result; 2 when the engine is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_interactive", "curation_gates", "incremental_ingest")
END_TO_END = {"setup_s": "s", "pass_s": "s"}


def _per_layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside its work directory and let
    Spark's Python workers import the engine from the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for both the JVM and the
    Python workers it started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _children(proc.pid) if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "physicsnemo_curator_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: run from a checkout of the repository; the engine "
              "package is not next to perfbench/", file=sys.stderr)
        return 2

    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{run_id}")
    _prepare_env(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        return _run(args, run_id, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id: str, base: str, work: str) -> int:
    import datagen
    import host
    from sparkstats import SparkStats
    from spans import Tracer
    from workloads import Context, run_ingest, run_query_mix

    t0 = time.perf_counter()
    data_dir = os.path.join(work, "data")
    rows = datagen.write_tables(data_dir, args.seed)
    datagen_s = time.perf_counter() - t0

    from physicsnemo_curator_spark.session import get_spark

    t_session = time.perf_counter()
    spark = get_spark(master=f"local[{os.cpu_count()}]")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    try:
        tracer = Tracer(run_id) if args.trace else None
        ctx = Context(spark, SparkStats(spark), tracer, data_dir, work, args.seed)
        calib_dir = os.path.join(work, "calib")

        def calibrate(warm: bool) -> dict:
            return host.calibrate(spark, calib_dir, warm)

        if args.workload == "incremental_ingest":
            res = run_ingest(ctx, args.seconds, bool(args.trace), t_session, calibrate)
        else:
            res = run_query_mix(ctx, args.workload, args.seconds, bool(args.trace),
                                t_session, calibrate)
        res["peak_rss_mb"] = host.peak_rss_mb([os.getpid(), jvm_pid])
        context = host.context(ROOT, args.seed, spark)
    finally:
        _stop(spark)

    artifact = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace, "host": context,
                "datagen": {"rows": rows, "s": datagen_s}, **res}
    if tracer is not None:
        artifact["spans"] = tracer.spans
        artifact["self_time_s"] = tracer.self_times()
    os.makedirs(os.path.join(base, "artifacts"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}.json"
    with open(os.path.join(base, "artifacts", name), "w") as fh:
        json.dump(artifact, fh, default=str)

    attempted = max(1, int(res["attempted"]))
    failed = int(res["failed"])
    if args.trace:
        layers = res["trace"]["per_pass"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in _per_layer_names()}
    else:
        metrics = {n: {"value": float(res[n]), "unit": u} for n, u in END_TO_END.items()}
    # Every end-to-end figure of the workload, for a human reader; the tail
    # is the highest percentile with at least 10 samples beyond it.
    tail = res["tail"]
    named = {"failed_ratio": failed / attempted, "setup_s": res["setup_s"],
             "pass_s": res["pass_s"], "peak_rss_mb": res["peak_rss_mb"]}
    if args.workload == "incremental_ingest":
        named |= {"batch_p50_s": res["batch_p50_s"]}
        named |= {k: res[k] for k in ("docs_per_s", "store_bytes_per_doc", "drop_share")}
    else:
        named |= {"query_p50_s": res["query_p50_s"]}
    if args.workload == "sql_interactive":
        named[f"query_tail_s(p{tail['pct']},n={tail['n']})"] = tail["value_s"]
    print("perfbench " + " ".join(f"{k}={v:.4g}" for k, v in named.items())
          + f" artifact=.perfbench/artifacts/{name}")
    if res.get("errors") or res.get("violations"):
        print("perfbench failures: " + json.dumps(
            {"errors": res.get("errors"), "violations": res.get("violations")})[:2000])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
