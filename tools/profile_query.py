#!/usr/bin/env python
"""Per-query profiler: timings, job counts, the warm rep's jobs, plans.

Usage: python tools/profile_query.py q_name [q_name ...] [--explain-dir DIR]

For each named query: builds the DataFrame (plan construction timed
separately) and runs it twice (cold/warm), printing per-run wall plus
the Spark job count consumed by each run (job-id delta, so streaming
micro-batches, which run under their own job group, count too — every
job is a scheduler round-trip at sf0.1, so job count is the fixed-overhead
proxy).  It then lists every job the warm rep submitted (job id,
# stages, first stage name = call site); job counts are deterministic,
so this works on a contended box where wall-clock A/Bs do not.  With
``--explain-dir`` it writes the warm rep's .explain("formatted") to
DIR/<name>.txt.  A query that fails to build or run has its error
printed and written to its explain file, and the run goes on.

Uses bench.py's session setup (``bench_session``: AQE off, shuffle=8 at
sf0.1, tables warmed) so the numbers line up with the bench artifact.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session  # noqa: E402
from physicsnemo_curator_spark.plans.queries import QUERIES  # noqa: E402


def _job_lines(jsc, job_ids) -> list[str]:
    lines = []
    for jid in sorted(job_ids):
        ji = jsc.statusTracker().getJobInfo(jid)
        if ji.isEmpty():
            lines.append(f"  job {jid}: <gone>")
            continue
        sids = list(ji.get().stageIds())
        # first stage's name carries the call site of the action
        label = ""
        for sid in sids:
            si = jsc.statusTracker().getStageInfo(sid)
            if not si.isEmpty():
                label = si.get().name()
                break
        lines.append(f"  job {jid}: {len(sids)} stages  {label}")
    return lines


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    explain_dir = None
    for i, a in enumerate(sys.argv[1:]):
        if a == "--explain-dir":
            explain_dir = sys.argv[1:][i + 1]
            args.remove(explain_dir)
    spark, sf_dir, _sf, _cpus = bench_session("pcs-profile")
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    for name in args:
        spec = QUERIES[name]
        fn = spec.bench or spec.spark
        sc.setJobDescription(f"profile:{name}")
        try:
            for rep in range(2):
                j0 = dag.numTotalJobs()
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t_build = time.perf_counter() - t0
                t1 = time.perf_counter()
                df.collect()
                t_exec = time.perf_counter() - t1
                jobs = range(j0, dag.numTotalJobs())
                print(
                    f"{name} rep{rep}: build {t_build:6.2f}s  exec {t_exec:6.2f}s"
                    f"  jobs {len(jobs)}"
                )
            print(f"== {name}: {len(jobs)} warm jobs ==")
            print("\n".join(_job_lines(sc._jsc.sc(), jobs)))
            txt = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001 — record, go on
            txt = f"BUILD ERROR: {type(exc).__name__}: {exc}"
            print(f"{name}: {txt}")
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(txt)
        sc.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
