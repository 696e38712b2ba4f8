"""Read what the engine did from Spark's own bookkeeping, from outside.

Everything here goes through public-in-bytecode accessors of the running
SparkContext (DAG scheduler job counter, the application status store, the
SQL status store and ``QueryExecution.tracker()``).  Nothing here submits a
Spark job; :func:`jobs_submitted` is cheap enough to call around every query
of an untimed-overhead run.
"""

from __future__ import annotations

import re

_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
_VALUE = re.compile(r"(-?[0-9.]+)\s*([A-Za-z]+)")
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
# SQL metric name -> (layer metric, parser kind)
SQL_METRICS = {
    "time to run Python workers": ("python.worker_s", "time"),
    "scan time": ("exec.scan_time_s", "time"),
}


def parse_metric(text: str, kind: str) -> float:
    """Value of one SQL-UI metric string, e.g. ``"total (min, med, max
    (stageId: taskId))\\n1.0 s (219 ms, ...)"`` or ``"110 ms"``; the total
    is the first value after the header line."""
    line = text.split("\n", 1)[-1]
    m = _VALUE.search(line)
    if not m:
        return 0.0
    units = _TIME_UNITS if kind == "time" else _SIZE_UNITS
    return float(m.group(1)) * units.get(m.group(2), 1.0)


class SparkStats:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._jsc = self.sc._jsc
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def jobs_submitted(self) -> int:
        return int(self._dag.numTotalJobs())

    def drain(self) -> None:
        """Wait until the status listeners have seen every posted event."""
        self._bus.waitUntilEmpty(60_000)

    def jobs(self, first: int, stop: int) -> list[dict]:
        """Jobs ``first .. stop-1`` with their intervals (epoch s), stages
        and the SQL execution each belongs to."""
        out = []
        for jid in range(first, stop):
            try:
                pair = self._store.jobWithAssociatedSql(jid)
            except Exception:  # evicted or never registered
                continue
            job, exec_id = pair._1(), pair._2()
            sub, end = job.submissionTime(), job.completionTime()
            out.append({
                "id": jid,
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": end.get().getTime() / 1e3 if end.isDefined() else None,
                "stages": [int(s) for s in iter_seq(job.stageIds())],
                "exec_id": int(exec_id.get()) if exec_id.isDefined() else None,
                "status": job.status().toString(),
            })
        return out

    def stages(self, stage_ids) -> dict[str, float]:
        """Summed task metrics of the stages that ran (skipped ones have
        no tasks)."""
        tot = dict.fromkeys((
            "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
            "exec.gc_s", "exec.scheduler_wait_s", "exec.shuffle_write_bytes",
            "exec.input_bytes",
        ), 0.0)
        for sid in sorted(set(stage_ids)):
            try:
                attempts = self._store.stageData(sid, False, None, False, None)
            except Exception:
                continue
            for st in iter_seq(attempts):
                if st.status().toString() == "SKIPPED":
                    continue
                tot["exec.stages"] += 1
                tot["exec.tasks"] += st.numCompleteTasks()
                tot["exec.task_run_s"] += st.executorRunTime() / 1e3
                tot["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
                tot["exec.gc_s"] += st.jvmGcTime() / 1e3
                tot["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["exec.input_bytes"] += st.inputBytes()
                sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
                if sub.isDefined() and first.isDefined():
                    wait = first.get().getTime() - sub.get().getTime()
                    tot["exec.scheduler_wait_s"] += max(0, wait) / 1e3
        return tot

    def sql_metrics(self, exec_ids) -> dict[str, float]:
        tot = {name: 0.0 for name, _ in SQL_METRICS.values()}
        for eid in sorted(set(exec_ids)):
            ex = self._sql.execution(eid)
            if not ex.isDefined():
                continue
            values = self._sql.executionMetrics(eid)
            seen = set()  # adaptive re-plans list a node's metrics again
            for m in iter_seq(ex.get().metrics()):
                spec = SQL_METRICS.get(m.name())
                if spec is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    tot[spec[0]] += parse_metric(v.get(), spec[1])
        return tot

    def cache_state(self) -> tuple[int, int]:
        """(persisted RDDs, bytes they hold in memory and on disk)."""
        n = int(self._jsc.getPersistentRDDs().size())
        used = 0
        for info in iter_seq(self._store.rddList(True)):
            used += info.memoryUsed() + info.diskUsed()
        return n, int(used)


def phases(df) -> dict[str, tuple[float, float]]:
    """Catalyst phase intervals (epoch s) of ``df``'s QueryExecution."""
    text = df._jdf.queryExecution().tracker().phases().toString()
    return {m.group(1): (int(m.group(2)) / 1e3, int(m.group(3)) / 1e3)
            for m in _PHASE.finditer(text)}


def iter_seq(seq):
    """Iterate a Scala collection through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()
