"""The workloads.  Each drives the engine through its public calls
from one client in a closed loop: the next query or batch starts only when
the previous one has returned.

``sql_interactive`` and ``curation_gates`` run passes over a fixed mix of
declared queries (``__spark_entry__.queries()``), each pass in a fresh
seeded order.  ``incremental_ingest`` runs the batch loop of
``examples/incremental_ingest.py`` over seeded batches of the corpus.

With tracing on, timed passes (batches) alternate untraced and traced, so
the run itself measures the tracing overhead and checks that tracing adds
no Spark job.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from contextlib import nullcontext

import pandas as pd
import pyarrow.parquet as pq

from checks import Oracle, ingest_violations, result_key
from sparkstats import iter_seq, phases
from spans import union_len

# The relational mix: one query per plan shape of the relational queries
# (moment aggregate, grouping sets, broadcast and range join, set operation,
# window, as-of join, regexp, JSON, exact median, top-k) plus the batch
# twin of the tumbling window.
SQL_INTERACTIVE = (
    "q_a1_moment_stats", "q_a12_grouping_sets", "q_j1_broadcast_join",
    "q_j4_range_join", "q_s2_intersect", "q_w2_prefix_sum", "q_ts_asof_join",
    "q_str3_regexp", "q_json1_extract", "q_median_exact", "q_t1_topk",
    "q_st1_tumbling_window",
)
# One gate per heavy mechanism: IVF-PQ (trainer-sample driver action in
# the builder, Arrow Python UDFs, the dynamic-partition-pruned store
# probe), atomic stats (fixture publishing and Arrow Python-worker
# decoding) and the Welford stream (a real Structured Streaming run).
# The dedup-family pair that shares a session cache would add ~16 s of
# cold pass per run, more than the run budget allows.
CURATION_GATES = ("q_ann_ivfpq_topk", "q_atomic_stats", "q_st3_stream_welford")
MIXES = {"sql_interactive": SQL_INTERACTIVE, "curation_gates": CURATION_GATES}

# Nominal cost of one timed pass or batch on a 4-CPU machine.  A run times
# round(--seconds / NOMINAL_OP_S) of them, at least one, so every run of the
# same --seconds times the same pass or batch positions, however fast the
# host or the code.  A run times at least two (pass_s takes each query or
# ingest step at its best), a traced run at least three (untraced, traced,
# untraced) for its overhead and zero-job checks.
NOMINAL_OP_S = 9.0
INGEST_BATCH = 250
SEED_SHARE = 0.7
INGEST_STEPS = ("dedup.probe_s", "dedup.store_append_s", "sampling.split_assign_s",
                "sketches.append_s", "sinks.write_s", "metrics.record_s")


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return files, size


class StreamProbe:
    """Structured Streaming progress, read from the session's streaming
    status listener (the store behind the streaming UI) without a Python
    callback.  Each (run, batch) progress is attributed to the first
    operation after which it was seen."""

    def __init__(self, spark) -> None:
        listener = spark._jsparkSession.sharedState().streamingQueryStatusListener()
        self._store = None
        if listener.isDefined():
            self._store = spark._jvm.org.apache.spark.sql.execution.ui.StreamingQueryStatusStore(
                listener.get().store())
        self._seen: set[tuple[str, int]] = set()

    def new_progress(self) -> dict[str, float]:
        out = {"streaming.batches": 0.0, "streaming.batch_s": 0.0, "streaming.state_rows": 0.0}
        if self._store is None:
            return out
        for query in iter_seq(self._store.allQueryUIData()):
            for p in query.recentProgress():
                key = (p.runId().toString(), p.batchId())
                if key in self._seen:
                    continue
                self._seen.add(key)
                out["streaming.batches"] += 1
                out["streaming.batch_s"] += p.batchDuration() / 1e3
                out["streaming.state_rows"] += sum(op.numRowsTotal() for op in p.stateOperators())
        return out


class Context:
    """What every workload needs: the session, its data, its probes."""

    def __init__(self, spark, stats, tracer, data_dir, work_dir, seed):
        self.spark, self.stats, self.tracer = spark, stats, tracer
        self.data_dir, self.work_dir = data_dir, work_dir
        self.rng = random.Random(seed)
        self.stream = StreamProbe(spark) if tracer else None

    def span(self, traced, kind, name, **attrs):
        return self.tracer.span(kind, name, **attrs) if traced else nullcontext()

    def layer_record(self, j0: int, j1: int, windows: dict, df=None) -> dict:
        """Per-layer numbers of one operation whose jobs are ``j0 .. j1-1``.

        ``windows`` maps span ids to the (start, end) of the build/action
        or step spans the operation's jobs and phases are hung under."""
        st = self.stats
        before = st.jobs_submitted()
        st.drain()
        jobs = st.jobs(j0, j1)
        rec = dict(st.stages(s for j in jobs for s in j["stages"]))
        rec.update(st.sql_metrics(j["exec_id"] for j in jobs if j["exec_id"] is not None))
        rec["exec.jobs"] = float(len(jobs))
        rec["core.persisted_frames"], rec["core.cached_bytes"] = map(float, st.cache_state())
        for j in jobs:
            parent = next((sid for sid, (a, b) in windows.items()
                           if j["start"] is not None and a - 0.002 <= j["start"] <= b + 0.002),
                          next(iter(windows)))
            self.tracer.add("job", f"job {j['id']}", j["start"], j["end"], parent,
                            stages=len(j["stages"]), status=j["status"])
        rec["_jobs"] = jobs
        if df is not None:
            rec["_phases"] = phases(df)
        # Reading Spark's bookkeeping must not submit a job of its own.
        rec["trace.own_jobs"] = float(st.jobs_submitted() - before)
        return rec


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_count(seconds: float) -> int:
    """Timed passes (batches) of an untraced run of ``seconds``."""
    return max(1, round(seconds / NOMINAL_OP_S))


def run_query_mix(ctx: Context, workload: str, seconds: float, trace: bool,
                  t_session: float, calibrate) -> dict:
    import __spark_entry__ as entry

    names = MIXES[workload]
    builders = entry.queries()
    oracles = entry.oracle_sql()
    execs: list[dict] = []
    first_key: dict[str, tuple] = {}

    def run_one(name: str, pass_no: int, traced: bool) -> dict:
        st = ctx.stats
        rec = {"query": name, "pass": pass_no, "traced": traced, "error": None}
        j0 = st.jobs_submitted()
        with ctx.span(traced, "query", name, pass_no=pass_no) as qspan:
            try:
                t0 = time.perf_counter()
                with ctx.span(traced, "build", name) as bspan:
                    df = builders[name](ctx.spark, ctx.data_dir)
                t1 = time.perf_counter()
                j1 = st.jobs_submitted()
                with ctx.span(traced, "action", name) as aspan:
                    pdf = df.toPandas()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failure is a result
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                return rec
        j2 = st.jobs_submitted()
        rec.update(wall_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1,
                   jobs=j2 - j0, build_jobs=j1 - j0, rows=len(pdf))
        key = result_key(pdf)
        rec["key"] = key[2]
        if name not in first_key:
            first_key[name] = key
        elif key != first_key[name]:
            rec["error"] = "result differs from the first execution"
        if traced:
            rec["layers"] = _query_layers(ctx, j0, j1, j2, df, qspan, bspan, aspan, len(pdf))
        return rec

    def one_pass(pass_no: int, traced: bool) -> list[dict]:
        order = ctx.rng.sample(names, len(names))
        if traced:
            ctx.stream.new_progress()  # progress of untraced passes is not this pass's
        with ctx.span(traced, "pass", f"pass {pass_no}"):
            out = [run_one(n, pass_no, traced) for n in order]
        execs.extend(out)
        return out

    cold = one_pass(0, False)
    setup_s = time.perf_counter() - t_session
    fixtures = dir_stats(os.path.join(ctx.work_dir, "tmp"))
    calib_pre = calibrate(warm=False)

    passes: list[list[dict]] = []
    t_start = time.perf_counter()
    for i in range(max(timed_count(seconds), 3 if trace else 2)):
        passes.append(one_pass(i + 1, trace and i % 2 == 1))
    measured_s = time.perf_counter() - t_start
    calib_post = calibrate(warm=True)

    # The first execution of each query is checked against its oracle.
    oracle_err: dict[str, str] = {}
    oracle = Oracle(ctx.data_dir)
    try:
        for name, key in first_key.items():
            if name in oracles and oracle.key(oracles[name]) != key:
                oracle_err[name] = "first result does not match the DuckDB oracle"
    finally:
        oracle.close()
    failed = sum(1 for e in execs if e["error"] or e["query"] in oracle_err)

    def pass_s(p):
        return sum(e.get("wall_s", 0.0) for e in p)

    untraced = [p for p in passes if not p[0]["traced"]]
    traced_p = [p for p in passes if p[0]["traced"]]
    lat = sorted(e["wall_s"] for p in untraced for e in p if "wall_s" in e)
    timed = {n: [e["wall_s"] for p in untraced for e in p if e["query"] == n and "wall_s" in e]
             for n in names}
    warm = {n: _median(v) for n, v in timed.items()}
    cold_extra = {e["query"]: e["wall_s"] - warm[e["query"]] for e in cold if "wall_s" in e}
    out = {
        "setup_s": setup_s,
        # One pass with each query at its best over the timed passes: a
        # query's latency only ever strays upwards (q_st3_stream_welford
        # now and then takes twice its usual time), and the best of two
        # keeps one such stray from setting a run's figure.
        "pass_s": sum(min(v) for v in timed.values() if v),
        "pass_median_s": _median([pass_s(p) for p in untraced]),
        "query_p50_s": _median(lat),
        "tail": _tail(lat),
        "passes": len(untraced),
        "measured_s": measured_s,
        "attempted": len(execs),
        "failed": failed,
        "calib": {"pre": calib_pre, "post": calib_post},
        "fixtures": {"files": fixtures[0], "bytes": fixtures[1]},
        "cold_extra_s": cold_extra,
        "errors": {e["query"]: e["error"] for e in execs if e["error"]} | oracle_err,
        "executions": [{k: v for k, v in e.items() if k != "layers"} for e in execs],
    }
    if trace:
        out["trace"] = _query_trace_summary(ctx, workload, passes, untraced, traced_p,
                                            pass_s, fixtures, cold_extra)
    return out


def _overhead(seq: list[tuple[bool, float]]) -> float:
    """Median over traced passes of the pass time minus the mean of the
    untraced passes on either side of it (passes still get faster as the
    JVM warms up, so a later pass must not be compared with an earlier one
    alone)."""
    diffs = []
    for i, (traced, t) in enumerate(seq):
        if traced:
            near = [u for j, (tr, u) in enumerate(seq) if not tr and abs(j - i) == 1]
            if near:
                diffs.append(t - sum(near) / len(near))
    return _median(diffs)


def _tail(lat: list[float]) -> dict:
    """Highest percentile of ``lat`` with at least 10 samples beyond it."""
    n = len(lat)
    if n < 11:
        return {"pct": None, "n": n, "value_s": lat[-1] if lat else 0.0}
    return {"pct": round(100.0 * (n - 10) / n, 1), "n": n, "value_s": lat[n - 11]}


def _query_layers(ctx, j0, j1, j2, df, qspan, bspan, aspan, rows) -> dict:
    tr = ctx.tracer
    rec = ctx.layer_record(j0, j2, {bspan["id"]: (bspan["start"], bspan["end"]),
                                    aspan["id"]: (aspan["start"], aspan["end"])}, df)
    jobs, ph = rec.pop("_jobs"), rec.pop("_phases")
    b0, b1 = bspan["start"], bspan["end"]
    a0, a1 = aspan["start"], aspan["end"]
    # Phases of a plan analysed before this query's build (a frame reused
    # from a session cache) are not this query's time.
    ph = {n: iv for n, iv in ph.items() if iv[0] >= b0 - LAYER_SUM_TOL[0]}
    for pname, (p0, p1) in ph.items():
        tr.add("catalyst", pname, p0, p1, aspan["id"] if p0 >= a0 - LAYER_SUM_TOL[0] else bspan["id"])
    build_jobs = [(j["start"], j["end"]) for j in jobs if j["id"] < j1]
    action_jobs = [(j["start"], j["end"]) for j in jobs if j["id"] >= j1]
    action_phases = [iv for iv in ph.values() if iv[0] >= a0 - LAYER_SUM_TOL[0]]
    # The job and phase intervals come from the JVM's clock and are used
    # unclipped: one that leaves its Python-timed window shows a clock
    # disagreement, two that overlap show in the layer sum.
    outside = (_outside(build_jobs, b0, b1) + _outside(action_jobs, a0, a1)
               + _outside(list(ph.values()), b0, a1))
    job_s = union_len(action_jobs)
    cat_s = sum(p1 - p0 for p0, p1 in action_phases)
    last_end = max((e for _, e in action_jobs if e is not None), default=a0)
    rec.update({
        "plans.build_s": b1 - b0,
        "plans.build_jobs": float(j1 - j0),
        "catalyst.analysis_s": _dur(ph.get("analysis")),
        "catalyst.optimization_s": _dur(ph.get("optimization")),
        "catalyst.planning_s": _dur(ph.get("planning")),
        "exec.job_s": job_s,
        "exec.driver_gap_s": (a1 - a0) - union_len(action_jobs + action_phases),
        "collect.rows": float(rows),
        "collect.s": max(0.0, a1 - last_end),
        "wall_s": qspan["end"] - qspan["start"],
        "action_catalyst_s": cat_s,
        "outside_window": outside,
    })
    rec.update(ctx.stream.new_progress())
    return rec


def _outside(intervals, lo: float, hi: float) -> int:
    """Intervals not inside [lo, hi] within the absolute tolerance."""
    tol = LAYER_SUM_TOL[0]
    return sum(1 for a, b in intervals
               if a is None or b is None or a < lo - tol or b > hi + tol)


def _dur(iv) -> float:
    return iv[1] - iv[0] if iv else 0.0


LAYER_SUM_TOL = (0.010, 0.02)  # absolute seconds, share of the query wall


def _query_trace_summary(ctx, workload, passes, untraced, traced_p, pass_s,
                         fixtures, cold_extra) -> dict:
    recs = [e for p in traced_p for e in p if "layers" in e]
    # Layer sum: build + in-action Catalyst + job union + driver gap must
    # equal the measured wall.  The driver gap is the action's wall minus
    # the union of its jobs and phases, so the sum misses the wall by the
    # time a phase and a job overlap (a layer counted twice).  Every JVM
    # interval must also lie inside its Python-timed window, or the two
    # clocks disagree.
    viol = []
    for e in recs:
        L = e["layers"]
        total = L["plans.build_s"] + L["action_catalyst_s"] + L["exec.job_s"] + L["exec.driver_gap_s"]
        tol = LAYER_SUM_TOL[0] + LAYER_SUM_TOL[1] * L["wall_s"]
        if abs(total - L["wall_s"]) > tol or L["outside_window"]:
            viol.append({"query": e["query"], "sum_s": total, "wall_s": L["wall_s"],
                         "intervals_outside_window": L["outside_window"]})
    # Zero-job check: a traced execution submits exactly as many jobs as
    # an untraced execution of the same query.
    base = {}
    for p in untraced:
        for e in p:
            if "jobs" in e:
                base.setdefault(e["query"], set()).add(e["jobs"])
    mismatch = [{"query": e["query"], "traced": e["jobs"], "untraced": sorted(base.get(e["query"], ()))}
                for e in recs if e["jobs"] not in base.get(e["query"], {e["jobs"]})]
    names = MIXES[workload]
    per_q = {n: [e["layers"] for e in recs if e["query"] == n] for n in names}
    n_traced = max(1, len(traced_p))
    layer_names = sorted({k for e in recs for k in e["layers"] if not k.startswith("_")
                          and k not in ("wall_s", "action_catalyst_s", "outside_window")})
    per_pass = {k: sum(L.get(k, 0.0) for e in recs for L in [e["layers"]]) / n_traced
                for k in layer_names}
    for k in ("core.persisted_frames", "core.cached_bytes"):
        per_pass[k] = max((e["layers"].get(k, 0.0) for e in recs), default=0.0)
    per_pass["trace.own_jobs"] = sum(e["layers"]["trace.own_jobs"] for e in recs)
    tmp_files, tmp_bytes = dir_stats(os.path.join(ctx.work_dir, "tmp"))
    per_pass.update({
        "core.store_files": float(tmp_files),
        "core.store_bytes": float(tmp_bytes),
        "fixtures.bytes": float(fixtures[1]),
        "fixtures.cold_extra_s": sum(cold_extra.values()),
        "trace.overhead_s": _overhead([(p[0]["traced"], pass_s(p)) for p in passes]),
        "trace.layer_sum_violations": float(len(viol)),
        "trace.job_mismatches": float(len(mismatch)),
    })
    summary = {"per_pass": per_pass, "layer_sum_violations": viol,
               "job_mismatches": mismatch, "layer_sum_tolerance": {
                   "abs_s": LAYER_SUM_TOL[0], "share_of_wall": LAYER_SUM_TOL[1]},
               "per_query": {n: {k: _median([L.get(k, 0.0) for L in v]) for k in layer_names}
                             for n, v in per_q.items() if v}}
    if workload == "sql_interactive":
        summary["membership_violations"] = [
            n for n, v in summary["per_query"].items()
            if v.get("plans.build_jobs", 0) != 0 or v.get("python.worker_s", 0) != 0]
    else:
        wall = sum(e["layers"]["wall_s"] for e in recs) or 1.0
        summary["build_plus_python_share"] = sum(
            e["layers"]["plans.build_s"] + e["layers"].get("python.worker_s", 0.0)
            for e in recs) / wall
    return summary


# ---------------------------------------------------------------------------
# incremental_ingest


def run_ingest(ctx: Context, seconds: float, trace: bool, t_session: float,
               calibrate) -> dict:
    from pyspark.sql import functions as F

    from physicsnemo_curator_spark.core.metrics import MetricsStore
    from physicsnemo_curator_spark.operators import components, dedup, sampling, sketches
    from physicsnemo_curator_spark.sinks.partitioned import write_partitioned
    from physicsnemo_curator_spark.sources.tables import load_table

    spark, st = ctx.spark, ctx.stats
    root = os.path.join(ctx.work_dir, "ingest")
    stores = {name: os.path.join(root, name) for name in
              ("minhash_store", "split_store", "hll_store", "curated", "metrics")}
    metrics = MetricsStore(stores["metrics"])
    docs = load_table(spark, ctx.data_dir, "documents")
    docs_pd = pd.read_parquet(os.path.join(ctx.data_dir, "documents.parquet"),
                              columns=["doc_id", "text"])
    ids = docs_pd["doc_id"].tolist()
    ctx.rng.shuffle(ids)
    # The seed batch holds the first SEED_SHARE of the corpus, so the timed
    # batches probe and append to stores late in the stream and meet the
    # corpus's near-copies at the rate they do there.
    seed_n = int(len(ids) * SEED_SHARE)
    order = [sorted(ids[:seed_n])] + [sorted(ids[i:i + INGEST_BATCH])
                                      for i in range(seed_n, len(ids), INGEST_BATCH)]
    n_timed = min(max(timed_count(seconds), 2), len(order) - 1)
    n_run = max(n_timed, 3) if trace else n_timed
    weights = {"train": 0.9, "val": 0.1}
    done: list[list[int]] = []
    batches: list[dict] = []
    split_history: list[dict[int, str]] = []
    errors: list[str] = []

    def step(rec, traced, name, fn):
        j0 = st.jobs_submitted()
        t0 = time.perf_counter()
        with ctx.span(traced, "step", name) as sp:
            out = fn()
        rec["steps"][name] = time.perf_counter() - t0
        rec["step_jobs"][name] = st.jobs_submitted() - j0
        if traced:
            rec["spans"][sp["id"]] = (sp["start"], sp["end"])
        return out

    def one_batch(b: int, traced: bool) -> dict:
        batch_ids = order[b]
        rec = {"batch": b, "traced": traced, "docs": len(batch_ids), "steps": {},
               "step_jobs": {}, "spans": {}}
        bid = f"b{b}"
        j0 = st.jobs_submitted()
        t0 = time.perf_counter()
        with ctx.span(traced, "batch", bid) as bspan:
            batch = docs.filter(F.col("doc_id").isin(batch_ids))
            if b == 0:
                def seed_store():
                    dedup.write_minhash_store(batch, stores["minhash_store"], batch_id=bid)
                    return batch, 0, dedup.minhash_near_duplicates(batch, threshold=0.8)
                survivors, dropped, pairs = step(rec, traced, "dedup.store_append_s", seed_store)

                def seed_splits():
                    groups = components.dedup_groups(pairs.select("a", "b")).select("doc_id", "component")
                    assigned = sampling.leakage_free_splits(
                        survivors, groups, weights, seed=7).select("doc_id", "split", "component")
                    sampling.write_split_store(assigned, stores["split_store"], batch_id=bid)
                    return assigned
                assigned = step(rec, traced, "sampling.split_assign_s", seed_splits)
            else:
                def probe():
                    pairs = dedup.incremental_near_duplicates(
                        spark, batch, stores["minhash_store"], threshold=0.8, update_store=False)
                    losers = pairs.select(F.col("b").alias("doc_id")).distinct()
                    survivors = batch.join(losers, "doc_id", "left_anti")
                    return pairs, survivors, len(batch_ids) - survivors.count()
                pairs, survivors, dropped = step(rec, traced, "dedup.probe_s", probe)
                step(rec, traced, "dedup.store_append_s", lambda: dedup.write_minhash_store(
                    survivors, stores["minhash_store"], mode="append", batch_id=bid))

                def assign():
                    groups = components.dedup_groups(pairs.select("a", "b")).select("doc_id", "component")
                    return sampling.assign_splits_incremental(
                        spark, survivors, groups, weights, stores["split_store"],
                        seed=7, update_store=True, batch_id=bid)
                assigned = step(rec, traced, "sampling.split_assign_s", assign)
            split = survivors.join(assigned.select("doc_id", "split"), "doc_id")
            step(rec, traced, "sketches.append_s", lambda: sketches.append_sketch_store(
                survivors, stores["hll_store"], ["lang"], "doc_id", batch_id=bid))
            step(rec, traced, "sinks.write_s", lambda: write_partitioned(
                split, stores["curated"], ["split"], mode="append"))
            step(rec, traced, "metrics.record_s", lambda: metrics.record_index_results(
                spark, "ingest", [{"idx": b, "worker_id": "driver",
                                   "wall_time_s": time.perf_counter() - t0}]))
        rec["wall_s"] = time.perf_counter() - t0
        rec["jobs"] = st.jobs_submitted() - j0
        rec["dropped"] = dropped
        if traced:
            layers = rec["layers"] = ctx.layer_record(j0, j0 + rec["jobs"], rec["spans"])
            jobs = [(j["start"], j["end"]) for j in layers.pop("_jobs")]
            # Every job runs inside one step's Python-timed window, or a
            # job escaped the steps or the JVM and Python clocks disagree.
            layers["outside_window"] = sum(
                1 for j in jobs
                if min(_outside([j], a, b) for a, b in rec["spans"].values()))
            layers["exec.job_s"] = union_len(jobs)
            layers["exec.driver_gap_s"] = (bspan["end"] - bspan["start"]) - layers["exec.job_s"]
        rec["stores"] = {k: dir_stats(v) for k, v in stores.items()}
        done.append(batch_ids)
        split_history.append(_split_labels(stores["split_store"]))
        batches.append(rec)
        return rec

    try:
        one_batch(0, False)
    except Exception as exc:  # noqa: BLE001
        errors.append(f"seed batch: {type(exc).__name__}: {exc}"[:300])
    setup_s = time.perf_counter() - t_session
    calib_pre = calibrate(warm=False)
    timed: list[dict] = []
    t_start = time.perf_counter()
    for i in range(n_run if not errors else 0):
        try:
            timed.append(one_batch(1 + i, trace and i % 2 == 1))
        except Exception as exc:  # noqa: BLE001
            errors.append(f"batch {1 + i}: {type(exc).__name__}: {exc}"[:300])
            break
    measured_s = time.perf_counter() - t_start
    calib_post = calibrate(warm=True)

    curated = _read_curated(stores["curated"])
    violations = ingest_violations(docs_pd, done, curated, split_history)
    untraced = [r for r in timed if not r["traced"]]
    _, end_bytes = dir_stats(root)
    n_docs = sum(len(x) for x in done)
    out = {
        "setup_s": setup_s,
        # One batch with each step at its best over the timed batches, as
        # the query mixes' pass_s; the batch's time outside its steps
        # counts as one more step.
        "pass_s": sum(min(v) for v in zip(*(_step_times(r) for r in untraced))),
        "batch_p50_s": _median([r["wall_s"] for r in untraced]),
        "tail": _tail(sorted(r["wall_s"] for r in untraced)),
        "docs_per_s": sum(r["docs"] for r in untraced) / max(1e-9, sum(r["wall_s"] for r in untraced)),
        "store_bytes_per_doc": end_bytes / max(1, n_docs),
        "drop_share": sum(r["dropped"] for r in untraced) / max(1, sum(r["docs"] for r in untraced)),
        "passes": len(untraced),
        "measured_s": measured_s,
        "attempted": len(done) + len(errors),
        "failed": len(errors) + (1 if violations else 0),
        "calib": {"pre": calib_pre, "post": calib_post},
        "errors": errors,
        "violations": violations,
        "batches": [{k: v for k, v in r.items() if k not in ("layers", "spans")} for r in batches],
    }
    if trace:
        out["trace"] = _ingest_trace_summary(batches, timed)
    return out


def _step_times(rec: dict) -> list[float]:
    """A batch's step times in INGEST_STEPS order, then its time outside
    the steps."""
    steps = [rec["steps"][k] for k in INGEST_STEPS]
    return steps + [rec["wall_s"] - sum(steps)]


def _ingest_trace_summary(batches, timed) -> dict:
    traced = [r for r in timed if r["traced"]]
    per_batch = {}
    keys = sorted({k for r in traced for k in r["layers"]} - {"outside_window"})
    for k in keys:
        per_batch[k] = _median([r["layers"][k] for r in traced])
    for k in INGEST_STEPS:
        per_batch[k] = _median([r["steps"].get(k, 0.0) for r in traced])
    per_batch["ingest.jobs_per_batch"] = _median([float(r["jobs"]) for r in traced])
    per_batch["trace.own_jobs"] = sum(r["layers"]["trace.own_jobs"] for r in traced)
    last = batches[-1]["stores"] if batches else {}
    per_batch["core.store_files"] = float(sum(f for f, _ in last.values()))
    per_batch["core.store_bytes"] = float(sum(s for _, s in last.values()))
    per_batch["trace.overhead_s"] = _overhead([(r["traced"], r["wall_s"]) for r in timed])
    # Layer sum: a batch's job union plus its driver gap is its wall time;
    # that holds when every job lies inside one of the batch's step windows.
    viol = [{"batch": r["batch"], "jobs_outside_steps": r["layers"]["outside_window"]}
            for r in traced if r["layers"]["outside_window"]]
    # Zero-job check: step by step, a traced batch submits as many jobs as
    # the untraced batches on either side of it.  A step whose two untraced
    # neighbours already differ (the near-duplicate probe and the component
    # search depend on the batch's documents) is not comparable and is
    # listed as such.
    mismatch, not_comparable = [], set()
    for i, r in enumerate(timed):
        near = [timed[k]["step_jobs"] for k in (i - 1, i + 1)
                if r["traced"] and 0 <= k < len(timed) and not timed[k]["traced"]]
        for name, n in r["step_jobs"].items() if near else ():
            counts = {nb.get(name) for nb in near}
            if len(counts) > 1:
                not_comparable.add(name)
            elif n not in counts:
                mismatch.append({"batch": r["batch"], "step": name, "traced": n,
                                 "untraced": counts.pop()})
    per_batch["trace.layer_sum_violations"] = float(len(viol))
    per_batch["trace.job_mismatches"] = float(len(mismatch))
    return {"per_pass": per_batch, "layer_sum_violations": viol, "job_mismatches": mismatch,
            "job_check_not_comparable": sorted(not_comparable),
            "layer_sum_tolerance": {"abs_s": LAYER_SUM_TOL[0]},
            "stores_per_batch": [{"batch": r["batch"], "stores": r["stores"]} for r in batches]}


def _read_parquet_dir(path: str, columns: list[str]) -> pd.DataFrame:
    """Read every data file under a Spark-written parquet directory without
    Spark (pyarrow's discovery skips the store's ``_batch=`` partitions)."""
    parts = []
    for dirpath, _, names in os.walk(path):
        parts += [pq.read_table(os.path.join(dirpath, n), columns=columns).to_pandas()
                  for n in sorted(names) if n.endswith(".parquet") and n[0] not in "._"]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=columns)


def _split_labels(store: str) -> dict[int, str]:
    df = _read_parquet_dir(store, ["doc_id", "split"])
    return dict(zip(df["doc_id"].astype(int), df["split"].astype(str)))


def _read_curated(path: str) -> pd.DataFrame:
    """doc_id and split of every curated row; the split is the hive
    partition directory the row was written under."""
    parts = []
    for dirpath, _, names in os.walk(path):
        split = os.path.basename(dirpath).partition("split=")[2]
        for n in sorted(names):
            if n.endswith(".parquet") and n[0] not in "._":
                ids = pq.read_table(os.path.join(dirpath, n), columns=["doc_id"]).to_pandas()
                parts.append(ids.assign(split=split))
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=["doc_id", "split"])
