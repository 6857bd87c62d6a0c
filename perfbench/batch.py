"""Batch workload: closed-loop sweeps over registered query keys.

One client runs one key at a time. Every key goes through the four
layers in order — build (the registry callable, including any eager
Spark jobs it starts), plan (force the physical plan), execute (a
noop sink) and collect (results to Python) — and its collected rows are
checked against the key's DuckDB oracle after the timed region.
"""

from __future__ import annotations

import random
import time

from . import common
from .common import Run
from .inputs import write_tables
from .trace import plan_metrics

#: Scale factor of the generated tables.
SF = 0.01

#: The swept keys: a fixed sample of the two families, small enough that
#: the sweep repeats within one run (``README.md`` says how it was chosen).
KEYS = (
    # LLM / multimodal: most time in build (Python-side setup of
    # centroids, projections and UDFs); little to transfer
    "q_llm_kmeans_assign", "q_llm_rand_proj", "q_llm_lang_id",
    # Flink Table/SQL, CEP, TPC-H: time in execute and collect (CEP window
    # scan, multi-way join, a wide collect-bound result); build near zero
    "q_cep_skip_next", "q_tpch_q9", "q_unpivot",
)
LLM_PREFIXES = ("q_llm_", "q_mm_")


class _KeyRun:
    __slots__ = ("key", "build", "plan", "execute", "collect", "rows",
                 "schema", "layer")

    def __init__(self, key: str):
        self.key = key
        self.layer: dict[str, float] = {}

    @property
    def total(self) -> float:
        return self.build + self.plan + self.execute + self.collect


def _run_key(spark, fn, key: str, data: str, tracer) -> _KeyRun:
    kr = _KeyRun(key)
    tracer.begin(key, "build")
    t0 = time.perf_counter()
    df = fn(spark, data)
    t1 = time.perf_counter()
    tracer.end(key, "build", t0, t1)
    tracer.begin(key, "plan")
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    tracer.end(key, "plan", t1, t2)
    tracer.begin(key, "execute")
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    tracer.end(key, "execute", t2, t3)
    tracer.begin(key, "collect")
    rows = df.collect()
    t4 = time.perf_counter()
    tracer.end(key, "collect", t3, t4)
    kr.build, kr.plan, kr.execute, kr.collect = t1 - t0, t2 - t1, t3 - t2, t4 - t3
    kr.rows, kr.schema = [tuple(r) for r in rows], df.schema
    if tracer.enabled:
        kr.layer = tracer.key_layers(key, df, len(rows))
    spark.catalog.clearCache()
    return kr


class _Tracer:
    """Per-key layer counters and spans; inert when tracing is off."""

    def __init__(self, spark, spans: common.Spans):
        self.enabled = spans.enabled
        self.spans = spans
        self.sc = spark.sparkContext
        self.pass_no = 0
        self._phases: list[tuple] = []

    def _group(self, key: str, phase: str) -> str:
        return f"perfbench-{self.pass_no}-{key}-{phase}"

    def begin(self, key: str, phase: str) -> None:
        if self.enabled:
            if phase == "build":
                self._phases = []
            self.sc.setJobGroup(self._group(key, phase), phase)

    def end(self, key: str, phase: str, start: float, stop: float) -> None:
        if self.enabled:
            jobs, tasks = self._jobs(self._group(key, phase))
            self._phases.append((phase, start, stop, jobs, tasks))
            if phase == "collect":  # the key's span, then its four phases
                trace = f"{self.pass_no}/{key}"
                parent = self.spans.add(trace, "key", self._phases[0][1], stop)
                for name, t0, t1, j, n in self._phases:
                    self.spans.add(trace, name, t0, t1, parent, jobs=j, tasks=n)
                self._phases = []

    def _jobs(self, group: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        ids = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in ids:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                tasks += st.numCompletedTasks if st else 0
        return len(ids), tasks

    def key_layers(self, key: str, df, result_rows: int) -> dict[str, float]:
        build_jobs, _ = self._jobs(self._group(key, "build"))
        exec_jobs, exec_tasks = self._jobs(self._group(key, "execute"))
        m = plan_metrics(df._jdf.queryExecution().executedPlan())
        blocks = self.sc._jsc.getPersistentRDDs().size()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return {
            "queries.build_jobs": build_jobs,
            "spark.execute_jobs": exec_jobs,
            "spark.execute_tasks": exec_tasks,
            "spark.shuffle_write_bytes": m["shuffle_write_bytes"],
            "spark.spill_bytes": m["spill_bytes"],
            "spark.peak_memory_bytes": m["peak_memory_bytes"],
            "spark.result_rows": result_rows,
            "cache.blocks_left": blocks,
        }


def _sweep(spark, keys, data, tracer, errors: dict) -> list[_KeyRun]:
    from flink_realtime_edu_demo_spark.registry import QUERIES

    runs = []
    for k in keys:
        t = time.perf_counter()
        try:
            runs.append(_run_key(spark, QUERIES[k], k, data, tracer))
        except Exception as e:  # a failing key stays in the sweep, as failed
            errors[k] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            spark.catalog.clearCache()
            kr = _KeyRun(k)
            kr.build, kr.plan, kr.execute = time.perf_counter() - t, 0.0, 0.0
            kr.collect, kr.rows, kr.schema = 0.0, None, None
            runs.append(kr)
    return runs


def _check(passes: list[list[_KeyRun]], data: str) -> dict[tuple[int, str], str]:
    """Compare every key's result with its DuckDB oracle (row count,
    columns, order-insensitive values); rows-only keys must return rows.
    The oracle runs once per key: an earlier pass passes if its rows equal
    the last pass's. Returns the failed key runs, (pass, key) -> reason."""
    from flink_realtime_edu_demo_spark.registry import ORACLE
    from flink_realtime_edu_demo_spark.testing.compare import (
        compare, duckdb_connect)

    con = duckdb_connect(data)
    failures = {}
    try:
        for i, kr in enumerate(passes[-1]):
            verdict = None
            if kr.rows is not None:
                try:
                    if kr.key in ORACLE:
                        compare(common.Collected(kr.schema, kr.rows), con,
                                ORACLE[kr.key], kr.key)
                    elif not kr.rows:
                        raise AssertionError(f"{kr.key}: no rows")
                except AssertionError as e:
                    verdict = str(e).splitlines()[0][:300]
            want = sorted(map(repr, kr.rows or []))
            for n, p in enumerate(passes):
                if p[i].rows is None:
                    failures[n, kr.key] = "error"
                elif verdict is not None:
                    failures[n, kr.key] = verdict
                elif sorted(map(repr, p[i].rows)) != want:
                    failures[n, kr.key] = "result differs from the last pass"
    finally:
        con.close()
    return failures


def run(run: Run) -> tuple[dict, int, int]:
    """Run a batch workload; returns (metrics, attempted, failed)."""
    keys = list(KEYS)
    random.Random(run.seed).shuffle(keys)
    data = f"{run.work_dir}/tables"
    t = time.perf_counter()
    run.details["rows"] = write_tables(data, run.seed, SF)
    run.details["inputs_s"] = round(time.perf_counter() - t, 4)
    run.details["sf"] = SF
    run.details["keys"] = keys

    import flink_realtime_edu_demo_spark.queries  # noqa: F401 — registry

    mem = common.PeakMemory()
    mem.start()
    (spark, _), setup_s = common.timed_setups(
        run, lambda i: (common.start_session(run.cores), None))
    spans = common.Spans(run.trace)
    tracer = _Tracer(spark, spans)
    # untimed warm-up pass: the first run of each key in a fresh JVM pays
    # code generation and JIT compilation
    t = time.perf_counter()
    _sweep(spark, keys, data, _Tracer(spark, common.Spans(False)), {})
    run.details["warmup_pass_s"] = round(time.perf_counter() - t, 4)

    passes: list[list[_KeyRun]] = []
    pass_s: list[float] = []
    errors: dict[str, str] = {}
    start = time.perf_counter()
    # start another pass while at least half of it fits in the run
    while not passes or (time.perf_counter() - start + pass_s[-1] / 2
                         <= run.seconds):
        tracer.pass_no = len(passes)
        t = time.perf_counter()
        key_runs = _sweep(spark, keys, data, tracer, errors)
        pass_s.append(time.perf_counter() - t)
        passes.append(key_runs)
    measured_s = time.perf_counter() - start
    spark.stop()
    peak_mb = mem.stop()
    run.details["peak_rss_mb_by_process"] = {
        k: round(v / 2**20, 1) for k, v in mem.parts.items()}

    failures = _check(passes, data)
    attempted = sum(len(p) for p in passes)
    failed = len(failures)
    run.details.update(passes=len(passes), measured_s=round(measured_s, 3),
                       pass_s=[round(x, 4) for x in pass_s], errors=errors,
                       failures={f"{n}/{k}": v for (n, k), v in failures.items()})
    spans.write(f"{run.work_dir}/spans.json")

    run.details["per_key_s"] = {
        k: round(common.median([kr.total for p in passes for kr in p
                                if kr.key == k]), 4) for k in keys}
    samples = [kr.total for p in passes for kr in p]
    p90, q = common.tail_percentile(samples)
    run.details["samples"] = {"query": len(samples), "query_p90_q": round(q, 3)}
    rows_per_pass = sum(len(kr.rows or ()) for kr in passes[-1])
    if not run.trace:
        return {
            "setup_s": (setup_s, "s"),
            "sweep_s": (common.median(pass_s), "s"),
            "query_p50_s": (common.median(samples), "s"),
            "query_p90_s": (p90, "s"),
            # closed loop: an operation is due when the client sends it,
            # so its latency is its run time
            "latency_p50_s": (common.median(samples), "s"),
            "latency_p90_s": (p90, "s"),
            "drain_rows_s": (rows_per_pass / common.median(pass_s), "rows/s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }, attempted, failed

    def per_pass(fn) -> float:
        return common.median([sum(fn(kr) for kr in p) for p in passes])

    layer = {
        "queries.build_s": (per_pass(lambda kr: kr.build), "s"),
        "spark.plan_s": (per_pass(lambda kr: kr.plan), "s"),
        "spark.execute_s": (per_pass(lambda kr: kr.execute), "s"),
        "spark.collect_s": (per_pass(lambda kr: kr.collect), "s"),
        "spark.transfer_s": (per_pass(lambda kr: kr.collect - kr.execute), "s"),
    }
    units = {"queries.build_jobs": "count", "spark.execute_jobs": "count",
             "spark.execute_tasks": "count", "spark.shuffle_write_bytes": "bytes",
             "spark.spill_bytes": "bytes", "spark.peak_memory_bytes": "bytes",
             "spark.result_rows": "count", "cache.blocks_left": "count"}
    for name, unit in units.items():
        if name == "spark.peak_memory_bytes":
            value = common.median([max(kr.layer.get(name, 0) for kr in p)
                                   for p in passes])
        else:
            value = per_pass(lambda kr: kr.layer.get(name, 0))
        layer[name] = (value, unit)
    for family, llm in (("llm", True), ("edu", False)):
        runs = [kr for p in passes for kr in p
                if kr.key.startswith(LLM_PREFIXES) == llm]
        build = sum(kr.build for kr in runs)
        run.details[f"build_share_{family}"] = round(
            build / max(sum(kr.total for kr in runs), 1e-9), 4)
    run.details["per_key"] = {
        kr.key: {"build": round(kr.build, 4), "plan": round(kr.plan, 4),
                 "execute": round(kr.execute, 4), "collect": round(kr.collect, 4),
                 **kr.layer}
        for kr in passes[-1]}
    run.details["traced_end_to_end"] = {"sweep_s": common.median(pass_s),
                                        "query_p50_s": common.median(samples)}
    return layer, attempted, failed
