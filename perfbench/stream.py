"""Stream workload: an open-loop file generator feeding two streaming
queries through ``sources.readers.stream_table``, as one event topic
feeds several jobs of one application.

- ``changelog``: ``streaming.jobs.tumbling_counts`` in update mode into
  ``streaming.changelog.ChangelogUpsertSink`` (state store, per-batch
  overhead, a sink that collects to Python).
- ``cep``: the raw events into ``streaming.cep.SessionCepSink(observe=
  False)`` (no state store; several Spark jobs per batch over a growing
  parquet staging history with ``operators.cep``).

A run: set up (session, warm-up, both queries started), process the
warm-up file untimed, then ``seconds`` of files on a fixed schedule below
capacity, then, once they are committed, :data:`BURSTS` bursts of files,
each dropped at once when the previous one is committed (the drain). A
file's latency runs from when it was due until both
queries have committed the micro-batch that read it; commits are seen by
polling each query's commit log.
"""

from __future__ import annotations

import json
import os
import time

from . import common
from .common import Run
from .inputs import StreamGenerator
from .trace import microbatch_metrics, state_metrics

PERIOD_S = 0.2           # one file due every PERIOD_S seconds
ROWS_PER_FILE = 20       # 100 rows/s
USER_SKEW = 0.8          # Zipf exponent of user ids (top user ~6% of rows)
EVENT_SPAN_S = 900       # event time covered by one file
BURST_FILES = 50         # dropped at once: one full batch (the drain)
BURSTS = 2               # drain bursts per run; the drain time is their median
RUN_LIMIT_S = 110        # end of set-up to end of the drain, stalls included
MAX_FILES_PER_TRIGGER = 50
POLL_S = 0.01
CEP_PATTERN = [("V", "view", "1"), ("CE", ("click", "error"), "*"),
               ("P", "purchase", "1")]
CEP_GAP_MIN = 60
KINDS = ("changelog", "cep")


class _Query:
    """One started streaming query with its sink, checkpoint, and the
    commit time and files of every micro-batch seen so far."""

    def __init__(self, spark, kind: str, root: str, trace: bool):
        from flink_realtime_edu_demo_spark.sources.readers import stream_table

        self.spark, self.kind = spark, kind
        self.ckpt = f"{root}/ckpt-{kind}"
        self.commit_time: dict[int, float] = {}   # batch id -> seen committed
        self.file_batch: dict[int, int] = {}      # file index -> batch id
        self._read_upto = -1                      # file source log offset
        self.batch_times: list[tuple[int, float, float, int]] = []
        events = stream_table(spark, root, "events",
                              max_files_per_trigger=MAX_FILES_PER_TRIGGER)
        if kind == "changelog":
            from flink_realtime_edu_demo_spark.streaming.changelog import (
                ChangelogUpsertSink, start_changelog_sink)
            from flink_realtime_edu_demo_spark.streaming.jobs import tumbling_counts

            df = tumbling_counts(events)
            self.schema = df.schema
            self.sink = ChangelogUpsertSink(
                ["window_start", "window_end", "event_type"])
            start = start_changelog_sink
        else:
            from flink_realtime_edu_demo_spark.streaming.cep import (
                SessionCepSink, start_session_cep)

            self.sink = SessionCepSink(CEP_PATTERN, gap_minutes=CEP_GAP_MIN,
                                       store_dir=f"{root}/cep", observe=False)
            start, df = start_session_cep, events
        if trace:
            self._wrap_sink()
        self.query = start(df, self.ckpt, self.sink)

    def _wrap_sink(self) -> None:
        """Time the sink instance's ``write_batch`` and count the Spark jobs
        it starts (a stream's jobs carry the query's run id as job group)."""
        inner = self.sink.write_batch
        tracker = self.spark.sparkContext.statusTracker()

        def timed(batch_df, batch_id):
            group = str(self.query.runId)
            before = set(tracker.getJobIdsForGroup(group))
            t = time.perf_counter()
            inner(batch_df, batch_id)
            el = time.perf_counter() - t
            jobs = len(set(tracker.getJobIdsForGroup(group)) - before)
            self.batch_times.append((batch_id, t, el, jobs))

        self.sink.write_batch = timed

    def poll(self) -> None:
        """Record every commit not seen yet and the files its batch read."""
        if self.query.exception() is not None or not self.query.isActive:
            raise RuntimeError(f"{self.kind} stream stopped: {self.query.exception()}")
        now = time.time()
        try:
            names = os.listdir(f"{self.ckpt}/commits")
        except FileNotFoundError:
            return
        for b in sorted(int(n) for n in names if n.isdigit()):
            if b not in self.commit_time:
                self.commit_time[b] = now
                # a micro-batch reads the file source's log entries after
                # the previous batch's log offset, up to its own
                upto = self._log_offset(b)
                for entry in range(self._read_upto + 1, upto + 1):
                    for f in self._log_files(entry):
                        self.file_batch[f] = b
                self._read_upto = upto

    def _log_offset(self, batch_id: int) -> int:
        """The file source's log offset recorded for a micro-batch."""
        with open(f"{self.ckpt}/offsets/{batch_id}") as f:
            return json.loads(f.read().splitlines()[-1])["logOffset"]

    def _log_files(self, entry: int) -> list[int]:
        """File indexes of one entry of the file source's log."""
        base = f"{self.ckpt}/sources/0/{entry}"
        path = base if os.path.exists(base) else base + ".compact"
        out = []
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    row = json.loads(line)
                    if row.get("batchId", entry) == entry:
                        out.append(int(os.path.basename(row["path"])[1:6]))
        return out

    def done(self, f: int) -> float:
        """When the batch that read file ``f`` was seen committed."""
        return self.commit_time[self.file_batch[f]]

    def progress(self) -> list[dict]:
        """Progress of the batches after the warm-up file's batch. A batch's
        progress is reported just after its commit, so wait briefly for
        the last commit seen."""
        last = max(self.commit_time, default=-1)
        deadline = time.time() + 10
        while True:
            out = [json.loads(p.json) if hasattr(p, "json") else p
                   for p in self.query.recentProgress]
            if any(p["batchId"] >= last for p in out) or time.time() > deadline:
                break
            time.sleep(POLL_S)
        warm = self.file_batch.get(0, 0)
        return [p for p in out if p["batchId"] > warm]


def _wait(queries: list[_Query], files: set[int], deadline: float) -> None:
    """Poll the commit logs until every query has committed ``files``."""
    while True:
        for q in queries:
            q.poll()
        if all(files <= q.file_batch.keys() for q in queries):
            return
        if time.time() > deadline:
            raise TimeoutError("files not committed in time")
        time.sleep(POLL_S)


def _check(q: _Query, gen: StreamGenerator, spark) -> str | None:
    """Compare a sink's final output with DuckDB over every generated
    file; returns the failure message or None."""
    import duckdb

    from flink_realtime_edu_demo_spark.testing.compare import compare

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{gen.dir}/f*.parquet')")
    try:
        if q.kind == "changelog":
            import flink_realtime_edu_demo_spark.queries  # noqa: F401 — registry
            from flink_realtime_edu_demo_spark.registry import ORACLE

            cols = [f.name for f in q.schema.fields]
            rows = [tuple(r[c] for c in cols) for r in q.sink.state.values()]
            compare(common.Collected(q.schema, rows), con,
                    ORACLE["q_stream_tumble"], "changelog")
        else:
            from flink_realtime_edu_demo_spark.operators.cep import (
                match_recognize_sessionized_oracle_sql)

            oracle = match_recognize_sessionized_oracle_sql(CEP_PATTERN, CEP_GAP_MIN)
            gap = f"INTERVAL {CEP_GAP_MIN} MINUTE"
            closed = f"""
                WITH m AS ({oracle}),
                s AS (SELECT user_id, ts, CAST(SUM(CASE WHEN prev_ts IS NULL
                             OR ts > prev_ts + {gap} THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
                      FROM (SELECT user_id, ts, event_id, lag(ts) OVER (
                              PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                            FROM events)),
                c AS (SELECT user_id, session_id FROM s GROUP BY 1, 2
                      HAVING max(ts) + {gap} <= (SELECT max(ts) FROM events))
                SELECT m.* FROM m JOIN c USING (user_id, session_id)"""
            if not os.path.isdir(q.sink.results_dir):
                return "cep: the sink published no match"
            compare(spark.read.parquet(q.sink.results_dir), con, closed, "cep")
    except AssertionError as e:
        return str(e).splitlines()[0][:300]
    finally:
        con.close()
    return None


def run(run: Run) -> tuple[dict, int, int]:
    """Run the stream workload; returns (metrics, attempted, failed)."""
    files = max(10, round(run.seconds / PERIOD_S))
    gen = StreamGenerator(f"{run.work_dir}/stream", run.seed, files,
                          BURST_FILES, ROWS_PER_FILE, PERIOD_S,
                          skew=USER_SKEW, event_span_s=EVENT_SPAN_S,
                          bursts=BURSTS)
    root = os.path.dirname(gen.dir)
    spans = common.Spans(run.trace)

    def setup_once(i: int):
        spark = common.start_session(run.cores)
        if i < common.SETUPS - 1:  # throwaway queries on an empty input
            where = f"{run.work_dir}/setup{i}"
            os.makedirs(f"{where}/events_stream", exist_ok=True)
        else:
            where = root
            gen.write_warmup()
        return spark, [_Query(spark, k, where, run.trace) for k in KINDS]

    def discard(queries):
        for q in queries:
            q.query.stop()

    mem = common.PeakMemory()
    mem.start()
    (spark, queries), setup_s = common.timed_setups(run, setup_once, discard)
    failures: dict[str, str] = {}
    scheduled = set(range(1, files + 1))
    bursts = [set(gen.burst_files(k)) for k in range(BURSTS)]
    marks = [time.time()]
    # the deadline keeps a stalled stream within the run's time limit
    deadline = marks[0] + RUN_LIMIT_S
    try:
        _wait(queries, {0}, deadline)  # untimed warm-up batch
        marks.append(time.time())
        gen.start()
        _wait(queries, scheduled, deadline)
        marks.append(time.time())
        for k, burst in enumerate(bursts):
            gen.drop_burst(k)
            _wait(queries, burst, deadline)
        marks.append(time.time())
    except (TimeoutError, RuntimeError) as e:
        failures["stream"] = f"{type(e).__name__}: {e}"
    finally:
        gen.stop()
    progress = {q.kind: q.progress() for q in queries}
    discard(queries)
    peak_mb = mem.stop()
    run.details["peak_rss_mb_by_process"] = {
        k: round(v / 2**20, 1) for k, v in mem.parts.items()}
    for q in queries:
        if not failures:
            msg = _check(q, gen, spark)
            if msg:
                failures[q.kind] = msg
    spark.stop()
    marks.append(time.time())
    run.details["phase_s"] = dict(zip(
        ("warmup", "scheduled", "drain", "check"),
        (round(b - a, 3) for a, b in zip(marks, marks[1:]))))

    def latency(qs: list[_Query]) -> list[float]:
        return [max(q.done(i) for q in qs) - gen.due[i] for i in scheduled
                if all(i in q.file_batch for q in qs)]

    def drain(q: _Query, k: int) -> float:
        """Trigger start of the first batch that read a file of burst ``k``
        → commit of the burst's last file."""
        starts = {p["batchId"]: _epoch(p["timestamp"]) for p in progress[q.kind]}
        return (max(q.done(f) for f in bursts[k])
                - min(starts.get(q.file_batch[f], gen.burst_times[k])
                      for f in bursts[k]))

    lat = latency(queries)
    drains = ([max(drain(q, k) for q in queries) for k in range(BURSTS)]
              if "stream" not in failures else [float("nan")])
    drain_s = common.median(drains)
    all_progress = progress["changelog"] + progress["cep"]
    # one trigger of each query: the two queries' trigger times are far
    # apart, so a percentile of the pooled times would jump between them
    # with the batch counts; the metric sums each query's own percentile
    trigger_s = {kind: [p["durationMs"]["triggerExecution"] / 1000.0
                        for p in progress[kind] if p.get("numInputRows", 0) > 0]
                 for kind in KINDS}
    trig_p50 = sum(common.median(t) for t in trigger_s.values())
    trig_tails = {k: common.tail_percentile(t) for k, t in trigger_s.items()}
    trig_tail = sum(v for v, _ in trig_tails.values())
    lat_tail, lat_q = common.tail_percentile(lat)
    run.details.update(
        trigger_s=trigger_s, drain_s_each=[round(x, 4) for x in drains],
        latency_s=[round(x, 3) for x in lat], files=files, burst_files=BURST_FILES, bursts=BURSTS,
        rows_per_file=ROWS_PER_FILE,
        period_s=PERIOD_S, max_files_per_trigger=MAX_FILES_PER_TRIGGER,
        failures=failures, generator_late_s_max=round(gen.late_s_max, 4),
        samples={"latency": len(lat), "latency_p90_q": round(lat_q, 3),
                 "query": {k: len(t) for k, t in trigger_s.items()},
                 "query_p90_q": {k: round(q, 3) for k, (_, q) in trig_tails.items()}})
    attempted = len(queries)
    failed = attempted if "stream" in failures else len(failures)
    if not run.trace:
        return {
            "setup_s": (setup_s, "s"),
            "sweep_s": (drain_s, "s"),
            "query_p50_s": (trig_p50, "s"),
            "query_p90_s": (trig_tail, "s"),
            "latency_p50_s": (common.median(lat), "s"),
            "latency_p90_s": (lat_tail, "s"),
            "drain_rows_s": (BURST_FILES * ROWS_PER_FILE / drain_s, "rows/s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }, attempted, failed

    # per-layer: reader wait and backlog, micro-batch phases, state, sinks
    wait, backlog = [], []
    for q in queries:
        starts = {p["batchId"]: _epoch(p["timestamp"]) for p in progress[q.kind]}
        wait += [starts[b] - gen.written[f] for f, b in q.file_batch.items()
                 if f > 0 and b in starts]
        backlog += [sum(1 for f, w in gen.written.items() if f > 0 and w <= s
                        and q.file_batch.get(f, b) >= b)
                    for b, s in starts.items()]
    layer: dict[str, tuple[float, str]] = {
        "sources.readers.wait_s_p50": (common.median(wait), "s"),
        "sources.readers.backlog_files_max": (max(backlog, default=0), "count"),
        "generator.late_s_max": (gen.late_s_max, "s"),
    }
    for name, value in microbatch_metrics(all_progress).items():
        unit = "count" if name.endswith(("batches", "rows_per_batch_p50")) else "ms"
        layer[name] = (value, unit)
    state_units = {"state_rows": "count", "state_memory_bytes": "bytes",
                   "state_commit_ms_p50": "ms", "rows_dropped_late": "count"}
    for name, value in state_metrics(progress["changelog"]).items():
        layer[name] = (value, state_units[name.rsplit(".", 1)[1]])
    for q in queries:
        pre = f"streaming.{q.kind}"
        after_warmup = q.batch_times[1:]
        layer[f"{pre}.write_batch_s_p50"] = (
            common.median([el for _, _, el, _ in after_warmup]), "s")
        layer[f"{pre}.jobs_per_batch"] = (
            common.median([j for *_, j in after_warmup]), "count")
        layer[f"{pre}.latency_s_p50"] = (common.median(latency([q])), "s")
    cl, cep = queries
    layer["streaming.changelog.emitted_rows"] = (len(cl.sink.changelog), "count")
    layer["streaming.cep.write_batch_s_last"] = (
        cep.batch_times[-1][2] if cep.batch_times else 0.0, "s")
    layer["streaming.cep.published_rows"] = (sum(cep.sink.emitted_per_batch), "count")
    layer["streaming.cep.input_reads_per_row"] = (
        sum(p.get("numInputRows", 0) for p in progress["cep"])
        / ((files + BURSTS * BURST_FILES) * ROWS_PER_FILE), "ratio")
    for q in queries:
        for b, t, el, jobs in q.batch_times:
            spans.add(f"{q.kind}/{b}", "write_batch", t, t + el, jobs=jobs)
    spans.write(f"{run.work_dir}/spans.json")
    run.details["traced_end_to_end"] = {
        "latency_p50_s": common.median(lat), "sweep_s": drain_s,
        "query_p50_s": trig_p50}
    return layer, attempted, failed


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()
