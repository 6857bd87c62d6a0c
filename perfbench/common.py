"""Pieces shared by the batch and stream workloads: the run context,
session set-up, percentiles, process-tree memory, span recording and the
output checks' result shim."""

from __future__ import annotations

import json
import math
import os
import signal
import statistics
import subprocess
import tempfile
import threading
import time
from dataclasses import dataclass, field

#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 3


@dataclass
class Run:
    """One benchmark invocation: its arguments and where it may write."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    work_dir: str            # inputs, checkpoints, Spark files, spans
    details: dict = field(default_factory=dict)  # kept in the run's record


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0..1) of ``values``."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float], want: float = 0.9) -> tuple[float, float]:
    """``want`` percentile, or the highest one that still has ten samples
    beyond it (never below the median). Returns (value, q used)."""
    n = len(values)
    q = min(want, max(0.5, 1.0 - 10.0 / n)) if n else want
    return percentile(values, q), q


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


class PeakMemory(threading.Thread):
    """Peak memory of this process and all its descendants (this Python
    process, the JVM and its Python workers), sampled every ``period_s``.

    Each process counts its proportional set size (``Pss``), which splits
    pages shared between processes — forked Python workers, a child in
    the middle of ``exec`` — among them, so the sum is not inflated by
    counting shared pages once per process. ``parts`` splits the peak by
    process name."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True, name="peak-memory")
        self.period_s = period_s
        self.peak_bytes = 0
        self.parts: dict[str, int] = {}
        self._halt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def _sample(self) -> None:
        parts: dict[str, int] = {}
        for pid, (name, _) in descendants(os.getpid()).items():
            try:
                parts[name] = parts.get(name, 0) + self._pss(pid)
            except OSError:  # the process ended meanwhile
                continue
        total = sum(parts.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.parts = total, parts

    def run(self) -> None:
        while not self._halt.wait(self.period_s):
            self._sample()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._halt.set()
        self.join(timeout=5)
        self._sample()
        return self.peak_bytes / 2**20


def _stat(pid: int) -> tuple[int, str, str, int] | None:
    """(parent pid, name, state, start time) of a process, or None if it
    is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    rest = stat[stat.rindex(")") + 2:].split()
    return (int(rest[1]), stat[stat.index("(") + 1:stat.rindex(")")],
            rest[0], int(rest[19]))


def descendants(root: int) -> dict[int, tuple[str, int]]:
    """Every live process below ``root``: pid -> (name, start time)."""
    table = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None and st[2] != "Z":
            table[int(d)] = st
    out = {}
    for pid, (_, name, _, start) in table.items():
        p = pid
        while p > 1 and p != root:
            p = table[p][0] if p in table else 0
        if p == root and pid != root:
            out[pid] = (name, start)
    return out


def stop_processes(grace_s: float = 10.0) -> None:
    """Stop the Spark JVM and every other process this one started, and
    wait until each has ended.

    The JVM ends by itself only after this process has exited, when its
    standard input closes; a benchmark run must not leave it behind. The
    process tree is read before the JVM goes, so that the JVM's own
    children (Python workers) are still known once they are orphaned;
    a process is known by pid and start time, so a reused pid is never
    signalled. Whatever is still running after ``grace_s`` seconds of
    SIGTERM is killed."""
    me = os.getpid()
    known = descendants(me)
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        known.update(descendants(me))
        alive = [pid for pid, (_, start) in known.items()
                 if (st := _stat(pid)) is not None and st[3] == start
                 and st[2] != "Z"]
        while True:  # reap ended children
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        if not alive:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


class Spans:
    """In-memory span recorder; written out once, at the end of a run.

    A span is (trace id, span id, parent id, name, start, end, attrs) with
    times in seconds from the recorder's creation. Off (``enabled=False``)
    it records nothing and costs one attribute check per call.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.rows: list[dict] = []

    def add(self, trace: str, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.rows.append({
            "trace": trace, "id": len(self.rows), "parent": parent,
            "name": name, "start": round(start - self.t0, 6),
            "end": round(end - self.t0, 6), **attrs,
        })
        return len(self.rows) - 1

    def write(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump(self.rows, f)


class Collected:
    """Stands in for a DataFrame in ``testing.compare``: rows already
    brought to Python in the timed region, compared after it."""

    def __init__(self, schema, rows: list[tuple]):
        self.schema = schema
        self.columns = [f.name for f in schema.fields]
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows


def prepare_env(work_dir: str) -> None:
    """Keep Spark's and Python's scratch files inside ``work_dir``."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(f"{work_dir}/{sub}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work_dir}/spark-local"
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work_dir}/tmp"
    # the session's default 8g JVM heap lets the JVM grow to several GB
    # on a shared host; the benchmark's inputs fit in far less
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # the serial collector grows the heap only when a collection leaves it
    # full, so a run's peak memory follows what the program keeps alive
    # rather than how the concurrent collector's threads were scheduled;
    # it also runs no collector threads beside Spark's task threads
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:+UseSerialGC -XX:-UsePerfData -Djava.io.tmpdir={work_dir}/tmp")


def start_session(cores: int):
    """``session.get_spark`` plus the untimed warm-up ``bench.py`` uses: a
    scan+shuffle+collect and an Arrow Python-worker round trip. Shuffle
    partitions are two per core, as ``session.py`` advises for sizing them
    to the host (its default of 32 matches ``bench.py``'s 32 cores)."""
    from pyspark.sql import functions as F

    from flink_realtime_edu_demo_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cores,
                      shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    ident = F.pandas_udf(lambda s: s, "long")
    spark.range(32).repartition(4).select(ident("id")).collect()
    return spark


def timed_setups(run: Run, setup_once, discard=None):
    """Call ``setup_once(i)`` :data:`SETUPS` times and return (the last
    call's result, median seconds). ``setup_once`` returns (spark, payload);
    the session of every call but the last is stopped, untimed, after
    ``discard(payload)``."""
    times = []
    result = None
    for i in range(SETUPS):
        t = time.perf_counter()
        result = setup_once(i)
        times.append(time.perf_counter() - t)
        if i < SETUPS - 1:
            if discard is not None:
                discard(result[1])
            result[0].stop()
    run.details["setup_s_each"] = [round(x, 4) for x in times]
    return result, median(times)
