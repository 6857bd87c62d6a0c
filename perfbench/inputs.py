"""Seeded input generation: the ten fixture tables and the event stream.

The tables follow the schemas and value domains of the engine's parquet
fixtures (``FIXTURES.md``): the same row counts per scale factor, the
same key ranges, categorical domains and date spans, so every registered
query and its DuckDB oracle see fixture-shaped data. Values are drawn
from ``numpy.random.default_rng(seed)``; the same seed writes the same
bytes.

The event stream (``StreamGenerator``) writes parquet files in the
``events`` schema into the directory ``sources.readers.stream_table``
watches, one file per tick on a fixed schedule (open loop), and records
each file's due time and actual write time.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("small", "red", "hot", "old", "large", "blue", "cold", "new")
_PART_NOUN = ("ring", "widget", "plate", "rod", "gizmo", "bolt", "gear", "anvil")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_LANGS = ("en", "fr", "es", "zh", "de")
_LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH = dt.datetime(1970, 1, 1)
_EVENTS_T0 = dt.datetime(2024, 1, 1)
_EVENTS_SPAN_S = 30 * 86400


def _micros(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def table_rows(sf: float) -> dict[str, int]:
    """Row counts of the fixture at scale factor ``sf`` (FIXTURES.md)."""
    text_rows = 500 if sf <= 0.01 else int(50_000 * sf)
    return {
        "region": 5, "nation": 25,
        "supplier": int(10_000 * sf), "customer": int(150_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": text_rows,
        "embeddings": 500 if sf <= 0.01 else int(20_000 * sf),
    }


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, end: dt.datetime, n: int) -> pa.Array:
    days = rng.integers(0, (end - start).days + 1, n)
    us = _micros(start) + days * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def events_table(rng, first_id: int, n: int, t0_us: int, span_us: int,
                 users: np.ndarray, disorder_us: int = 0) -> pa.Table:
    """``n`` events with ids from ``first_id`` and event times spread over
    ``[t0_us, t0_us + span_us)``: monotone in id, then moved earlier by
    at most ``disorder_us`` but never before ``t0_us`` (bounded
    out-of-orderness that stays inside the table's span)."""
    gaps = rng.exponential(1.0, n)
    ts = t0_us + (np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(np.int64)
    if disorder_us:
        ts = np.maximum(ts - rng.integers(0, disorder_us, n), t0_us)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables as ``out_dir/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    rows = table_rows(sf)
    os.makedirs(out_dir, exist_ok=True)
    n_sup, n_cust, n_part = rows["supplier"], rows["customer"], rows["part"]
    n_ord, n_li, n_ev = rows["orders"], rows["lineitem"], rows["events"]
    keys = lambda n: pa.array(np.arange(n), pa.int64())  # noqa: E731
    nations = lambda n: pa.array(rng.integers(0, 25, n), pa.int32())  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(_REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "supplier": pa.table({
            "s_suppkey": keys(n_sup),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_sup)]),
            "s_nationkey": nations(n_sup),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_sup),
        }),
        "customer": pa.table({
            "c_custkey": keys(n_cust),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": nations(n_cust),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "part": pa.table({
            "p_partkey": keys(n_part),
            "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": keys(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li),
        }),
        "events": events_table(
            rng, 0, n_ev, _micros(_EVENTS_T0), _EVENTS_SPAN_S * 1_000_000,
            rng.integers(0, max(15, int(15_000 * sf)), n_ev)),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    return rows


class StreamGenerator(threading.Thread):
    """Open-loop file generator for ``stream_table(spark, root, "events")``.

    Writes ``files`` parquet files of ``rows_per_file`` events each into
    ``root/events_stream``: file ``i`` (from 1) is due at
    ``start + (i - 1) * period_s`` regardless of how far the query has got. Each file is written under a
    hidden name and renamed into place, so the file source never lists a
    partial file. After the scheduled files come ``bursts`` bursts of
    ``burst`` files each (the drain phase): the generator stages them
    under hidden names, and :meth:`drop_burst` renames one burst into
    place at once.

    File 0 is the warm-up file, written by :meth:`write_warmup` before
    the query starts. Times are ``time.time()`` seconds, comparable with
    the timestamps of Spark's streaming progress.

    Users follow a Zipf law with exponent ``skew`` over ``users`` ids (the
    hottest user gets the largest share). Event time advances
    ``event_span_s`` per file. Inside a file rows are out of order by up
    to ``disorder_s``, which stays below the watermark delay, so no row is
    late; across files event time is monotone, because the session CEP
    sink closes sessions on the maximum event time seen so far.
    """

    def __init__(self, root: str, seed: int, files: int, burst: int,
                 rows_per_file: int, period_s: float, skew: float,
                 event_span_s: int, users: int = 1500, disorder_s: int = 120,
                 bursts: int = 1):
        super().__init__(daemon=True, name="stream-generator")
        self.dir = f"{root}/events_stream"
        os.makedirs(self.dir, exist_ok=True)
        rng = np.random.default_rng(seed)
        ranks = np.arange(1, users + 1, dtype=np.float64)
        p = ranks ** -skew
        perm = rng.permutation(users)  # hot ids are not simply the low ids
        t0 = _micros(_EVENTS_T0)
        self.tables = [
            events_table(rng, i * rows_per_file, rows_per_file,
                         t0 + i * event_span_s * 1_000_000,
                         event_span_s * 1_000_000,
                         perm[rng.choice(users, rows_per_file, p=p / p.sum())],
                         disorder_s * 1_000_000)
            for i in range(1 + files + bursts * burst)
        ]
        self.files, self.burst, self.bursts = files, burst, bursts
        self.rows_per_file, self.period_s = rows_per_file, period_s
        self.due: dict[int, float] = {}      # file index -> when it was due
        self.written: dict[int, float] = {}  # file index -> when it was in place
        self.burst_times: list[float] = []   # when each burst was dropped
        self._staged = threading.Event()
        self._halt = threading.Event()
        self.start_time = 0.0

    def _write(self, i: int, due: float) -> None:
        self._stage(i)
        self._publish(i, due)

    def _stage(self, i: int) -> None:
        pq.write_table(self.tables[i], f"{self.dir}/.f{i:05d}.tmp")

    def _publish(self, i: int, due: float) -> None:
        os.rename(f"{self.dir}/.f{i:05d}.tmp", f"{self.dir}/f{i:05d}.parquet")
        self.due[i] = due
        self.written[i] = time.time()

    def write_warmup(self) -> None:
        self._write(0, time.time())

    def run(self) -> None:
        self.start_time = time.time()
        for i in range(1, self.files + 1):
            due = self.start_time + (i - 1) * self.period_s
            delay = due - time.time()
            if delay > 0 and self._halt.wait(delay):
                return
            self._write(i, due)
        # staged ahead, so a drop is a quick run of renames
        for i in range(self.files + 1, self.files + self.bursts * self.burst + 1):
            if self._halt.is_set():
                return
            self._stage(i)
        self._staged.set()

    def burst_files(self, k: int) -> range:
        """File indexes of burst ``k`` (from 0)."""
        first = self.files + 1 + k * self.burst
        return range(first, first + self.burst)

    def drop_burst(self, k: int) -> None:
        """Rename burst ``k`` into place, once the generator has staged it."""
        if not self._staged.wait(timeout=30):
            raise TimeoutError("burst files not staged in time")
        now = time.time()
        self.burst_times.append(now)
        for i in self.burst_files(k):
            self._publish(i, now)

    def stop(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join(timeout=30)

    @property
    def late_s_max(self) -> float:
        """How late the generator ran: the largest write-time minus due-time
        over the scheduled files."""
        return max((self.written[i] - self.due[i]
                    for i in range(1, self.files + 1) if i in self.written),
                   default=0.0)
