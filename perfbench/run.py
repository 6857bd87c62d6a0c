"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` under ``.perfbench/`` and removed afterwards; the full
record of the run (metrics, sample counts, load average, checks, and with
``--trace 1`` the spans) is kept in ``.perfbench/results/``. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of ``BENCHMARK.json``
with ``--trace 0``, its per-layer metrics with ``--trace 1``). A traced
run also reports its tracing overhead against the untraced run of the
same workload, seed and core count, when that record exists.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

ROOT = os.getcwd()
SPEC = "BENCHMARK.json"


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # half the cores are left to the Python driver, its Python workers, the
    # stream generator and the JVM's compiler and collector threads, so
    # that Spark's task threads do not queue behind them
    cores = len(os.sched_getaffinity(0))
    ap.add_argument("--cores", type=int, default=max(1, min(4, cores) // 2),
                    help="local[] cores for Spark (1 = single-core reference)")
    return ap.parse_args(argv)


def _record_name(a: argparse.Namespace, trace: int) -> str:
    return f"{a.workload}-seed{a.seed}-cores{a.cores}-trace{trace}"


def _cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main(argv: list[str]) -> int:
    a = _parse(argv)
    with open(os.path.join(ROOT, SPEC)) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload!r}")
    if not os.path.isfile(os.path.join(ROOT, "flink_realtime_edu_demo_spark",
                                       "__init__.py")):
        raise SystemExit("run from the root of a checkout of the repository")
    sys.path.insert(0, ROOT)

    from perfbench import batch, common, stream

    work = os.path.join(ROOT, ".perfbench", f"{_record_name(a, a.trace)}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    common.prepare_env(work)
    run = common.Run(a.workload, a.seed, a.seconds, bool(a.trace), a.cores, work)
    load_start = os.getloadavg()[0]
    ticks_start = _cpu_ticks()
    t0 = time.perf_counter()
    # a run stopped from outside still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        module = batch if a.workload == "batch" else stream
        metrics, attempted, failed = module.run(run)
    finally:
        wall = time.perf_counter() - t0
        common.stop_processes()
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(results, _record_name(a, 1) + "-spans.json"))
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer" if a.trace else "end_to_end"]
    out = {}
    for m in wanted:
        value, unit = metrics.get(m["name"], (0.0, m["unit"]))
        if unit != m["unit"]:
            raise RuntimeError(f"{m['name']}: unit {unit} != {m['unit']}")
        out[m["name"]] = {"value": float(value), "unit": unit}
    extra = sorted(set(metrics) - set(out))
    if extra:
        raise RuntimeError(f"metrics missing from {SPEC}: {extra}")
    ticks = [b - a for a, b in zip(ticks_start, _cpu_ticks())]
    correct = failed == 0 and all(math.isfinite(v["value"]) for v in out.values())
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "spark_cores": a.cores, "wall_s": round(wall, 3),
        "load_avg_1m": {"start": round(load_start, 2),
                        "end": round(os.getloadavg()[0], 2)},
        # share of CPU time the hypervisor gave to other guests
        "cpu_steal_frac": round(ticks[7] / max(sum(ticks[:8]), 1), 4),
        "failed_frac": failed / attempted, **run.details, "metrics": out,
    }
    if a.trace:
        base = os.path.join(results, _record_name(a, 0) + ".json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["metrics"]
            record["tracing_overhead"] = {
                k: round(v - untraced[k]["value"], 6)
                for k, v in run.details.get("traced_end_to_end", {}).items()
                if k in untraced}
    with open(os.path.join(results, _record_name(a, a.trace) + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for name, m in out.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_frac = {failed}/{attempted}"
          f" load_avg_1m = {record['load_avg_1m']} spark_cores = {a.cores}"
          f" samples = {run.details.get('samples')}")
    if "tracing_overhead" in record:
        print(f"tracing_overhead = {record['tracing_overhead']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
