"""Smoke test of the benchmark on tiny inputs (about five minutes).

    python3 perfbench/smoke.py

Run from the root of a checkout. It runs both workloads untraced and
traced on sf0.001 tables, two keys and twenty stream files, and checks
that every metric named in ``BENCHMARK.json`` is emitted with its unit and
that correct runs count no failure. Then it corrupts one expected result
per workload (the oracle of one batch key, the oracle of the changelog
stream) and checks that the run reports it as failed. Exits non-zero on
the first broken expectation.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.getcwd())

from perfbench import batch, run, stream  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(["--workload", workload, "--seed", "7",
                         "--seconds", "3", "--trace", str(trace)])
    if code != 0:
        raise SystemExit(f"{workload} trace={trace}: exit code {code}")
    return json.loads(out.getvalue().strip().splitlines()[-1])


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok: {what}", flush=True)


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    batch.SF = 0.001
    batch.KEYS = ("q_tpch_q1", "q_llm_kmeans_assign")
    stream.BURST_FILES, stream.CEP_GAP_MIN = 4, 20

    for workload in ("batch", "stream"):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            res = _run(workload, trace)
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            _expect(got == want, f"{workload} trace={trace} emits every "
                                 f"{section} metric with its unit")
            _expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                    f"{workload} trace={trace} is correct")

    from flink_realtime_edu_demo_spark.registry import ORACLE

    for workload, key in (("batch", "q_tpch_q1"), ("stream", "q_stream_tumble")):
        good = ORACLE[key]
        ORACLE[key] = f"SELECT * FROM ({good}) LIMIT 1"
        try:
            res = _run(workload, 0)
        finally:
            ORACLE[key] = good
        _expect(not res["correct"] and res["failed"] >= 1,
                f"{workload}: a corrupted expected result ({key}) counts as failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
