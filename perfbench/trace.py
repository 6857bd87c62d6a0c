"""Layer counters read from Spark from the outside: SQL metrics of an
executed physical plan, and micro-batch figures from streaming progress."""

from __future__ import annotations

from . import common

# Query-stage wrappers whose work lives in the wrapped plan.
_STAGE_WRAPPERS = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                   "TableCacheQueryStageExec", "ResultQueryStageExec")


def plan_metrics(jplan) -> dict[str, int]:
    """Sum the shuffle-write and spill SQL metrics of an executed plan and
    its subqueries, walking into adaptive query stages; peak memory is the
    sum of the operators' peaks (an upper bound on the plan's peak)."""
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "peak_memory_bytes": 0}
    stack = [jplan]
    while stack:
        p = stack.pop()
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if name in _STAGE_WRAPPERS:
            stack.append(p.plan())
            continue
        if name == "ReusedExchangeExec":
            continue  # its work is counted where the exchange first ran
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, value = kv._1(), kv._2().value()
            if key == "shuffleBytesWritten":
                out["shuffle_write_bytes"] += value
            elif key.startswith("spill"):
                out["spill_bytes"] += value
            elif key == "peakMemory":
                out["peak_memory_bytes"] += value
        for seq in (p.children(), p.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    return out


_OVERHEAD_PARTS = ("latestOffset", "getBatch", "queryPlanning", "walCommit",
                   "commitOffsets")


def microbatch_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-trigger figures from ``StreamingQuery.recentProgress`` (as
    dicts), over the batches that read input."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in batches]
    return {
        "spark.microbatch.trigger_ms_p50": common.median(
            [d.get("triggerExecution", 0) for d in dur]),
        "spark.microbatch.addBatch_ms_p50": common.median(
            [d.get("addBatch", 0) for d in dur]),
        "spark.microbatch.overhead_ms_p50": common.median(
            [sum(d.get(k, 0) for k in _OVERHEAD_PARTS) for d in dur]),
        "spark.microbatch.batches": len(batches),
        "spark.microbatch.rows_per_batch_p50": common.median(
            [p["numInputRows"] for p in batches]),
    }


def state_metrics(progress: list[dict]) -> dict[str, float]:
    """State-store figures of the stateful operators (Spark's equivalent
    of Flink's keyed-state metrics)."""
    ops = [p.get("stateOperators", []) for p in progress]
    last = next((o for o in reversed(ops) if o), [])
    commits = [sum(s.get("commitTimeMs", 0) for s in o) for o in ops if o]
    return {
        "streaming.jobs.state_rows": sum(s.get("numRowsTotal", 0) for s in last),
        "streaming.jobs.state_memory_bytes": sum(
            s.get("memoryUsedBytes", 0) for s in last),
        "streaming.jobs.state_commit_ms_p50": common.median(commits) if commits else 0.0,
        "streaming.jobs.rows_dropped_late": sum(
            s.get("numRowsDroppedByWatermark", 0) for o in ops for s in o),
    }
