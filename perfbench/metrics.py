"""Metric names, units and the result line.

Every workload reports every metric below. End-to-end metrics come from
the untraced run; per-layer metrics from the traced one. A per-layer
metric of a layer the workload never calls into reads 0 (the workload
spent no time and made no calls there). ``BENCHMARK.json`` lists the
same names, units and directions; a test keeps the two in step.
"""

from __future__ import annotations

import json
import math
import statistics

#: name → (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "latency_p50_s": ("s", "lower"),
}

#: query_mix's queries: one each for aggregation, join and text of the
#: engine's headline list, the cheapest of their families, so that a
#: run holds several passes
MIX_QUERIES = (
    "tpch_q1",
    "tpch_q3",
    "token_stats",
)

PER_LAYER = {
    # every workload
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "functions.kernel_us_per_row_1t": ("us", "lower"),
    "host.kernel_us_per_row_allcores": ("us", "lower"),
    "host.loadavg_start": ("load", "lower"),
    "host.loadavg_end": ("load", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.spans": ("count", "lower"),
    # kernel_replay
    "kernel.rows": ("rows", "higher"),
    "sources.render_s": ("s", "lower"),
    "functions.kernel_s": ("s", "lower"),
    "functions.agg_s": ("s", "lower"),
    "kernel.core_busy_ratio": ("ratio", "higher"),
    # live_socket
    "live.rows_sent": ("rows", "higher"),
    "live.results": ("count", "higher"),
    "live.latency_tail_s": ("s", "lower"),
    "live.latency_tail_pct": ("%", "higher"),
    "live.spike_recovery_s": ("s", "lower"),
    "live.backlog_rows_peak": ("rows", "lower"),
    "live.row_delay_max_s": ("s", "lower"),
    "loadgen.late_max_s": ("s", "lower"),
    "streaming.triggers": ("count", "lower"),
    "streaming.trigger_ms_p50": ("ms", "lower"),
    "streaming.add_batch_ms_p50": ("ms", "lower"),
    "streaming.planning_ms_p50": ("ms", "lower"),
    "streaming.offsets_ms_p50": ("ms", "lower"),
    "streaming.state_commit_ms_p50": ("ms", "lower"),
    "streaming.sink_broadcast_ms_p50": ("ms", "lower"),
    "sources.rows_per_trigger_p50": ("rows", "lower"),
    "functions.kernel_tasks_per_trigger": ("count", "higher"),
    # query_mix
    "mix.total_s": ("s", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "operators.analysis_s": ("s", "lower"),
    "operators.optimization_s": ("s", "lower"),
    "operators.planning_s": ("s", "lower"),
    "operators.execute_s": ("s", "lower"),
    "session.load_table_calls": ("count", "lower"),
    "session.load_table_s": ("s", "lower"),
    **{f"q.{name}_s": ("s", "lower") for name in MIX_QUERIES},
}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that leaves at least
    10 samples above it; the maximum and 100 when there are too few
    samples for that."""
    if not values:
        return 0.0, 0.0
    ordered = sorted(values)
    n = len(ordered)
    k = n - 11
    if k < 0:
        return ordered[-1], 100.0
    return ordered[k], 100.0 * (k + 1) / n


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], spec: dict[str, tuple[str, str]]) -> str:
    """The final stdout line: every metric of ``spec``, no other."""
    if set(values) != set(spec):
        missing = sorted(set(spec) - set(values))
        extra = sorted(set(values) - set(spec))
        raise ValueError(f"metric set mismatch: missing {missing}, extra {extra}")
    for name, v in values.items():
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is not finite: {v}")
    metrics = {
        name: {"value": float(values[name]), "unit": spec[name][0]}
        for name in spec
    }
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    })
