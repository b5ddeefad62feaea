"""kernel_replay: closed loop, one client, the paper's headline throughput.

A fixed hanoi-7 rate plan at 25k rows/s is rendered by
``profile_dataframe``, run through ``hanoi_burn_us`` and a 5 s tumbling
window ``stats_aggs("us")`` by (window, value, stream_id), and written to
the noop sink. The plan lasts one second per core, so the render spreads
over every core; its input size is ``RATE * plan seconds`` rows (100k on
four cores, about 3 s a replay, so a run holds several). The seed
moves the plan's epoch inside a window, which changes how the rows fall
into windows.

Checks: the rows counted after the aggregation equal the rows generated,
and every window's kernel sum is positive (the UDF ran and was not
pruned). Both come from a ``DataFrame.observe`` on the written frame, so
the check costs no extra job.
"""

from __future__ import annotations

import time

from .metrics import median
from .spans import job_counts, job_group
from .workload import Context, Outcome, warm_workers

RATE = 25_000
HEIGHT = 7
WINDOW = "5 seconds"

STAGES = ("render", "kernel", "full")


def make_plan(seconds: int):
    from spark_streaming_testbed_spark.plans import parse_plan

    return parse_plan({"sequence": [
        {"type": "fixed", "value": HEIGHT, "rate": RATE, "duration": seconds}
    ]})


def epoch_for(seed: int) -> int:
    from spark_streaming_testbed_spark.sources.profile_source import DEFAULT_EPOCH_MS

    return DEFAULT_EPOCH_MS + (seed * 7919) % 5000


def build(spark, plan, epoch_ms: int, stage: str, tracer):
    """The replay frame for ``stage`` and the Observation checking it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from spark_streaming_testbed_spark.functions.hanoi import hanoi_burn_us
    from spark_streaming_testbed_spark.functions.stats import stats_aggs
    from spark_streaming_testbed_spark.sources.profile_source import profile_dataframe

    with tracer.span("sources.profile_dataframe"):
        df = profile_dataframe(spark, plan, epoch_ms=epoch_ms)
    obs = Observation()
    if stage == "render":
        return df.observe(obs, F.count(F.lit(1)).alias("rows"),
                          F.max(F.lit(1)).alias("kernel_min")), obs
    with tracer.span("functions.hanoi_burn_us"):
        df = df.withColumn("us", hanoi_burn_us("value"))
    if stage == "kernel":
        return df.observe(obs, F.count(F.lit(1)).alias("rows"),
                          F.sum("us").alias("kernel_min")), obs
    with tracer.span("functions.stats_aggs"):
        aggs = stats_aggs("us")
    stats = df.groupBy(
        F.window("ts", WINDOW).alias("w"), "value", "stream_id"
    ).agg(*aggs)
    return stats.observe(obs, F.sum("cnt").alias("rows"),
                         F.min("sum_v").alias("kernel_min")), obs


def check(observed: dict, n_rows: int) -> str | None:
    """None when the replay's observed metrics are right, else why not."""
    rows = observed.get("rows")
    if rows != n_rows:
        return f"rows {rows} != {n_rows}"
    kernel_min = observed.get("kernel_min")
    if kernel_min is None or kernel_min <= 0:
        return f"kernel column not positive: {kernel_min}"
    return None


def replay(spark, plan, ctx: Context, stage: str, n_rows: int, out: Outcome,
           group: str) -> float:
    """Build, write to noop and check one replay; returns its wall."""
    out.attempted += 1
    t0 = time.perf_counter()
    try:
        with job_group(spark, group), ctx.tracer.span(f"replay.{stage}"):
            df, obs = build(spark, plan, epoch_for(ctx.seed), stage, ctx.tracer)
            with ctx.tracer.span("sink.noop_write"):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        problem = check(obs.get, n_rows)
    except Exception as exc:  # noqa: BLE001  (a raising replay is a failed op)
        wall = time.perf_counter() - t0
        problem = f"{stage}: {type(exc).__name__}: {exc}"
    if problem:
        out.fail(problem)
    return wall


def run(spark, ctx: Context) -> Outcome:
    out = Outcome()
    plan_seconds = max(4, ctx.cores)
    plan = make_plan(plan_seconds)
    n_rows = RATE * plan_seconds
    out.details["input_rows"] = n_rows
    warm_workers(spark)
    # the first full-size replay runs a second or more slower than the
    # later ones; run it untimed
    replay(spark, plan, ctx, "full", n_rows, out, "kernel.warm")

    if not ctx.traced:
        walls = []
        deadline = ctx.deadline()
        while not walls or time.perf_counter() < deadline:
            walls.append(replay(spark, plan, ctx, "full", n_rows, out,
                                f"kernel.{len(walls)}"))
        out.details["walls_s"] = walls
        wall = median(walls)
        out.end_to_end = {"rows_per_s": n_rows / wall, "latency_p50_s": wall}
        return out

    # traced: rounds of an untraced full replay (the overhead baseline),
    # then traced render-only, render+kernel and full replays
    stage_walls: dict[str, list[float]] = {s: [] for s in ("untraced", *STAGES)}
    deadline = ctx.deadline()
    while not stage_walls["full"] or time.perf_counter() < deadline:
        i = len(stage_walls["full"])
        ctx.tracer.enabled = False
        stage_walls["untraced"].append(replay(spark, plan, ctx, "full", n_rows, out,
                                        f"kernel.untraced.{i}"))
        ctx.tracer.enabled = True
        for stage in STAGES:
            stage_walls[stage].append(replay(spark, plan, ctx, stage, n_rows, out,
                                       f"kernel.{stage}.{i}"))
    untraced, render, kernel, full = (median(w) for w in stage_walls.values())
    counts = job_counts(spark, f"kernel.full.{len(stage_walls['full']) - 1}")
    out.details["walls_s"] = stage_walls
    out.end_to_end = {"rows_per_s": n_rows / full, "latency_p50_s": full}
    out.layers = {
        "kernel.rows": n_rows,
        "sources.render_s": render,
        "functions.kernel_s": kernel - render,
        "functions.agg_s": full - kernel,
        "kernel.core_busy_ratio":
            n_rows * ctx.kernel_us_per_row_1t / 1e6 / (full * ctx.cores),
        "trace.overhead_s": full - untraced,
        "spark.jobs": counts["jobs"],
        "spark.stages": counts["stages"],
        "spark.tasks": counts["tasks"],
    }
    return out
