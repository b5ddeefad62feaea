"""live_socket: open loop, the reference's own experiment.

A separate generator process (``loadgen``) pushes hanoi-7 values over TCP
on a wall-clock schedule: steady, a spike of three times the rate, steady
again. The engine path is ``socket_stream`` → ``hanoi_burn_us`` → 5 s
window ``stats_aggs`` (update mode) → ``socket_sink``. The generator also
holds the sink's client and stamps each result line's arrival.

A result's latency is its arrival minus the scheduled send time of the
newest row it reflects. TCP keeps rows in order, so that row's index is
the running sum of the latest count of every window seen so far. The
latency limit is the reference's 5 s batch deadline: a row counts as
failed when the first result reflecting it is over the limit, or when
no result reflects it. (Per row, the wait also includes the span of the
batch; its worst case is reported as ``live.row_delay_max_s``.) The run
is correct when the final count equals the rows sent.

Each run first plays a short schedule, untimed, through a query of its
own: the first streaming query of a session is slow to warm. The timed
schedule then runs through a new query. A traced run plays the timed
schedule twice, each time through a new query: untraced first, then
traced. The tracing overhead is the traced result latency p50 minus the
untraced one.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import subprocess
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener

from . import loadgen
from .metrics import median, tail
from .spans import job_counts, map_stage_tasks
from .workload import Context, Outcome

#: longest wait for the query's first trigger before the schedule starts
FIRST_TRIGGER_WAIT_S = 15.0
#: length of the untimed pass that warms the session before the timed one:
#: the first streaming query of a session answers 0.3-0.6 s slower a
#: trigger, by an amount that varies with the host's load, while a second
#: query is warm from its first trigger
WARM_SECONDS = 6


def reflected_series(results: list) -> list[tuple[float, int]]:
    """(arrival, rows reflected) after each result line, where a line
    (arrival, window, cnt) replaces its window's count."""
    latest: dict[str, int] = {}
    out = []
    for arrival, window, cnt in results:
        latest[window] = cnt
        out.append((arrival, sum(latest.values())))
    return out


def send_time(sched: loadgen.Schedule, cum: list[int], row: int) -> float:
    """Scheduled send time of 0-based row ``row``."""
    return sched.offsets[bisect.bisect_right(cum, row)]


def analyse(sched: loadgen.Schedule, results: list,
            limit: float = loadgen.LATENCY_LIMIT_S) -> dict:
    """Latency, failures, backlog and spike recovery from one run.

    The rows a result reflects for the first time fail when that result's
    latency is over ``limit``; rows no result reflects fail too."""
    cum = list(itertools.accumulate(sched.counts))
    total = cum[-1]
    latencies: list[float] = []
    failed = 0
    done = 0  # rows reflected so far
    backlog_peak = 0
    row_delay_max = 0.0
    recovery = None
    complete_at = None
    for arrival, refl in reflected_series(results):
        sent_by = cum[bisect.bisect_right(sched.offsets, arrival) - 1] \
            if arrival >= sched.offsets[0] else 0
        backlog_peak = max(backlog_peak, sent_by - done)
        refl = min(refl, total)
        if refl <= done:
            continue
        newest = send_time(sched, cum, refl - 1)
        latency = arrival - newest
        latencies.append(latency)
        if latency > limit:
            failed += refl - done
        # the oldest row this result reflects for the first time
        row_delay_max = max(row_delay_max, arrival - send_time(sched, cum, done))
        done = refl
        if (recovery is None and newest >= sched.spike_end
                and latency <= limit):
            recovery = arrival - sched.spike_end
        if refl == total:
            complete_at = arrival
    failed += total - done
    tail_v, tail_pct = tail(latencies)
    last_arrival = results[-1][0] if results else sched.offsets[-1]
    complete = complete_at if complete_at is not None else last_arrival
    return {
        "rows": total,
        "reflected": done,
        "failed": failed,
        "latencies": latencies,
        "latency_p50_s": median(latencies),
        "latency_tail_s": tail_v,
        "latency_tail_pct": tail_pct,
        "row_delay_max_s": row_delay_max,
        "backlog_rows_peak": backlog_peak,
        "spike_recovery_s": recovery if recovery is not None
        else last_arrival - sched.spike_end,
        "complete_s": complete,
        "rows_per_s": total / (complete - sched.offsets[0]),
    }


class ProgressLog(StreamingQueryListener):
    """Benchmark-owned listener keeping each progress report as a dict."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def trigger_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-trigger medians over triggers that read rows."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]

    def ms(p, *keys):
        return sum(p.get("durationMs", {}).get(k, 0) for k in keys)

    def state_commit(p):
        return sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", []))

    return {
        "streaming.triggers": len(busy),
        "streaming.trigger_ms_p50": median([ms(p, "triggerExecution") for p in busy]),
        "streaming.add_batch_ms_p50": median([ms(p, "addBatch") for p in busy]),
        "streaming.planning_ms_p50": median([ms(p, "queryPlanning") for p in busy]),
        "streaming.offsets_ms_p50": median([
            ms(p, "latestOffset", "getBatch", "walCommit", "commitOffsets")
            for p in busy]),
        "streaming.state_commit_ms_p50": median([state_commit(p) for p in busy]),
        "sources.rows_per_trigger_p50": median([p["numInputRows"] for p in busy]),
    }


def _query(spark, port: int, server, tracer):
    from pyspark.sql import functions as F

    from spark_streaming_testbed_spark.functions.hanoi import hanoi_burn_us
    from spark_streaming_testbed_spark.functions.stats import stats_aggs
    from spark_streaming_testbed_spark.sources.socket_source import socket_stream
    from spark_streaming_testbed_spark.streaming.sinks import socket_sink

    with tracer.span("sources.socket_stream"):
        rows = socket_stream(spark, "127.0.0.1", port)
    with tracer.span("functions.hanoi_burn_us"):
        rows = rows.withColumn("us", hanoi_burn_us("value"))
    with tracer.span("functions.stats_aggs"):
        aggs = stats_aggs("us")
    stats = (
        rows.groupBy(F.window("ts", "5 seconds").alias("w"), "value", "stream_id")
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), "value", "stream_id",
                "cnt", "sum_v", "mean_v", "stddev_v")
    )
    with tracer.span("streaming.socket_sink"):
        return socket_sink(stats, server, mode="update").start()


def experiment(spark, ctx: Context, seconds: int, traced: bool):
    """One pass of the ``seconds``-long schedule through a new query and a
    new generator process. Returns the analysis, the generator's report,
    the query's run id and, when ``traced``, its progress reports."""
    from spark_streaming_testbed_spark.streaming.sinks import SocketBroadcastServer

    sched = loadgen.make_schedule(ctx.seed, seconds)
    server = SocketBroadcastServer()
    listener = None
    query_span: list[int | None] = [None]
    if traced:
        broadcast = server.broadcast

        def timed_broadcast(data: bytes) -> int:
            with ctx.tracer.span("streaming.broadcast", parent=query_span[0]):
                return broadcast(data)

        server.broadcast = timed_broadcast
        listener = ProgressLog()
        spark.streams.addListener(listener)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gen = subprocess.Popen(
        [sys.executable, "-m", "perfbench.loadgen", "--sink-port", str(server.port),
         "--seed", str(ctx.seed), "--seconds", str(seconds)],
        cwd=root, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    query = None
    try:
        port = json.loads(gen.stdout.readline())["port"]
        with ctx.tracer.span("streaming.query") as sid:
            query_span[0] = sid
            query = _query(spark, port, server, ctx.tracer)
            # start the schedule once the query is past its first, empty
            # trigger (source connect, state store and code set-up)
            started = time.perf_counter()
            while (query.lastProgress is None and query.isActive
                   and time.perf_counter() - started < FIRST_TRIGGER_WAIT_S):
                time.sleep(0.05)
            report, _ = gen.communicate("go\n", timeout=120)
        run_id = str(query.runId)
    finally:
        if query is not None:
            query.stop()
        if gen.poll() is None:
            gen.kill()
        gen.wait(timeout=10)
        server.close()
    gen_report = json.loads(report.splitlines()[-1])
    progress = []
    if listener is not None:
        time.sleep(0.5)  # progress events arrive asynchronously
        spark.streams.removeListener(listener)
        progress = listener.progress
    return analyse(sched, gen_report["results"]), gen_report, run_id, progress


def run(spark, ctx: Context) -> Outcome:
    out = Outcome()
    seconds = int(ctx.seconds)
    # the warm pass also starts the Python workers
    ctx.tracer.enabled = False
    warm = experiment(spark, ctx, WARM_SECONDS, traced=False)
    passes = []
    if ctx.traced:
        # an untraced pass first: the baseline of the tracing overhead
        passes.append(experiment(spark, ctx, seconds, traced=False))
    ctx.tracer.enabled = ctx.traced
    passes.append(experiment(spark, ctx, seconds, traced=ctx.traced))
    for found, _, _, _ in passes:
        out.attempted += found["rows"]
        out.failed += found["failed"]
    for found, _, _, _ in [warm, *passes]:
        if found["reflected"] != found["rows"]:
            out.correct = False
            out.details.setdefault("failures", []).append(
                f"reflected {found['reflected']} of {found['rows']} rows")
    found, gen_report, run_id, progress = passes[-1]
    out.details.update(found)
    out.details["late_max_s"] = gen_report["late_max_s"]
    out.end_to_end = {
        "rows_per_s": found["rows_per_s"],
        "latency_p50_s": found["latency_p50_s"],
    }
    if ctx.traced:
        counts = job_counts(spark, run_id)
        map_tasks = map_stage_tasks(spark, run_id)
        out.details["progress"] = progress
        out.details["untraced_latency_p50_s"] = passes[0][0]["latency_p50_s"]
        out.layers = {
            **trigger_metrics(progress),
            "live.rows_sent": found["rows"],
            "live.results": len(found["latencies"]),
            "live.latency_tail_s": found["latency_tail_s"],
            "live.latency_tail_pct": found["latency_tail_pct"],
            "live.spike_recovery_s": found["spike_recovery_s"],
            "live.backlog_rows_peak": found["backlog_rows_peak"],
            "live.row_delay_max_s": found["row_delay_max_s"],
            "loadgen.late_max_s": gen_report["late_max_s"],
            "streaming.sink_broadcast_ms_p50": 1000 * median([
                s.end - s.start for s in ctx.tracer.spans
                if s.name == "streaming.broadcast"]),
            "functions.kernel_tasks_per_trigger": median(map_tasks),
            "spark.jobs": counts["jobs"],
            "spark.stages": counts["stages"],
            "spark.tasks": counts["tasks"],
            "trace.overhead_s":
                found["latency_p50_s"] - passes[0][0]["latency_p50_s"],
        }
    return out
