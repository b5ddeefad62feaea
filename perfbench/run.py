"""Run one benchmark workload against the engine and print its result.

    python3 perfbench/run.py --workload kernel_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` or the per-layer
metrics with ``--trace 1`` (see ``metrics.py`` and ``BENCHMARK.json``).
Everything the run writes stays under ``.perfbench/`` in the checkout:
generated tables, Spark scratch, per-run detail files and span dumps.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: workload name → module under perfbench/
WORKLOADS = {"kernel_replay": "kernel", "live_socket": "live", "query_mix": "mix"}
#: the run gives up (and exits non-zero) after this many seconds
RUN_LIMIT_S = 170
#: JVM heap, fixed in size, with a fixed young generation: with a heap
#: that G1 could grow and resize, peak RSS moved by 10-15% between runs
JVM_HEAP = "1g"
JVM_YOUNG = "256m"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep Spark, its Python workers and temp files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    # -XX:-UsePerfData: the JVM's perf-counter file would go to /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{JVM_HEAP} -Xmn{JVM_YOUNG}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def warm_up(spark) -> None:
    """One small SQL job: the session can answer a query."""
    from pyspark.sql import functions as F

    total = spark.range(1000).agg(F.sum("id")).collect()[0][0]
    if total != 499_500:
        raise RuntimeError(f"warm-up summed to {total}, not 499500")


def start_session(tracer):
    """get_session (which launches the JVM) + warm-up; returns (session,
    seconds taken)."""
    from spark_streaming_testbed_spark.session import get_session

    t0 = time.perf_counter()
    with tracer.span("session.get_session"):
        spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """Stop the Spark session and the JVM behind it, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001  (last resort: do not leave it running)
            proc.kill()
            proc.wait(timeout=10)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_streaming_testbed_spark", "session.py")):
        print(f"no engine package under {ROOT}: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)

    work = os.path.join(ROOT, ".perfbench")
    prepare_env(work)
    sys.path.insert(0, ROOT)
    from perfbench import host, metrics
    from perfbench.spans import Tracer
    from perfbench.workload import Context

    module = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    clock = {"start": time.perf_counter()}
    load_start = host.loadavg()
    probe = host.burn_probe()
    clock["probe"] = time.perf_counter()

    try:
        spark, setup_s = start_session(tracer)
        clock["setup"] = time.perf_counter()
        ctx = Context(
            seed=args.seed, seconds=args.seconds, traced=bool(args.trace),
            tracer=tracer, work_dir=work, cores=host.cores(),
            kernel_us_per_row_1t=probe["kernel_us_per_row_1t"],
        )
        outcome = module.run(spark, ctx)
        clock["workload"] = time.perf_counter()
        rss = {"python": host.peak_rss_mb(os.getpid()),
               "jvm": host.peak_rss_mb(jvm_pid())}
    finally:
        stop_jvm()
    clock["stop"] = time.perf_counter()
    signal.alarm(0)
    load_end = host.loadavg()

    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": sum(rss.values()),
        **outcome.end_to_end,
    }
    layers = dict.fromkeys(metrics.PER_LAYER, 0.0)
    layers.update(outcome.layers)
    layers.update({
        "functions.kernel_us_per_row_1t": probe["kernel_us_per_row_1t"],
        "host.kernel_us_per_row_allcores": probe["kernel_us_per_row_allcores"],
        "host.loadavg_start": load_start,
        "host.loadavg_end": load_end,
        "trace.spans": len(tracer.spans),
    })

    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "host_probe": probe,
            "clock_s": {k: v - clock["start"] for k, v in clock.items()},
            "peak_rss_mb": rss, "loadavg": [load_start, load_end],
            "end_to_end": e2e, "per_layer": layers if args.trace else None,
            "attempted": outcome.attempted, "failed": outcome.failed,
            "details": outcome.details,
            "self_s_by_span": tracer.self_by_name(),
        }, fh, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + ".spans.json")

    spec = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    values = layers if args.trace else e2e
    for name, (unit, better) in spec.items():
        print(f"{name:40s} {values[name]:14.6g} {unit:8s} ({better} is better)",
              file=sys.stderr)
    print(metrics.result_line(outcome.correct, outcome.attempted, outcome.failed,
                              values, spec), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
