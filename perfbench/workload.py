"""What a workload receives and what it hands back."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from .spans import Tracer


@dataclass
class Context:
    seed: int
    seconds: float
    traced: bool
    tracer: Tracer
    work_dir: str
    cores: int
    kernel_us_per_row_1t: float

    def deadline(self) -> float:
        """perf_counter() value at which the measured window closes."""
        return time.perf_counter() + self.seconds


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    #: the workload's rows_per_s and latency_p50_s
    end_to_end: dict[str, float] = field(default_factory=dict)
    #: per-layer metrics the workload measured (traced runs only)
    layers: dict[str, float] = field(default_factory=dict)
    #: anything else worth keeping in the run's detail file
    details: dict = field(default_factory=dict)

    def fail(self, reason: str) -> None:
        self.failed += 1
        self.correct = False
        self.details.setdefault("failures", []).append(reason)


def warm_workers(spark) -> None:
    """A tiny kernel + window query over one partition per core, outside
    any timed region: starts the Python UDF workers and loads the code
    the kernel path needs."""
    from pyspark.sql import functions as F

    from spark_streaming_testbed_spark.functions.hanoi import hanoi_burn_us
    from spark_streaming_testbed_spark.functions.stats import stats_aggs
    from spark_streaming_testbed_spark.plans import parse_plan
    from spark_streaming_testbed_spark.sources.profile_source import profile_dataframe

    seconds = spark.sparkContext.defaultParallelism
    plan = parse_plan({"sequence": [
        {"type": "fixed", "value": 7, "rate": 1000, "duration": seconds}]})
    rows = (
        profile_dataframe(spark, plan)
        .withColumn("us", hanoi_burn_us("value"))
        .groupBy(F.window("ts", "5 seconds"), "value")
        .agg(*stats_aggs("us"))
        .collect()
    )
    if sum(r.cnt for r in rows) != 1000 * seconds:
        raise RuntimeError(f"worker warm-up counted {sum(r.cnt for r in rows)} "
                           f"rows, not {1000 * seconds}")
