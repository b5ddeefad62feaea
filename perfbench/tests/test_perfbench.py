"""Fast checks of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from perfbench import kernel, live, loadgen, metrics, mix, run
from perfbench.spans import Span, Tracer, self_times
from perfbench.workload import Context, Outcome

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_units_and_directions_match_benchmark_json(spec):
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layers == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] < setup for m in spec["end_to_end"] if m["name"] != "setup_s")


def test_result_line_refuses_a_metric_set_that_differs_from_the_spec():
    values = {name: 1.0 for name in metrics.END_TO_END}
    line = json.loads(metrics.result_line(True, 3, 0, values, metrics.END_TO_END))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["rows_per_s"] == {"value": 1.0, "unit": "rows/s"}
    del values["setup_s"]
    with pytest.raises(ValueError):
        metrics.result_line(True, 3, 0, values, metrics.END_TO_END)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert metrics.tail([float(i) for i in range(25)]) == (14.0, 60.0)
    assert metrics.tail([1.0, 3.0, 2.0]) == (3.0, 100.0)


# -- live latency maths -----------------------------------------------------

SCHED = loadgen.Schedule(
    offsets=[0.0, 0.5, 1.0, 1.5], counts=[10, 10, 10, 10],
    spike_start=0.5, spike_end=1.0,
)
#: (arrival, window, latest count of that window)
RESULTS = [(0.8, "w0", 10), (1.7, "w0", 25), (2.1, "w1", 15)]


def test_reflected_rows_are_the_running_sum_of_latest_window_counts():
    assert live.reflected_series(RESULTS) == [(0.8, 10), (1.7, 25), (2.1, 40)]


def test_latency_uses_send_time_of_the_newest_reflected_row():
    found = live.analyse(SCHED, RESULTS, limit=5.0)
    # newest rows 9, 24, 39 sit in buckets sent at 0.0, 1.0 and 1.5
    assert found["latencies"] == pytest.approx([0.8, 0.7, 0.6])
    assert found["failed"] == 0
    assert found["reflected"] == 40
    assert found["complete_s"] == pytest.approx(2.1)
    assert found["rows_per_s"] == pytest.approx(40 / 2.1)
    # before the 1.7 s result 40 rows were sent and 10 reflected
    assert found["backlog_rows_peak"] == 30
    # first result after the spike that reflects post-spike rows in time
    assert found["spike_recovery_s"] == pytest.approx(0.7)


def test_rows_reflected_late_or_never_count_as_failed():
    late = live.analyse(SCHED, RESULTS, limit=0.75)
    # only the first result (0.8 s) is over the limit: its 10 rows fail
    assert late["failed"] == 10
    # row 10, sent at 0.5 s, is first reflected at 1.7 s
    assert late["row_delay_max_s"] == pytest.approx(1.2)
    short = live.analyse(SCHED, RESULTS[:2], limit=5.0)
    assert short["reflected"] == 25
    assert short["failed"] == 15


def test_schedule_renders_steady_spike_steady():
    sched = loadgen.make_schedule(seed=3, seconds=10)
    assert sched.offsets == sorted(sched.offsets)
    spike = sched.spike_end - sched.spike_start
    steady = 10 - spike
    assert sched.total == loadgen.BASE_RATE * steady + loadgen.SPIKE_RATE * spike
    assert loadgen.make_schedule(seed=3, seconds=10) == sched


# -- spans ------------------------------------------------------------------

def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        Span(1, "parent", 0.0, 10.0, None, "r"),
        Span(2, "a", 1.0, 3.0, 1, "r"),
        Span(3, "b", 2.0, 5.0, 1, "r"),  # overlaps a
        Span(4, "c", 8.0, 12.0, 1, "r"),  # runs past the parent's end
        Span(5, "d", 2.5, 3.0, 3, "r"),
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - (4.0 + 2.0))
    assert selfs[3] == pytest.approx(3.0 - 0.5)
    assert selfs[2] == pytest.approx(2.0)


def test_tracer_nests_spans_and_records_nothing_when_off():
    tracer = Tracer("run-1")
    with tracer.span("outer") as outer:
        with tracer.span("inner"):
            pass
    inner = next(s for s in tracer.spans if s.name == "inner")
    assert inner.parent == outer and inner.run_id == "run-1"
    off = Tracer("run-2", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


# -- output checks ----------------------------------------------------------

def test_kernel_check_rejects_lost_rows_and_a_pruned_kernel():
    assert kernel.check({"rows": 100, "kernel_min": 7}, 100) is None
    assert kernel.check({"rows": 99, "kernel_min": 7}, 100)
    assert kernel.check({"rows": 100, "kernel_min": 0}, 100)


class _FakeFrame:
    columns = ["k", "v"]
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.DoubleType())])

    def collect(self):
        return [(1, 0.5), (2, 1.5)]


def _expected(rows):
    table = pa.table({"k": pa.array([r[0] for r in rows], pa.int64()),
                      "v": pa.array([r[1] for r in rows], pa.float64())})
    return (table, *mix._check_oracle().normalize(rows, ["k", "v"]))


@pytest.mark.parametrize("oracle_rows, failed", [
    ([(2, 1.5), (1, 0.5)], 0),  # same rows, other order
    ([(1, 0.5), (2, 1.25)], 1),  # one value differs
    ([(1, 0.5)], 1),  # one row missing
])
def test_a_wrong_oracle_result_flips_the_query_to_failed(oracle_rows, failed):
    ctx = Context(seed=1, seconds=1, traced=False, tracer=Tracer("r", False),
                  work_dir="", cores=1, kernel_us_per_row_1t=1.0)
    out = Outcome()
    mix.check_pass(None, ctx, "", {}, out,
                   queries={"q": lambda spark, sf_dir: _FakeFrame()},
                   expected={"q": _expected(oracle_rows)})
    assert (out.attempted, out.failed, out.correct) == (1, failed, failed == 0)


def test_oracle_figures_prefer_an_integer_column():
    table = pa.table({"v": pa.array([0.5, 1.5]), "k": pa.array([1, 2], pa.int64()),
                      "a": pa.array(["x", "y"])})
    assert mix.oracle_figures(table) == mix.Figures(2, "k", 3.0)
    assert mix.oracle_figures(table.select(["a"])) == mix.Figures(2, None, None)


@pytest.mark.parametrize("got, wrong", [
    ({"rows": 2, "total": 3.0}, False),
    ({"rows": 2, "total": 3.0 + 1e-12}, False),  # summation order
    ({"rows": 1, "total": 3.0}, True),  # a row lost
    ({"rows": 2, "total": 3.5}, True),  # a value changed
    ({"rows": 2, "total": None}, True),
])
def test_a_wrong_observed_figure_flips_a_timed_write_to_failed(got, wrong):
    problem = mix.check_figures(got, mix.Figures(2, "k", 3.0))
    assert bool(problem) == wrong
