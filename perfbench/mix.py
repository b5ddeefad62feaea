"""query_mix: closed loop, one client, the batch queries' build floor.

Three queries of the engine's headline list, an aggregation, a join and
a text query (``metrics.MIX_QUERIES``), run on seeded sf0.01 tables: each
is built by ``queries()[name](spark, sf_dir)`` and written to the noop
sink. Passes
over the mix repeat until the measured window closes; the seed permutes
the order of every pass. Each query's figure is its median over the
passes: ``latency_p50_s`` is the median of those, ``rows_per_s`` the
input-table rows the mix reads over their sum.

Checks: before the timed passes, every query's collected result is
compared with its DuckDB ``oracle_sql()`` twin, using the normalization
of ``tools/check_oracle.py``; the DuckDB side is computed once, outside
the timed region. Every later noop write carries a ``DataFrame.observe``
of its row count and the sum of one numeric column, compared with the
oracle's figures. A query that raises or disagrees is a failed operation.
Untimed passes run for ``WARM_S`` before the timed ones.
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
from contextlib import contextmanager
from typing import NamedTuple

from . import datagen
from .metrics import MIX_QUERIES, median
from .spans import job_counts, job_group
from .workload import Context, Outcome

SF = 0.01
#: untimed passes run this long before the timed ones: pass walls keep
#: falling as the JVM compiles the planner's and scheduler's code, by as
#: much as a third over the first ten seconds, at a pace that differs
#: from run to run
WARM_S = 6.0
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PHASES = ("analysis", "optimization", "planning")


def _check_oracle():
    """The engine's ``tools/check_oracle.py`` (not a package)."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_oracle

    return check_oracle


def oracle_results(sf_dir: str, names) -> dict:
    """name → (DuckDB arrow table, normalized columns, normalized rows)."""
    import duckdb

    import __spark_entry__ as entry
    from spark_streaming_testbed_spark.session import TABLES

    normalize = _check_oracle().normalize
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in names:
            table = con.execute(sql[name]).arrow()
            cols = table.schema.names
            rows = [tuple(r[c] for c in cols) for r in table.to_pylist()]
            out[name] = (table, *normalize(rows, cols))
        return out
    finally:
        con.close()


class Figures(NamedTuple):
    """What a timed write of a query must observe: its row count and the
    sum of ``column`` (None when the result has no numeric column)."""
    rows: int
    column: str | None
    total: float | None


def oracle_figures(table) -> Figures:
    """The row count and the first numeric column's sum (integer columns
    first, by name) of an oracle result table."""
    import pyarrow.compute as pc
    import pyarrow.types as pt

    fields = sorted(table.schema, key=lambda f: f.name)
    numeric = ([f for f in fields if pt.is_integer(f.type)]
               + [f for f in fields if pt.is_floating(f.type) or pt.is_decimal(f.type)])
    if not numeric:
        return Figures(table.num_rows, None, None)
    name = numeric[0].name
    total = pc.sum(table[name]).as_py()
    return Figures(table.num_rows, name, None if total is None else float(total))


def observed(df, figures: Figures):
    """``df`` observing the figures a write of it must match, and the
    Observation that will hold them."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    exprs = [F.count(F.lit(1)).alias("rows")]
    if figures.column is not None:
        exprs.append(F.sum(figures.column).alias("total"))
    return df.observe(obs, *exprs), obs


def check_figures(got: dict, figures: Figures) -> str | None:
    """None when a write observed the oracle's figures, else why not.
    Sums allow for the 9-digit float rounding the oracle check allows."""
    if got.get("rows") != figures.rows:
        return f"rowcount {got.get('rows')} != {figures.rows}"
    if figures.column is None:
        return None
    total = got.get("total")
    if total is None or figures.total is None:
        same = total is None and figures.total is None
    else:
        same = math.isclose(float(total), figures.total, rel_tol=1e-9,
                            abs_tol=1e-9 * max(1, figures.rows))
    return None if same else f"sum({figures.column}) {total} != {figures.total}"


def compare(cols: list[str], rows: list[tuple], expected_cols: list[str],
            expected_rows: list[tuple]) -> str | None:
    """None when Spark's rows equal the oracle's normalized rows, else
    the first difference found."""
    got_cols, got = _check_oracle().normalize(rows, cols)
    if len(got) != len(expected_rows):
        return f"rowcount {len(got)} != {len(expected_rows)}"
    if got_cols != expected_cols:
        return f"columns {got_cols} != {expected_cols}"
    if got != expected_rows:
        diff = next((a, b) for a, b in zip(got, expected_rows) if a != b)
        return f"values differ, first: {diff}"
    return None


@contextmanager
def load_table_shim(tracer, calls: list):
    """Wrap ``session.load_table`` wherever an engine module bound it, so
    each call is timed (and traced); ``calls`` gets (table, seconds).
    The engine's source is not touched; the bindings are restored on
    exit."""
    from spark_streaming_testbed_spark import session

    original = session.load_table

    def timed(spark, sf_dir, name, *args, **kwargs):
        t0 = time.perf_counter()
        with tracer.span("session.load_table"):
            df = original(spark, sf_dir, name, *args, **kwargs)
        calls.append((name, time.perf_counter() - t0))
        return df

    patched = [m for n, m in sys.modules.items()
               if n.startswith("spark_streaming_testbed_spark")
               and getattr(m, "load_table", None) is original]
    for m in patched:
        m.load_table = timed
    try:
        yield
    finally:
        for m in patched:
            m.load_table = original


def phases_s(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s own plan, after forcing it to a
    physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def check_pass(spark, ctx: Context, sf_dir: str, table_rows: dict, out: Outcome,
               expected: dict, queries: dict | None = None) -> dict[str, int]:
    """Run every query of ``expected`` (the oracle's results) once,
    collecting its result, and check it against the oracle's. Returns the
    input rows each query reads. ``queries`` defaults to the engine's
    registry."""
    if queries is None:
        import __spark_entry__ as entry

        queries = entry.queries()
    mismatches = _check_oracle().type_mismatches
    input_rows = {}
    for name, (table, exp_cols, exp_rows) in expected.items():
        out.attempted += 1
        calls: list = []
        try:
            with load_table_shim(ctx.tracer, calls):
                df = queries[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            problem = compare(df.columns, rows, exp_cols, exp_rows)
            types = mismatches(df, table)
            if types:
                problem = f"types differ: {types}"
        except Exception as exc:  # noqa: BLE001  (a raising query is a failed op)
            problem = f"{type(exc).__name__}: {exc}"
        if problem:
            out.fail(f"{name}: {problem}")
        input_rows[name] = sum(table_rows[t] for t, _ in calls)
    return input_rows


def timed_pass(spark, ctx: Context, sf_dir: str, order: list[str], out: Outcome,
               figures: dict[str, Figures], tag: str,
               layers: dict | None = None) -> dict[str, float]:
    """One pass over ``order``; returns each query's wall. Each write's
    observed figures are checked after its wall is taken. With ``layers``
    given, also traces each query and adds its layer figures."""
    import __spark_entry__ as entry

    queries = entry.queries()
    walls = {}
    for name in order:
        out.attempted += 1
        calls: list = []
        t0 = time.perf_counter()
        try:
            if layers is None:
                df, obs = observed(queries[name](spark, sf_dir), figures[name])
                df.write.format("noop").mode("overwrite").save()
            else:
                with job_group(spark, f"{tag}.build.{name}"), \
                        ctx.tracer.span("operators.build"), \
                        load_table_shim(ctx.tracer, calls):
                    df, obs = observed(queries[name](spark, sf_dir), figures[name])
                t1 = time.perf_counter()
                for p, v in phases_s(df).items():
                    layers[f"operators.{p}_s"] += v
                t2 = time.perf_counter()
                with job_group(spark, f"{tag}.exec.{name}"), \
                        ctx.tracer.span("operators.execute"):
                    df.write.format("noop").mode("overwrite").save()
                layers["operators.build_s"] += t1 - t0
                layers["operators.execute_s"] += time.perf_counter() - t2
                layers["session.load_table_calls"] += len(calls)
                layers["session.load_table_s"] += sum(s for _, s in calls)
                build = job_counts(spark, f"{tag}.build.{name}")
                run = job_counts(spark, f"{tag}.exec.{name}")
                layers["operators.build_jobs"] += build["jobs"]
                for k in ("jobs", "stages", "tasks"):
                    layers[f"spark.{k}"] += build[k] + run[k]
            walls[name] = time.perf_counter() - t0
            problem = check_figures(obs.get, figures[name])
        except Exception as exc:  # noqa: BLE001  (a raising query is a failed op)
            walls.setdefault(name, time.perf_counter() - t0)
            problem = f"{type(exc).__name__}: {exc}"
        if problem:
            out.fail(f"{name} ({tag}): {problem}")
    return walls


LAYER_SUMS = (
    "operators.build_s", "operators.build_jobs", "operators.analysis_s",
    "operators.optimization_s", "operators.planning_s", "operators.execute_s",
    "session.load_table_calls", "session.load_table_s",
    "spark.jobs", "spark.stages", "spark.tasks",
)


def run(spark, ctx: Context) -> Outcome:
    out = Outcome()
    sf_dir = os.path.join(ctx.work_dir, "data", f"sf{SF}-seed{ctx.seed}")
    t0 = time.perf_counter()
    table_rows = datagen.write_tables(sf_dir, SF, ctx.seed)
    t1 = time.perf_counter()
    expected = oracle_results(sf_dir, MIX_QUERIES)
    figures = {name: oracle_figures(table) for name, (table, _, _) in expected.items()}
    input_rows = check_pass(spark, ctx, sf_dir, table_rows, out, expected)
    out.details["input_rows"] = input_rows
    out.details["figures"] = figures
    out.details["datagen_s"] = t1 - t0
    out.details["check_pass_s"] = time.perf_counter() - t1
    rng = random.Random(ctx.seed)

    def order() -> list[str]:
        names = list(MIX_QUERIES)
        rng.shuffle(names)
        return names

    warm_until = time.perf_counter() + WARM_S
    warm = 0
    while not warm or time.perf_counter() < warm_until:
        timed_pass(spark, ctx, sf_dir, order(), out, figures, f"mix.warm.{warm}")
        warm += 1
    # traced runs alternate an untraced pass (the overhead baseline)
    # with each traced one
    untraced: list[float] = []
    passes: list[dict[str, float]] = []
    pass_layers: list[dict[str, float]] = []
    deadline = ctx.deadline()
    while not passes or time.perf_counter() < deadline:
        tag = f"mix.{len(passes)}"
        if ctx.traced:
            ctx.tracer.enabled = False
            untraced.append(sum(timed_pass(
                spark, ctx, sf_dir, order(), out, figures, f"{tag}.u").values()))
            ctx.tracer.enabled = True
        layers = dict.fromkeys(LAYER_SUMS, 0.0) if ctx.traced else None
        passes.append(timed_pass(spark, ctx, sf_dir, order(), out, figures, tag, layers))
        if layers is not None:
            pass_layers.append(layers)
    per_query = {n: median([p[n] for p in passes]) for n in MIX_QUERIES}
    out.details["pass_walls_s"] = passes
    out.end_to_end = {
        "rows_per_s": sum(input_rows.values()) / sum(per_query.values()),
        "latency_p50_s": median(list(per_query.values())),
    }
    if ctx.traced:
        out.layers = {k: median([pl[k] for pl in pass_layers]) for k in LAYER_SUMS}
        totals = [sum(p.values()) for p in passes]
        out.layers["mix.total_s"] = median(totals)
        out.layers["trace.overhead_s"] = median(totals) - median(untraced)
        out.layers.update({f"q.{n}_s": v for n, v in per_query.items()})
    return out
