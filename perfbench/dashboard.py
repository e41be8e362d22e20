"""``dashboard``: the reference's q1-q10 analytics suite, one closed-loop
client.  Each pass runs all ten queries in a seed-shuffled order; every
query is built fresh through ``__spark_entry__.queries()`` and collected.
Every result is checked against its DuckDB ``oracle_sql()`` result,
computed once in set-up."""

from __future__ import annotations

import math
import os
import random
from decimal import Decimal

import inputs

QUERIES = [f"q{i}" for i in range(1, 11)]


def _canon(v) -> str:
    """Sort key of one value: numbers to 9 significant digits."""
    if isinstance(v, (int, float, Decimal)) and not isinstance(v, bool):
        return format(float(v), ".9g")
    return str(v)


def _equal(a, b) -> bool:
    """Value equality as tools/compare.py has it: numbers within a
    relative 1e-9, everything else by string."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float, Decimal)) and isinstance(b, (int, float, Decimal)):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return str(a) == str(b)


def normalize(columns: list[str], rows: list[tuple]) -> tuple[tuple, list[tuple]]:
    """Columns sorted by name, rows sorted by value: the order-independent
    form two results are compared in."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = [tuple(r[i] for i in order) for r in rows]
    body.sort(key=lambda r: tuple(_canon(v) for v in r))
    return tuple(columns[i] for i in order), body


def same_result(want: tuple, got: tuple) -> bool:
    (wc, wr), (gc, gr) = want, got
    return wc == gc and len(wr) == len(gr) and all(
        _equal(a, b) for x, y in zip(wr, gr) for a, b in zip(x, y)
    )


def oracle_results(data_dir: str, names: dict[str, str]) -> dict[str, tuple]:
    """DuckDB results of each query's oracle SQL over ``data_dir``."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in inputs.DASHBOARD_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q, full in names.items():
            cur = con.execute(sql[full])
            cols = [d[0] for d in cur.description]
            out[q] = normalize(cols, cur.fetchall())
        return out
    finally:
        con.close()


def query_names() -> dict[str, str]:
    """Short name (q1..q10) -> registered query name."""
    import __spark_entry__ as entry

    out = {}
    for full in entry.queries():
        head = full.split("_", 1)[0]
        if head in QUERIES:
            out[head] = full
    missing = set(QUERIES) - set(out)
    if missing:
        raise RuntimeError(f"queries not registered: {sorted(missing)}")
    return out


def run(ctx) -> None:
    import __spark_entry__ as entry

    names = query_names()
    fns = entry.queries()
    data_dir = os.path.join(ctx.work, "tables")

    def setup_once() -> dict:
        inputs.write_dashboard_tables(data_dir, ctx.seed)
        return oracle_results(data_dir, names)

    expected = ctx.setup(setup_once)
    spark, tr = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed)
    queries: list[dict] = []
    passes: list[dict] = []

    def one_pass() -> None:
        order = QUERIES[:]
        rng.shuffle(order)
        results = []
        start = ctx.clock()
        with tr.span("dashboard.pass"):
            for q in order:
                t0 = ctx.clock()
                try:
                    with tr.span(f"plans.analytics.{q}"):
                        df = fns[names[q]](spark, data_dir)
                    with tr.span(f"spark.{q}"):
                        rows = df.collect()
                except Exception as e:  # noqa: BLE001 - counted as failed
                    ctx.log(f"{q} failed: {type(e).__name__}: {e}")
                    results.append((q, None, None))
                    continue
                queries.append(ctx.cost(t0))
                results.append((q, df.columns, rows))
        passes.append(ctx.cost(start))
        for q, cols, rows in results:  # checks stay outside the timing
            ok = cols is not None and same_result(
                expected[q], normalize(cols, [tuple(r) for r in rows])
            )
            ctx.count(ok, f"{q} result differs from its oracle")

    one_pass()  # untimed warm-up: class loading, code generation, JIT
    passes.clear()
    queries.clear()
    ctx.window(one_pass)
    ctx.end_to_end(refresh=passes, request=queries)
    if tr.enabled:
        for q in QUERIES:
            ctx.layer_span_median(f"plans.analytics.{q}.build_s", f"plans.analytics.{q}")
            ctx.layer_span_median(f"spark.{q}.execute_s", f"spark.{q}")
        ctx.request_counters("dashboard.pass")
