"""Tests of the benchmark's pure-Python parts (no Spark, no JVM).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import dashboard  # noqa: E402
import inputs  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from spans import Span  # noqa: E402

# ------------------------------------------------------------------ stats


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 50) == stats.median(xs)


def test_tail_needs_ten_samples_beyond_it():
    assert stats.tail_rank(99) is None  # 10 % of 99 is 9.9 samples
    assert stats.tail_rank(100) == 90.0
    assert stats.tail_rank(200) == 95.0
    assert stats.tail_rank(1000) == 99.0
    assert stats.tail_rank(10000) == 99.9


def test_summarize_publishes_a_tail_only_with_enough_samples():
    assert stats.summarize([1.0, 2.0, 3.0]) == {"n": 3, "p50": 2.0}
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5 and s["p90"] == pytest.approx(89.1)


def test_failed_ratio():
    assert stats.failed_ratio(0, 5) == 0.0
    assert stats.failed_ratio(2, 8) == 0.25
    with pytest.raises(ValueError):
        stats.failed_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.failed_ratio(3, 2)


# ------------------------------------------------------------------ spans


def _spans():
    # request 0: a cycle with two layer calls, the second with a child
    return [
        Span(0, "cdc.cycle", None, 0, 0.0, 10.0),
        Span(1, "txtable.merge", 0, 0, 1.0, 3.0),
        Span(2, "cdc.hop1", 0, 0, 4.0, 9.0),
        Span(3, "txtable.apply_cdc", 2, 0, 5.0, 8.0),
    ]


def test_layer_of():
    assert spans.layer_of("txtable.merge") == "txtable"
    assert spans.layer_of("plans.analytics.q3") == "plans.analytics"
    assert spans.layer_of("session") == "session"


def test_self_time_subtracts_children():
    st = spans.self_times(_spans())
    assert st == {0: 3.0, 1: 2.0, 2: 2.0, 3: 3.0}


def test_self_time_counts_overlapping_children_once_and_clips_them():
    sp = [
        Span(0, "a.x", None, 0, 0.0, 10.0),
        Span(1, "b.y", 0, 0, 2.0, 6.0),
        Span(2, "b.z", 0, 0, 4.0, 12.0),  # overlaps b.y, runs past parent
    ]
    assert spans.self_times(sp)[0] == pytest.approx(2.0)


def test_jobs_are_attributed_to_the_deepest_open_span_by_time():
    owners = spans.attribute([0.5, 2.0, 4.5, 6.0, 9.5, 11.0], _spans())
    assert owners == [0, 1, 2, 3, 0, None]


def test_attribution_ignores_threads_and_groups():
    # a job submitted from another thread while the hop span is open
    # belongs to the hop, whoever submitted it
    sp = [Span(0, "cdc.hop1", None, 0, 0.0, 5.0)]
    assert spans.attribute([4.999], sp) == [0]
    assert spans.attribute([5.0], sp) == [None]  # windows are half-open


def test_tracer_records_nesting_and_request_ids():
    tr = spans.Tracer(True)
    tr.request = 7
    with tr.span("cdc.cycle"):
        with tr.span("txtable.append"):
            pass
    assert [(s.name, s.parent, s.request) for s in tr.spans] == [
        ("cdc.cycle", None, 7),
        ("txtable.append", 0, 7),
    ]
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(False)
    with tr.span("x.y") as s:
        assert s is None
    assert tr.spans == []


# ------------------------------------------------------- gated metrics


def test_refresh_cpu_is_net_of_steal_and_setup_adds_session_start():
    import types

    import run

    ctx = run.Ctx(types.SimpleNamespace(seed=1, seconds=1), None,
                  spans.Tracer(False), "unused", [os.getpid()])
    ctx.session_cpu, ctx.setup_cpu = 2.0, [5.0, 1.0, 3.0]
    refresh = [{"wall": 9.0, "cpu": 10.0, "steal": 0.2},
               {"wall": 7.0, "cpu": 8.0, "steal": 0.0},
               {"wall": 8.0, "cpu": 12.0, "steal": 0.5}]
    ctx.end_to_end(refresh, [{"wall": 1.0, "cpu": 2.0, "steal": 0.1}])
    assert ctx.metrics == {"refresh_cpu_s": 8.0, "setup_s": 5.0}
    assert ctx.per_layer["refresh_cpu_raw_s"] == 10.0
    assert ctx.per_layer["refresh_wall_s"] == 8.0
    assert ctx.per_layer["host.steal_share"] == 0.2


# ---------------------------------------------------------------- checks


def test_result_comparison_ignores_row_and_column_order():
    want = dashboard.normalize(["b", "a"], [(2, "x"), (1, "y")])
    got = dashboard.normalize(["a", "b"], [("y", 1.0), ("x", Decimal("2.00"))])
    assert dashboard.same_result(want, got)


def test_result_comparison_catches_wrong_values_and_rows():
    want = dashboard.normalize(["a"], [(1.0,), (2.0,)])
    assert not dashboard.same_result(want, dashboard.normalize(["a"], [(1.0,), (2.1,)]))
    assert not dashboard.same_result(want, dashboard.normalize(["a"], [(1.0,)]))
    assert not dashboard.same_result(want, dashboard.normalize(["c"], [(1.0,), (2.0,)]))


# ---------------------------------------------------------------- inputs


def test_dashboard_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    counts = inputs.write_dashboard_tables(str(a), 5)
    inputs.write_dashboard_tables(str(b), 5)
    inputs.write_dashboard_tables(str(c), 6)
    for t in inputs.DASHBOARD_TABLES:
        ta = pq.read_table(a / f"{t}.parquet")
        assert ta.num_rows == counts[t]
        assert ta.equals(pq.read_table(b / f"{t}.parquet"))
    assert not pq.read_table(a / "lineitem.parquet").equals(
        pq.read_table(c / "lineitem.parquet"))


def test_cdc_model_is_seeded_and_consistent():
    m1, m2 = inputs.CdcModel(3, rows=200), inputs.CdcModel(3, rows=200)
    b1, b2 = m1.batch(), m2.batch()
    assert b1 == b2
    ids = [d for d, _, _ in b1["append"]] + [d for d, _, _ in b1["merge"]] + b1["delete"]
    assert len(ids) == len(set(ids)) == sum(inputs.CDC_BATCH.values())
    assert not set(b1["delete"]) & set(m1.bronze)
    silver = m1.expected_silver()
    assert all(n % 2 == 0 and t == 2 * n for _s, n, t in silver.values())
    gold = m1.expected_gold()
    assert sum(n for n, _, _ in gold.values()) == len(silver)
