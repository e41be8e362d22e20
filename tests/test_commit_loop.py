"""One optimistic-concurrency loop for every TxTable write verb
(TxTable._commit_loop).

The budget tests make every commit attempt of one handle lose its race
(its ``_try_commit`` always raises CommitConflict, and nothing else
commits) and pin that each verb makes exactly ``max_retries`` attempts,
then raises the one "lost N commit races" error with nothing committed.
The rebasing verbs must replay their staged work instead of re-running
the plan; the re-deriving verbs re-run it per attempt.  A static test
pins the single loop and the single raise site in the module, and the
SCD2 test pins that scd2_merge_tx stages under the table's CHECK
constraints like every other verb that stages rows.  append_quarantine
re-splits only on a metadata drift; append's spent budget propagates.
copy_into refuses to commit files staged before a metadata drift, and
merge refuses to commit generated values completed before a
redeclaration of the generated columns.
"""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_23a91a05i4_spark.operators.scd2 import (
    SCD2_BUCKET_COL,
    scd2_bucket,
)
from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
    CommitConflict,
    TxTable,
    scd2_merge_tx,
)

TXTABLE = (
    Path(__file__).resolve().parents[1]
    / "ecommerce_data_pipeline_23a91a05i4_spark"
    / "sources"
    / "txtable.py"
)
UPDATE_COLS = "customer_id long, name string, city string"


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _table(spark, tmp_path, *frames):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(frames[0])
    for df in frames[1:]:
        t.append(df)
    return t


def _dim(spark, tmp_path, n=20, n_buckets=4):
    rows = [
        (i, f"name{i}", f"city{i % 7}", dt.date(2024, 1, 1), None, True)
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows,
        UPDATE_COLS + ", effective_date date, end_date date, "
        "is_current boolean",
    )
    t = TxTable(spark, str(tmp_path / "dim"))
    t.init(
        df.withColumn(
            SCD2_BUCKET_COL, scd2_bucket(F.col("customer_id"), n_buckets)
        ),
        partition_by=SCD2_BUCKET_COL,
    )
    return t


def _scd2(t, spark, rows, run_date, max_retries=3):
    updates = spark.createDataFrame(rows, UPDATE_COLS)
    return scd2_merge_tx(
        t, updates, "customer_id", ["name", "city"], run_date, 4,
        max_retries=max_retries,
    )


def _case(verb, spark, tmp_path):
    """(table, call running ``verb`` with max_retries=3, plan stagings
    the verb makes when every attempt loses a race nobody won)."""
    rows = _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1)
    if verb == "append":
        t = _table(spark, tmp_path, rows)
        return t, lambda: t.append(_df(spark, [(9, "z")]), max_retries=3), 1
    if verb == "merge":
        t = _table(spark, tmp_path, rows)
        src = _df(spark, [(1, "A"), (7, "new")])
        return t, lambda: t.merge(src, "k", max_retries=3), 3
    if verb == "delete":
        t = _table(spark, tmp_path, rows)
        return t, lambda: t.delete("k = 2", max_retries=3), 1
    if verb == "delete_dv":
        t = _table(spark, tmp_path, rows)
        return t, lambda: t.delete_dv("k = 2", max_retries=3), 1
    if verb == "optimize_small":
        t = _table(spark, tmp_path, rows, _df(spark, [(4, "d")]).coalesce(1))
        return t, lambda: t.optimize_small(1 << 30, max_retries=3), 1
    if verb == "add_columns":
        t = _table(spark, tmp_path, rows)
        return t, lambda: t.add_columns({"x": "string"}, max_retries=3), 0
    if verb == "restore":
        t = _table(spark, tmp_path, rows, _df(spark, [(4, "d")]))
        return t, lambda: t.restore(1, max_retries=3), 0
    if verb == "scd2_merge_tx":
        t = _dim(spark, tmp_path)
        update = [(3, "name3", "MOVED")]
        return t, lambda: _scd2(t, spark, update, "2024-06-01"), 3
    raise AssertionError(verb)


@pytest.mark.parametrize(
    "verb",
    [
        "append",
        "merge",
        "delete",
        "delete_dv",
        "optimize_small",
        "add_columns",
        "restore",
        "scd2_merge_tx",
    ],
)
def test_verb_makes_exactly_max_retries_commit_attempts(
    spark, tmp_path, verb
):
    t, run, want_stages = _case(verb, spark, tmp_path)
    head = t.latest_version()
    attempts: list[int] = []
    stages = {"n": 0}

    def lose(manifest, version):
        attempts.append(version)
        raise CommitConflict(
            f"version {version} of {t.path} was committed concurrently"
        )

    def counted(orig):
        def wrapper(*args, **kw):
            stages["n"] += 1
            return orig(*args, **kw)

        return wrapper

    t._try_commit = lose
    t._stage = counted(t._stage)
    t._stage_dv = counted(t._stage_dv)
    lost = f"^{verb} on .* lost 3 commit races$"
    with pytest.raises(CommitConflict, match=lost):
        run()
    assert attempts == [head + 1] * 3
    assert stages["n"] == want_stages
    assert t.latest_version() == head


def test_append_quarantine_propagates_append_budget(spark, tmp_path):
    """An append that loses every race (no metadata drift) is not
    re-split: append_quarantine makes append's max_retries attempts and
    surfaces append's own error."""
    t = _table(spark, tmp_path, _df(spark, [(1, "a")]))
    q = TxTable(spark, str(tmp_path / "q"))
    head = t.latest_version()
    attempts: list[int] = []

    def lose(manifest, version):
        attempts.append(version)
        raise CommitConflict(
            f"version {version} of {t.path} was committed concurrently"
        )

    t._try_commit = lose
    with pytest.raises(CommitConflict, match="^append on .* lost 3 commit races$"):
        t.append_quarantine(_df(spark, [(9, "z")]), q, max_retries=3)
    assert attempts == [head + 1] * 3
    assert t.latest_version() == head
    assert q.latest_version() is None


@pytest.mark.parametrize("lands", ["before_stage", "before_commit"])
def test_append_quarantine_resplits_on_constraint_drift(
    spark, tmp_path, lands
):
    """A CHECK constraint committed by another writer between the split
    and append's stage (the constraint guard fires) or its commit (the
    rebase refuses the metadata change) re-runs the split: the rows
    route, nothing raises."""
    t = _table(spark, tmp_path, _df(spark, [(0, "seed")]))
    q = TxTable(spark, str(tmp_path / "q"))
    other = TxTable(spark, t.path)
    fired: list[str] = []

    def add_constraint() -> None:
        fired.append(lands)
        other.add_check_constraint("v_nonempty", "length(v) > 0")

    if lands == "before_stage":
        append = t.append

        def drifting_append(df, **kw):
            if not fired:
                add_constraint()
            return append(df, **kw)

        t.append = drifting_append
    else:
        try_commit = t._try_commit

        def drifting_commit(manifest, version):
            if not fired:
                add_constraint()  # the other writer wins this version
                raise CommitConflict(f"version {version} was taken")
            return try_commit(manifest, version)

        t._try_commit = drifting_commit
    v_clean, v_quar = t.append_quarantine(
        _df(spark, [(1, "ok"), (2, "")]), q, max_retries=3
    )
    assert fired == [lands]
    assert v_clean is not None and v_quar is not None
    assert {r.k for r in t.snapshot().collect()} == {0, 1}
    assert [(r.k, r._violated) for r in q.snapshot().collect()] == [
        (2, "v_nonempty")
    ]


def test_copy_into_refuses_constraint_drift(spark, tmp_path):
    """copy_into stages once, under the base manifest's constraints.  A
    CHECK committed by another writer after that staging must fail the
    commit loudly instead of landing rows the constraint rejects; the
    re-run stages under the new constraint and rejects the bad row."""
    land = str(tmp_path / "landing")
    _df(spark, [(-1, "bad"), (1, "a")]).coalesce(1).write.parquet(land)
    t = _table(spark, tmp_path, _df(spark, [(0, "seed")]))
    other = TxTable(spark, t.path)
    stage = t._stage

    def drifting_stage(*args, **kw):
        staged = stage(*args, **kw)
        t._stage = stage
        other.add_check_constraint("k_nonneg", "k >= 0")
        return staged

    t._stage = drifting_stage
    with pytest.raises(CommitConflict, match="re-run"):
        t.copy_into(land)
    assert t.latest_version() == 2  # init + the constraint only
    assert {r.k for r in t.snapshot().collect()} == {0}
    with pytest.raises(Exception, match="k_nonneg"):
        t.copy_into(land)
    assert t.latest_version() == 2
    assert {r.k for r in t.snapshot().collect()} == {0}


def test_merge_refuses_generated_column_drift(spark, tmp_path):
    """merge completes a source's generated columns once, with the
    expressions of the manifest it set up against.  A generated column
    redeclared by another writer before the commit must fail the merge
    loudly instead of landing values of the old expression under the
    new declaration; the re-run completes them with the new one."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]).select("k"), generated={"g": "k * 2"})
    other = TxTable(spark, t.path)
    complete = t._complete_generated

    def drifting_complete(*args, **kw):
        out = complete(*args, **kw)
        t._complete_generated = complete
        other.overwrite(
            _df(spark, [(1, "a")]).select("k"), generated={"g": "k * 3"}
        )
        return out

    t._complete_generated = drifting_complete
    src = _df(spark, [(5, "x")]).select("k")
    with pytest.raises(CommitConflict, match="generated columns"):
        t.merge(src, "k")
    assert t.latest_version() == 2  # init + the overwrite only
    assert {(r.k, r.g) for r in t.snapshot().collect()} == {(1, 3)}
    t.merge(src, "k")
    assert {(r.k, r.g) for r in t.snapshot().collect()} == {(1, 3), (5, 15)}


def _loops_that_commit(tree: ast.AST) -> list[ast.AST]:
    """for/while loops whose body calls a ``_commit*`` method."""
    return [
        node
        for node in ast.walk(tree)
        if isinstance(node, (ast.For, ast.While))
        and any(
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and call.func.attr.startswith("_commit")
            for call in ast.walk(node)
        )
    ]


def test_txtable_has_one_commit_loop_and_one_races_raise():
    tree = ast.parse(TXTABLE.read_text())
    loops = _loops_that_commit(tree)
    assert len(loops) == 1, [n.lineno for n in loops]
    races = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "commit races" in node.value
    ]
    assert len(races) == 1, races


def test_scd2_merge_tx_enforces_check_constraints(spark, tmp_path):
    t = _dim(spark, tmp_path)
    t.add_check_constraint("city_not_bad", "city <> 'BAD'")
    head = t.latest_version()
    with pytest.raises(Exception, match="city_not_bad"):
        _scd2(t, spark, [(3, "name3", "BAD")], "2024-06-01")
    assert t.latest_version() == head  # the violating update left no commit
    _scd2(t, spark, [(3, "name3", "MOVED")], "2024-06-01")
    assert t.latest_version() == head + 1
    current = {
        r.customer_id: r.city
        for r in t.snapshot().filter("is_current").collect()
    }
    assert current[3] == "MOVED"
    assert "BAD" not in current.values()
    assert t.constraints() == {"city_not_bad": "city <> 'BAD'"}
