"""TxTable manifest bookkeeping: one rule per job.

Table metadata (the _CARRIED fields) rides every commit forward unless
the committing verb sets it; a partition-value maintenance scope on an
unpartitioned table selects nothing; an unpartitioned read is one
parquet scan.
"""

from __future__ import annotations

import json

from pyspark.sql.types import StructType

from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
    _CARRIED,
    TxTable,
    TxTableStreamSink,
)


def _df(spark, rows, schema="k long, val string"):
    return spark.createDataFrame(rows, schema)


def _carried(t: TxTable) -> dict:
    raw = t._manifest_raw(t.latest_version())
    return {f: raw.get(f) for f in _CARRIED}


def test_every_verb_carries_table_metadata_it_does_not_set(spark, tmp_path):
    """Give a table all seven carried fields, then run each write verb:
    every field a verb does not set reaches the new raw manifest
    unchanged; overwrite clears the column mapping and generated
    columns and keeps the rest."""
    land = str(tmp_path / "landing")
    _df(spark, [(20, "c")]).coalesce(1).write.parquet(land)
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(
        _df(spark, [(i, f"v{i}") for i in range(6)], "k long, v string"),
        generated={"g": "k * 2"},
    )
    t.rename_column("v", "val")
    t.add_check_constraint("k_nonneg", "k >= 0")
    t.analyze()
    t.copy_into(land)
    TxTableStreamSink(t, app_id="s")(
        _df(spark, [(30, "s", 60)], "k long, val string, g long"), 0
    )
    before = _carried(t)
    assert all(before.values()), before
    assert "copy-registry" in before["features"]["writer"]

    def bare_commit():
        m = t.manifest()
        t._commit(
            m["files"],
            "stamp",
            m["version"],
            StructType.fromJson(json.loads(m["schema"])),
            m.get("partition_by"),
            extra={"stamp": 7},
        )

    steps = [
        ("append", lambda: t.append(_df(spark, [(7, "a")])), ()),
        ("merge", lambda: t.merge(_df(spark, [(1, "m")]), on="k"), ()),
        ("delete", lambda: t.delete("k = 3"), ()),
        ("delete_dv", lambda: t.delete_dv("k = 4"), ()),
        ("optimize_small", lambda: t.optimize_small(10**9), ()),
        ("compact", lambda: t.compact(1), ()),
        (
            "add_columns",
            lambda: t.add_columns({"x": "int"}),
            ("column_mapping",),
        ),
        ("_commit", bare_commit, ()),
    ]
    for name, run, sets in steps:
        v = t.latest_version()
        run()
        assert t.latest_version() == v + 1, name
        after = _carried(t)
        for f in _CARRIED:
            if f in sets:
                assert after[f] != before[f], (name, f)
            else:
                assert after[f] == before[f], (name, f)
        before = after
    assert t._manifest_raw(t.latest_version())["stamp"] == 7
    assert set(before["column_mapping"]) == {"k", "val", "g", "x"}

    t.overwrite(_df(spark, [(5, "e")]))
    after = _carried(t)
    assert after["column_mapping"] is None and after["generated"] is None
    for f in set(_CARRIED) - {"column_mapping", "generated"}:
        assert after[f] == before[f], f


def test_string_scope_on_unpartitioned_table_selects_nothing(spark, tmp_path):
    """A partition-value scope on an unpartitioned table matches no
    entry, so scoped maintenance is a commit-free no-op."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    assert t.compact(1, where="x") == 2
    assert t.optimize_small(10**9, where="x") == 2
    assert t.latest_version() == 2


def test_unpartitioned_read_is_one_scan(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    m = t.manifest()
    snap = t._read_entries(
        t.snapshot().schema, None, m["files"], _lineage=True
    )
    plan = snap._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert plan.count("Relation ") == 1
    assert sorted(r.k for r in snap.collect()) == [1, 2, 3]
