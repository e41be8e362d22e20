"""Spark job budgets of the small-delta commit path: a 20-row keyed
change against a 4k-row table, the shape of one perfbench ``cdc`` cycle
(bronze merge, ``apply_cdc`` into silver, ``mv_apply_changes`` into a
gold aggregate).  At this size a commit's cost is the fixed cost of its
Spark jobs, so each verb's job count is pinned from above."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_23a91a05i4_spark.sources.matview import (
    mv_aggregate,
    mv_apply_changes,
    mv_init,
    table_changes,
)
from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
    TxTable,
    apply_cdc,
)

SCHEMA = "doc_id long, source string, n_chars long"
GROUPS = ["source"]
MEASURES = {"n_docs": "1", "sum_chars": "n_chars"}
UPDATED = range(0, 4000, 200)  # 20 existing keys


def _docs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 8).cast("string")).alias("source"),
        (F.col("id") * 7 % 1000).alias("n_chars"),
    )


def _updates(spark):
    return spark.createDataFrame(
        [(i, f"s{i % 8}", i % 1000 + 1) for i in UPDATED], SCHEMA
    )


@pytest.fixture
def tables(spark, tmp_path):
    """Bronze and silver hold the same 4k docs; gold aggregates silver.
    Bronze then takes one cycle's batch (40 appends, 20 updates, 10
    deletes), whose change feed silver has not applied yet."""
    bronze = TxTable(spark, str(tmp_path / "bronze"))
    silver = TxTable(spark, str(tmp_path / "silver"))
    gold = TxTable(spark, str(tmp_path / "gold"))
    bronze.init(_docs(spark, 0, 4000).coalesce(2))
    silver.init(_docs(spark, 0, 4000).coalesce(2))
    mv_init(gold, silver.snapshot(), GROUPS, MEASURES)
    seen = bronze.latest_version()
    bronze.append(_docs(spark, 4000, 4040))
    bronze.merge(_updates(spark), "doc_id")
    bronze.delete(F.col("doc_id").isin(list(range(100, 4000, 400))))
    feed = table_changes(bronze, seen).select(
        "doc_id",
        "source",
        "n_chars",
        F.when(F.col("_change_type") == "delete", "D").otherwise("U").alias("op"),
        # a rewritten row shows as delete + insert: the insert wins
        (F.col("_change_type") == "insert").cast("long").alias("seq"),
    )
    return bronze, silver, gold, feed


def _rows(t):
    return sorted(t.snapshot().select("doc_id", "source", "n_chars").collect())


def test_small_merge_job_budget(spark, jobs, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_docs(spark, 0, 4000).coalesce(2))
    with jobs("merge") as ids:
        t.merge(_updates(spark), "doc_id")
    assert len(ids) <= 9
    got = dict(t.snapshot().select("doc_id", "n_chars").collect())
    assert len(got) == 4000
    assert all(got[i] == i % 1000 + 1 for i in UPDATED)


def test_small_apply_cdc_job_budget(jobs, tables):
    bronze, silver, _, feed = tables
    with jobs("apply_cdc") as ids:
        apply_cdc(silver, feed, "doc_id")
    assert len(ids) <= 13
    assert _rows(silver) == _rows(bronze)


def test_small_mv_apply_changes_job_budget(jobs, tables):
    _, silver, gold, feed = tables
    seen = silver.latest_version()
    apply_cdc(silver, feed, "doc_id")
    with jobs("mv_apply_changes") as ids:
        mv_apply_changes(
            gold, table_changes(silver, seen), GROUPS, MEASURES
        )
    assert len(ids) <= 18
    want = mv_aggregate(silver.snapshot(), GROUPS, MEASURES)
    assert sorted(gold.snapshot().collect()) == sorted(want.collect())
