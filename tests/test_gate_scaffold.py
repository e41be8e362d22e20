"""The gate scaffold (plans/_gate.py): one owner for scratch dirs,
availableNow drains and materialize-before-cleanup.

The behavioural tests drive a toy gate through success and failure and
check that the result survives while every piece of scratch state (the
directory, the memory-sink view, the streaming query) is gone.  The
static tests read the package source, as the static-oracle suite reads
its artefacts, and pin the single places: one availableNow code site,
and no scratch cleanup in plans/ outside the scaffold.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

from ecommerce_data_pipeline_23a91a05i4_spark.plans._gate import gate

PKG = Path(__file__).resolve().parents[1] / "ecommerce_data_pipeline_23a91a05i4_spark"


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _toy_gate(seen: dict, fail: bool):
    @gate
    def toy_gate(spark, sf_dir, scratch):
        """Static side written into the scratch dir, stream side drained
        from files in it; returns their join."""
        seen["dir"] = scratch.dir
        static = os.path.join(scratch.dir, "static")
        spark.range(3).withColumnRenamed("id", "k").write.parquet(static)
        src = os.path.join(scratch.dir, "src")
        rows = [(i, f"v{i}") for i in range(5)]
        spark.createDataFrame(rows, "k long, v string").write.parquet(src)
        drained = scratch.drain(
            spark.readStream.schema("k long, v string").parquet(src),
            output_mode="append",
        )
        seen["views"] = _temp_views(spark)
        if fail:
            raise RuntimeError("gate body failed after its drain")
        return drained.join(spark.read.parquet(static), "k").orderBy("k")

    return toy_gate


def test_scaffold_materializes_then_cleans_up(spark):
    before = _temp_views(spark)
    seen: dict = {}
    out = _toy_gate(seen, fail=False)(spark, sf_dir="")
    assert seen["views"] - before  # the drain did register a view
    assert _temp_views(spark) == before
    assert not os.path.exists(seen["dir"])
    assert spark.streams.active == []
    # the returned relation outlives the dir and the view it was built on
    assert [tuple(r) for r in out.collect()] == [(0, "v0"), (1, "v1"), (2, "v2")]


def test_scaffold_cleans_up_when_the_gate_raises(spark):
    before = _temp_views(spark)
    seen: dict = {}
    with pytest.raises(RuntimeError, match="after its drain"):
        _toy_gate(seen, fail=True)(spark, sf_dir="")
    assert seen["views"] - before
    assert _temp_views(spark) == before
    assert not os.path.exists(seen["dir"])
    assert spark.streams.active == []


def _calls(path: Path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            yield name, node


def test_available_now_trigger_has_one_code_site():
    sites = [
        (p.relative_to(PKG).as_posix(), node.lineno)
        for p in sorted(PKG.rglob("*.py"))
        for name, node in _calls(p)
        if name == "trigger" and any(k.arg == "availableNow" for k in node.keywords)
    ]
    assert [path for path, _ in sites] == ["streaming/ingest.py"], sites


def test_only_the_scaffold_owns_scratch_cleanup_in_plans():
    owners = {
        (p.name, name, node.lineno)
        for p in sorted((PKG / "plans").glob("*.py"))
        for name, node in _calls(p)
        if name in ("mkdtemp", "rmtree", "dropTempView")
    }
    assert {path for path, _, _ in owners} == {"_gate.py"}, sorted(owners)
