"""Work the engine does once per session instead of once per request:
compiled generated classes (session.py) and inferred table schemas
(catalog.py), plus the worker path that lets Python workers import the
package from any working directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod
from ecommerce_data_pipeline_23a91a05i4_spark import catalog
from ecommerce_data_pipeline_23a91a05i4_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    PACKAGE_ROOT,
)

SF_SMOKE = "/root/testdata/sf0.001"

ANALYTICS = [
    name
    for name in entry_mod.queries()
    if name.split("_", 1)[0] in {f"q{i}" for i in range(1, 11)}
]


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        os.remove(os.path.join(path, name))
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_unchanged_table_is_read_without_inference_job(
    spark, jobs, tmp_path, scheme
):
    """Local paths are signed through PosixFS, URIs through HadoopFS."""
    _write(str(tmp_path / "region.parquet"),
           pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}))
    sf_dir = scheme + str(tmp_path)
    first = catalog.table(spark, sf_dir, "region")
    with jobs("schema_cache_hit") as ids:
        again = catalog.table(spark, sf_dir, "region")
    assert ids == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    _write(path, pa.table({"n_nationkey": [0], "n_name": ["X"]}))
    assert catalog.table(spark, str(tmp_path), "nation").columns == [
        "n_nationkey", "n_name"
    ]
    _write(path, pa.table({"n_nationkey": [0], "n_regionkey": [3]}))
    df = catalog.table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_nationkey", "n_regionkey"]
    assert df.collect()[0].n_regionkey == 3


def test_schema_setting_flip_reinfers(spark, tmp_path):
    _write(str(tmp_path / "part.parquet"),
           pa.table({"p_name": pa.array([b"bolt"], pa.binary())}))
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        as_binary = catalog.table(spark, str(tmp_path), "part")
        spark.conf.set(key, "true")
        as_string = catalog.table(spark, str(tmp_path), "part")
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert as_binary.schema["p_name"].dataType.typeName() == "binary"
    assert as_string.schema["p_name"].dataType.typeName() == "string"
    assert as_string.collect()[0].p_name == "bolt"


@pytest.fixture(scope="module")
def fresh_session(tmp_path_factory) -> dict:
    """Facts from a session that ``get_spark`` starts in a fresh
    interpreter, outside the checkout and with PYTHONPATH unset.  Fresh,
    because the shared test session's codegen cache already holds
    thousands of other tests' classes, and which of them a full cache
    keeps depends on the order the tests ran in."""
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from pyspark.sql import functions as F
        import __spark_entry__ as entry_mod
        from ecommerce_data_pipeline_23a91a05i4_spark.session import get_spark

        def package_file(_):
            import ecommerce_data_pipeline_23a91a05i4_spark as pkg
            return pkg.__file__

        spark = get_spark("fresh-session")
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        fns = entry_mod.queries()
        counts = [compiles.METRIC_COMPILATION_TIME().getCount()]
        for _ in range(2):
            for name in {ANALYTICS!r}:
                fns[name](spark, {SF_SMOKE!r}).collect()
            counts.append(compiles.METRIC_COMPILATION_TIME().getCount())
        udf = F.udf(package_file, "string")
        try:
            worker = spark.range(1).select(udf("id")).first()[0]
        except Exception as e:
            worker = str(e).splitlines()[0]
        print("REPORT", json.dumps({{
            "cache_entries": spark.conf.get(
                "spark.sql.codegen.cache.maxEntries"
            ),
            "compiles": counts,
            "worker_package": worker,
        }}))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path_factory.mktemp("elsewhere"),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(x for x in out.stdout.splitlines() if x.startswith("REPORT "))
    return json.loads(line[len("REPORT "):])


def test_python_workers_import_the_package_from_any_directory(fresh_session):
    assert fresh_session["worker_package"].startswith(PACKAGE_ROOT)


def test_codegen_cache_holds_a_q1_to_q10_pass(fresh_session):
    """A q1-q10 pass needs more compiled classes than Spark's default
    cache of 100 holds; once warm, a repeat of it compiles none."""
    assert len(ANALYTICS) == 10
    assert fresh_session["cache_entries"] == str(CODEGEN_CACHE_ENTRIES)
    before, warm, again = fresh_session["compiles"]
    assert warm - before > 100
    assert again - warm == 0
