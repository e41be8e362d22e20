"""Transactional manifest-log table (sources/txtable.py): snapshot
isolation, optimistic-concurrency commits, time travel, vacuum, and the
SCD2 MERGE-as-commit path — run under BOTH filesystem implementations
(POSIX and the JVM Hadoop FileSystem over the same local directory), so
the object-store code path is exercised, not just documented."""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
    CommitConflict,
    TxTable,
    apply_cdc,
    scd2_merge_tx,
)


def _make_fs(spark, kind):
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.fs import (
        HadoopFS,
        PosixFS,
    )

    return PosixFS() if kind == "posix" else HadoopFS(spark)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


@pytest.mark.parametrize("fs_kind", ["posix", "hadoop"])
def test_init_append_overwrite_and_time_travel(spark, tmp_path, fs_kind):
    t = TxTable(spark, str(tmp_path / "t"), fs=_make_fs(spark, fs_kind))
    v1 = t.init(_df(spark, [(1, "a"), (2, "b")]))
    v2 = t.append(_df(spark, [(3, "c")]))
    v3 = t.overwrite(_df(spark, [(9, "z")]))
    assert (v1, v2, v3) == (1, 2, 3)
    assert {r.k for r in t.snapshot().collect()} == {9}
    assert {r.k for r in t.snapshot(version=2).collect()} == {1, 2, 3}
    assert {r.k for r in t.snapshot(version=1).collect()} == {1, 2}
    assert [h["op"] for h in t.history()] == ["init", "append", "overwrite"]


@pytest.mark.parametrize("fs_kind", ["posix", "hadoop"])
def test_commit_is_create_if_absent_and_append_retries(
    spark, tmp_path, fs_kind
):
    """Two handles racing to the same next version: the raw commit of
    the loser must raise CommitConflict, while append() (a blind add)
    retries against the new base and BOTH rows survive."""
    path = str(tmp_path / "t")
    a = TxTable(spark, path, fs=_make_fs(spark, fs_kind))
    b = TxTable(spark, path, fs=_make_fs(spark, fs_kind))
    a.init(_df(spark, [(1, "a")]))

    # stage b's data first, then let a commit version 2 out from under it
    base = b.manifest()
    staged_b = b._stage(_df(spark, [(3, "c")]), b.manifest())
    a.append(_df(spark, [(2, "b")]))
    from pyspark.sql.types import StructType
    import json as _json

    with pytest.raises(CommitConflict):
        b._commit(
            base["files"] + staged_b,
            "append",
            base["version"],
            StructType.fromJson(_json.loads(base["schema"])),
            None,
        )
    # the public append() path rides out the same race
    b.append(_df(spark, [(4, "d")]))
    assert {r.k for r in a.snapshot().collect()} == {1, 2, 4}


@pytest.mark.parametrize("fs_kind", ["posix", "hadoop"])
def test_crash_before_commit_leaves_table_unchanged_and_vacuum_collects(
    spark, tmp_path, fs_kind
):
    t = TxTable(spark, str(tmp_path / "t"), fs=_make_fs(spark, fs_kind))
    t.init(_df(spark, [(1, "a")]))
    # simulate a writer dying after staging but before committing
    t._stage(_df(spark, [(99, "zz")]), t.manifest())
    assert {r.k for r in t.snapshot().collect()} == {1}
    t.append(_df(spark, [(2, "b")]))
    removed = t.vacuum(keep_versions=1, min_age_seconds=0)
    # v1's file is still referenced by v2 (append carries it forward),
    # so vacuum collects exactly the orphaned commit dir among DATA
    # paths (pruned manifests' log sidecars are separate log garbage)
    data_removed = [p for p in removed if "/_txlog/" not in p]
    assert len(data_removed) == 1
    assert {r.k for r in t.snapshot().collect()} == {1, 2}
    # version 1's manifest was pruned by retention
    with pytest.raises(FileNotFoundError):
        t.manifest(1)


def test_vacuum_drops_overwritten_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    removed = t.vacuum(keep_versions=1, min_age_seconds=0)
    # version 1's commit dir is unreferenced
    assert len([p for p in removed if "/_txlog/" not in p]) == 1
    assert {r.k for r in t.snapshot().collect()} == {2}


def test_registry_txtable_roundtrip(spark, tmp_path):
    from ecommerce_data_pipeline_23a91a05i4_spark.sources import registry

    path = str(tmp_path / "t")
    registry.write(_df(spark, [(1, "a")]), "txtable", path)
    registry.write(_df(spark, [(2, "b")]), "txtable", path, mode="append")
    got = registry.read(spark, "txtable", path)
    assert {r.k for r in got.collect()} == {1, 2}
    old = registry.read(spark, "txtable", path, version=1)
    assert {r.k for r in old.collect()} == {1}


@pytest.mark.parametrize("fs_kind", ["posix", "hadoop"])
def test_delete_rewrites_only_hit_files_and_keeps_time_travel(
    spark, tmp_path, fs_kind
):
    """delete(): SQL semantics (TRUE removed, FALSE and NULL kept), only
    the files containing matches rewritten (untouched entries carried
    into the child manifest byte-identically), pre-delete version still
    time-travels, and a predicate matching nothing commits no manifest."""
    t = TxTable(spark, str(tmp_path / "t"), fs=_make_fs(spark, fs_kind))
    # one file per commit so "which files a delete rewrites" is exact
    t.init(_df(spark, [(1, "a"), (2, "b"), (4, None)]).coalesce(1))
    t.append(_df(spark, [(10, "x"), (11, "y")]).coalesce(1))
    appended = {e["path"] for e in t.manifest()["files"]} - {
        e["path"] for e in t.manifest(1)["files"]
    }
    v = t.delete(F.col("v") == "b")
    assert v == 3
    # SQL DELETE semantics: TRUE removed (k=2); the NULL-predicate row
    # (k=4, v NULL) survives
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 4, 10, 11]
    # only the init commit's file contained a match — the appended
    # commit's entries must carry BY REFERENCE, byte-identical paths
    after = {e["path"] for e in t.manifest()["files"]}
    assert appended <= after
    assert not ({e["path"] for e in t.manifest(1)["files"]} & after)
    # no-op: nothing matches -> same version, no new manifest
    assert t.delete(F.col("k") > 100) == 3
    assert t.latest_version() == 3
    # time travel still serves pre-delete data
    assert sorted(r.k for r in t.snapshot(version=2).collect()) == [
        1, 2, 4, 10, 11
    ]
    assert [h["op"] for h in t.history()] == ["init", "append", "delete"]


def test_delete_partitioned_preserves_layout_and_carries_untouched_parts(
    spark, tmp_path
):
    rows = [(i, "p1" if i < 10 else "p2") for i in range(20)]
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(
        spark.createDataFrame(rows, "k long, part string"),
        partition_by="part",
    )
    before = {e["path"] for e in t.manifest()["files"] if e["part"] == "p2"}
    t.delete("part = 'p1' AND k < 5")
    m = t.manifest()
    assert m.get("partition_by") == "part"
    # p2's files were untouched: carried by reference, identical paths
    assert {e["path"] for e in m["files"] if e["part"] == "p2"} == before
    got = sorted(r.k for r in t.snapshot().collect())
    assert got == list(range(5, 20))
    # the rewritten rows kept their partition values through the rewrite
    assert sorted(
        r.k for r in t.snapshot().filter("part = 'p1'").collect()
    ) == list(range(5, 10))


def test_append_rejects_mismatched_schema_loudly(spark, tmp_path):
    """Parquet reads match columns by name, so a mismatched append
    would corrupt SILENTLY (missing columns read as NULL, extras
    vanish) — both the batch append and the streaming sink must raise
    instead; nullability alone must not trip the check."""
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTableStreamSink,
    )

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.createDataFrame([(2, "b", 0.5)], "k long, v string, x double"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.createDataFrame([(2,)], "k long"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.createDataFrame([(2, 3)], "k long, v long"))  # type drift
    sink = TxTableStreamSink(t)
    with pytest.raises(ValueError, match="schema mismatch"):
        sink(spark.createDataFrame([(2,)], "k long"), 0)
    assert t.latest_version() == 1  # nothing committed
    t.append(_df(spark, [(2, "b")]))  # matching append still works
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2]


def test_delete_then_vacuum_destroys_predelete_bytes(spark, tmp_path):
    """The takedown pair: delete() removes rows from the live snapshot;
    vacuum() afterwards destroys the pre-delete files and manifests so
    the data is actually gone (until then time travel can resurface it,
    which is the documented retention contract)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "keepme"), (2, "secret")]))
    t.delete(F.col("v") == "secret")
    t.vacuum(keep_versions=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError):
        t.manifest(1)
    # no surviving parquet byte holds the deleted value
    import pathlib

    blobs = b"".join(
        p.read_bytes() for p in pathlib.Path(tmp_path).rglob("*.parquet")
    )
    assert b"secret" not in blobs and b"keepme" in blobs


def test_delete_and_stats_survive_uri_encoded_partition_values(
    spark, tmp_path
):
    """A scan names its files by URI, encoded exactly once (probed:
    literal space -> %20, on-disk Hive escape %25 -> %2525, '+' kept),
    while the manifest stores the raw on-disk name.  Every file-granular
    verb (delete, merge, delete_dv) must find its manifest entries (not
    raise 'scanned file set does not match'), and staged stats and
    bloom filters must attach to those files instead of silently
    vanishing — on a table whose root path holds the same characters."""
    rows = [
        (1, "north america"), (2, "north america"),  # literal space
        (3, "50%off"), (4, "50%off"),                # Hive-escaped '%'
        (5, "a+b"), (6, "a+b"),                      # literal '+'
    ]
    t = TxTable(
        spark, str(tmp_path / "root 5%+x" / "t"), stats_col="k",
        bloom_col="k",
    )
    t.init(
        spark.createDataFrame(rows, "k long, region string").coalesce(1),
        partition_by="region",
    )

    def check_indexes():
        files = t.manifest()["files"]
        assert all("stats" in e and "bloom" in e for e in files)

    def vectored_parts():
        return [e["part"] for e in t.manifest()["files"] if e.get("dv")]

    m = t.manifest()
    assert any(" " in e["path"] for e in m["files"])    # literal space
    assert any("%25" in e["path"] for e in m["files"])  # escaped '%'
    assert any("+" in e["path"] for e in m["files"])    # literal '+'
    check_indexes()
    assert t.prune_counts_eq([("k", 5)]) == (1, 3)
    t.delete("region = 'north america' AND k = 1")
    t.delete("region = '50%off' AND k = 3")
    check_indexes()
    t.delete_dv("region = 'a+b' AND k = 6")
    assert vectored_parts() == ["a+b"]
    # the merge's scans read the vectored a+b file through its vector
    t.merge(
        spark.createDataFrame(
            [(5, "a+b"), (7, "50%off"), (8, "50%off")],
            "k long, region string",
        ),
        "k",
    )
    check_indexes()
    assert vectored_parts() == []
    t.delete_dv("region = '50%off' AND k = 7")
    t.delete_dv("region = 'north america' AND k = 2")  # drops its file
    assert vectored_parts() == ["50%off"]
    got = sorted((r.k, r.region) for r in t.snapshot().collect())
    assert got == [(4, "50%off"), (5, "a+b"), (8, "50%off")]


def test_delete_predicate_reaches_the_lineage_scan(
    spark, tmp_path, monkeypatch
):
    """delete's hit-file scan binds each row's file from the scan's
    deterministic ``_metadata``, so its predicate is pushed into the
    parquet scan (DataFilters) instead of being evaluated above a
    scan of every row."""
    import re

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    plans = []
    frame = type(t.snapshot())
    collect = frame.collect

    def spy(df):
        if "_tx_file" in df.columns:
            plans.append(df._jdf.queryExecution().sparkPlan().toString())
        return collect(df)

    monkeypatch.setattr(frame, "collect", spy)
    t.delete(F.col("v") == "b")
    monkeypatch.undo()
    assert len(plans) == 1
    found = re.findall(r"DataFilters: \[([^\]]*)\]", plans[0])
    assert found and all("v#" in f for f in found), plans[0]
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 3]


def test_user_column_named_metadata_keeps_lineage_working(spark, tmp_path):
    """A table may have a column named ``_metadata``: lineage binds
    through the scan's own metadata column, so file-granular DML,
    vectored reads and the change feed still find each row's file."""
    from ecommerce_data_pipeline_23a91a05i4_spark.sources import (
        matview as mvx,
    )

    schema = "k long, _metadata long"
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(
        spark.createDataFrame(
            [(k, k * 10) for k in range(1, 7)], schema
        ).coalesce(1)
    )
    t.delete("k = 1")
    v = t.delete_dv("k = 4")
    assert any(e.get("dv") for e in t.manifest()["files"])
    got = sorted(tuple(r) for r in t.snapshot().collect())
    assert got == [(2, 20), (3, 30), (5, 50), (6, 60)]
    ch = mvx.table_changes(t, v - 1, v).collect()
    assert [(r.k, r._metadata, r._change_type) for r in ch] == [
        (4, 40, "delete")
    ]
    t.merge(spark.createDataFrame([(2, 99), (7, 70)], schema), "k")
    got = sorted(tuple(r) for r in t.snapshot().collect())
    assert got == [(2, 99), (3, 30), (5, 50), (6, 60), (7, 70)]


def test_data_skipping_stats_prune_safely_and_survive_carry(spark, tmp_path):
    """Manifest stats: disjoint files skip, overlapping files read,
    entries carried by reference keep their stats through append AND
    delete, stats-less entries (a writer without stats_col) are never
    skipped, and the pruned+filtered read equals the full filtered
    read."""
    t = TxTable(spark, str(tmp_path / "t"), stats_col="k")
    t.init(_df(spark, [(1, "a"), (5, "b")]).coalesce(1))     # k in [1, 5]
    t.append(_df(spark, [(10, "c"), (20, "d")]).coalesce(1))  # [10, 20]
    t.append(_df(spark, [(100, "e")]).coalesce(1))            # [100, 100]
    assert t.prune_counts("k", 8, 30) == (1, 3)
    assert t.prune_counts("k", 5, 10) == (2, 3)   # boundary touch reads
    assert t.prune_counts("k", 200, 300) == (0, 3)
    got = sorted(
        r.k for r in t.snapshot(prune=("k", 8, 30)).filter("k BETWEEN 8 AND 30").collect()
    )
    assert got == [10, 20]
    # a stats-less writer's files are always read
    plain = TxTable(spark, str(tmp_path / "t"))  # no stats_col
    plain.append(_df(spark, [(1000, "z")]).coalesce(1))
    assert t.prune_counts("k", 8, 30) == (2, 4)  # new file unprunable
    # delete rewrites refresh stats; carried entries keep theirs
    t2 = TxTable(spark, str(tmp_path / "t"), stats_col="k")
    t2.delete(F.col("k") == 20)  # rewrites only the [10, 20] file
    m = t2.manifest()
    by_range = sorted(
        tuple(e["stats"]["k"]) for e in m["files"] if "stats" in e
    )
    assert (10, 10) in by_range          # rewritten survivor file
    assert (1, 5) in by_range and (100, 100) in by_range  # carried
    assert t2.prune_counts("k", 15, 30) == (1, 4)  # only the no-stats file


def test_registry_txtable_rejects_unconsumed_options_and_modes(
    spark, tmp_path
):
    """txtable consumes no reader/writer options beyond version/
    partitionBy — leftovers must raise, not silently no-op, and an
    unknown mode must never implicitly create the table (ADVICE r4)."""
    from ecommerce_data_pipeline_23a91a05i4_spark.sources import registry

    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="unsupported mode"):
        registry.write(_df(spark, [(1, "a")]), "txtable", path, mode="ignore")
    assert not (tmp_path / "t").exists()  # rejected mode did not init
    with pytest.raises(ValueError, match="mergeSchema"):
        registry.write(
            _df(spark, [(1, "a")]), "txtable", path, mergeSchema=True
        )
    registry.write(_df(spark, [(1, "a")]), "txtable", path)
    with pytest.raises(ValueError, match="badOption"):
        registry.read(spark, "txtable", path, badOption=1)


def _dim(spark, n=60):
    rows = [
        (i, f"name{i}", f"city{i % 7}", dt.date(2024, 1, 1), None, True)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "customer_id long, name string, city string, "
        "effective_date date, end_date date, is_current boolean",
    )


@pytest.mark.parametrize("fs_kind", ["posix", "hadoop"])
def test_scd2_merge_tx_matches_full_merge_and_carries_files_untouched(
    spark, tmp_path, fs_kind
):
    """The transactional SCD2 path must (a) equal the plain scd2_merge
    answer, (b) report only buckets holding updated keys, (c) carry every
    unaffected file into the child manifest by reference — same path,
    same bytes, same mtime — and (d) keep the parent snapshot readable
    (time travel), which the swap path never offered."""
    from ecommerce_data_pipeline_23a91a05i4_spark.operators.scd2 import (
        SCD2_BUCKET_COL,
        scd2_bucket,
        scd2_merge,
    )

    n_buckets = 8
    dim = _dim(spark)
    t = TxTable(spark, str(tmp_path / "dim"), fs=_make_fs(spark, fs_kind))
    t.init(
        dim.withColumn(
            SCD2_BUCKET_COL, scd2_bucket(F.col("customer_id"), n_buckets)
        ),
        partition_by=SCD2_BUCKET_COL,
    )
    updates = spark.createDataFrame(
        [(3, "name3", "MOVED"), (41, "name41", "MOVED"), (999, "new", "x")],
        "customer_id long, name string, city string",
    )

    before = {e["path"]: None for e in t.manifest()["files"]}
    stats_before = {
        p: (os.path.getsize(tmp_path / "dim" / p), os.path.getmtime(tmp_path / "dim" / p))
        for p in before
    }

    affected = scd2_merge_tx(
        t, updates, "customer_id", ["name", "city"], "2024-06-01", n_buckets
    )
    want_buckets = sorted(
        {
            r.b
            for r in updates.select(
                scd2_bucket(F.col("customer_id"), n_buckets).alias("b")
            ).collect()
        }
    )
    assert affected == want_buckets

    # (a) value parity with the in-memory merge
    got = t.snapshot().drop(SCD2_BUCKET_COL)
    want = scd2_merge(
        dim, updates, "customer_id", ["name", "city"], "2024-06-01"
    )
    key = lambda r: (r["customer_id"], str(r["effective_date"]), r["is_current"])
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))

    # (c) unaffected files: same entries in the child manifest, untouched on disk
    child = t.manifest()
    affected_parts = {str(b) for b in affected}
    carried = [e["path"] for e in child["files"] if e["part"] not in affected_parts]
    assert set(carried) == {
        e["path"]
        for e in t.manifest(1)["files"]
        if e["part"] not in affected_parts
    }
    for p in carried:
        f = tmp_path / "dim" / p
        assert (os.path.getsize(f), os.path.getmtime(f)) == stats_before[p]

    # (d) the parent snapshot is still exactly the initial dimension
    v1 = t.snapshot(version=1).drop(SCD2_BUCKET_COL)
    assert sorted(map(key, v1.collect())) == sorted(map(key, dim.collect()))


def test_scd2_merge_tx_is_idempotent(spark, tmp_path):
    from ecommerce_data_pipeline_23a91a05i4_spark.operators.scd2 import (
        SCD2_BUCKET_COL,
        scd2_bucket,
    )

    t = TxTable(spark, str(tmp_path / "dim"))
    t.init(
        _dim(spark, 20).withColumn(
            SCD2_BUCKET_COL, scd2_bucket(F.col("customer_id"), 4)
        ),
        partition_by=SCD2_BUCKET_COL,
    )
    updates = spark.createDataFrame(
        [(3, "name3", "MOVED")], "customer_id long, name string, city string"
    )
    scd2_merge_tx(t, updates, "customer_id", ["name", "city"], "2024-06-01", 4)
    first = sorted(
        (r.customer_id, str(r.effective_date), r.is_current)
        for r in t.snapshot().collect()
    )
    # same batch again: change detection sees no diff, still commits a
    # no-op version whose VALUES are identical
    scd2_merge_tx(t, updates, "customer_id", ["name", "city"], "2024-07-01", 4)
    second = sorted(
        (r.customer_id, str(r.effective_date), r.is_current)
        for r in t.snapshot().collect()
    )
    assert first == second


def test_partitioned_snapshot_reinjects_partition_column(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (3, "c", 0)], "k long, v string, p int"
    )
    t.init(df, partition_by="p")
    got = {(r.k, r.p) for r in t.snapshot().collect()}
    assert got == {(1, 0), (2, 1), (3, 0)}
    assert dict(t.snapshot().dtypes)["p"] == "int"


def test_vacuum_age_guard_spares_fresh_stages(spark, tmp_path):
    """An unreferenced commit dir younger than min_age_seconds must
    survive vacuum — it may be a concurrent writer's live stage whose
    manifest is about to land."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    # an "in-flight" writer
    staged = t._stage(_df(spark, [(2, "b")]), t.manifest())
    assert t.vacuum(keep_versions=1, min_age_seconds=3600) == []
    # the spared stage can still be committed and read
    base = t.manifest()
    from pyspark.sql.types import StructType
    import json as _json

    t._commit(
        base["files"] + staged, "append", base["version"],
        StructType.fromJson(_json.loads(base["schema"])), None,
    )
    assert {r.k for r in t.snapshot().collect()} == {1, 2}


def test_partition_values_unescaped_and_null_roundtrip(spark, tmp_path):
    """Hive-escaped partition dir tokens (spaces, slashes) and the NULL
    sentinel must round-trip as VALUES through snapshot()."""
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "a/b"), (2, "x y"), (3, None), (4, "plain")],
        "k long, p string",
    )
    t.init(df, partition_by="p")
    got = {(r.k, r.p) for r in t.snapshot().collect()}
    assert got == {(1, "a/b"), (2, "x y"), (3, None), (4, "plain")}


def test_append_refuses_after_concurrent_layout_change(spark, tmp_path):
    """The real race: append() STAGES its files, then a concurrent
    overwrite switches the partition layout before the commit.  The
    retry must surface CommitConflict instead of committing a manifest
    that mixes layouts (which would make the latest version unreadable).
    """
    path = str(tmp_path / "t")
    a = TxTable(spark, path)
    b = TxTable(spark, path)
    a.init(_df(spark, [(1, "a")]))

    orig_stage = b._stage

    def stage_then_lose_race(df, m):
        out = orig_stage(df, m)
        a.overwrite(
            spark.createDataFrame([(9, "z", 0)], "k long, v string, p int"),
            partition_by="p",
        )
        return out

    b._stage = stage_then_lose_race
    with pytest.raises(CommitConflict, match="layout"):
        b.append(_df(spark, [(3, "c")]))
    # the table stays readable on the new layout throughout
    assert {(r.k, r.p) for r in a.snapshot().collect()} == {(9, 0)}


def test_stream_sink_stages_nothing_for_a_replayed_batch(spark, tmp_path):
    """The sink's exactly-once check runs before staging: a new batch
    stages once, a replayed one writes no file at all."""
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTableStreamSink,
    )

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, []))
    stages = []
    stage = t._stage

    def counted(df, m):
        stages.append(m["version"])
        return stage(df, m)

    t._stage = counted
    sink = TxTableStreamSink(t)
    sink(_df(spark, [(1, "a")]), 0)
    assert stages == [1]
    sink(_df(spark, [(1, "a")]), 0)  # replayed
    assert stages == [1]
    assert t.latest_version() == 2
    # a fresh sink instance (no cached ids) replays off the floor
    TxTableStreamSink(t)(_df(spark, [(1, "a")]), 0)
    assert stages == [1]
    assert [r.k for r in t.snapshot().collect()] == [1]


def test_restore_recommits_the_versions_generated_columns(spark, tmp_path):
    """restore() re-commits the restored version's own generated-column
    declaration, like its schema: restoring past an overwrite that
    declared one leaves a table that plain appends still fit."""
    t = TxTable(spark, str(tmp_path / "t"))
    k = spark.createDataFrame([(1,)], "k long")
    t.init(k)
    t.overwrite(k, generated={"g": "k * 3"})
    assert set(t.snapshot().columns) == {"k", "g"}
    t.restore(1)
    assert "generated" not in t.manifest()
    t.append(spark.createDataFrame([(2,)], "k long"))
    assert {r.k for r in t.snapshot().collect()} == {1, 2}
    # and restoring the declaring version brings the declaration back
    t.restore(2)
    assert t.manifest()["generated"] == {"g": "k * 3"}
    t.append(spark.createDataFrame([(4,)], "k long"))
    assert {(r.k, r.g) for r in t.snapshot().collect()} == {(1, 3), (4, 12)}


def test_stream_sink_is_exactly_once_on_replayed_batches(spark, tmp_path):
    """foreachBatch is at-least-once; the sink's batch-id-in-manifest
    idempotence must make a REPLAYED micro-batch a no-op, while new
    batch ids append normally."""
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTableStreamSink,
    )

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, []))
    sink = TxTableStreamSink(t)
    sink(_df(spark, [(1, "a")]), 0)
    sink(_df(spark, [(1, "a")]), 0)  # replay of batch 0: must be a no-op
    sink(_df(spark, [(2, "b")]), 1)
    sink(_df(spark, [(2, "b")]), 1)  # replay of batch 1
    rows = sorted((r.k, r.v) for r in t.snapshot().collect())
    assert rows == [(1, "a"), (2, "b")]
    assert sink.committed_batch_ids() == {0, 1}
    # exactly one manifest per batch (plus init), app-id-keyed ops
    assert [h["op"] for h in t.history()] == [
        "init", "stream_append:default:0", "stream_append:default:1"
    ]
    # the committed-id scan is incremental: all versions are cached, so
    # another call re-parses no manifest (O(new versions), ADVICE r4) —
    # and a FRESH sink on the same table rediscovers the set from disk
    assert sink._scanned == {1, 2, 3}
    n_before = len(sink._scanned)
    assert sink.committed_batch_ids() == {0, 1}
    assert len(sink._scanned) == n_before
    assert TxTableStreamSink(t).committed_batch_ids() == {0, 1}


def test_stream_floor_survives_vacuum_for_new_sink_instances(spark, tmp_path):
    """VERDICT r5 ask #3: vacuum() pruning every stream_append manifest
    must NOT reopen the exactly-once hole for a restarted stream — the
    monotone stream_floor is carried forward by EVERY commit (including
    non-stream appends and compactions), so a brand-new sink instance
    replaying a batch older than the retention window still no-ops."""
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTableStreamSink,
    )

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, []))
    sink = TxTableStreamSink(t)
    sink(_df(spark, [(1, "a")]), 0)
    sink(_df(spark, [(2, "b")]), 1)
    # non-stream commits on top: both must CARRY the floor forward
    t.append(_df(spark, [(3, "c")]))
    t.compact(1)
    assert t.manifest()["stream_floors"] == {"default": 1}
    # vacuum away every stream_append manifest (keep only the latest)
    t.vacuum(keep_versions=1, min_age_seconds=0.0)
    assert [h["op"] for h in t.history()] == ["compact"]
    before = sorted((r.k, r.v) for r in t.snapshot().collect())
    # a brand-new sink (fresh process after restart) replays old batches
    fresh = TxTableStreamSink(t)
    assert fresh.committed_batch_ids() == set()  # ops are gone...
    fresh(_df(spark, [(1, "a")]), 0)   # ...but the floor remembers
    fresh(_df(spark, [(2, "b")]), 1)
    assert sorted((r.k, r.v) for r in t.snapshot().collect()) == before
    # genuinely new batches still append, and the floor advances
    fresh(_df(spark, [(4, "d")]), 2)
    assert sorted((r.k, r.v) for r in t.snapshot().collect()) == sorted(
        before + [(4, "d")]
    )
    assert t.manifest()["stream_floors"] == {"default": 2}


def test_stream_floor_is_per_app_so_new_logical_streams_are_not_swallowed(
    spark, tmp_path
):
    """ADVICE r6 (medium): a REPLACEMENT pipeline writing through a
    fresh checkpoint restarts batch ids at 0 — under the old table-wide
    floor its first batches were silently discarded.  Floors are now
    keyed by app_id (Delta's txnAppId/txnVersion): a new app_id starts
    at floor -1 whatever other streams committed, while replay
    suppression still works per app — including through vacuum and with
    legacy scalar-floor manifests folded into the default app."""
    import json as _json
    import posixpath

    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTableStreamSink,
        _manifest_name,
    )

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, []))
    v1 = TxTableStreamSink(t, app_id="v1")
    v1(_df(spark, [(1, "a")]), 0)
    v1(_df(spark, [(2, "b")]), 1)
    t.vacuum(keep_versions=1, min_age_seconds=0.0)
    # the replacement pipeline: fresh checkpoint, batch ids restart at 0
    v2 = TxTableStreamSink(t, app_id="v2")
    v2(_df(spark, [(10, "x")]), 0)   # must NOT be swallowed
    v2(_df(spark, [(10, "x")]), 0)   # its own replay still no-ops
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 10]
    assert t.manifest()["stream_floors"] == {"v1": 1, "v2": 0}
    # v1 replays (e.g. a zombie executor) remain suppressed post-vacuum
    fresh_v1 = TxTableStreamSink(t, app_id="v1")
    fresh_v1(_df(spark, [(1, "a")]), 1)
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 10]
    # a legacy manifest (scalar stream_floor, bare stream_append op)
    # reads as the default app's history
    m = t.manifest()
    m["stream_floor"] = 5
    m["op"] = "stream_append:3"
    v = t.latest_version() + 1
    m["version"] = v
    t.fs.write_text(
        posixpath.join(t.path, "_txlog", _manifest_name(v)), _json.dumps(m)
    )
    legacy = TxTableStreamSink(t)  # default app
    assert legacy.committed_batch_ids() == {3}
    legacy(_df(spark, [(99, "z")]), 5)  # <= legacy floor: swallowed
    legacy(_df(spark, [(42, "q")]), 6)  # above it: appends
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 10, 42]
    assert t.manifest()["stream_floors"] == {"v1": 1, "v2": 0, "default": 6}
    with pytest.raises(ValueError, match="':'-free"):
        TxTableStreamSink(t, app_id="a:b")


def test_multicol_stats_zero_row_drop_and_type_mismatch(spark, tmp_path):
    """Multi-column stats (VERDICT r5 ask #7) + the two ADVICE r5
    stats fixes: a zero-row staged file never enters the manifest (and
    its bytes are gone), every stats column records per-file min/max in
    the one pass, and a predicate whose bound type disagrees with the
    recorded stats type raises a descriptive error naming the entry
    instead of comparing lexicographically."""
    import pytest

    t = TxTable(spark, str(tmp_path / "t"), stats_col=["k", "v"])
    df = spark.createDataFrame([(1, "a"), (9, "z")], "k int, v string")
    t.init(df.coalesce(1))
    t.append(
        spark.createDataFrame([], "k int, v string").coalesce(1)
    )  # zero rows
    m = t.manifest()
    assert len(m["files"]) == 1  # the empty file was dropped
    st = m["files"][0]["stats"]
    assert st["k"] == [1, 9] and st["v"] == ["a", "z"]
    # conjunctive prune across both columns
    assert t.prune_counts([("k", 0, 5), ("v", "a", "b")]) == (1, 1)
    assert t.prune_counts([("k", 10, 20), ("v", "a", "b")]) == (0, 1)
    # type mismatch fails loudly, naming the entry
    with pytest.raises(TypeError, match="data-skipping type mismatch"):
        t.prune_counts("v", 0, 5)
    with pytest.raises(TypeError, match=m["files"][0]["path"].split("/")[-1][:8]):
        t.prune_counts("k", "a", "b")


# --------------------------------------------------- MERGE / CDC apply


def test_merge_upsert_delete_insert_and_time_travel(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src = spark.createDataFrame(
        [(2, "B", False), (3, None, True), (9, "i", False)],
        "k long, v string, dead boolean",
    )
    v = t.merge(src, "k", delete_col="dead")
    assert v == 2
    assert {(r.k, r.v) for r in t.snapshot().collect()} == {
        (1, "a"), (2, "B"), (9, "i"),
    }
    # pre-merge version still time-travels
    assert {(r.k, r.v) for r in t.snapshot(version=1).collect()} == {
        (1, "a"), (2, "b"), (3, "c"),
    }
    assert t.history()[-1]["op"] == "merge"


def test_merge_is_file_granular_on_partitioned_tables(spark, tmp_path):
    """A merge touching only one partition's keys must carry every
    other partition's file entries BY REFERENCE (identical paths)."""
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, "lo" if i < 50 else "hi", f"v{i}") for i in range(100)],
        "k long, band string, v string",
    )
    t.init(df.repartition(1), partition_by="band")
    src = spark.createDataFrame(
        [(7, "lo", "V7", False), (8, "lo", None, True)],
        "k long, band string, v string, dead boolean",
    )
    t.merge(src, "k", delete_col="dead")
    e1 = {e["path"] for e in t.manifest(1)["files"]}
    e2 = {e["path"] for e in t.manifest(2)["files"]}
    hi_files = {
        e["path"] for e in t.manifest(1)["files"] if e["part"] == "hi"
    }
    assert hi_files and hi_files <= e2, "untouched partition must carry"
    lo_files = e1 - hi_files
    assert not (lo_files & e2), "hit partition files must be replaced"
    got = {(r.k, r.v) for r in t.snapshot().filter("k in (7, 8, 9)").collect()}
    assert got == {(7, "V7"), (9, "v9")}


def test_merge_validations_are_loud(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="not unique"):
        t.merge(_df(spark, [(1, "x"), (1, "y")]), "k")
    with pytest.raises(ValueError, match="NULL in a key"):
        t.merge(_df(spark, [(None, "x")]), "k")
    with pytest.raises(ValueError, match="not in source"):
        t.merge(_df(spark, [(1, "x")]), "missing")
    with pytest.raises(ValueError, match="delete_col"):
        t.merge(_df(spark, [(1, "x")]), "k", delete_col="missing")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge(
            spark.createDataFrame([(1, 2.0)], "k long, v double"), "k"
        )


def test_merge_stages_small_inserts_as_one_file(spark, tmp_path):
    """A 20-row upsert of new keys spread over 4 partitions stages one
    file: the upsert's file count follows its row count, not the
    source's partitioning."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    rows = spark.sparkContext.parallelize(
        [(k, f"v{k}") for k in range(100, 120)], 4
    )
    src = spark.createDataFrame(rows, "k long, v string")
    assert src.rdd.getNumPartitions() == 4
    t.merge(src, "k")
    assert t.history()[-1]["metrics"] == {
        "files_added": 1, "files_removed": 0,
    }
    assert t.snapshot().count() == 21


def test_empty_entry_read_launches_no_job(spark, jobs, tmp_path):
    """An empty entry set (a diff with no removed files, a fully pruned
    merge scan) reads as a local relation: no Spark job, no Python
    worker."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    schema = t.snapshot().schema
    with jobs("empty_read") as ids:
        rows = t._read_entries(schema, None, []).collect()
    assert rows == [] and ids == []
    got = t._read_entries(schema, None, [], _lineage=True)
    assert got.columns == ["k", "v", "_tx_file", "_tx_key", "_tx_pos"]


def test_merge_noop_and_insert_unmatched_false(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    # unmatched delete alone: net no-op, no new version
    noop = spark.createDataFrame(
        [(99, None, True)], "k long, v string, dead boolean"
    )
    assert t.merge(noop, "k", delete_col="dead") == 1
    assert t.latest_version() == 1
    # update-only mode drops unmatched rows instead of inserting
    src = _df(spark, [(1, "A"), (42, "ghost")])
    assert t.merge(src, "k", insert_unmatched=False) == 2
    assert {(r.k, r.v) for r in t.snapshot().collect()} == {(1, "A")}


def test_apply_cdc_latest_wins_and_ambiguity(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b")]))
    ch = spark.createDataFrame(
        [
            # key 1: update then delete -> net delete
            (1, "A", "U", 10), (1, None, "D", 20),
            # key 2: out-of-order feed, seq 30 wins
            (2, "B2", "U", 30), (2, "B1", "U", 25),
            # key 5: insert then update -> upsert of seq 2
            (5, "e1", "I", 1), (5, "e2", "U", 2),
            # key 6: delete of a never-seen key -> tolerated no-op
            (6, None, "D", 1),
        ],
        "k long, v string, op string, seq long",
    )
    apply_cdc(t, ch, "k")
    assert {(r.k, r.v) for r in t.snapshot().collect()} == {
        (2, "B2"), (5, "e2"),
    }
    events = "k long, v string, op string, seq long"
    for dup in (
        [(7, "x", "U", 1), (7, "y", "U", 1)],
        # the duplicate sits below the winning seq
        [(7, "x", "U", 1), (7, "y", "U", 1), (7, "z", "U", 2)],
        [(7, "x", "U", None), (7, "y", "U", None)],
    ):
        with pytest.raises(ValueError, match="not unique"):
            apply_cdc(t, spark.createDataFrame(dup, events), "k")
    two_col = "k long, j long, v string, op string, seq long"
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.init(spark.createDataFrame([(1, 1, "a")], "k long, j long, v string"))
    with pytest.raises(ValueError, match="not unique"):
        apply_cdc(
            t2,
            spark.createDataFrame(
                [(1, 1, "x", "U", 5), (1, 2, "y", "U", 5), (1, 1, "z", "U", 5)],
                two_col,
            ),
            ["k", "j"],
        )
    assert t.latest_version() == 2 and t2.latest_version() == 1
    # a NULL seq and a non-NULL seq on one key are distinct events: the
    # non-NULL one wins (NULLs sort last)
    apply_cdc(
        t,
        spark.createDataFrame([(7, "x", "U", None), (7, "y", "U", 1)], events),
        "k",
    )
    assert {(r.k, r.v) for r in t.snapshot().collect()} == {
        (2, "B2"), (5, "e2"), (7, "y"),
    }


# ------------------------------------------------- ADD COLUMN evolution


def test_add_columns_is_metadata_only_and_null_backfills(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b")]))
    v2 = t.add_columns({"score": "double"})
    assert v2 == 2
    # byte-identical file entries: nothing was rewritten
    assert t.manifest(1)["files"] == t.manifest(2)["files"]
    assert t.history()[-1]["op"] == "add_columns"
    # pre-evolution rows read back NULL in the new column
    assert {(r.k, r.score) for r in t.snapshot().collect()} == {
        (1, None), (2, None),
    }
    # appends must now carry the evolved schema — old shape is refused
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(_df(spark, [(3, "c")]))
    t.append(
        spark.createDataFrame([(3, "c", 0.5)], "k long, v string, score double")
    )
    got = {(r.k, r.score) for r in t.snapshot().collect()}
    assert got == {(1, None), (2, None), (3, 0.5)}
    # time travel still reads the pre-evolution schema
    assert "score" not in t.snapshot(version=1).columns
    # DDL type spellings, the ones widen_column accepts too
    t.add_columns({"n": "int", "big": "bigint"})
    types = dict(t.snapshot().dtypes)
    assert (types["n"], types["big"]) == ("int", "bigint")


def test_add_columns_validations_and_dml_interplay(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    with pytest.raises(ValueError, match="no columns"):
        t.add_columns({})
    with pytest.raises(ValueError, match="already exist"):
        t.add_columns({"v": "double"})
    t.add_columns({"score": "double"})
    # DELETE and MERGE keep working across mixed old/new files
    t.delete(F.col("k") == 1)
    src = spark.createDataFrame(
        [(2, "B", 0.9, False), (9, "i", 0.1, False)],
        "k long, v string, score double, dead boolean",
    )
    t.merge(src, "k", delete_col="dead")
    got = {(r.k, r.v, r.score) for r in t.snapshot().collect()}
    assert got == {(2, "B", 0.9), (3, "c", None), (9, "i", 0.1)}


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b")]))
    t.delete(F.col("k") == 1)  # the "bad" change
    t.append(_df(spark, [(3, "c")]))
    v4 = t.restore(1)
    assert v4 == 4 and t.history()[-1]["op"] == "restore"
    # head equals version 1 exactly; the bad versions stay readable
    assert {(r.k, r.v) for r in t.snapshot().collect()} == {(1, "a"), (2, "b")}
    assert {r.k for r in t.snapshot(version=3).collect()} == {2, 3}
    # metadata-only: restored entries are version 1's, byte-identical
    assert t.manifest(4)["files"] == t.manifest(1)["files"]
    # restore across a schema change brings the OLD schema back
    t.overwrite(spark.createDataFrame([(1.5,)], "y double"))
    t.restore(4)
    assert t.snapshot().columns == ["k", "v"]
    # a vacuumed-away version fails loudly
    t.vacuum(keep_versions=1, min_age_seconds=0.0)
    with pytest.raises(FileNotFoundError):
        t.restore(2)


def test_merge_on_composite_key(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "x", "a"), (1, "y", "b"), (2, "x", "c")],
        "k1 long, k2 string, v string",
    )
    t.init(df)
    src = spark.createDataFrame(
        [(1, "x", "A", False), (2, "x", None, True), (3, "z", "n", False)],
        "k1 long, k2 string, v string, dead boolean",
    )
    t.merge(src, ["k1", "k2"], delete_col="dead")
    got = {(r.k1, r.k2, r.v) for r in t.snapshot().collect()}
    assert got == {(1, "x", "A"), (1, "y", "b"), (3, "z", "n")}


def test_zordered_compact_improves_conjunctive_pruning(spark, tmp_path):
    """VERDICT r6 ask #6 at operator level: after compact(zorder_by=
    [a, b]) a conjunctive range read prunes strictly more files than
    the hash-scattered before-state, rows are value-identical, the
    pre-compact version stays time-travelable, and a partitioned table
    refuses the verb loudly."""
    rows = [(i, (i * 37) % 1000, f"v{i}") for i in range(4000)]
    df = spark.createDataFrame(rows, "a long, b long, v string")
    t = TxTable(spark, str(tmp_path / "t"), stats_col=["a", "b"])
    t.init(df.repartition(8))
    conds = [("a", 0, 999), ("b", 0, 249)]
    before_scan, before_total = t.prune_counts(conds)
    assert (before_scan, before_total) == (8, 8)  # scattered: no pruning
    v1_rows = sorted(r.v for r in t.snapshot().collect())
    t.compact(8, zorder_by=["a", "b"])
    after_scan, after_total = t.prune_counts(conds)
    assert after_total == 8 and after_scan < before_scan
    # value-identical pruned read
    pred = (F.col("a").between(0, 999)) & (F.col("b").between(0, 249))
    full = sorted(r.v for r in t.snapshot().filter(pred).collect())
    pruned = sorted(
        r.v for r in t.snapshot(prune=conds).filter(pred).collect()
    )
    assert pruned == full
    # time travel to the pre-compact version is intact
    assert sorted(r.v for r in t.snapshot(1).collect()) == v1_rows
    # partitioned tables refuse Z-ordered compaction loudly
    p = TxTable(spark, str(tmp_path / "p"))
    p.init(
        df.withColumn("pt", (F.col("a") % 2).cast("string")),
        partition_by="pt",
    )
    with pytest.raises(ValueError, match="partitioned"):
        p.compact(4, zorder_by=["a", "b"])


def test_clone_shallow_is_metadata_only_and_reads_the_source(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    src.init(spark.range(10).selectExpr("id AS k", "id * 2 AS v"))
    clone = src.clone_shallow(str(tmp_path / "dst"))
    assert {(r.k, r.v) for r in clone.snapshot().collect()} == {
        (i, 2 * i) for i in range(10)
    }
    assert clone.manifest()["op"].startswith("clone:")
    # zero bytes copied: the clone's own data dir holds nothing
    import os

    dst_data = tmp_path / "dst" / "data"
    assert not dst_data.exists() or not any(
        files for _, _, files in os.walk(dst_data)
    )
    with pytest.raises(FileExistsError):
        src.clone_shallow(str(tmp_path / "dst"))


def test_clone_shallow_diverges_independently(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    src.init(spark.range(10).selectExpr("id AS k", "id * 2 AS v"))
    clone = src.clone_shallow(str(tmp_path / "dst"))
    clone.append(spark.createDataFrame([(100, 200)], "k long, v long"))
    clone.delete(F.col("k") % 2 == 0)  # rewrites hit files CLONE-owned
    src.append(spark.createDataFrame([(50, 99)], "k long, v long"))
    assert {r.k for r in src.snapshot().collect()} == set(range(10)) | {50}
    assert {r.k for r in clone.snapshot().collect()} == {1, 3, 5, 7, 9}
    # the clone still time-travels to the cloned state
    assert {r.k for r in clone.snapshot(version=1).collect()} == set(range(10))


def test_clone_vacuum_never_touches_source_bytes(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    src.init(spark.range(10).selectExpr("id AS k", "id * 2 AS v"))
    clone = src.clone_shallow(str(tmp_path / "dst"))
    clone.delete(F.col("k") < 9)  # drops the references, stages own files
    removed = clone.vacuum(keep_versions=1, min_age_seconds=0.0)
    # nothing removed outside the clone's root, and the source is intact
    assert all(str(tmp_path / "dst") in p for p in removed)
    assert src.snapshot().count() == 10
    assert {r.k for r in clone.snapshot().collect()} == {9}


def test_clone_of_clone_references_the_owning_table(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    src.init(spark.range(5).selectExpr("id AS k", "id AS v"))
    c1 = src.clone_shallow(str(tmp_path / "c1"))
    c2 = c1.clone_shallow(str(tmp_path / "c2"))
    bases = {e["base"] for e in c2.manifest()["files"]}
    assert bases == {src.path}  # never a chain through c1
    assert c2.snapshot().count() == 5


# ---------------------------------------------------- column mapping

def test_rename_column_is_metadata_only_and_time_travels(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b")]))
    v2 = t.rename_column("v", "label")
    assert v2 == 2
    # O(1): byte-identical file entries, nothing rewritten
    assert t.manifest(1)["files"] == t.manifest(2)["files"]
    assert t.history()[-1]["op"] == "rename_column:v->label"
    assert {(r.k, r.label) for r in t.snapshot().collect()} == {
        (1, "a"), (2, "b"),
    }
    # the old name is gone — reads of it fail loudly
    assert "v" not in t.snapshot().columns
    with pytest.raises(Exception):
        t.snapshot().select("v").collect()
    # time travel serves the old name on pre-rename versions
    assert {(r.k, r.v) for r in t.snapshot(version=1).collect()} == {
        (1, "a"), (2, "b"),
    }
    # DML under the new logical name: append + delete round-trip
    t.append(spark.createDataFrame([(3, "c")], "k long, label string"))
    t.delete(F.col("label") == "a")
    assert {(r.k, r.label) for r in t.snapshot().collect()} == {
        (2, "b"), (3, "c"),
    }
    # renaming to an existing name / from a missing name is loud
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("k", "label")
    with pytest.raises(ValueError, match="not a column"):
        t.rename_column("v", "w")


def test_drop_column_and_readd_with_different_type(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(
        spark.createDataFrame(
            [(1, "a", 0.5), (2, "b", 0.7)], "k long, v string, score double"
        )
    )
    v2 = t.drop_column("score")
    assert v2 == 2
    assert t.manifest(1)["files"] == t.manifest(2)["files"]  # O(1)
    assert "score" not in t.snapshot().columns
    # re-add the SAME name with a DIFFERENT type: the fresh physical
    # name must NOT resurrect the dropped doubles out of old files
    t.add_columns({"score": "string"})
    assert {(r.k, r.score) for r in t.snapshot().collect()} == {
        (1, None), (2, None),
    }
    t.append(
        spark.createDataFrame(
            [(3, "c", "high")], "k long, v string, score string"
        )
    )
    got = {(r.k, r.score) for r in t.snapshot().collect()}
    assert got == {(1, None), (2, None), (3, "high")}
    # time travel across the boundary still serves the original doubles
    assert {(r.k, r.score) for r in t.snapshot(version=1).collect()} == {
        (1, 0.5), (2, 0.7),
    }
    # guard rails
    with pytest.raises(ValueError, match="not a column"):
        t.drop_column("nope")
    with pytest.raises(ValueError, match="only column"):
        t2 = TxTable(spark, str(tmp_path / "t2"))
        t2.init(spark.createDataFrame([(1,)], "k long"))
        t2.drop_column("k")


def test_purge_dropped_columns_destroys_bytes_after_vacuum(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(
        spark.createDataFrame(
            [(1, "a", "SECRET-1"), (2, "b", "SECRET-2")],
            "k long, v string, pii string",
        )
    )
    t.drop_column("pii")
    # pre-purge: the bytes still exist in old files (time travel works)
    assert {r.pii for r in t.snapshot(version=1).collect()} == {
        "SECRET-1", "SECRET-2",
    }
    t.purge_dropped_columns()
    t.vacuum(keep_versions=1, min_age_seconds=0.0)
    # every surviving parquet footer carries only mapped physical cols
    import glob as _glob

    files = _glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                       recursive=True)
    assert files
    raw_cols = set(spark.read.parquet(*files).columns)
    phys = set(t.manifest().get("column_mapping", {}).values()) or {
        "k", "v",
    }
    assert raw_cols <= phys
    # and no SECRET bytes anywhere on disk
    for f in files:
        assert b"SECRET" not in Path(f).read_bytes()
    assert {(r.k, r.v) for r in t.snapshot().collect()} == {
        (1, "a"), (2, "b"),
    }


def test_rename_partition_column_keeps_layout(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b"), (3, "a")]), partition_by="v")
    t.rename_column("v", "bucket")
    assert t.manifest().get("partition_by") == "bucket"
    assert {(r.k, r.bucket) for r in t.snapshot().collect()} == {
        (1, "a"), (2, "b"), (3, "a"),
    }
    # appends under the new logical name keep the partition layout
    t.append(spark.createDataFrame([(4, "b")], "k long, bucket string"))
    m = t.manifest()
    assert sorted({e["part"] for e in m["files"]}) == ["a", "b"]
    # dropping the partition column is refused
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("bucket")


def test_stats_keep_pruning_across_rename(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"), stats_col="k")
    t.init(
        spark.range(0, 100)
        .select(F.col("id").alias("k"), F.lit("x").alias("v"))
        .repartition(4, "k")
    )
    scanned0, total0 = t.prune_counts("k", 5, 5)
    assert scanned0 < total0
    t.rename_column("k", "id")
    # the SAME files still prune under the new logical name (stats are
    # keyed by physical name, which the rename preserved)
    t2 = TxTable(spark, str(tmp_path / "t"), stats_col="id")
    scanned1, total1 = t2.prune_counts("id", 5, 5)
    assert (scanned1, total1) == (scanned0, total0)
    # pruning by the RETIRED name fails loudly instead of scanning all
    with pytest.raises(ValueError, match="not in the current schema"):
        t2.prune_counts("k", 5, 5)
    rows = t2.snapshot(prune=("id", 5, 5)).filter(F.col("id") == 5)
    assert rows.count() == 1
    # a handle still configured with the OLD logical name keeps
    # recording stats on appends: the stale name falls through to the
    # physical name the rename froze (self-review r8 — it used to
    # silently stage stat-less, forever-unprunable files)
    t.append(
        spark.range(100, 200)
        .select(F.col("id").alias("id"), F.lit("y").alias("v"))
        .repartition(4, "id")
    )
    scanned2, total2 = t2.prune_counts("id", 5, 5)
    assert total2 == total0 + 4 and scanned2 == scanned0
    assert all(
        "stats" in e for e in t.manifest()["files"]
    )  # every entry carries stats, pre- and post-rename alike


def test_clone_restore_and_matview_carry_mapping(spark, tmp_path):
    from ecommerce_data_pipeline_23a91a05i4_spark.sources import matview as mvx

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b")]))
    t.rename_column("v", "label")          # v2
    c = t.clone_shallow(str(tmp_path / "c"))
    assert {(r.k, r.label) for r in c.snapshot().collect()} == {
        (1, "a"), (2, "b"),
    }
    v3 = t.append(spark.createDataFrame([(3, "c")], "k long, label string"))
    # table_changes across same-mapping versions reads logical names
    ch = mvx.table_changes(t, 2, v3)
    assert {(r.k, r.label, r._change_type) for r in ch.collect()} == {
        (3, "c", "insert"),
    }
    # ... and refuses to diff across the mapping/schema boundary
    with pytest.raises(ValueError, match="different schemas"):
        mvx.table_changes(t, 1, v3)
    # restore to the PRE-rename version revives that version's mapping
    t.restore(1)
    assert "v" in t.snapshot().columns
    assert "label" not in t.snapshot().columns


def test_stream_sink_autocompaction_bounds_files_and_keeps_exactly_once(
    spark, tmp_path
):
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTableStreamSink,
    )

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(spark.createDataFrame([], "k long, v string"))
    sink = TxTableStreamSink(
        t, app_id="s", small_file_limit=3, compact_target_files=1
    )
    for i in range(6):
        sink(_df(spark, [(i, "x")]).coalesce(1), i)
    ops = [h["op"] for h in t.history()]
    assert "compact" in ops            # compaction interleaved mid-stream
    assert len(t.manifest()["files"]) < 6
    # a replayed batch AFTER compaction still no-ops — the stream floor
    # is carried through compact commits, even for a fresh sink instance
    v = t.latest_version()
    TxTableStreamSink(t, app_id="s")(_df(spark, [(0, "dup")]).coalesce(1), 0)
    assert t.latest_version() == v
    assert {r.k for r in t.snapshot().collect()} == set(range(6))
    # config validation is loud
    with pytest.raises(ValueError, match="small_file_limit"):
        TxTableStreamSink(t, small_file_limit=0)
    with pytest.raises(ValueError, match="zorder_by"):
        TxTableStreamSink(t, zorder_by=["k"])
    # target >= limit would rewrite the whole table every micro-batch
    with pytest.raises(ValueError, match="compact_target_files"):
        TxTableStreamSink(t, small_file_limit=3, compact_target_files=3)


def test_widen_column_is_metadata_only_and_mixes_footers(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(
        spark.createDataFrame(
            [(1, 10, 1.5), (2, 20, 2.5)], "k int, qty smallint, price float"
        )
    )
    v2 = t.widen_column("qty", "int")      # O(1)
    v3 = t.widen_column("price", "double")
    t.widen_column("k", "bigint")
    assert (v2, v3) == (2, 3)
    assert t.manifest(1)["files"] == t.manifest(4)["files"]
    assert dict(t.snapshot().dtypes) == {
        "k": "bigint", "qty": "int", "price": "double",
    }
    # old narrow footers read through the wide schema
    assert {(r.k, r.qty, r.price) for r in t.snapshot().collect()} == {
        (1, 10, 1.5), (2, 20, 2.5),
    }
    # appends carry the widened schema; values needing the width land
    t.append(
        spark.createDataFrame(
            [(5_000_000_000, 100_000, 3.5)],
            "k bigint, qty int, price double",
        )
    )
    assert {r.k for r in t.snapshot().collect()} == {1, 2, 5_000_000_000}
    # DML across mixed narrow/wide footers
    t.delete(F.col("qty") == 20)
    assert {r.qty for r in t.snapshot().collect()} == {10, 100_000}
    # time travel serves the narrow types on pre-widen versions
    assert dict(t.snapshot(version=1).dtypes)["qty"] == "smallint"
    # guard rails: narrowing / cross-family / unknown column are loud
    with pytest.raises(ValueError, match="not a read-safe widening"):
        t.widen_column("k", "int")
    with pytest.raises(ValueError, match="not a read-safe widening"):
        t.widen_column("qty", "double")
    with pytest.raises(ValueError, match="not a column"):
        t.widen_column("nope", "bigint")


def test_widen_partition_column_and_mapping_interplay(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(
        spark.createDataFrame(
            [(1, 7, "a"), (2, 8, "b")], "k int, b int, v string"
        ),
        partition_by="b",
    )
    t.widen_column("b", "bigint")  # partition values re-inject via cast
    assert dict(t.snapshot().dtypes)["b"] == "bigint"
    assert {(r.k, r.b) for r in t.snapshot().collect()} == {(1, 7), (2, 8)}
    # widening composes with column mapping: rename k, then widen the
    # RENAMED logical name — the physical footer column stays 'k' int
    # and reads through the wider scan schema under the mapping
    t.rename_column("k", "key")
    t.widen_column("key", "bigint")
    assert dict(t.snapshot().dtypes)["key"] == "bigint"
    assert {r.key for r in t.snapshot().collect()} == {1, 2}
    t.append(
        spark.createDataFrame(
            [(6_000_000_000, 8, "c")], "key bigint, b bigint, v string"
        )
    )
    assert {r.key for r in t.snapshot().collect()} == {1, 2, 6_000_000_000}
    # string has no read-safe widening
    with pytest.raises(ValueError, match="not a read-safe widening"):
        t.widen_column("v", "bigint")


def test_widen_column_accepts_ddl_aliases(spark, tmp_path):
    """'long'/'short' spell the same types add_columns accepts —
    the two evolution verbs share one type-spelling surface."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(spark.createDataFrame([(1, 2)], "a int, b smallint"))
    t.widen_column("a", "long")    # alias of bigint
    t.widen_column("b", "integer")  # alias of int
    assert dict(t.snapshot().dtypes) == {"a": "bigint", "b": "int"}


def test_reserved_internal_column_names_rejected_everywhere(spark, tmp_path):
    """'_tx_file' is the lineage column _read_entries(_lineage=True)
    injects for file-granular DML; a user column under that name would shadow it
    and break delete()/merge().  The _commit chokepoint rejects it on
    every schema-carrying verb (ADVICE r8)."""
    t = TxTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="reserved"):
        t.init(spark.createDataFrame([(1, "a")], "k long, _tx_file string"))
    t.init(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="reserved"):
        t.rename_column("v", "_tx_file")
    with pytest.raises(ValueError, match="reserved"):
        t.add_columns({"_tx_file": "string"})
    with pytest.raises(ValueError, match="reserved"):
        t.overwrite(
            spark.createDataFrame([(1, "a")], "k long, _tx_file string")
        )
    # the table is untouched by the rejected attempts and DML still works
    t.delete(F.col("k") == 1)
    assert t.snapshot().count() == 0


def test_purge_dropped_columns_validates_n_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]))
    t.add_columns({"w": "string"})
    t.drop_column("w")
    with pytest.raises(ValueError, match="n_files must be >= 1"):
        t.purge_dropped_columns(n_files=0)
    assert t.purge_dropped_columns(n_files=1) > 0


def test_sink_built_before_init_degrades_zorder_on_partitioned_table(
    spark, tmp_path
):
    """A sink constructed BEFORE the table's first commit misses the
    construction-time partition check; if the table is then initialized
    partitioned, the first auto-compaction must degrade to plain
    compaction with a warning — not abort the stream (ADVICE r8)."""
    import warnings as _warnings

    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTableStreamSink,
    )

    t = TxTable(spark, str(tmp_path / "t"))
    sink = TxTableStreamSink(
        t, app_id="s", small_file_limit=3, compact_target_files=1,
        zorder_by=["k"],
    )
    t.init(
        spark.createDataFrame([], "k long, v string"), partition_by="v"
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        for i in range(6):
            sink(_df(spark, [(i, "x")]).coalesce(1), i)
    assert any("zorder_by" in str(w.message) for w in caught)
    assert sink.zorder_by is None          # degraded once, permanently
    assert "compact" in [h["op"] for h in t.history()]
    assert {r.k for r in t.snapshot().collect()} == set(range(6))


def test_check_constraints_enforced_on_append_and_overwrite(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(spark.createDataFrame([(1, "a", 10)], "k long, v string, n long"))
    t.add_check_constraint("n_nonneg", "n >= 0")
    t.add_not_null("v")
    assert t.constraints() == {
        "n_nonneg": "n >= 0", "v_not_null": "v IS NOT NULL",
    }
    t.append(spark.createDataFrame([(2, "b", 0)], "k long, v string, n long"))
    v = t.latest_version()
    with pytest.raises(Exception, match="n_nonneg"):
        t.append(
            spark.createDataFrame([(3, "c", -1)], "k long, v string, n long")
        )
    with pytest.raises(Exception, match="v_not_null"):
        t.append(
            spark.createDataFrame(
                [(3, None, 1)], "k long, v string, n long"
            )
        )
    assert t.latest_version() == v       # rejected writes left no commit
    # NULL satisfies a CHECK (SQL semantics); NOT NULL is explicit
    t.append(
        spark.createDataFrame([(4, "d", None)], "k long, v string, n long")
    )
    # constraints survive overwrite, and overwrite enforces them
    with pytest.raises(Exception, match="n_nonneg"):
        t.overwrite(
            spark.createDataFrame([(9, "z", -9)], "k long, v string, n long")
        )
    t.overwrite(
        spark.createDataFrame([(9, "z", 9)], "k long, v string, n long")
    )
    assert set(t.constraints()) == {"n_nonneg", "v_not_null"}
    # drop: the formerly-violating row now commits
    t.drop_constraint("n_nonneg")
    t.append(
        spark.createDataFrame([(5, "e", -1)], "k long, v string, n long")
    )
    with pytest.raises(ValueError, match="not a constraint"):
        t.drop_constraint("n_nonneg")


def test_check_constraint_validates_existing_data_and_bad_exprs(
    spark, tmp_path
):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, None)]))
    with pytest.raises(ValueError, match="existing row"):
        t.add_check_constraint("k_small", "k < 2")
    with pytest.raises(Exception):      # unknown column: loud at the scan
        t.add_check_constraint("bad", "no_such_col > 0")
    with pytest.raises(ValueError, match="non-empty"):
        t.add_check_constraint("has:colon", "k > 0")
    # NULL rows satisfy a CHECK, so this add passes over (2, NULL)...
    t.add_check_constraint("v_short", "length(v) <= 3")
    # ...but add_not_null over existing NULLs is rejected
    with pytest.raises(ValueError, match="existing row"):
        t.add_not_null("v")
    with pytest.raises(ValueError, match="not a column"):
        t.add_not_null("nope")


def test_check_constraints_enforced_on_merge_cdc_stream_and_clone(
    spark, tmp_path
):
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTableStreamSink,
    )

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b")]))
    t.add_check_constraint("v_nonempty", "length(v) > 0")
    v = t.latest_version()
    with pytest.raises(Exception, match="v_nonempty"):
        t.merge(_df(spark, [(1, "")]), on="k")
    assert t.latest_version() == v
    t.merge(_df(spark, [(1, "A"), (3, "c")]), on="k")
    with pytest.raises(Exception, match="v_nonempty"):
        apply_cdc(
            t,
            spark.createDataFrame(
                [(4, "", "I", 1)], "k long, v string, op string, seq long"
            ),
            on="k",
        )
    sink = TxTableStreamSink(t, app_id="s")
    with pytest.raises(Exception, match="v_nonempty"):
        sink(_df(spark, [(5, "")]), 0)
    sink(_df(spark, [(5, "e")]), 1)
    # compaction restates valid rows under the constraint
    t.compact(1)
    # a shallow clone inherits (and enforces) the invariants
    c = t.clone_shallow(str(tmp_path / "c"))
    assert c.constraints() == {"v_nonempty": "length(v) > 0"}
    with pytest.raises(Exception, match="v_nonempty"):
        c.append(_df(spark, [(9, "")]))
    assert {r.k for r in t.snapshot().collect()} == {1, 2, 3, 5}


# ------------------------------------------------------ deletion vectors
def test_delete_dv_basic_noop_and_null_semantics(spark, tmp_path):
    """delete_dv removes matching rows without rewriting any data file:
    every original entry path survives in the child manifest, hit ones
    gaining a dv reference; NULL predicates keep rows (SQL DELETE);
    a no-match delete commits nothing."""
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d")], "k long, v string"
    )
    v1 = t.init(df.coalesce(1))  # one file: the hit is vectored, not dropped
    paths_before = {e["path"] for e in t.manifest()["files"]}
    v2 = t.delete_dv(F.col("v") < "c")  # NULL v -> survives
    assert v2 == v1 + 1
    assert {r.k for r in t.snapshot().collect()} == {2, 3, 4}
    m = t.manifest()
    assert m["op"] == "delete_dv"
    assert {e["path"] for e in m["files"]} <= paths_before  # no rewrite
    assert sum((e.get("dv") or {}).get("count", 0) for e in m["files"]) == 1
    # no-op: nothing matches -> same version, no commit
    assert t.delete_dv(F.col("k") > 100) == v2
    # time travel still serves the pre-delete rows
    assert t.snapshot(v1).count() == 4


def test_delete_dv_grows_vector_and_drops_fully_deleted_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(spark.range(40).withColumn("g", F.col("id") % 4).repartition(4))
    t.delete_dv("id % 2 = 0")  # 20 rows
    t.delete_dv("id % 3 = 0")  # odd multiples of 3: 3,9,15,21,27,33,39
    assert t.snapshot().count() == 40 - 20 - 7
    # the second delete FOLDED the first vector's surviving rows in:
    # per-entry counts accumulate, and never exceed the hidden total
    total_dv = sum(
        (e.get("dv") or {}).get("count", 0) for e in t.manifest()["files"]
    )
    assert 0 < total_dv <= 27
    # a file whose every visible row is deleted must leave the manifest
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.init(spark.range(10).withColumn("g", F.lit(0)).coalesce(2))
    t2.delete_dv("id >= 0")
    # every row-bearing file is fully deleted -> dropped, never vectored
    assert all(not e.get("dv") for e in t2.manifest()["files"])
    assert t2.manifest()["files"] == []
    assert t2.snapshot().count() == 0


def test_delete_dv_then_copy_on_write_verbs_materialize(spark, tmp_path):
    """merge/compact/delete on a vectored table read through the vector
    (never resurrect hidden rows) and their rewrites drop it."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(i, f"v{i}") for i in range(10)]))
    t.delete_dv("k % 2 = 0")
    # merge replaces k=1, inserts k=100; hidden evens must not return
    t.merge(_df(spark, [(1, "X"), (100, "new")]), on="k")
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got[1] == "X" and 100 in got and 0 not in got and 2 not in got
    # copy-on-write delete on the vectored table
    t.delete(F.col("k") == 3)
    assert 3 not in {r.k for r in t.snapshot().collect()}
    t.compact(1)
    m = t.manifest()
    assert all(not e.get("dv") for e in m["files"])  # materialized
    assert {r.k for r in t.snapshot().collect()} == {1, 5, 7, 9, 100}


def test_delete_dv_partitioned_and_full_partition_drop(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.range(30).withColumn("g", (F.col("id") % 3).cast("string"))
    t.init(df, partition_by="g")
    t.delete_dv("id % 10 = 0")
    assert t.snapshot().count() == 27
    assert t.snapshot().filter("id % 10 = 0").count() == 0
    # deleting a whole partition drops its entries outright
    t.delete_dv(F.col("g") == "1")
    m = t.manifest()
    assert all(e.get("part") != "1" for e in m["files"])
    assert t.snapshot().filter("g = '1'").count() == 0


def test_restore_across_dv_and_table_changes_direction(spark, tmp_path):
    from ecommerce_data_pipeline_23a91a05i4_spark.sources import (
        matview as mvx,
    )

    t = TxTable(spark, str(tmp_path / "t"))
    v1 = t.init(spark.range(20).withColumn("v", F.col("id") * 2))
    v2 = t.delete_dv("id % 4 = 0")  # 5 rows hidden
    ch = mvx.table_changes(t, v1, v2)
    assert ch.groupBy("_change_type").count().collect()[0].asDict() == {
        "_change_type": "delete",
        "count": 5,
    }
    v3 = t.restore(v1)  # un-hides: the dv SHRANK across v2 -> v3
    assert t.snapshot().count() == 20
    ch2 = mvx.table_changes(t, v2, v3)
    assert ch2.groupBy("_change_type").count().collect()[0].asDict() == {
        "_change_type": "insert",
        "count": 5,
    }


def test_vacuum_keeps_referenced_vectors(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(spark.range(12).withColumn("v", F.col("id")))
    t.delete_dv("id % 3 = 0")
    removed = t.vacuum(keep_versions=1, min_age_seconds=0)
    # the vector file must survive (head references it)...
    assert t.snapshot().count() == 8
    # ...and only the fully-deleted files' bytes (if any) plus old
    # manifests were collected; re-vacuum is idempotent
    assert t.vacuum(keep_versions=1, min_age_seconds=0) == []
    assert t.snapshot().count() == 8


def test_clone_inherits_and_isolates_vectors(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(spark.range(20).withColumn("v", F.col("id")))
    t.delete_dv("id % 5 = 0")  # 4 hidden
    c = t.clone_shallow(str(tmp_path / "c"))
    assert c.snapshot().count() == 16
    # the clone's dv reference is marked with the source root
    assert all(
        e["dv"].get("base") for e in c.manifest()["files"] if e.get("dv")
    )
    # clone's own delete_dv stages a CLONE-owned vector over source bytes
    c.delete_dv("id % 2 = 1")
    assert c.snapshot().count() == 8
    assert t.snapshot().count() == 16  # source untouched
    # source vacuum never touches the clone's ability to read
    t.vacuum(keep_versions=1, min_age_seconds=0)
    assert c.snapshot().count() == 8


def test_reserved_lineage_columns_rejected(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for bad in ("_tx_key", "_tx_pos"):
        with pytest.raises(ValueError, match="reserved"):
            t.init(
                spark.createDataFrame([(1, 2)], f"k long, {bad} long")
            )


def test_optimize_small_binpacks_debt_only(spark, tmp_path):
    """optimize_small rewrites only the small-file debt: the big file
    carries by reference, tiny appends bin-pack, a second run no-ops,
    vectored files are rewritten (vector materialized) whatever their
    size, and the streaming change feed skips the commit."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(spark.range(50000).withColumn("v", F.col("id") * 2).coalesce(1))
    big = t.manifest()["files"][0]
    big_size = t.fs.size(t._abs(big))
    for i in range(4):
        t.append(
            spark.range(60000 + i * 10, 60000 + i * 10 + 10)
            .withColumn("v", F.col("id") * 2)
            .coalesce(1)
        )
    v = t.optimize_small(target_bytes=big_size)
    m = t.manifest()
    assert m["op"] == "optimize"
    assert big["path"] in {e["path"] for e in m["files"]}
    assert len(m["files"]) == 2  # big + one packed rewrite
    assert t.snapshot().count() == 50040
    # idempotent: no remaining debt, no commit
    assert t.optimize_small(target_bytes=big_size) == v
    with pytest.raises(ValueError, match="target_bytes"):
        t.optimize_small(target_bytes=0)
    # vector materialization path: nothing is small, but the vectored
    # file must be rewritten and its vector dropped
    t.delete_dv("id = 7")
    t.optimize_small(target_bytes=1)
    m2 = t.manifest()
    assert all(not e.get("dv") for e in m2["files"])
    assert t.snapshot().count() == 50039
    # partition isolation: files bin within their partition value
    tp = TxTable(spark, str(tmp_path / "tp"))
    tp.init(
        spark.range(100)
        .withColumn("g", (F.col("id") % 2).cast("string"))
        .repartition(8),
        partition_by="g",
    )
    tp.optimize_small(target_bytes=1 << 30)
    after = tp.manifest()["files"]
    assert {e["part"] for e in after} == {"0", "1"}
    assert tp.snapshot().count() == 100
    got = {(r.id,) for r in tp.snapshot().select("id").collect()}
    assert got == {(i,) for i in range(100)}


def test_bloom_index_point_lookup(spark, tmp_path):
    """Per-file bloom filters prune point lookups that min/max cannot
    (hash-scattered key), survive appends, stay safe across unindexed
    entries, and never change results (file-set reduction only)."""
    df = (
        spark.range(20000)
        .withColumn("k", F.xxhash64("id"))
        .withColumn("v", F.col("id") % 100)
        .repartition(16)
    )
    t = TxTable(spark, str(tmp_path / "t"), stats_col="k", bloom_col="k")
    t.init(df)
    probe = df.filter("id = 123").select("k").first().k
    s_range, total = t.prune_counts_eq([("k", probe)], bloom=False)
    s_bloom, _ = t.prune_counts_eq([("k", probe)])
    assert (s_range, total) == (16, 16)  # scattered: ranges all overlap
    assert s_bloom < s_range
    rows = t.snapshot(prune_eq=[("k", probe)]).filter(
        F.col("k") == probe
    ).collect()
    assert [r.id for r in rows] == [123]
    # absent key: prunes below total (false positives allowed, misses not)
    s_absent, _ = t.prune_counts_eq([("k", 987654321)])
    assert s_absent < total
    assert (
        t.snapshot(prune_eq=[("k", 987654321)])
        .filter(F.col("k") == 987654321)
        .count()
        == 0
    )
    # a writer WITHOUT bloom config appends unindexed files: they are
    # always scanned, results stay exact
    plain = TxTable(spark, str(tmp_path / "t"))
    plain.append(
        spark.range(20000, 20050)
        .withColumn("k", F.xxhash64("id"))
        .withColumn("v", (F.col("id") % 100).cast("long"))
        .coalesce(1)
    )
    s_mixed, tot_mixed = t.prune_counts_eq([("k", probe)])
    assert tot_mixed == 17 and s_mixed == s_bloom + 1
    assert t.snapshot(prune_eq=[("k", probe)]).filter(
        F.col("k") == probe
    ).count() == 1
    # string-typed probe hashes through the string path
    t2 = TxTable(spark, str(tmp_path / "s"), bloom_col="s")
    t2.init(
        spark.range(5000)
        .withColumn("s", F.concat(F.lit("u"), F.col("id").cast("string")))
        .repartition(8)
    )
    sb, tot2 = t2.prune_counts_eq([("s", "u777")])
    assert sb < tot2
    assert (
        t2.snapshot(prune_eq=[("s", "u777")]).filter("s = 'u777'").count()
        == 1
    )
    with pytest.raises(ValueError, match="bloom_bits"):
        TxTable(spark, str(tmp_path / "x"), bloom_col="k", bloom_bits=4)


@pytest.mark.parametrize("partition_by", [None, "p"])
def test_append_reads_its_staged_files_with_known_schema(
    spark, jobs, tmp_path, partition_by
):
    """The stats and bloom passes read the just-staged files back with
    the schema that wrote them, so an append launches the write job and
    two jobs per pass — no schema-inference job (7 jobs when each pass
    inferred) — and the recorded stats still describe the new files."""

    def rows(lo, hi):
        return (
            spark.range(lo, hi)
            .withColumn("k", F.col("id") * 2)
            .withColumn("p", (F.col("id") % 3).cast("string"))
        )

    t = TxTable(spark, str(tmp_path / "t"), stats_col="k", bloom_col="k")
    t.init(rows(0, 100), partition_by=partition_by)
    before = {e["path"] for e in t.manifest()["files"]}
    with jobs("append") as ids:
        t.append(rows(100, 150))
    assert len(ids) == 5
    new = [e for e in t.manifest()["files"] if e["path"] not in before]
    assert new and all(e["bloom"] for e in new)
    lo = min(e["stats"]["k"][0] for e in new)
    hi = max(e["stats"]["k"][1] for e in new)
    assert (lo, hi) == (200, 298)
    assert t.snapshot().count() == 150


def test_analyze_stats_carry_and_validation(spark, tmp_path):
    """analyze() records n_rows / nulls / min-max / HLL NDV as a
    metadata-only commit; later commits carry the stats forward with
    their computed_at version (the staleness contract)."""
    df = spark.range(5000).withColumn(
        "s",
        F.when(F.col("id") % 10 == 0, None).otherwise(
            F.concat(F.lit("u"), (F.col("id") % 200).cast("string"))
        ),
    )
    t = TxTable(spark, str(tmp_path / "t"))
    v1 = t.init(df)
    files_before = [e["path"] for e in t.manifest()["files"]]
    v2 = t.analyze()
    m = t.manifest()
    assert m["op"] == "analyze"
    assert [e["path"] for e in m["files"]] == files_before  # no data motion
    st = t.table_stats()
    assert st["computed_at"] == v1 and st["n_rows"] == 5000
    assert st["columns"]["s"]["nulls"] == 500
    assert st["columns"]["id"]["min"] == "0"
    assert st["columns"]["id"]["max"] == "4999"
    assert abs(st["columns"]["s"]["ndv"] - 200) / 200 < 0.25
    # carried forward, visibly stale after an append
    t.append(df.withColumn("id", F.col("id") + 5000))
    st2 = t.table_stats()
    assert st2 == st and t.latest_version() == v2 + 1
    with pytest.raises(ValueError, match="unknown column"):
        t.analyze(columns=["nope"])


def test_analyze_records_zero_ndv_for_an_all_null_column(spark, tmp_path):
    """An all-NULL column has no distinct values: its HLL estimate row
    reads NULL, and analyze() records NDV 0 instead of failing."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(spark.createDataFrame([(1, None), (2, None)], "k long, x int"))
    t.analyze()
    x = t.table_stats()["columns"]["x"]
    assert x == {"nulls": 2, "ndv": 0.0, "min": None, "max": None}
    assert t.table_stats()["columns"]["k"]["ndv"] > 0


def test_generated_columns_lifecycle(spark, tmp_path):
    """Generated columns: computed at init/append/merge when omitted,
    equality-guarded when provided, declaration carried by commits and
    reset by overwrite, dependencies protected from rename/drop."""
    df = spark.createDataFrame(
        [(1, 10), (2, 25), (3, 31)], "k long, v long"
    )
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(df, generated={"bucket": "CAST(v % 10 AS STRING)"})
    assert set(t.snapshot().columns) == {"k", "v", "bucket"}
    assert {r.bucket for r in t.snapshot().collect()} == {"0", "5", "1"}
    # append without the column: computed
    t.append(spark.createDataFrame([(4, 47)], "k long, v long"))
    assert t.snapshot().filter("k = 4").first().bucket == "7"
    # append WITH a correct value: accepted; wrong value: plan rejects
    t.append(
        spark.createDataFrame(
            [(5, 53, "3")], "k long, v long, bucket string"
        )
    )
    with pytest.raises(Exception, match="generated"):
        t.append(
            spark.createDataFrame(
                [(6, 66, "9")], "k long, v long, bucket string"
            )
        )
    # merge source without the column: computed
    t.merge(spark.createDataFrame([(1, 99)], "k long, v long"), on="k")
    assert t.snapshot().filter("k = 1").first().bucket == "9"
    # copy_into and the stream sink complete and guard like append
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTableStreamSink,
    )

    land_ok, land_bad = str(tmp_path / "ok"), str(tmp_path / "bad")
    spark.createDataFrame([(7, 72)], "k long, v long").write.parquet(land_ok)
    spark.createDataFrame(
        [(8, 88, "1")], "k long, v long, bucket string"
    ).write.parquet(land_bad)
    t.copy_into(land_ok)
    assert t.snapshot().filter("k = 7").first().bucket == "2"
    with pytest.raises(Exception, match="generated"):
        t.copy_into(land_bad)
    sink = TxTableStreamSink(t)
    sink(spark.createDataFrame([(9, 93)], "k long, v long"), 0)
    assert t.snapshot().filter("k = 9").first().bucket == "3"
    with pytest.raises(Exception, match="generated"):
        sink(
            spark.createDataFrame(
                [(10, 104, "9")], "k long, v long, bucket string"
            ),
            1,
        )
    assert not t.snapshot().filter("k IN (6, 8, 10)").count()
    # declaring AND providing at init is ambiguous
    with pytest.raises(ValueError, match="not both"):
        TxTable(spark, str(tmp_path / "x")).init(
            spark.createDataFrame([(1, "a")], "k long, g string"),
            generated={"g": "CAST(k AS STRING)"},
        )
    # rename/drop of the generated column or its dependency is refused
    with pytest.raises(ValueError, match="generated"):
        t.rename_column("v", "w")
    with pytest.raises(ValueError, match="generated"):
        t.drop_column("bucket")
    # overwrite resets the declaration
    t.overwrite(df)
    assert "generated" not in t.manifest()
    t.append(df)  # no recompute, plain append works again
    assert set(t.snapshot().columns) == {"k", "v"}


def test_append_quarantine_routes_instead_of_raising(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(0, "seed")]))
    t.add_check_constraint("v_nonempty", "length(v) > 0")
    q = TxTable(spark, str(tmp_path / "q"))
    batch = _df(spark, [(1, "ok"), (2, ""), (3, None), (4, "also")])
    v_clean, v_quar = t.append_quarantine(batch, q)
    # NULL passes CHECK (SQL semantics) — only the empty string routes
    assert {r.k for r in t.snapshot().collect()} == {0, 1, 3, 4}
    quar = q.snapshot().collect()
    assert [(r.k, r._violated) for r in quar] == [(2, "v_nonempty")]
    assert v_clean is not None and v_quar is not None
    # an all-clean batch touches only the main table
    v2, vq2 = t.append_quarantine(_df(spark, [(5, "x")]), q)
    assert v2 == v_clean + 1 and vq2 is None
    # per-constraint tags: NOT NULL needs the existing NULL row gone
    # first (a constraint must hold over the data it governs)
    t.delete(F.col("k") == 3)
    t.add_not_null("v")
    _, _ = t.append_quarantine(_df(spark, [(6, ""), (7, None)]), q)
    tags = {r.k: r._violated for r in q.snapshot().collect()}
    assert tags[6] == "v_nonempty" and tags[7] == "v_not_null"
    assert {r.k for r in t.snapshot().collect()} == {0, 1, 4, 5}


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.overwrite(_df(spark, [(3, "c")]).coalesce(1))
    would = t.vacuum(keep_versions=1, min_age_seconds=0, dry_run=True)
    assert would  # the v1 file is dead under keep_versions=1
    # nothing was touched: time travel still works, manifests intact
    assert t.snapshot(1).count() == 2
    assert t.versions() == [1, 2]
    # the real pass removes exactly what the dry run reported
    removed = t.vacuum(keep_versions=1, min_age_seconds=0)
    assert removed == would
    assert t.versions() == [2]


# ------------------------------------------------- v2 log: checkpoints


def _entries_map(t, version, use_checkpoints=True):
    return {
        TxTable._entry_key(e): __import__("json").dumps(e, sort_keys=True)
        for e in t._resolve_entries(version, use_checkpoints=use_checkpoints)
    }


def test_checkpoint_replay_equals_full_log_replay(spark, tmp_path):
    """Every version's state resolved THROUGH checkpoints must equal a
    pure delta replay from version 1, across a verb mix that exercises
    adds, removes, in-place entry changes (DV attach), metadata-only
    commits, and a rewrite."""
    t = TxTable(spark, str(tmp_path / "t"), checkpoint_interval=3)
    t.init(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(2))
    t.append(_df(spark, [(4, "d")]).coalesce(1))
    t.add_check_constraint("k_pos", "k >= 0")         # v3 (checkpoint)
    t.delete_dv(F.col("k") == 2)                       # v4: entry changed
    t.rename_column("v", "label")                      # v5: metadata only
    t.compact(n_files=1)                               # v6 (checkpoint)
    t.append(
        spark.createDataFrame([(5, "e")], "k long, label string")
    )                                                  # v7
    assert t.checkpoint_versions() == [3, 6]
    fresh = TxTable(spark, str(tmp_path / "t"), checkpoint_interval=3)
    for v in t.versions():
        via_cp = _entries_map(fresh, v)
        pure = _entries_map(
            TxTable(spark, str(tmp_path / "t")), v, use_checkpoints=False
        )
        assert via_cp == pure, f"divergence at version {v}"
    # metadata rides the manifests themselves, not the checkpoint
    m = fresh.manifest()
    assert m["constraints"] == [{"name": "k_pos", "expr": "k >= 0"}]
    assert m.get("column_mapping")
    assert {r.k for r in fresh.snapshot().collect()} == {1, 3, 4, 5}


def test_commit_bytes_stay_flat_as_table_grows(spark, tmp_path):
    """The v2 design point: an append's JSON commit is O(changed files)
    — its byte size must not grow with the number of live table files."""
    import os as _os

    t = TxTable(
        spark, str(tmp_path / "t"), stats_col="k", bloom_col="k",
        checkpoint_interval=1000,
    )
    t.init(_df(spark, [(0, "x")]).coalesce(1))
    t.append(_df(spark, [(1, "x")]).coalesce(1))
    small = _os.path.getsize(
        str(tmp_path / "t" / "_txlog" / f"{2:020d}.json")
    )
    for i in range(2, 30):
        t.append(_df(spark, [(i, "x")]).coalesce(1))
    big = _os.path.getsize(
        str(tmp_path / "t" / "_txlog" / f"{30:020d}.json")
    )
    assert big <= small * 2, (small, big)
    # ... and the bloom/stats metadata is NOT in the JSON: it rides the
    # sidecar parquet, yet still prunes through a fresh handle
    fresh = TxTable(spark, str(tmp_path / "t"), bloom_col="k")
    scanned, total = fresh.prune_counts_eq([("k", 7)])
    assert total == 30 and scanned < total


def test_legacy_full_manifest_interop(spark, tmp_path):
    """A v1-format manifest (inline ``files``) remains a valid
    resolution base: new delta commits stack on top and every read,
    prune, and time travel works across the era boundary."""
    import json as _json

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    # rewrite v1 in legacy form: inline files, no delta
    log = tmp_path / "t" / "_txlog"
    m1 = t.manifest(1)
    raw1 = t._manifest_raw(1)
    legacy = {k: v for k, v in raw1.items() if k != "delta"}
    legacy["files"] = m1["files"]
    (log / f"{1:020d}.json").write_text(_json.dumps(legacy))
    for p in log.glob("sc-*.parquet"):
        p.unlink()  # the v1 sidecar is gone, as on a pre-v2 table
    fresh = TxTable(spark, str(tmp_path / "t"))
    assert {r.k for r in fresh.snapshot().collect()} == {1, 2}
    fresh.append(_df(spark, [(3, "c")]).coalesce(1))  # v2 delta on v1 base
    again = TxTable(spark, str(tmp_path / "t"))
    assert {r.k for r in again.snapshot().collect()} == {1, 2, 3}
    assert "files" not in again._manifest_raw(2)


def test_vacuum_checkpoints_oldest_retained_version(spark, tmp_path):
    """Pruning manifests must not dangle the retained delta chain: the
    oldest retained version gets a checkpoint, and a FRESH handle can
    resolve every retained version afterwards."""
    t = TxTable(spark, str(tmp_path / "t"), checkpoint_interval=1000)
    t.init(_df(spark, [(1, "a")]).coalesce(1))
    for i in range(2, 7):
        t.append(_df(spark, [(i, "x")]).coalesce(1))
    t.vacuum(keep_versions=2, min_age_seconds=0)
    assert t.versions() == [5, 6]
    fresh = TxTable(spark, str(tmp_path / "t"))
    assert fresh.snapshot(5).count() == 5
    assert fresh.snapshot(6).count() == 6
    assert 5 in fresh.checkpoint_versions()


def test_commit_conflict_cleans_loser_sidecar(spark, tmp_path):
    import json as _json

    from pyspark.sql.types import StructType

    a = TxTable(spark, str(tmp_path / "t"))
    b = TxTable(spark, str(tmp_path / "t"))
    a.init(_df(spark, [(1, "a")]))
    base = b.manifest()
    staged = b._stage(_df(spark, [(2, "b")]), b.manifest())
    a.append(_df(spark, [(3, "c")]))
    before = set((tmp_path / "t" / "_txlog").glob("sc-*.parquet"))
    with pytest.raises(CommitConflict):
        b._commit(
            base["files"] + staged,
            "append",
            base["version"],
            StructType.fromJson(_json.loads(base["schema"])),
            None,
        )
    after = set((tmp_path / "t" / "_txlog").glob("sc-*.parquet"))
    assert after == before  # the loser's sidecar was collected


def test_scoped_optimize_and_compact_carry_cold_files(spark, tmp_path):
    """where= scoping (VERDICT r9 next #6): maintenance must be able to
    bin-pack ONE hot partition / key range while every cold entry is
    carried by reference — same file URIs, no reads, no rewrites — and
    the scoped rewrite must equal the full-table content."""
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.range(100).selectExpr(
        "id AS k", "CASE WHEN id % 2 = 0 THEN 'hot' ELSE 'cold' END AS p"
    )
    t.init(df.repartition(6), partition_by="p")
    before = {e["path"]: e for e in t.manifest()["files"]}
    cold_before = {p for p, e in before.items() if e["part"] == "cold"}
    t.optimize_small(
        target_bytes=1 << 30, where="hot"
    )  # pack all hot debt into one file
    after = {e["path"]: e for e in t.manifest()["files"]}
    assert {p for p, e in after.items() if e["part"] == "cold"} == (
        cold_before
    )  # cold partition carried by reference, URI-identical
    assert len([e for e in after.values() if e["part"] == "hot"]) == 1
    assert {r.k for r in t.snapshot().collect()} == set(range(100))
    assert t.manifest()["op"] == "optimize"

    # range-scoped compact on a stats-bearing unpartitioned table
    t2 = TxTable(spark, str(tmp_path / "t2"), stats_col="k")
    t2.init(
        spark.range(100)
        .selectExpr("id AS k", "id * 2 AS v")
        .repartitionByRange(10, "k")
    )
    before2 = {e["path"] for e in t2.manifest()["files"]}
    hot = {
        e["path"]
        for e in t2.manifest()["files"]
        if e["stats"]["k"][1] < 50
    }
    assert 1 < len(hot) < len(before2)
    t2.compact(n_files=1, where=("k", 0, 49))
    after2 = {e["path"] for e in t2.manifest()["files"]}
    assert before2 - hot <= after2  # cold half carried by reference
    assert len(after2) == len(before2) - len(hot) + 1
    assert {r.k for r in t2.snapshot().collect()} == set(range(100))
    # empty scope: no-op without a commit
    v = t2.latest_version()
    assert t2.compact(n_files=1, where=("k", 10_000, 20_000)) == v


def test_timestamp_time_travel_and_commit_metrics(spark, tmp_path):
    """Commit wall time + operation metrics ride every manifest
    (observability, Delta's TIMESTAMP AS OF / operationMetrics):
    version_at_timestamp resolves the state a reader at that moment
    saw, and history() exposes files added/removed per commit."""
    import time as _t

    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a")]).coalesce(1))
    between_1_2 = _t.time()
    _t.sleep(0.05)
    t.append(_df(spark, [(2, "b")]).coalesce(1))
    t.overwrite(_df(spark, [(3, "c")]).coalesce(1))
    assert t.version_at_timestamp(between_1_2) == 1
    assert t.version_at_timestamp(_t.time()) == 3
    with pytest.raises(ValueError, match="before the first"):
        t.version_at_timestamp(between_1_2 - 3600)
    h = {x["version"]: x for x in t.history()}
    assert h[2]["metrics"] == {"files_added": 1, "files_removed": 0}
    assert h[3]["metrics"] == {"files_added": 1, "files_removed": 2}
    assert h[1]["committed_at"] <= h[2]["committed_at"] <= h[3]["committed_at"]
    assert {r.k for r in t.snapshot(t.version_at_timestamp(between_1_2)).collect()} == {1}
    assert {r.k for r in t.snapshot(timestamp=between_1_2).collect()} == {1}
    with pytest.raises(ValueError, match="not both"):
        t.snapshot(1, timestamp=between_1_2)


def test_merge_schema_evolution(spark, tmp_path):
    """evolve_schema=True auto-adds source-only columns WITHIN the
    merge commit itself (ADVICE r10: Delta's withSchemaEvolution is
    atomic — no standalone add_columns that could outlive a failed
    merge); the default still fails loudly on the exact-schema rule;
    untouched files NULL-backfill."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(2))
    src = spark.createDataFrame(
        [(2, "B", 7.5, False), (9, "i", 0.5, False)],
        "k long, v string, score double, dead boolean",
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        t.merge(src, "k", delete_col="dead")
    t.merge(src, "k", delete_col="dead", evolve_schema=True)
    # ONE commit: evolution and data change land atomically
    assert [h["op"] for h in t.history()] == ["init", "merge"]
    got = {(r.k, r.v, r.score) for r in t.snapshot().collect()}
    assert got == {(1, "a", None), (2, "B", 7.5), (3, "c", None), (9, "i", 0.5)}
    # evolution is idempotent: a second evolved merge adds nothing new
    t.merge(
        spark.createDataFrame(
            [(1, "A", 0.1, False)],
            "k long, v string, score double, dead boolean",
        ),
        "k",
        delete_col="dead",
        evolve_schema=True,
    )
    assert [h["op"] for h in t.history()][-1] == "merge"
    assert len(t.versions()) == 3  # no extra add_columns commit


def test_merge_schema_evolution_is_atomic_on_failure(spark, tmp_path):
    """A merge that FAILS (constraint violation in the staged rewrite)
    must leave the schema unevolved — the ADVICE r10 atomicity hole:
    the old standalone add_columns commit persisted even when the merge
    it served never landed."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.add_check_constraint("v_not_bad", "v <> 'bad'")
    src = spark.createDataFrame(
        [(2, "bad", 7.5)], "k long, v string, score double"
    )
    with pytest.raises(Exception, match="v_not_bad"):
        t.merge(src, "k", evolve_schema=True)
    # no trace: schema, history, and rows are exactly pre-merge
    assert [f.name for f in t.snapshot().schema.fields] == ["k", "v"]
    assert [h["op"] for h in t.history()] == [
        "init", "add_constraint:v_not_bad",
    ]
    assert {(r.k, r.v) for r in t.snapshot().collect()} == {(1, "a"), (2, "b")}


def test_merge_schema_evolution_on_mapped_table(spark, tmp_path):
    """In-commit evolution on a mapping-active table must give new
    columns NEVER-USED physical names (add_columns' anti-resurrection
    rule): a column added after a drop cannot read the dropped
    column's bytes out of pre-drop files."""
    t = TxTable(spark, str(tmp_path / "t"))
    spark.createDataFrame(
        [(1, "a", 100.0), (2, "b", 200.0)], "k long, v string, score double"
    ).coalesce(1).createOrReplaceTempView("_seed")
    t.init(spark.table("_seed"))
    t.drop_column("score")  # mapping now active; old bytes remain
    src = spark.createDataFrame(
        [(2, "B", 9.5)], "k long, v string, score double"
    )
    t.merge(src, "k", evolve_schema=True)
    m = t.manifest()
    # the re-added 'score' maps to a fresh physical name, not 'score'
    assert m["column_mapping"]["score"] != "score"
    got = {(r.k, r.v, r.score) for r in t.snapshot().collect()}
    # row 1 must NOT resurrect its dropped 100.0
    assert got == {(1, "a", None), (2, "B", 9.5)}


def test_snapshot_partition_pruning(spark, tmp_path):
    """snapshot(part=) prunes at the MANIFEST level: only files of the
    named partition value(s) are read — pinned via the scan's
    _metadata.file_path against the manifest's own entry grouping."""
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.range(90).selectExpr(
        "id AS k", "CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' "
        "ELSE 'c' END AS p"
    )
    t.init(df.repartition(6), partition_by="p")
    by_part: dict[str, int] = {}
    for e in t.manifest()["files"]:
        by_part[e["part"]] = by_part.get(e["part"], 0) + 1
    snap = t.snapshot(part="a")
    assert {r.p for r in snap.select("p").distinct().collect()} == {"a"}
    assert snap.count() == 30
    n_read = (
        t.snapshot(part="a")
        .select(F.col("_metadata.file_path"))
        .distinct()
        .count()
    )
    assert n_read == by_part["a"] < sum(by_part.values())
    both = t.snapshot(part=["a", "c"])
    assert both.count() == 60
    u = TxTable(spark, str(tmp_path / "u"))
    u.init(_df(spark, [(1, "x")]))
    with pytest.raises(ValueError, match="not partitioned"):
        u.snapshot(part="a")


def test_copy_into_is_idempotent_and_loud_on_overlap(spark, tmp_path):
    import os

    land = str(tmp_path / "land")
    for i in (1, 2):
        _df(spark, [(i, "x")]).coalesce(1).write.parquet(
            os.path.join(land, f"f{i}.parquet")
        )
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, []).limit(0))
    v, new = t.copy_into(land)
    assert v == 2 and len(new) == 2
    assert {r.k for r in t.snapshot().collect()} == {1, 2}
    # nothing new: commit-free no-op
    assert t.copy_into(land) == (None, [])
    assert t.latest_version() == 2
    # a third file lands; only it loads
    _df(spark, [(3, "y")]).coalesce(1).write.parquet(
        os.path.join(land, "f3.parquet")
    )
    v3, new3 = t.copy_into(land)
    assert v3 == 3 and [os.path.basename(p) for p in new3] == ["f3.parquet"]
    assert {r.k for r in t.snapshot().collect()} == {1, 2, 3}
    # memory is per-manifest metadata, loud schema rule still applies
    spark.range(1).write.parquet(os.path.join(land, "bad.parquet"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.copy_into(land)


def test_merge_hit_detection_prunes_on_key_stats(spark, tmp_path):
    """Stats-based manifest pruning of merge()'s hit-file detection
    (optimization r13, VERDICT r12 next #1): on a table recording
    stats for the merge key, a key-range-clustered source must narrow
    the detection scan to the files whose recorded [min, max] can
    intersect the source's key bounds — never the whole table — while
    the merge result stays identical to the stats-less twin's."""
    rows = [(i, f"v{i}") for i in range(40)]

    def build(path, **kw):
        t = TxTable(spark, path, **kw)
        # four disjoint key-range files via four commits
        t.init(_df(spark, rows[:10]).coalesce(1))
        for lo in (10, 20, 30):
            t.append(_df(spark, rows[lo:lo + 10]).coalesce(1))
        return t

    t_stats = build(str(tmp_path / "with_stats"), stats_col="k")
    t_plain = build(str(tmp_path / "plain"))
    src = spark.createDataFrame(
        [(12, "U12", False), (14, None, True), (17, "U17", False),
         (41, "new", False)],
        "k long, v string, dead boolean",
    )
    for t in (t_stats, t_plain):
        t.merge(src, "k", delete_col="dead")
    same = lambda t: sorted((r.k, r.v) for r in t.snapshot().collect())
    assert same(t_stats) == same(t_plain)
    assert (12, "U12") in same(t_stats) and all(
        k != 14 for k, _ in same(t_stats)
    ) and (41, "new") in same(t_stats)
    # the stats table pruned the detection scan to the one file whose
    # range [10, 19] intersects the source bounds [12, 41] is file 2..4
    # — files [0,9] are provably disjoint and skipped
    cs = t_stats.last_merge_scan_counts
    assert cs["files_total"] == 4
    assert cs["hit_scan_candidates"] == 3  # [10-19], [20-29], [30-39]
    assert cs["hit_files"] == 1            # only [10-19] held hits
    cp = t_plain.last_merge_scan_counts
    assert cp["hit_scan_candidates"] == cp["files_total"] == 4
    assert cp["hit_files"] == 1


def test_merge_stats_pruning_narrow_delta_and_rewrite_scope(spark, tmp_path):
    """The 100 TB CDC shape: a delta confined to one file's key range
    prunes hit detection to THAT file, and the rewrite replaces only
    it — every other entry carries by reference (merge's file-granular
    contract, now including the detection scan)."""
    t = TxTable(spark, str(tmp_path / "t"), stats_col="k")
    t.init(_df(spark, [(i, f"v{i}") for i in range(10)]).coalesce(1))
    for lo in (10, 20, 30):
        t.append(
            _df(spark, [(i, f"v{i}") for i in range(lo, lo + 10)])
            .coalesce(1)
        )
    before = {e["path"] for e in t.manifest()["files"]}
    src = spark.createDataFrame(
        [(21, "U21", False), (23, "U23", False)],
        "k long, v string, dead boolean",
    )
    t.merge(src, "k", delete_col="dead")
    cs = t.last_merge_scan_counts
    assert cs == {
        "files_total": 4, "hit_scan_candidates": 1, "hit_files": 1,
    }
    after = {e["path"] for e in t.manifest()["files"]}
    assert len(before & after) == 3, "three entries must carry untouched"
    got = sorted((r.k, r.v) for r in t.snapshot().collect())
    assert (21, "U21") in got and (23, "U23") in got and len(got) == 40


def test_merge_string_and_composite_key_stats_pruning(spark, tmp_path):
    """String-key bounds prune too, and on a composite key the bounds
    are ANDed per column — a file disjoint on ANY key column skips."""
    t = TxTable(spark, str(tmp_path / "t"), stats_col=["a", "b"])
    df = spark.createDataFrame(
        [(i, f"g{i % 2}", f"v{i}") for i in range(20)],
        "a long, b string, v string",
    )
    t.init(df.filter("a < 10").coalesce(1))
    t.append(df.filter("a >= 10").coalesce(1))
    src = spark.createDataFrame(
        [(3, "g1", "U", False)], "a long, b string, v string, dead boolean"
    )
    t.merge(src, ["a", "b"], delete_col="dead")
    cs = t.last_merge_scan_counts
    assert cs["files_total"] == 2 and cs["hit_scan_candidates"] == 1
    got = {(r.a, r.b, r.v) for r in t.snapshot().collect()}
    assert (3, "g1", "U") in got and len(got) == 20


def test_merge_empty_source_with_stats_is_noop(spark, tmp_path):
    """An empty source yields NULL key bounds — pruning must be
    skipped (not raise), and the merge stays a version-preserving
    no-op."""
    t = TxTable(spark, str(tmp_path / "t"), stats_col="k")
    t.init(_df(spark, [(1, "a")]))
    v = t.latest_version()
    src = spark.createDataFrame([], "k long, v string, dead boolean")
    assert t.merge(src, "k", delete_col="dead") == v


def test_delete_rewrite_reads_only_hit_files(spark, tmp_path):
    """delete()'s survivor rewrite re-reads only the manifest entries
    whose files contained matches (optimization r13) — results and
    carried-entry behavior unchanged."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.init(_df(spark, [(i, f"v{i}") for i in range(10)]).coalesce(1))
    t.append(_df(spark, [(i, f"v{i}") for i in range(10, 20)]).coalesce(1))
    before = {e["path"] for e in t.manifest()["files"]}
    t.delete("k = 15")
    after = {e["path"] for e in t.manifest()["files"]}
    assert len(before & after) == 1, "the un-hit file must carry"
    got = sorted(r.k for r in t.snapshot().collect())
    assert got == [i for i in range(20) if i != 15]
