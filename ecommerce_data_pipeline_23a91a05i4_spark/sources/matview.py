"""Incremental materialized aggregates over the transactional table —
change-data-feed diffs from the manifest log, and MV refresh that
touches only changed groups.

The 100 TB problem: a dashboard aggregate (revenue per segment, docs
per domain, tokens per shard) over a petabyte base table cannot be
recomputed from scratch every time a CDC batch lands.  The published
answer (Delta's Change Data Feed + "apply changes into" / classic
incremental view maintenance) has two parts, both of which the manifest
log already pays for:

- **table_changes(t, from, to)** — an EXACT row-multiset diff between
  two versions, read from the files that changed and nothing else.
  Because data files are immutable and every commit lists its file set,
  ``rows(to) = rows(from) − rows(removed files) + rows(added files)``
  holds by construction: no change journal is stored, no tombstones,
  no extra write-path cost — the diff falls out of the log.  Cost is
  O(changed files), not O(table).
- **mv_init / mv_refresh** — maintain a SUM/COUNT aggregate table (the
  self-maintainable aggregate class: deletes are handled by
  subtraction, which min/max famously cannot do) by aggregating ONLY
  the diff, adding it to the affected groups' old values, and
  upserting through :meth:`TxTable.merge` — so the MV commit rewrites
  only the files containing touched groups, and a group whose row
  count reaches zero is deleted.  Measures accumulate in DECIMAL, so
  incremental state equals a from-scratch recompute EXACTLY (bit-equal,
  not approximately) — the property the t68 gate and its oracle pin.

Refresh cost is O(changed base files + touched MV groups); a daily 1 GB
CDC batch against a 100 TB base costs the same whether the base is 1 TB
or 100 TB.
"""

from __future__ import annotations

import functools
import json
from operator import or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.exprs import DEC
from .txtable import TxTable, _bounded_broadcast

#: change-type tags in the table_changes feed (Delta CDF vocabulary)
CHANGE_INSERT = "insert"
CHANGE_DELETE = "delete"


def table_changes(
    t: TxTable, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Row-level diff between two versions as a DataFrame with a
    ``_change_type`` column (``insert`` / ``delete``), satisfying
    ``snapshot(to) == snapshot(from) ⊎ inserts ∖ deletes`` as
    multisets.  Reads ONLY files present in one manifest but not the
    other; a version gap spanning many commits collapses to one
    net diff (intermediate states are never materialized).  Rewritten
    files (delete/merge/compact) contribute their surviving rows to
    BOTH sides; downstream consumers that aggregate the diff see those
    cancel exactly.  Raises across a schema change — a diff between
    incompatible row types has no single row shape."""
    from .txtable import _col_mapping, _file_diff

    m_to = t.manifest(to_version)
    m_from = t.manifest(from_version)
    if m_to["schema"] != m_from["schema"] or m_to.get(
        "column_mapping"
    ) != m_from.get("column_mapping"):
        raise ValueError(
            f"table_changes on {t.path}: versions {m_from['version']} and "
            f"{m_to['version']} have different schemas (or column "
            "mappings) — diff rows have no single shape; rebuild "
            "consumers from the new snapshot instead"
        )
    schema = StructType.fromJson(json.loads(m_to["schema"]))
    added, removed, dv_changed = _file_diff(m_from["files"], m_to["files"])
    # entries on both sides read with their own side's deletion vector
    # applied (automatic in _read_entries), so a vectored file that is
    # later rewritten contributes exactly its visible rows to each side
    ins = t._read_entries(
        schema, m_to.get("partition_by"), added, mapping=_col_mapping(m_to)
    )
    rem = t._read_entries(
        schema,
        m_from.get("partition_by"),
        removed,
        mapping=_col_mapping(m_from),
    )
    # a path on BOTH sides with a different deletion vector changed
    # rows without changing files (delete_dv, or a restore across
    # one): the row-level diff is the POSITION diff of the two
    # vectors, read once against the raw (vector-free) file rows
    if dv_changed:
        cols = [f.name for f in schema.fields]
        raw = t._read_entries(
            schema,
            m_to.get("partition_by"),
            [{k: v for k, v in e.items() if k != "dv"} for _, e in dv_changed],
            mapping=_col_mapping(m_to),
            _lineage=True,
        )

        def dv_pos(side: list[dict]) -> DataFrame | None:
            paths = sorted(
                {t._dv_abs(e) for e in side if e.get("dv")}
            )
            if not paths:
                return None
            return t._read_dvs(paths).select(
                F.col("file_key").alias("_tx_key"),
                F.col("pos").alias("_tx_pos"),
            )

        pos_from = dv_pos([ef for ef, _ in dv_changed])
        pos_to = dv_pos([et for _, et in dv_changed])

        def pos_diff(a: DataFrame | None, b: DataFrame | None):
            if a is None:
                return None
            if b is None:
                return a
            return a.join(b, ["_tx_key", "_tx_pos"], "left_anti")

        newly_deleted = pos_diff(pos_to, pos_from)
        newly_visible = pos_diff(pos_from, pos_to)  # a restore shrank a dv
        if newly_deleted is not None:
            rem = rem.unionByName(
                raw.join(
                    newly_deleted, ["_tx_key", "_tx_pos"], "leftsemi"
                ).select(cols)
            )
        if newly_visible is not None:
            ins = ins.unionByName(
                raw.join(
                    newly_visible, ["_tx_key", "_tx_pos"], "leftsemi"
                ).select(cols)
            )
    return ins.withColumn("_change_type", F.lit(CHANGE_INSERT)).unionByName(
        rem.withColumn("_change_type", F.lit(CHANGE_DELETE))
    )


def _signed_agg(
    df: DataFrame,
    group_cols: list[str],
    measures: dict[str, str],
    dec: str,
    sign,
) -> DataFrame:
    # NULL measure values count as 0 BEFORE the sum (not SQL SUM's
    # skip-NULLs): an all-NULL group must aggregate to 0, not NULL,
    # or the incremental path (which adds coalesced deltas to
    # coalesced state) and the from-scratch recompute would disagree
    # on exactly those groups
    zero = F.lit(0).cast(dec)
    aggs = [
        F.sum(F.coalesce(F.expr(expr).cast(dec), zero) * sign)
        .cast(dec)
        .alias(name)
        for name, expr in measures.items()
    ]
    aggs.append(F.sum(sign).cast("long").alias("n_rows"))
    return df.groupBy(*group_cols).agg(*aggs)


def mv_aggregate(
    df: DataFrame,
    group_cols: list[str],
    measures: dict[str, str],
    dec: str = DEC,
) -> DataFrame:
    """The MV's defining aggregation over an arbitrary row set — what
    mv_init materializes, and what a from-scratch recompute produces
    for equality checks against incrementally maintained state."""
    return _signed_agg(df, group_cols, measures, dec, F.lit(1))


def mv_stamp_read(mv: TxTable, key: str) -> int | None:
    """Latest value of a manifest stamp ``key`` on ``mv`` (newest
    commit that carries it) — the durable absorbed-version pointer an
    index service resumes from.  None when no commit carries the key
    (the service was never built)."""
    for v in reversed(mv.versions()):
        got = mv._manifest_raw(v).get(key)
        if got is not None:
            return int(got)
    return None


def mv_stamp_write(mv: TxTable, key: str, version: int) -> None:
    """Metadata-only commit re-publishing the MV's current file set
    with ``{key: version}`` in the manifest.  ONLY for the net-no-op
    refresh case, where the stamp has no data commit to ride (see
    mv_apply_changes) — an eventful refresh must pass the stamp via
    ``extra`` instead, so state and stamp land atomically."""
    m = mv.manifest()
    mv._commit(
        m["files"],
        f"{key.rsplit('_', 2)[0]}_stamp" if "_" in key else "stamp",
        m["version"],
        StructType.fromJson(json.loads(m["schema"])),
        m.get("partition_by"),
        extra={key: int(version)},
    )


def _null_group_error(verb: str, group_cols: list[str]) -> ValueError:
    """THE null-group rejection — one message, one semantics, for every
    path that materializes or refreshes an MV (ADVICE r12: the refresh
    path had inlined a drifting copy)."""
    return ValueError(
        f"{verb}: NULL value in a group column {group_cols} — "
        "merge-keyed refresh cannot address NULL groups; encode a "
        "sentinel in the group expression (e.g. coalesce(col, '∅')) "
        "before materializing"
    )


def _reject_null_groups(
    agg: DataFrame, group_cols: list[str], verb: str, with_count: bool = False
):
    """Fail loudly on a NULL value in any group column (ADVICE r6):
    merge() keys cannot be NULL, so an MV init that materialized a NULL
    group would make EVERY later refresh raise — init and refresh must
    agree, and they agree on rejection (one shared message/semantics,
    ADVICE r12).  The check runs on the already-aggregated relation
    (O(groups), not O(base)); callers with genuinely NULL-able group
    expressions should encode a sentinel in the group expression (e.g.
    ``coalesce(col, '∅')``) so both the MV and its readers see one
    consistent value.  Returns the aggregate localCheckpoint-ed
    (explicitly EAGER — ADVICE r11 asked for the materialization point
    to be unambiguous), so validation, the later size probe, and the
    subsequent write all share one materialization.

    ``with_count=True`` returns ``(agg, n_rows)`` instead, folding the
    row count into the SAME single validation job (the refresh path
    needs it for broadcast sizing — optimization r12 made null probe +
    count one job; this keeps that while sharing the rejection)."""
    agg = agg.localCheckpoint(eager=True)
    if not group_cols:
        # a global (no-group) aggregate has no key columns to be NULL;
        # init works as before (refresh would fail at merge-on-no-keys,
        # which is that verb's own loud contract)
        return (agg, None) if with_count else agg
    nullish = functools.reduce(or_, (F.col(c).isNull() for c in group_cols))
    if with_count:
        # one task over the materialized (delta-sized) aggregate: the
        # global aggregate then needs no exchange, so the probe is ONE
        # job
        chk = agg.coalesce(1).agg(
            F.count(F.lit(1)).alias("_n"),
            F.max(
                F.when(nullish, F.lit(1)).otherwise(F.lit(0))
            ).alias("_has_null"),
        ).collect()[0]
        if chk["_has_null"]:
            raise _null_group_error(verb, group_cols)
        return agg, int(chk["_n"])
    if agg.filter(nullish).limit(1).count():
        raise _null_group_error(verb, group_cols)
    return agg


def mv_init(
    mv: TxTable,
    base_rows: DataFrame,
    group_cols: list[str],
    measures: dict[str, str],
    dec: str = DEC,
    partition_by: str | None = None,
    transform=None,
    extra: dict | None = None,
) -> int:
    """Create the aggregate table from a full base snapshot:
    (group_cols..., <measure> decimal..., n_rows long).  ``measures``
    maps output names to SQL expressions summed per group — the
    self-maintainable class (SUM of an expression; COUNT(*) is
    ``"1"``).  DECIMAL accumulation makes later incremental refreshes
    exactly equal to this full aggregation, not approximately.  NULL
    group values are rejected up front (see
    :func:`_reject_null_groups`) — previously they initialized fine
    and then bricked every refresh at merge time.

    ``transform`` (optional) is a ROW-LOCAL frame function applied to
    the base rows before aggregation — each output row must derive
    from exactly one input row (select / withColumn / explode /
    filter; never a join, window, or aggregate), because refresh
    applies it to inserted and deleted rows separately and relies on
    the same input row always producing the same output rows.  This
    extends the self-maintainable class to MVs over a flatMap of the
    base — e.g. an inverted text index: doc -> exploded (term, tf)
    rows, grouped by term (VERDICT r10 next #6).

    ``extra`` rides on the init commit's manifest verbatim — the
    crash-atomic way for an index service to stamp the absorbed base
    version on the SAME commit that materializes the state (ADVICE
    r11: a separate stamp commit leaves a window where a crash
    re-applies an already-absorbed delta)."""
    if transform is not None:
        base_rows = transform(base_rows)
    agg = _reject_null_groups(
        _signed_agg(base_rows, group_cols, measures, dec, F.lit(1)),
        group_cols,
        "mv_init",
    )
    if partition_by is not None:
        # co-locate each partition value's rows in ONE task before the
        # partitioned write: without this every shuffle partition
        # writes a sliver of every value (tasks × values files — 1024
        # for a 32-bucket MV at 32 shuffle partitions), and the
        # partition-pruned read path pays per-file open cost that
        # swamps the rows it skips
        agg = agg.repartition(F.col(partition_by))
    return mv.init(agg, partition_by=partition_by, extra=extra)


def mv_refresh(
    mv: TxTable,
    base: TxTable,
    group_cols: list[str],
    measures: dict[str, str],
    from_version: int,
    to_version: int | None = None,
    dec: str = DEC,
    transform=None,
    extra: dict | None = None,
) -> int:
    """Advance the MV by the base diff ``(from_version, to_version]``:
    aggregate the change feed with ±1 signs, add it to the affected
    groups' stored values, and upsert via merge — groups whose row
    count reaches zero are deleted, groups never touched are never
    read twice nor rewritten (merge's file-granular contract).  No-op
    diffs (a pure compact, an empty gap) commit nothing.  Returns the
    committed MV version — the CALLER tracks which base version the MV
    now reflects (explicit state, like the incremental dedup
    operators).

    ``transform`` must be the SAME row-local frame function the MV was
    initialized with (see mv_init): it is applied to the inserted and
    deleted change rows separately — a deleted base row re-derives
    exactly the rows it contributed at insert time, so subtracting
    them is exact."""
    return mv_apply_changes(
        mv,
        table_changes(base, from_version, to_version),
        group_cols,
        measures,
        dec=dec,
        transform=transform,
        extra=extra,
    )


def mv_apply_changes(
    mv: TxTable,
    change_rows: DataFrame,
    group_cols: list[str],
    measures: dict[str, str],
    dec: str = DEC,
    transform=None,
    extra: dict | None = None,
) -> int:
    """Advance the MV by an ARBITRARY change-row set — base columns
    plus ``_change_type`` ('insert'/'delete') — instead of a version
    range: the streaming entry point (a micro-batch of
    sources/txstream.stream_table_changes IS such a row set, so a
    foreachBatch can maintain the MV one micro-batch at a time —
    gate s20's gold hop), and the shared engine under mv_refresh.
    Same algebra: signed aggregation of the change rows, added to the
    affected groups' stored values via one keyed merge; groups
    reaching zero rows are deleted; untouched groups are never read.
    Returns the committed MV version (the current one on a net-no-op
    change set).

    The signed delta and the joined new group state are each
    materialized once, and one aggregate over the latter picks the
    branch (no-op, pure-insert append, or merge).  The delta's group
    keys are broadcast into the MV-side semi join when they fit the
    bound of txtable._bounded_broadcast — the key-set policy merge()
    shares, whose own key broadcast and single survivors-plus-upserts
    write then carry the commit.

    ``extra`` rides on the refresh's own append/merge commit manifest
    (the crash-atomic stamp channel, see mv_init).  A net-no-op change
    set commits NOTHING — extra is then not recorded, and the caller's
    stamp must be advanced separately (safe: re-applying a net-no-op
    range is itself a no-op)."""
    ch = change_rows
    if transform is None:
        sign = F.when(
            F.col("_change_type") == CHANGE_INSERT, 1
        ).otherwise(-1)
        delta = _signed_agg(ch, group_cols, measures, dec, sign)
    else:
        feed_cols = ["_change_type", "_commit_version"]
        drop = [c for c in feed_cols if c in ch.columns]
        ins = transform(
            ch.filter(F.col("_change_type") == CHANGE_INSERT).drop(*drop)
        ).withColumn("_mv_sign", F.lit(1))
        rem = transform(
            ch.filter(F.col("_change_type") == CHANGE_DELETE).drop(*drop)
        ).withColumn("_mv_sign", F.lit(-1))
        delta = _signed_agg(
            ins.unionByName(rem),
            group_cols,
            measures,
            dec,
            F.col("_mv_sign"),
        )
    # rewritten-but-unchanged groups (compact, carried survivors)
    # net to zero — dropping them keeps the merge from rewriting
    # untouched MV files
    nonzero = F.col("n_rows") != 0
    for name in measures:
        nonzero = nonzero | (F.col(name) != 0)
    # a NULL group arriving AFTER init fails through the SAME shared
    # rejection as mv_init (init and refresh agree on rejection;
    # ADVICE r6/r12) instead of merge's generic NULL-key error.  The
    # null probe and the broadcast-sizing row count share ONE job over
    # the checkpointed delta (optimization r12 — they were two).
    delta, n_delta_precomputed = _reject_null_groups(
        delta.filter(nonzero), group_cols, "mv_refresh", with_count=True
    )
    old = mv.snapshot()
    renames = {name: f"_old_{name}" for name in [*measures, "n_rows"]}
    for src, dst in renames.items():
        old = old.withColumnRenamed(src, dst)
    # prune the stored state to the AFFECTED groups before joining: the
    # delta names every group it touches, so the untouched majority of
    # a large MV (a 100 TB postings index refreshing a 1/1000 delta)
    # must never enter a shuffle — when the delta's group-key set is
    # small (delta is eagerly checkpointed in _reject_null_groups, so
    # the count reads the materialized blocks, not a recompute) the
    # semi join is FORCED to broadcast it, making the refresh's join
    # cost one columnar MV scan + O(delta); a genuinely huge delta (a
    # backfill) falls back to the planner's shuffled join
    # (txtable._bounded_broadcast, the policy merge() shares).
    n_delta = (
        n_delta_precomputed
        if n_delta_precomputed is not None
        else delta.count()
    )
    keys = _bounded_broadcast(delta.select(*group_cols), n_delta)
    joined = delta.join(
        old.join(keys, on=group_cols, how="leftsemi"),
        on=group_cols,
        how="left",
    )
    zero = F.lit(0).cast(dec)
    new_cols = [
        (
            F.coalesce(F.col(f"_old_{name}"), zero)
            + F.coalesce(F.col(name), zero)
        ).cast(dec).alias(name)
        for name in measures
    ]
    new_n = (
        F.coalesce(F.col("_old_n_rows"), F.lit(0)) + F.col("n_rows")
    ).cast("long")
    source = joined.select(
        *group_cols,
        *new_cols,
        new_n.alias("n_rows"),
        (new_n == 0).alias("_mv_dead"),
        F.col("_old_n_rows").isNotNull().alias("_mv_matched"),
    )
    # one delta-sized materialization: the MV scan in the semi join
    # above runs exactly once, and the fast-path probe below costs a
    # memory read, not a re-scan
    pcol = mv.manifest().get("partition_by")
    if pcol is not None and pcol in source.columns:
        # same file-count discipline as mv_init: one task per
        # partition value, or every refresh multiplies the MV's file
        # count by the shuffle parallelism
        source = source.repartition(F.col(pcol))
    source = source.localCheckpoint(eager=True)
    # ONE single-task aggregate over the delta-sized checkpoint (one
    # job, no exchange) answers the three branch questions: any row,
    # any matched group, any unmatched dead group
    flags = source.coalesce(1).agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.col("_mv_matched").cast("int")).alias("matched"),
        F.max(
            (F.col("_mv_dead") & ~F.col("_mv_matched")).cast("int")
        ).alias("dead"),
    ).collect()[0]
    if not flags["n"]:
        return mv.latest_version()
    if not flags["matched"]:
        # PURE-INSERT delta — every affected group is NEW (the
        # streaming shape: an append-only base never revisits a
        # group like a postings index fed fresh doc_ids).  merge()'s
        # hit-file detection would scan the whole MV to find zero
        # hits; append the new group rows directly instead — the
        # refresh then costs ONE MV scan (the semi prune) + O(delta).
        # A _mv_dead row cannot exist here: zero n_rows with no old
        # state means the delta's inserts and deletes cancelled
        # row-for-row, which the nonzero filter already dropped
        # (transform is row-local and deterministic, so cancellation
        # is exact) — guarded loudly all the same.
        if flags["dead"]:
            raise RuntimeError(
                "mv_apply_changes: unmatched group with net-zero rows "
                "but nonzero measures — the transform is not row-local"
            )
        return mv.append(
            source.drop("_mv_dead", "_mv_matched"), extra=extra
        )
    return mv.merge(
        source.drop("_mv_matched"),
        on=group_cols,
        delete_col="_mv_dead",
        extra=extra,
    )
