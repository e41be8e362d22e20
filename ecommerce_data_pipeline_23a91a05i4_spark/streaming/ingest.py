"""Structured Streaming ingest + windowed aggregation.

The reference has no streaming — Kafka ingest is its stated future
enhancement (README.md:260-265) and its batch freshness monitor
(pipeline_monitor.py:143-159) proxies for lag.  This module is the
idiomatic Spark realization over the driver's `events` table:

- file-source readStream (swap for Kafka in production — same plan)
- event-time tumbling windows with a watermark for late data
- the streaming twin of q15_hourly_events (plans/monitoring.py): the same
  aggregation expressed incrementally
- stateful sessionization via applyInPandasWithState — the one place the
  engine uses Python state, because Spark has no built-in session operator
  with custom gap semantics over arbitrary state

Scale notes: the windowed aggregate shuffles on (window, event_type) with
partial aggregation map-side; state store size is bounded by the watermark
horizon.  Sessionization shuffles on user_id; state per key is O(1).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

EVENTS_RAW_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampNTZType()),  # parquet timestamp[us], tz-naive
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])

SESSION_GAP_US = 30 * 60 * 1_000_000


def _stream_parquet(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """File-source stream over a parquet path.  File streams need a
    *directory*; a single-file path is handled by streaming its parent
    with a pathGlobFilter on the file name."""
    import os

    reader = spark.readStream.schema(schema)
    if path.endswith(".parquet") and os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet (ts normalized to
    microsecond timestamps exactly like the batch catalog)."""
    raw = _stream_parquet(spark, path, EVENTS_RAW_SCHEMA)
    # tz-naive micros -> session-TZ TIMESTAMP (instant-preserving under the
    # UTC session), matching the batch catalog's events normalization.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_event_counts_exact(events: DataFrame) -> DataFrame:
    """The *exact* streaming twin of plans/monitoring.q15_hourly_events:
    identical grouping (date_trunc hour, not the window() operator — no
    watermark, meant for complete-mode/availableNow replay) and identical
    deterministic arithmetic (decimal sum + floor-quantized mean), so a
    drained stream produces byte-identical rows to the batch query and
    can share its DuckDB oracle."""
    from ..functions.exprs import dsum, mean2, r2

    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("event_count"),
        r2(dsum(F.col("value"))).alias("total_value"),
        mean2(F.col("value"), F.count(F.lit(1))).alias("avg_value"),
    )


def hourly_event_counts(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of q15: tumbling 1-hour windows per event type with
    late-data tolerance = watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


_SESSION_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("n_sessions", LongType()),
    StructField("n_events", LongType()),
])
_SESSION_STATE = StructType([
    StructField("last_us", LongType()),
    StructField("n_sessions", LongType()),
    StructField("n_events", LongType()),
])


def _session_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user session counting: a new session starts after a >30 min gap.
    State is (last event micros, session count, event count).

    All Arrow chunks of the micro-batch are concatenated and sorted ONCE
    before folding the gap state — a group spanning multiple chunks would
    otherwise see non-globally-sorted timestamps and mis-count sessions.
    Ordering is guaranteed *within* a micro-batch only; an event arriving
    in a later batch with a timestamp older than the group's last seen one
    (late data beyond the trigger boundary) is folded in arrival order —
    pair with dedup_stream's watermark (or a session-window agg) when the
    source can reorder across batches."""
    if state.exists:
        last_us, n_sessions, n_events = state.get
    else:
        last_us, n_sessions, n_events = None, 0, 0
    # normalize to microseconds explicitly — Arrow may back the column
    # with datetime64[ns] or [us] depending on pandas/pyarrow versions
    chunks = [
        pdf["ts"].astype("datetime64[us]").astype("int64") for pdf in pdfs
    ]
    if chunks:
        for us in pd.concat(chunks, ignore_index=True).sort_values():
            if last_us is None or us - last_us > SESSION_GAP_US:
                n_sessions += 1
            last_us = int(us)
            n_events += 1
    state.update((last_us, n_sessions, n_events))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Stateful sessionization (applyInPandasWithState).  Emits the running
    per-user session/event counts each micro-batch; the batch oracle is
    q16_user_sessions."""
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_native(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Per-session rows via Spark's BUILT-IN ``session_window``
    aggregation — the engine-native twin of :func:`sessionize_stream`.

    Semantics match q16_user_sessions exactly at the boundary: the native
    operator merges two events whose gap is <= the gap duration (verified
    empirically — an exactly-30-minute gap merges), which is the same
    partition as q16's "new session when gap > 30 min".

    Where this beats the applyInPandasWithState sessionizer: session
    merging is handled by the state store across micro-batches, so an
    event arriving in a LATER batch with an older timestamp (cross-batch
    late data, the documented blind spot of ``_session_fn``'s
    arrival-order fold) still lands in — or bridges — the right
    session(s), as long as it beats the watermark.  State is evicted by
    the watermark; pass ``watermark=None`` only for availableNow /
    complete-mode replays of finite data, where sessions must all emit
    without waiting for watermark closure (append-mode emission only
    fires for sessions older than the watermark, which never happens for
    the tail of a drained stream).

    Returns (user_id, session_start, session_end, n_events) where
    session_end is the LAST EVENT's timestamp (the native window end
    minus the gap padding), matching q16's per-session min/max(ts).
    """
    src = events
    if watermark is not None:
        src = src.withWatermark("ts", watermark)
    sess = src.groupBy(
        "user_id", F.session_window("ts", gap).alias("sw")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return sess.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        # native end = last event + gap; subtract to recover last event
        (F.col("sw.end") - F.expr(f"INTERVAL {gap}")).alias("session_end"),
        "n_events",
    )


def dedup_stream(
    events: DataFrame, key: str = "event_id", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on the event key within the
    watermark horizon — the idempotency layer every at-least-once source
    (Kafka, file redelivery) needs in front of the bronze sink.

    State holds one entry per key seen inside the watermark window and is
    evicted as the watermark advances, so memory is bounded by
    (arrival rate x horizon), not by stream lifetime.  Without the
    withWatermark call, streaming dropDuplicates state grows forever —
    that is the 100 TB foot-gun this wrapper exists to prevent."""
    return events.withWatermark("ts", watermark).dropDuplicates([key, "ts"])


def enrich_stream(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (small, broadcast) static dimension — no streaming state at all, the
    static side is re-resolved per batch.  This is the streaming twin of
    the warehouse star join (J2): facts stream, dimensions broadcast."""
    return events.join(F.broadcast(dim), on, "left")


def attribute_stream(
    events: DataFrame,
    cause: str = "click",
    effect: str = "purchase",
    horizon: str = "30 minutes",
) -> DataFrame:
    """Stream-STREAM interval join: attribute each `effect` event to every
    `cause` event by the same user within the preceding horizon — the
    streaming form of click→purchase attribution (and of the batch
    range-join t14 / as-of t12 family).

    Both sides carry a watermark AND the join condition bounds event-time
    distance; together they let Spark evict join state once an input is
    older than (watermark + horizon), so state is O(arrival rate x
    horizon), not unbounded.  A stream-stream join WITHOUT the time-range
    condition must keep every row forever — the same foot-gun
    dedup_stream documents for dropDuplicates.

    Inner join by design: appends fire as soon as both sides match; an
    outer variant would additionally wait for watermark closure on the
    unmatched side."""
    c = (
        events.filter(F.col("event_type") == cause)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("cause_id"),
            F.col("ts").alias("cause_ts"),
        )
        .withWatermark("cause_ts", horizon)
    )
    e = (
        events.filter(F.col("event_type") == effect)
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("effect_id"),
            F.col("ts").alias("effect_ts"),
            F.col("value"),
        )
        .withWatermark("effect_ts", horizon)
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("effect_ts") > F.col("cause_ts"))
        & (
            F.col("effect_ts")
            <= F.col("cause_ts") + F.expr(f"INTERVAL {horizon}")
        )
    )
    return c.join(e, cond, "inner").select(
        "user_id", "cause_id", "effect_id", "cause_ts", "effect_ts", "value"
    )


def attribute_stream_outer(
    events: DataFrame,
    cause: str = "click",
    effect: str = "purchase",
    horizon: str = "30 minutes",
    how: str = "leftOuter",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join (VERDICT r9 missing #4):
    ``attribute_stream`` plus the rows attribution pipelines also need
    — every `cause` event that found NO `effect` within the horizon,
    emitted once with NULL effect columns.

    Emission semantics (Spark's outer-join rule): a matched pair
    appends as soon as both inputs arrive, like the inner join; an
    UNMATCHED cause appends only when its state is evicted — once the
    watermark passes cause_ts + horizon, the point where a matching
    effect can no longer arrive.  Unmatched rows are therefore delayed
    by (horizon + watermark delay), never wrong; state stays
    O(arrival rate × horizon) exactly as in the inner form.  The same
    both-side watermarks + time-range condition are REQUIRED here —
    Spark rejects an outer stream-stream join without them, because
    'no match can still arrive' would otherwise be undecidable.

    ``how`` extends the same machinery to ``"fullOuter"`` (orphaned
    effects — purchases with no qualifying click — also emit once,
    null-padded on the cause side, under the same eviction rule) or
    ``"rightOuter"``; Spark enforces the identical watermark +
    time-range requirements for every outer flavor.

    Returns (user_id, cause_id, cause_ts, effect_id, effect_ts, value)
    with the unmatched side's columns NULL; ``user_id`` is COALESCEd
    across the two sides so it is present on every row whichever side
    is unmatched."""
    c = (
        events.filter(F.col("event_type") == cause)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("cause_id"),
            F.col("ts").alias("cause_ts"),
        )
        .withWatermark("cause_ts", horizon)
    )
    e = (
        events.filter(F.col("event_type") == effect)
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("effect_id"),
            F.col("ts").alias("effect_ts"),
            F.col("value"),
        )
        .withWatermark("effect_ts", horizon)
    )
    cond = (
        (F.col("user_id") == F.col("e_user"))
        & (F.col("effect_ts") > F.col("cause_ts"))
        & (
            F.col("effect_ts")
            <= F.col("cause_ts") + F.expr(f"INTERVAL {horizon}")
        )
    )
    return c.join(e, cond, how).select(
        F.coalesce(F.col("user_id"), F.col("e_user")).alias("user_id"),
        "cause_id",
        "cause_ts",
        "effect_id",
        "effect_ts",
        "value",
    )


DOCS_RAW_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
    StructField("source", StringType()),
    StructField("n_chars", LongType()),
])


def stream_documents(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the documents parquet."""
    return _stream_parquet(spark, path, DOCS_RAW_SCHEMA)


EMBEDDINGS_RAW_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(FloatType())),
    StructField("label", IntegerType()),
])


def stream_embeddings(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the embeddings parquet."""
    return _stream_parquet(spark, path, EMBEDDINGS_RAW_SCHEMA)


def semdedup_stream(
    vectors: DataFrame,
    corpus_store: DataFrame,
    centroid_rows: list[tuple[int, list[float]]],
    threshold: float = 0.999,
    ndigits: int = 6,
    max_group: int | None = None,
) -> DataFrame:
    """STREAMING semantic dedup of incoming vectors against the
    persisted corpus state — the semdedup member of the in-flight
    screening family (neardup_stream's embedding twin): per-row
    assignment to LITERAL frozen centroids plus the SRP sub key
    (operators/similarity.rowwise_semdedup_assign — no window, no
    state), then one stream-static join against the semdedup_assign
    store keyed on (cluster_id, sub), exact cosine verifying each
    candidate.  Emits (vec_id, cluster_id, corpus_id, cosine_sim)
    append-mode rows for every corpus member the incoming vector
    near-duplicates; zero streaming state, so memory is flat at any
    stream length.

    ``max_group`` (default similarity.SEMDEDUP_MAX_CLUSTER) bounds the
    STATIC side like semdedup_incremental's cap: only the max_group
    lowest-id store rows per (cluster_id, sub) group are joinable, so
    a degenerate corpus (one giant SRP-agreeing group) cannot make the
    per-row stream join O(N) — pairs against beyond-cap (high-id)
    group members are the documented residual.  The cap is a one-time
    batch window on the static store, not stream state."""
    from ..functions.exprs import quant
    from ..operators import similarity as sim

    if max_group is None:
        max_group = sim.SEMDEDUP_MAX_CLUSTER
    assigned = vectors.select(
        "vec_id",
        "embedding",
        sim.rowwise_semdedup_assign(
            F.col("embedding"), centroid_rows
        ).alias("a"),
    ).select(
        "vec_id",
        "embedding",
        F.col("a.cluster_id").alias("cluster_id"),
        F.col("a.sub").alias("sub"),
    )
    wg = Window.partitionBy("cluster_id", "sub").orderBy("corpus_id")
    store = (
        corpus_store.select(
            F.col("id").alias("corpus_id"),
            "cluster_id",
            "sub",
            F.col("vec").alias("cvec"),
        )
        .withColumn("_rn", F.row_number().over(wg))
        .filter(F.col("_rn") <= max_group)
        .drop("_rn")
    )
    return (
        assigned.join(store, ["cluster_id", "sub"])
        .withColumn(
            "cosine_sim",
            quant(sim.cosine(F.col("embedding"), F.col("cvec")), ndigits),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("vec_id", "cluster_id", "corpus_id", "cosine_sim")
    )


def neardup_stream(
    docs: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.35,
) -> DataFrame:
    """STREAMING near-dedup of incoming documents against the persisted
    corpus LSH index — in-flight contamination/duplication screening, the
    streaming twin of operators/dedup.minhash_incremental_pairs.

    Everything on the stream side is STATELESS per-row work: the
    document's shingle set, MinHash signature, and band keys are pure
    column expressions (dedup.rowwise_md5_bands — provably equal to the
    batch groupBy signatures), the bands explode is a flatMap, and both
    joins are stream-static:

      stream bands ⋈ corpus_bands on (band, bkey)   -> candidates
      candidates  ⋈ corpus_shingles on corpus id    -> exact verify

    Exact Jaccard is per-row array arithmetic over the two shingle
    sets.  No watermark state, no stream-stream join, no aggregation —
    state is zero, so the plan runs at any rate.  One candidate pair can
    surface via several bands; the caller dedups after the drain (or a
    keyed idempotent sink absorbs it) — kept out of the stream to avoid
    unbounded dropDuplicates state.

    corpus_bands: (id, band, bkey) from dedup.md5_band_table (persisted);
    corpus_shingles: (id, shingles array<string>) for the same corpus.
    Emits (id_a, id_b, jaccard) with id_a < id_b.
    """
    from ..operators.dedup import rowwise_md5_bands, shingle_array

    enriched = docs.select(
        F.col("doc_id").alias("d_id"),
        shingle_array(F.col("text")).alias("d_shingles"),
    ).select(
        "d_id",
        "d_shingles",
        F.explode(rowwise_md5_bands(F.col("d_shingles"), num_perm, bands)).alias(
            "bk"
        ),
    ).select("d_id", "d_shingles", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    cand = enriched.join(
        corpus_bands.select(
            F.col("id").alias("c_id"), "band", "bkey"
        ),
        ["band", "bkey"],
    ).filter(F.col("d_id") != F.col("c_id"))
    # no broadcast hint: corpus_shingles is corpus-sized — at gate scale
    # AQE broadcasts it anyway, at 100 TB a bucketed-by-id layout joins
    # the per-batch candidates without shuffling the corpus side, and a
    # forced broadcast would hit Spark's 8 GB table limit / driver OOM
    verified = cand.join(
        corpus_shingles.select(
            F.col("id").alias("c_id"), F.col("shingles").alias("c_shingles")
        ),
        "c_id",
    )
    inter = F.size(F.array_intersect(F.col("d_shingles"), F.col("c_shingles")))
    union = (
        F.size(F.col("d_shingles")) + F.size(F.col("c_shingles")) - inter
    )
    return (
        verified.select(
            F.least(F.col("d_id"), F.col("c_id")).alias("id_a"),
            F.greatest(F.col("d_id"), F.col("c_id")).alias("id_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def run_available_now(
    stream_df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    output_mode: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame | None:
    """Drain the stream with trigger(availableNow) — the one place the
    package builds such a query (gates reach it through the gate
    scaffold's ``Scratch.drain``).  ``sink`` is either a view name, for
    a memory sink whose table is returned (the caller drops the view),
    or a ``foreachBatch`` function, and then None is returned.

    The memory sink's default mode is update (aggregations emit refined
    results per batch); stream-stream joins are append-only by Spark's
    rules — pass output_mode="append" for those."""
    w = stream_df.writeStream.trigger(availableNow=True)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    if callable(sink):
        w = w.foreachBatch(sink)
    else:
        w = w.format("memory").queryName(sink).outputMode(
            output_mode or "update"
        )
    q = w.start()
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return None if callable(sink) else stream_df.sparkSession.table(sink)


def stream_equals_batch(stream_result: DataFrame, batch_result: DataFrame) -> bool:
    """Row-multiset equality between a drained stream and its batch
    twin — the shared pin of the s8/s11/s12/s13/s14 gate family (the
    stream's final state must make micro-batch splits invisible)."""
    return (
        stream_result.exceptAll(batch_result).count() == 0
        and batch_result.exceptAll(stream_result).count() == 0
    )


def stream_to_bronze(
    events: DataFrame,
    dst_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming ingest → bronze parquet (the realization of the
    reference's 'real-time ingestion' future enhancement, README.md:
    260-265): drain with availableNow for batch-compatible runs, or drop
    the trigger for continuous micro-batches.

    foreachBatch gives per-micro-batch atomic parquet appends plus access
    to the full DataFrame API (e.g. adding the loaded_at audit column the
    bronze layer contract requires)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("loaded_at", F.current_timestamp())
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(dst_dir)
        )

    run_available_now(events, write_batch, checkpoint_dir=checkpoint_dir)
