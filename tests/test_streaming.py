"""Structured Streaming: the streaming plans must agree with their batch
twins (q15/q16) when the stream is fully drained."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_data_pipeline_23a91a05i4_spark.plans import monitoring
from ecommerce_data_pipeline_23a91a05i4_spark.streaming import ingest as st

SF = "/root/testdata/sf0.001"
EVENTS = f"{SF}/events.parquet"


def test_hourly_counts_match_batch_twin(spark):
    stream = st.stream_events(spark, EVENTS)
    assert stream.isStreaming
    got = st.run_available_now(st.hourly_event_counts(stream), "hourly_t")
    batch = monitoring.q15_hourly_events(spark, SF)
    g = {
        (r.window_start, r.event_type): r.event_count
        for r in got.collect()
    }
    b = {
        (r.window_start, r.event_type): r.event_count
        for r in batch.collect()
    }
    assert g == b


def test_sessionize_stream_matches_batch_twin(spark):
    stream = st.stream_events(spark, EVENTS)
    got = st.run_available_now(st.sessionize_stream(stream), "sessions_t")
    # update-mode memory sink may hold one row per user per batch; the
    # availableNow drain is one batch here, so rows are final
    g = {r.user_id: (r.n_sessions, r.n_events) for r in got.collect()}
    batch = monitoring.q16_user_sessions(spark, SF)
    b = {r.user_id: (r.n_sessions, r.n_events) for r in batch.collect()}
    assert g == b


def test_watermark_present_in_plan(spark):
    stream = st.stream_events(spark, EVENTS)
    agg = st.hourly_event_counts(stream, watermark="2 hours")
    assert "watermark" in agg._jdf.queryExecution().analyzed().toString().lower()


def test_builtin_session_window_agrees_with_lag_based(spark):
    """Spark's built-in session_window must produce the same per-user
    session counts as the hand-rolled lag+cumsum batch operator (q16) —
    cross-validation of the 30-minute gap semantics."""
    from ecommerce_data_pipeline_23a91a05i4_spark.catalog import table

    events = table(spark, SF, "events")
    sw = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n").alias("n_events"))
    )
    got = {r.user_id: (r.n_sessions, r.n_events) for r in sw.collect()}
    batch = monitoring.q16_user_sessions(spark, SF)
    want = {r.user_id: (r.n_sessions, r.n_events) for r in batch.collect()}
    assert got == want


def test_dedup_stream_removes_redelivered_file(spark, tmp_path):
    """At-least-once redelivery: the same events file delivered twice must
    dedup back to the original row count (state keyed on event_id+ts
    within the watermark horizon)."""
    import shutil

    src = tmp_path / "dup_events"
    src.mkdir()
    shutil.copy(EVENTS, src / "delivery_1.parquet")
    shutil.copy(EVENTS, src / "delivery_2.parquet")

    stream = st.stream_events(spark, str(src))
    got = st.run_available_now(
        st.dedup_stream(stream), "dedup_t"
    )
    batch = spark.read.parquet(EVENTS)
    assert got.count() == batch.count()


def test_enrich_stream_matches_batch_star_join(spark):
    """Stream-static broadcast enrichment must equal the batch left join."""
    from ecommerce_data_pipeline_23a91a05i4_spark.catalog import table

    dim = (
        table(spark, SF, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    stream = st.stream_events(spark, EVENTS)
    got = st.run_available_now(st.enrich_stream(stream, dim, "user_id"), "enrich_t")
    batch = table(spark, SF, "events").join(F.broadcast(dim), "user_id", "left")
    assert got.count() == batch.count()
    g = got.groupBy("c_nationkey").count().collect()
    b = batch.groupBy("c_nationkey").count().collect()
    assert {(r.c_nationkey, r["count"]) for r in g} == {
        (r.c_nationkey, r["count"]) for r in b
    }


def test_append_windows_finalize_exactly_once_at_watermark(spark, tmp_path):
    """Append-mode watermark semantics, as Spark actually guarantees them
    (verified empirically on 4.1: the watermark guarantee is
    ONE-DIRECTIONAL — data within the delay is never dropped, but data
    below the watermark MAY still be aggregated; a late row arriving
    below the watermark is accepted and its window finalized+emitted in
    that same batch).  What IS deterministic, and what this test pins:

      - a window is emitted only once the watermark passes its end
      - each window is emitted exactly once (no re-emission)
      - open windows (end > final watermark) are never emitted

    Three files forced into separate micro-batches (maxFilesPerTrigger=1,
    mtime order):

      f1: three events 10:00-10:02      -> watermark after: 09:02
      f2: late event 00:30 (accepted + instantly finalized: count 1)
          fresh event 10:30             -> watermark after: 09:30
      f3: one event 13:00               -> watermark after: 12:00,
          which finalizes the 10:00 window (count 4); the 13:00 window
          stays open and must NOT be emitted
    """
    import os
    import time

    from pyspark.sql import Row

    from datetime import datetime

    def naive(s: str):
        return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

    src = tmp_path / "late_events"
    ckpt = str(tmp_path / "late_ckpt")
    mk = lambda eid, t: Row(  # noqa: E731
        event_id=eid, ts=naive(t), user_id=1, event_type="a", value=1.0, props="{}"
    )
    files = [
        ("f1.parquet", [mk(i, f"2024-06-01 10:0{i}:00") for i in range(3)], 1000),
        ("f2.parquet", [mk(100, "2024-06-01 00:30:00"),
                        mk(101, "2024-06-01 10:30:00")], 2000),
        ("f3.parquet", [mk(200, "2024-06-01 13:00:00")], 3000),
    ]
    for name, rows, mtime in files:
        spark.createDataFrame(rows, schema=st.EVENTS_RAW_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / name))
        for root, _, fs in os.walk(str(src / name)):
            for f in fs:
                os.utime(os.path.join(root, f), (mtime, mtime))

    raw = (
        spark.readStream.schema(st.EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    events = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = st.hourly_event_counts(events, watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_t")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("late_t").collect()
    got = {(r.window_start.hour, r.event_count) for r in rows}
    assert got == {(0, 1), (10, 4)}, f"unexpected finalized windows: {rows}"
    assert len(rows) == 2, f"window re-emitted: {rows}"


def test_native_sessionization_append_mode_bounds_state(spark, tmp_path):
    """sessionize_native with a WATERMARK in APPEND mode — the
    production form (VERDICT r4 ask #7; the s2b gate drains complete
    mode for finite replay).  Same one-directional watermark guarantee
    as the windowed test above, verified empirically on 4.1 and pinned:

      - a session is emitted once the watermark passes its window end,
        and exactly once (no re-emission on later batches)
      - a session still open at the final watermark is NOT emitted and
        is exactly what remains in the state store (bounded state: one
        row here, not one per session ever seen)
      - a late event below the watermark MAY still be accepted; when it
        is, its session finalizes immediately in that batch (it never
        reopens or re-emits an already-emitted session)

    Batches (maxFilesPerTrigger=1, mtime order, 30 min gap, 1 h delay):
      f1: u1 10:00+10:10 (one session), u2 10:05     -> wm 09:10
      f2: u1 14:00 (wm 13:00 -> the 10:xx sessions emit)
          u1 09:00 LATE below wm -> accepted, emits as a solo session
      f3: u2 18:00 (wm 17:00 -> u1's 14:00 session emits; 18:00 open)
    """
    import os

    from datetime import datetime

    from pyspark.sql import Row

    def naive(s: str):
        return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

    mk = lambda eid, uid, t: Row(  # noqa: E731
        event_id=eid, ts=naive(t), user_id=uid, event_type="a",
        value=1.0, props="{}",
    )
    src = tmp_path / "sess_events"
    files = [
        ("f1.parquet", [mk(1, 1, "2024-06-01 10:00:00"),
                        mk(2, 1, "2024-06-01 10:10:00"),
                        mk(3, 2, "2024-06-01 10:05:00")], 1000),
        ("f2.parquet", [mk(4, 1, "2024-06-01 14:00:00"),
                        mk(5, 1, "2024-06-01 09:00:00")], 2000),
        ("f3.parquet", [mk(6, 2, "2024-06-01 18:00:00")], 3000),
    ]
    for name, rows, mtime in files:
        spark.createDataFrame(rows, schema=st.EVENTS_RAW_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / name))
        for root, _, fs in os.walk(str(src / name)):
            for f in fs:
                os.utime(os.path.join(root, f), (mtime, mtime))
    raw = (
        spark.readStream.schema(st.EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    events = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    sess = st.sessionize_native(events, gap="30 minutes", watermark="1 hour")
    q = (
        sess.writeStream.format("memory")
        .queryName("s2c_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("s2c_t").collect()
    got = {
        (r.user_id, r.session_start.hour, r.session_end.hour, r.n_events)
        for r in rows
    }
    assert got == {
        (1, 9, 9, 1),    # the late event's solo session
        (1, 10, 10, 2),  # merged 10:00+10:10
        (1, 14, 14, 1),
        (2, 10, 10, 1),
    }, f"unexpected emitted sessions: {rows}"
    assert len(rows) == len(got), f"a session re-emitted: {rows}"
    # bounded state: only the still-open 18:00 session survives eviction
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1
    spark.catalog.dropTempView("s2c_t")


def test_stream_to_bronze_matches_batch_content(spark, tmp_path):
    """Streaming bronze ingest drains the file stream into parquet with
    audit columns; content equals the batch read."""
    from ecommerce_data_pipeline_23a91a05i4_spark.catalog import table

    stream = st.stream_events(spark, EVENTS)
    dst = str(tmp_path / "bronze_events")
    st.stream_to_bronze(stream, dst, str(tmp_path / "ckpt"))

    got = spark.read.parquet(dst)
    batch = table(spark, SF, "events")
    assert got.count() == batch.count()
    assert {"loaded_at", "_batch_id"} <= set(got.columns)
    g = {r.event_id for r in got.select("event_id").collect()}
    b = {r.event_id for r in batch.select("event_id").collect()}
    assert g == b


def test_attribute_stream_matches_batch_interval_join(spark):
    """Stream-stream interval join (click→purchase within 30 min per
    user) must produce exactly the batch join's matches."""
    from ecommerce_data_pipeline_23a91a05i4_spark.catalog import table

    stream = st.stream_events(spark, EVENTS)
    got = st.run_available_now(
        st.attribute_stream(stream), "attrib_t", output_mode="append"
    ).collect()

    ev = table(spark, SF, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("cause_id"),
        F.col("ts").alias("cause_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("effect_id"),
        F.col("ts").alias("effect_ts"),
    )
    want = c.join(
        p,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("effect_ts") > F.col("cause_ts"))
        & (F.col("effect_ts") <= F.col("cause_ts") + F.expr("INTERVAL 30 minutes")),
    ).collect()

    got_keys = {(r.cause_id, r.effect_id) for r in got}
    want_keys = {(r.cause_id, r.effect_id) for r in want}
    assert got_keys == want_keys
    assert len(got) == len(want)
    assert got_keys, "no attributed pairs — test data assumption broken"


def test_session_fn_is_chunk_split_invariant():
    """_session_fn must fold timestamps in GLOBAL sorted order even when
    one user's micro-batch arrives as several Arrow chunks whose ranges
    interleave — per-chunk sorting would invent phantom sessions."""
    import pandas as pd

    from ecommerce_data_pipeline_23a91a05i4_spark.streaming.ingest import (
        _session_fn,
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    def run(chunks):
        state = FakeState()
        ts = [pd.to_datetime(c, unit="m") for c in chunks]
        out = list(
            _session_fn(
                (1,), iter([pd.DataFrame({"ts": c}) for c in ts]), state
            )
        )
        assert len(out) == 1
        return int(out[0]["n_sessions"][0]), int(out[0]["n_events"][0])

    # minutes 0,5,10,200,205 → 2 true sessions (gap >30 min at 200)
    whole = run([[0, 5, 10, 200, 205]])
    interleaved = run([[0, 10, 205], [5, 200]])
    assert whole == (2, 5)
    assert interleaved == whole


def test_neardup_stream_matches_batch_incremental(spark, tmp_path):
    """The streaming near-dedup screen must equal the batch incremental
    dedup's delta×corpus pairs — including when the source file is
    REDELIVERED (duplicate input), since candidate rows are value-
    identical and collapse in the post-drain distinct."""
    import shutil

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.catalog import table
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import dedup as dd
    from ecommerce_data_pipeline_23a91a05i4_spark.streaming import ingest as st

    sf = "/root/testdata/sf0.001"
    docs = table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    corpus_bands = dd.md5_band_table(
        dd.minhash_md5_signatures(dd.shingle_table(corpus, "doc_id", "text", n=2))
    )
    corpus_shingles = corpus.select(
        F.col("doc_id").alias("id"),
        dd.shingle_array(F.col("text")).alias("shingles"),
    )

    # batch ground truth: incremental pairs restricted to cross pairs
    batch = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dd.minhash_incremental_pairs(
            corpus_bands,
            dd.shingle_table(docs.filter(F.col("doc_id") % 5 == 0), "doc_id", "text", n=2),
            dd.shingle_table(corpus, "doc_id", "text", n=2),
            threshold=0.35,
        ).collect()
        if (r.id_a % 5 == 0) != (r.id_b % 5 == 0)
    }

    # stream the delta documents from a dir holding the file TWICE
    src = tmp_path / "docs_stream"
    src.mkdir()
    shutil.copy(f"{sf}/documents.parquet", src / "a.parquet")
    shutil.copy(f"{sf}/documents.parquet", src / "b.parquet")
    delta = st.stream_documents(spark, str(src)).filter(F.col("doc_id") % 5 == 0)
    pairs = st.neardup_stream(delta, corpus_bands, corpus_shingles)
    out = st.run_available_now(pairs, "s3_test_sink", output_mode="append")
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in out.select("id_a", "id_b", "jaccard").distinct().collect()
    }
    assert got == batch and got


def test_native_session_window_merges_across_out_of_order_batches(
    spark, tmp_path
):
    """The built-in session_window sessionizer must stay correct when a
    LATER micro-batch delivers OLDER events — the documented blind spot
    of the applyInPandasWithState fold (arrival-order across batches).
    The hard case: batch 1 carries 10:00 and 10:40 for one user (gap
    40 min -> two open sessions); batch 2 delivers 10:20, which must
    BRIDGE them into a single 3-event session.  Complete-mode drain,
    files forced into separate micro-batches via maxFilesPerTrigger +
    mtime order."""
    import os

    from datetime import datetime

    from pyspark.sql import Row

    def naive(s: str):
        return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")

    mk = lambda eid, uid, t: Row(  # noqa: E731
        event_id=eid, ts=naive(t), user_id=uid,
        event_type="a", value=1.0, props="{}",
    )
    src = tmp_path / "ooo_events"
    ckpt = str(tmp_path / "ooo_ckpt")
    files = [
        # batch 1: the NEWER data
        ("f1.parquet", [
            mk(1, 3, "2024-06-01 10:00:00"),
            mk(2, 3, "2024-06-01 10:40:00"),   # 2 sessions so far
            mk(3, 1, "2024-06-01 12:00:00"),
        ], 1000),
        # batch 2: OLDER data arriving late
        ("f2.parquet", [
            mk(4, 3, "2024-06-01 10:20:00"),   # bridges user 3's sessions
            mk(5, 1, "2024-06-01 10:00:00"),
            mk(6, 1, "2024-06-01 10:10:00"),   # user 1: earlier session
        ], 2000),
    ]
    for name, rows, mtime in files:
        spark.createDataFrame(rows, schema=st.EVENTS_RAW_SCHEMA).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / name))
        for root, _, fs in os.walk(str(src / name)):
            for f in fs:
                os.utime(os.path.join(root, f), (mtime, mtime))

    raw = (
        spark.readStream.schema(st.EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    events = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    sess = st.sessionize_native(events)
    q = (
        sess.writeStream.format("memory")
        .queryName("ooo_t")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start.strftime("%H:%M")):
            (r.n_events, r.session_end.strftime("%H:%M"))
        for r in spark.table("ooo_t").collect()
    }
    assert got == {
        (3, "10:00"): (3, "10:40"),  # bridged into ONE session
        (1, "10:00"): (2, "10:10"),
        (1, "12:00"): (1, "12:00"),
    }
    spark.catalog.dropTempView("ooo_t")


def test_s2b_gate_matches_q16_rollup(spark):
    """The s2b driver gate (native session_window, complete-mode drain)
    must equal q16's per-user rollup including longest_session_us —
    the column the Python-stateful s2 twin cannot produce."""
    got = {
        r.user_id: (r.n_sessions, r.n_events, r.longest_session_us)
        for r in monitoring.s2b_session_window(spark, SF).collect()
    }
    want = {
        r.user_id: (r.n_sessions, r.n_events, r.longest_session_us)
        for r in monitoring.q16_user_sessions(spark, SF).collect()
    }
    assert got == want


def test_gate_drains_drop_their_memory_sink_views(spark):
    """A gate's memory-sink drain registers a temp view and its TxTable
    work a scratch directory; both must be gone once the gate returns,
    or repeated runs in one session accumulate full result sets in
    memory and on disk.  The whole temp-view set is compared, so the
    check holds whatever the views are named."""
    import os
    import tempfile

    from ecommerce_data_pipeline_23a91a05i4_spark.plans import llmdata

    def temp_views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    def scratch_dirs() -> set[str]:
        return {
            d
            for d in os.listdir(tempfile.gettempdir())
            if d.startswith(("s1_streaming_hourly_events_",
                             "t62_txtable_data_skipping_"))
        }

    views, dirs = temp_views(), scratch_dirs()
    for gate in (monitoring.s1_streaming_hourly_events,
                 llmdata.t62_txtable_data_skipping):
        out = gate(spark, SF)
        assert out.count() > 0  # result survives the cleanup
        assert temp_views() == views
        assert scratch_dirs() == dirs


def test_s4_streaming_dedup_equals_batch_distinct(spark):
    """The streaming exact-dedup drain must produce exactly the batch
    DISTINCT fingerprint set, however the file source micro-batches."""
    from ecommerce_data_pipeline_23a91a05i4_spark.operators.text import (
        content_fingerprint,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import monitoring as mon

    got = {r.fp for r in mon.s4_streaming_exact_dedup(spark, SF).collect()}
    docs = spark.read.parquet(SF + "/documents.parquet")
    want = {
        r.fp
        for r in docs.select(
            content_fingerprint(F.col("text")).alias("fp")
        ).distinct().collect()
    }
    assert got == want


def test_rowwise_semdedup_assign_equals_batch_assignment(spark):
    """The stateless per-row argmax (streaming path) must produce the
    IDENTICAL (cluster_id, sub) as the batch window-function assignment
    for every vector — the linchpin of s7's stream-static screening."""
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.ivf_train(emb, k=7, iters=2)
    rows = [
        (r.cluster_id, [float(x) for x in r.centroid]) for r in cents.collect()
    ]
    batch = {
        r.id: (r.cluster_id, r.sub)
        for r in sim.semdedup_assign(emb, cents).collect()
    }
    rowwise = {
        r.vec_id: (r.a.cluster_id, r.a.sub)
        for r in emb.select(
            "vec_id",
            sim.rowwise_semdedup_assign(F.col("embedding"), rows).alias("a"),
        ).collect()
    }
    assert rowwise == batch and len(batch) == 500


def test_rowwise_assign_matches_batch_on_nan_cosines(spark):
    """A NaN vector component yields NaN cosines (a ZERO-norm vector
    instead raises on both paths under this session's ANSI division —
    consistent, loud).  Spark's window sorts NaN as the largest value,
    so the batch path assigns the smallest-cid centroid — the rowwise
    fold must reproduce that, not fall through to the init sentinel
    (cluster -1)."""
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        similarity as sim,
    )

    rows = [
        (1, [float("nan"), 0.0, 0.0]),  # NaN cosine vs every centroid
        (2, [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [0.0, 1.0, 0.0]), (1, [1.0, 0.0, 0.0])],
        "cluster_id int, centroid array<double>",
    )
    crows = [(0, [0.0, 1.0, 0.0]), (1, [1.0, 0.0, 0.0])]
    batch = {
        r.id: r.cluster_id
        for r in sim.semdedup_assign(df, cents, dim=3).collect()
    }
    rowwise = {
        r.vec_id: r.a.cluster_id
        for r in df.select(
            "vec_id",
            sim.rowwise_semdedup_assign(
                F.col("embedding"), crows, dim=3
            ).alias("a"),
        ).collect()
    }
    assert rowwise == batch
    assert batch[1] == 0  # NaN won the argmax at the smallest cid
    assert batch[2] == 1  # well-formed vector unaffected


def test_streaming_sketch_state_is_register_bounded(spark):
    """The s8 claim, measured: streaming distinct via HLL registers
    holds AT MOST groups × 2^p state rows — here 5 event types × 16
    registers = 80 — however many events flow (exact streaming
    distinct on event_id would hold one row per event: 1000+)."""
    import os
    import uuid

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        sketch as sk,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.streaming import (
        ingest as st,
    )

    ev = st.stream_events(
        spark, EVENTS
    )
    regs = sk.hll_registers(ev, ["event_id"], ["event_type"], p=4)
    name = "s8_state_" + uuid.uuid4().hex[:8]
    q = (
        regs.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_events = spark.read.parquet(
        EVENTS
    ).count()
    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    spark.catalog.dropTempView(name)
    assert state_rows <= 5 * 16, state_rows
    assert n_events > 5 * 16  # the bound is genuinely smaller than N


def test_streaming_cms_state_is_counter_bounded(spark):
    """The s11 claim, measured: streaming frequency via CMS counters
    holds AT MOST depth × width state rows — here 4 × 64 = 256 —
    however many events flow and whatever the key cardinality (exact
    streaming per-key counts hold one state row per distinct key
    forever; the raw stream is 1000+ rows)."""
    import uuid

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        sketch as sk,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.streaming import (
        ingest as st,
    )

    ev = st.stream_events(spark, EVENTS)
    counters = sk.cms_build(ev, ["user_id"], depth=4, width=64)
    name = "s11_state_" + uuid.uuid4().hex[:8]
    q = (
        counters.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_events = spark.read.parquet(EVENTS).count()
    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    spark.catalog.dropTempView(name)
    assert state_rows <= 4 * 64, state_rows
    assert n_events > 4 * 64  # the bound is genuinely smaller than N


def test_streaming_hist_state_is_bin_bounded(spark):
    """The s12 claim, measured: streaming quantiles via the histogram
    sketch hold AT MOST `bins` state rows (here 64) however many events
    flow — exact streaming percentiles would buffer every value."""
    import uuid

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        sketch as sk,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.streaming import (
        ingest as st,
    )

    ev = st.stream_events(spark, EVENTS)
    h = sk.hist_build(ev, "value", 0.0, 1000.0, bins=64)
    name = "s12_state_" + uuid.uuid4().hex[:8]
    q = (
        h.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_events = spark.read.parquet(EVENTS).count()
    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    spark.catalog.dropTempView(name)
    assert state_rows <= 64, state_rows
    assert n_events > 64  # the bound is genuinely smaller than N


def test_streaming_heavy_hitters_finds_exactly_the_planted_users(spark):
    """s13's planted skew makes the answer checkable in closed form:
    the heavy set must be exactly the user_id % 10 == 0 users (share
    ~5/U each vs ~0.56/U normal, bar at 2/U), none missed."""
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import monitoring

    rows = monitoring.s13_streaming_heavy_hitters(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "planted skew must yield a nonempty heavy set"
    assert {r.user_id for r in rows} == {
        u for u in range(15) if u % 10 == 0
    }
    assert all(r.truly_heavy for r in rows)
    assert all(r.n_missed_true_heavies == 0 for r in rows)
    assert all(r.stream_equals_batch for r in rows)


def test_streaming_dedup_state_is_watermark_bounded(spark, tmp_path):
    """dropDuplicatesWithinWatermark's contract, pinned across batches:
    a duplicate arriving while the original is inside the watermark
    horizon is removed; once the watermark passes original-ts + delay,
    the key's state is evicted and a later replay is re-admitted.
    That expiry IS the scale story — plain dropDuplicates holds every
    key forever."""
    import datetime as dt
    import os
    import uuid

    from ecommerce_data_pipeline_23a91a05i4_spark.streaming import (
        ingest as st,
    )

    d = tmp_path / "ev"
    d.mkdir()
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
        p = str(d / name)
        df.coalesce(1).write.parquet(p)
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    # A: id 1 at t0 (plus an in-batch exact duplicate -> dropped).
    # B: id 2 one day later advances the watermark far past t0 + 1h.
    # C: one more batch — probed on Spark 4.1, state eviction happens
    #    at the END of the batch in which the watermark first exceeds
    #    an entry's expiry, so id 1's entry is purged after C runs.
    # D: replay id 1 three days later -> re-admitted (state gone).
    write_file(
        "a.parquet",
        [(1, base, 7, "view", 1.0, "{}"),
         (1, base, 7, "view", 1.0, "{}")],
        1_000,
    )
    write_file(
        "b.parquet",
        [(2, base + dt.timedelta(days=1), 7, "click", 2.0, "{}")],
        2_000,
    )
    write_file(
        "c.parquet",
        [(3, base + dt.timedelta(days=2), 7, "view", 3.0, "{}")],
        3_000,
    )
    write_file(
        "d.parquet",
        [(1, base + dt.timedelta(days=3), 7, "view", 1.0, "{}")],
        4_000,
    )
    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(d / "a.parquet")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    dedup = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = "s14_bound_" + uuid.uuid4().hex[:8]
    got = st.run_available_now(dedup, name, output_mode="append").collect()
    spark.catalog.dropTempView(name)
    by_id = {}
    for r in got:
        by_id.setdefault(r.event_id, []).append(r.ts)
    assert len(by_id[2]) == 1 and len(by_id[3]) == 1
    # id 1: original + the post-eviction replay, NOT the in-batch dup
    assert sorted(by_id[1]) == [base, base + dt.timedelta(days=3)]


def test_outer_attribute_emits_unmatched_only_after_watermark(
    spark, tmp_path
):
    """attribute_stream_outer's contract: a matched pair appends in the
    micro-batch where both sides have arrived; an UNMATCHED cause
    appends only after the watermark passes cause_ts + horizon — i.e.
    strictly after the batch that advanced the watermark, never
    speculatively."""
    import datetime as dt
    import os

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, ts, uid, etype):
        return (eid, ts, uid, etype, None, None)

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    f1 = spark.createDataFrame(
        [
            ev(1, t0, 1, "click"),
            ev(2, t0 + dt.timedelta(minutes=10), 1, "purchase"),
            ev(3, t0, 2, "click"),  # never purchased: the outer row
        ],
        schema,
    )
    # sentinels on BOTH types: the global watermark is the MIN across
    # the two join inputs, so advancing only one side evicts nothing
    f2 = spark.createDataFrame(
        [
            ev(99, t0 + dt.timedelta(days=10), -1, "click"),
            ev(98, t0 + dt.timedelta(days=10), -2, "purchase"),
        ],
        schema,
    )
    src = str(tmp_path / "ev")
    for fname, part, mtime in (("f1.parquet", f1, 1000), ("f2.parquet", f2, 2000)):
        p = os.path.join(src, fname)
        part.coalesce(1).write.parquet(p)
        for root, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(root, f), (mtime, mtime))
    raw = (
        spark.readStream.schema(st.EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    pairs = st.attribute_stream_outer(
        raw.withColumn("ts", F.col("ts").cast("timestamp"))
    )
    seen: list[tuple[int, list]] = []
    q = (
        pairs.writeStream.foreachBatch(
            lambda df, bid: seen.append((bid, df.collect()))
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    by_cause = {
        r.cause_id: (bid, r)
        for bid, rows in seen
        for r in rows
        if r.user_id >= 0
    }
    assert set(by_cause) == {1, 3}
    matched_bid, matched = by_cause[1]
    unmatched_bid, unmatched = by_cause[3]
    # the match: both sides arrive in batch 0 and append there
    assert matched_bid == 0 and matched.effect_id == 2
    # the outer row: null-padded and emitted only AFTER the sentinel
    # batch (1) advanced the watermark past cause_ts + horizon
    assert unmatched.effect_id is None and unmatched.value is None
    assert unmatched_bid >= 2


def test_full_outer_attribute_emits_both_orphan_sides(spark, tmp_path):
    """how='fullOuter': orphaned effects (a purchase no click precedes
    within the horizon) also emit once, null-padded on the cause side,
    with user_id still populated via the cross-side coalesce."""
    import datetime as dt
    import os

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, ts, uid, etype):
        return (eid, ts, uid, etype, None, None)

    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    f1 = spark.createDataFrame(
        [
            ev(1, t0, 1, "click"),
            ev(2, t0 + dt.timedelta(minutes=10), 1, "purchase"),
            ev(3, t0, 2, "click"),  # unmatched cause
            ev(4, t0, 3, "purchase"),  # unmatched effect (no prior click)
        ],
        schema,
    )
    f2 = spark.createDataFrame(
        [
            ev(99, t0 + dt.timedelta(days=10), -1, "click"),
            ev(98, t0 + dt.timedelta(days=10), -2, "purchase"),
        ],
        schema,
    )
    src = str(tmp_path / "ev")
    for fname, part, mtime in (("f1.parquet", f1, 1000), ("f2.parquet", f2, 2000)):
        p = os.path.join(src, fname)
        part.coalesce(1).write.parquet(p)
        for root, _, fs in os.walk(p):
            for f in fs:
                os.utime(os.path.join(root, f), (mtime, mtime))
    raw = (
        spark.readStream.schema(st.EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    pairs = st.attribute_stream_outer(
        raw.withColumn("ts", F.col("ts").cast("timestamp")),
        how="fullOuter",
    )
    got = [
        r
        for r in st.run_available_now(
            pairs, "full_outer_t", output_mode="append"
        ).collect()
        if r.user_id >= 0
    ]
    spark.catalog.dropTempView("full_outer_t")
    by_user = {r.user_id: r for r in got}
    assert set(by_user) == {1, 2, 3}
    assert by_user[1].cause_id == 1 and by_user[1].effect_id == 2
    assert by_user[2].cause_id == 3 and by_user[2].effect_id is None
    assert by_user[3].cause_id is None and by_user[3].effect_id == 4
