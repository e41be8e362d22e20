"""``cdc``: a two-hop change-data-capture pipeline, one closed-loop
writer.  Each cycle the writer commits one seeded batch to a bronze
TxTable far larger than the batch (``append`` new docs, ``merge`` updated
docs, ``delete`` removed docs).  Hop 1 then reads bronze's change feed
since the last cycle (``table_changes``), derives CDC events and applies
them to silver (``apply_cdc`` + ``optimize_small``); hop 2 reads silver's
change feed and maintains a per-source gold aggregate
(``mv_apply_changes``).  The hops read the change feed in batch, not
through streaming drains (see README.md).  After every cycle, outside
the timing, silver must equal the curated bronze state and gold its
aggregate, both computed by the benchmark."""

from __future__ import annotations

import os
import shutil

import inputs
import probes

SCHEMA = "doc_id long, source string, n_chars long"
SILVER_SCHEMA = SCHEMA + ", twice_chars long"
GROUPS = ["source"]
MEASURES = {"n_docs": "1", "sum_chars": "n_chars", "sum_twice": "twice_chars"}
WARMUP_CYCLES = 1


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.sources.matview import (
        mv_apply_changes,
        mv_init,
        table_changes,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTable,
        apply_cdc,
    )

    spark, tr = ctx.spark, ctx.tracer
    root = os.path.join(ctx.work, "tables")
    seen = {}  # table path -> version the next hop reads from

    def changes(t):
        with tr.span("matview.table_changes"):
            head = t.latest_version()
            ch = table_changes(t, seen[t.path], head)
        seen[t.path] = head
        return ch

    def hop1() -> None:
        ch = changes(bronze).select(
            "doc_id",
            "source",
            "n_chars",
            (F.col("n_chars") * 2).alias("twice_chars"),
            F.when(F.col("_change_type") == "delete", "D").otherwise("U").alias("op"),
            # a rewritten row shows as delete + insert: the insert wins
            (F.col("_change_type") == "insert").cast("long").alias("seq"),
        ).filter((F.col("op") == "D") | (F.col("n_chars") % 2 == 0))
        with tr.span("txtable.apply_cdc"):
            apply_cdc(silver, ch, "doc_id")
        with tr.span("txtable.optimize_small"):
            silver.optimize_small(1 << 20)

    def hop2() -> None:
        with tr.span("matview.apply_changes"):
            mv_apply_changes(gold, changes(silver), GROUPS, MEASURES)

    def setup_once():
        shutil.rmtree(root, ignore_errors=True)
        model = inputs.CdcModel(ctx.seed)
        b = TxTable(spark, os.path.join(root, "bronze"))
        s = TxTable(spark, os.path.join(root, "silver"))
        g = TxTable(spark, os.path.join(root, "gold"))
        b.init(spark.createDataFrame(model.initial, SCHEMA).coalesce(2))
        s.init(
            spark.createDataFrame(
                [(d, *v) for d, v in sorted(model.expected_silver().items())],
                SILVER_SCHEMA,
            ).coalesce(2)
        )
        mv_init(g, s.snapshot(), GROUPS, MEASURES)
        return model, b, s, g

    model, bronze, silver, gold = ctx.setup(setup_once)
    seen.update({t.path: t.latest_version() for t in (bronze, silver)})

    commits: list[dict] = []
    cycles: list[dict] = []
    usage = {"files": [], "bytes": [], "log_bytes": []}

    def check() -> tuple[bool, bool]:
        got_s = {
            r[0]: (r[1], r[2], r[3])
            for r in silver.snapshot()
            .select("doc_id", "source", "n_chars", "twice_chars")
            .collect()
        }
        got_g = {
            r[0]: (int(r[1]), int(r[2]), int(r[3]))
            for r in gold.snapshot()
            .select("source", "n_docs", "sum_chars", "sum_twice")
            .collect()
            if int(r[1]) != 0
        }
        return got_s == model.expected_silver(), got_g == model.expected_gold()

    def one_cycle() -> None:
        b = model.batch()
        app = spark.createDataFrame(b["append"], SCHEMA)
        mer = spark.createDataFrame(b["merge"], SCHEMA)
        dels = b["delete"]
        before = probes.dir_usage(root) if tr.enabled else None
        log_before = probes.dir_usage(root, "_txlog")[1] if tr.enabled else 0
        ok = {}
        start = ctx.clock()
        with tr.span("cdc.cycle"):
            for verb, call in (
                ("append", lambda: bronze.append(app)),
                ("merge", lambda: bronze.merge(mer, "doc_id")),
                ("delete", lambda: bronze.delete(F.col("doc_id").isin(dels))),
            ):
                t0 = ctx.clock()
                ok[verb] = _attempt(ctx, f"txtable.{verb}", call)
                commits.append(ctx.cost(t0))
            ok["hop1"] = _attempt(ctx, "cdc.hop1", hop1)
            ok["hop2"] = _attempt(ctx, "cdc.hop2", hop2)
            cycles.append(ctx.cost(start))
        if before is not None:
            after = probes.dir_usage(root)
            usage["files"].append(after[0] - before[0])
            usage["bytes"].append(after[1] - before[1])
            usage["log_bytes"].append(probes.dir_usage(root, "_txlog")[1] - log_before)
        silver_ok, gold_ok = check()
        for verb in ("append", "merge", "delete"):
            ctx.count(ok[verb], f"bronze {verb} raised")
        ctx.count(ok["hop1"] and silver_ok, "silver differs from curated bronze")
        ctx.count(ok["hop2"] and gold_ok, "gold differs from the aggregate of silver")

    for _ in range(WARMUP_CYCLES):  # untimed: class loading, code generation, JIT
        one_cycle()
    commits.clear()
    cycles.clear()
    for v in usage.values():
        v.clear()
    ctx.window(one_cycle)
    ctx.end_to_end(refresh=cycles, request=commits)
    if tr.enabled:
        for name in ("append", "merge", "delete", "apply_cdc", "optimize_small"):
            ctx.layer_span_median(f"txtable.{name}_s", f"txtable.{name}")
            ctx.layer_jobs(f"txtable.{name}.jobs", f"txtable.{name}")
        ctx.layer_span_median("matview.apply_changes_s", "matview.apply_changes")
        ctx.layer_jobs("matview.apply_changes.jobs", "matview.apply_changes")
        ctx.layer_span_median("matview.table_changes_s", "matview.table_changes")
        ctx.per_layer["txtable.files_written"] = ctx.median(usage["files"])
        ctx.per_layer["txtable.bytes_written"] = ctx.median(usage["bytes"])
        ctx.per_layer["txtable.log_bytes"] = ctx.median(usage["log_bytes"])
        ctx.request_counters("cdc.cycle")


def _attempt(ctx, span: str, call) -> bool:
    try:
        with ctx.tracer.span(span):
            call()
        return True
    except Exception as e:  # noqa: BLE001 - counted as failed
        ctx.log(f"{span} failed: {type(e).__name__}: {e}")
        return False
