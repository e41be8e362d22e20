"""Benchmark runner: executes the headline analytics suite and prints ONE
JSON line for the driver (BENCH_r{N}.json).

Comparable baseline: the reference's 10-query suite ran in 4.44 s total at
SF-ref (~30k fact rows) on warm PostgreSQL (BASELINE.md).  Here each query is
run once to warm the engine (whole-stage-codegen compilation, parquet
footers, OS page cache — the analog of Postgres's plan/buffer caches and
the reference's warm-connection measurement), then timed, including result
materialization (collect), which the reference's pandas read_sql also
includes.  JVM startup is excluded per BASELINE.md's acceptance note.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ecommerce_data_pipeline_23a91a05i4_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402



def _best_of(action, n: int = 3) -> float:
    """One unmeasured warm run (codegen compile, parquet footers, page
    cache), then best of ``n`` timed runs — the ONE timing discipline
    every probe shares (see the warm-pass note in main())."""
    action()
    return min(
        (lambda t0: (action(), time.perf_counter() - t0)[1])(
            time.perf_counter()
        )
        for _ in range(n)
    )



def _reps(fac: int) -> int:
    """Timed repetitions per probe point: the 1x point is every ratio's
    DENOMINATOR, so it gets best-of-5 (VERDICT r8 ask #7: the sketch
    probe's published 32x ratio rose on an IMPROVED absolute because
    the 1x sec jittered between rounds; more floor samples on the
    denominator stop the ratios crying wolf).  Scaled points keep
    best-of-3 — their cost grows with the factor."""
    return 5 if fac == 1 else 3

def _with_replicas(df, fac: int):
    """Cross each row with replica ids 0..fac-1 in column ``_r`` — the
    shared skeleton of every probe's corpus replication; each probe then
    remaps keys / salts text / perturbs vectors from ``_r`` so the
    replicated workload keeps the 1x shape instead of becoming
    pathological self-duplication."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "_r", F.explode(F.array(*[F.lit(i) for i in range(fac)]))
    )


def _materialize(spark, df, path: str, n_files: int):
    """Write with the standard parallel layout and read back — probes
    must measure scans over identically-laid-out files, not lineage."""
    df.repartition(n_files).write.parquet(path)
    return spark.read.parquet(path)


def _perturbed_embedding(fac_col: str = "_r"):
    """The ONE replica perturbation for embedding corpora (shared by
    the semdedup probe and the sf1 dir): dim 0 shifted by replica·0.01
    — identical replicas would be wall-to-wall near-dups, a different
    workload than the one being scaled."""
    from pyspark.sql import functions as F

    return F.concat(
        F.array(
            F.element_at("embedding", 1)
            + F.col(fac_col).cast("float") * F.lit(0.01)
        ),
        F.slice("embedding", 2, 10_000),
    ).alias("embedding")


def headline_names(names) -> list[str]:
    """The q1-q10 reference-suite subset of the query names — tolerant of
    any naming (q22b, t-gates, s-gates) so a new gate can never crash
    the bench (tests/test_bench_contract.py)."""

    def qnum(name: str) -> int | None:
        m = re.match(r"q(\d+)_", name)
        return int(m.group(1)) if m else None

    return [n for n in names if (qnum(n) or 99) <= 10]


def headline_total(
    names, timings: dict[str, float], errors: dict[str, str]
) -> tuple[float | None, list[str]]:
    """Sum the q1-q10 suite, or (None, failed) if any headline query
    errored — a partial sum would silently look FASTER than the
    reference comparison it claims to be."""
    ref10 = headline_names(names)
    failed = [n for n in ref10 if n in errors]
    if failed:
        return None, failed
    return round(sum(timings[n] for n in ref10), 4), []


def run_scale_probe(spark, sf_dir: str, factors: tuple[int, ...] = (8, 32)) -> dict:
    """Reproducible scale probe: materialize lineitem AND orders at 1x
    and each ``factors``x with IDENTICAL parallel file layout (the raw
    testdata is a single file = a single scan split, which would unfairly
    handicap the base measurement), then time two shapes END TO END (I/O
    included) on every copy:

    - q1-shaped scan+aggregate over lineitem (the codegen/scan path)
    - q2-shaped lineitem⋈orders join+aggregate — the engine's one
      fact-fact shuffle, the join that would dominate at 100 TB

    Replicas get their orderkeys remapped (key + replica·(max_key+1)) so
    the join multiplicity per key is PRESERVED — naive row duplication
    would inflate join output by factor² and measure a different
    workload.  Ratios well under the factor mean fixed overhead, not
    data volume, dominates at test scale — each extra factor is another
    point on the overhead-vs-volume curve backing the 100x claims."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    li_raw = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    ord_raw = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    max_key = ord_raw.agg(F.max("o_orderkey")).collect()[0][0]
    if max_key is None:
        raise RuntimeError(
            f"scale probe: orders table at {sf_dir} is empty — cannot "
            "derive a replica key span"
        )
    key_span = max_key + 1
    tmp = tempfile.mkdtemp(prefix="bench_scale_probe_")
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def replicate(df, key_col: str, fac: int):
        rep = _with_replicas(df, fac)
        return rep.withColumn(
            key_col, F.col(key_col) + F.col("_r").cast("long") * key_span
        ).drop("_r")

    def q1_shaped(df):
        return (
            df.groupBy("l_partkey")
            .agg(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ).alias("rev"),
                F.sum("l_quantity").alias("qty"),
            )
            .orderBy(F.desc("rev"))
            .limit(10)
        )

    def q2_shaped(li, orders):
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
            .agg(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ).alias("rev"),
                F.count(F.lit(1)).alias("n"),
            )
            .orderBy("m")
        )

    def best_of(q, n: int = 3) -> float:
        return _best_of(q.collect, n)

    try:
        points: dict[str, dict] = {}
        base_rows = base_sec = base_join = None
        for fac in (1, *factors):
            li_path = os.path.join(tmp, f"lineitem_{fac}x.parquet")
            ord_path = os.path.join(tmp, f"orders_{fac}x.parquet")
            li = _materialize(
                spark, replicate(li_raw, "l_orderkey", fac), li_path, n_files
            )
            orders = _materialize(
                spark, replicate(ord_raw, "o_orderkey", fac), ord_path, n_files
            )
            best = best_of(q1_shaped(li), _reps(fac))
            join_best = best_of(q2_shaped(li, orders), _reps(fac))
            if fac == 1:
                base_rows, base_sec, base_join = li.count(), best, join_best
            rows = base_rows * fac
            points[f"{fac}x"] = {
                "sec": round(best, 4),
                "rows": rows,
                "slowdown_vs_1x": round(best / max(base_sec, 1e-9), 2),
                "rows_per_sec": round(rows / best),
                "join_sec": round(join_best, 4),
                "join_slowdown_vs_1x": round(
                    join_best / max(base_join, 1e-9), 2
                ),
            }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {"sf_dir": sf_dir, "points": points}


def run_llm_scale_probe(spark, sf_dir: str, factors: tuple[int, ...] = (8, 32)) -> dict:
    """Incremental-dedup scale probe (the t31 shape): a NEW batch of
    documents is banded and joined against a PERSISTED corpus LSH index.
    The claim under test is per-batch cost O(|delta| + candidates),
    independent of corpus history — so the corpus index is built and
    written ONCE, and only the delta is replicated 8x/32x.

    Replicated delta docs get remapped ids (id + replica·(max_id+1)) and
    replica-SALTED shingles (replica 0 keeps the real text): identical
    replicas would be mutual near-dups and inflate band candidates
    quadratically with the factor, measuring a different workload.
    Salting keeps per-replica banding cost identical to 1x while
    intra-replica delta_delta candidates replicate linearly and replica
    0 preserves the real delta×corpus candidate structure.  A slowdown
    near the factor = linear in |delta| (the claim); super-linear growth
    would mean the index join degrades with batch size."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import dedup as dd

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    if max_id is None:
        raise RuntimeError(
            f"llm scale probe: documents table at {sf_dir} is empty"
        )
    span = max_id + 1
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    tmp = tempfile.mkdtemp(prefix="bench_llm_probe_")
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))

    best_of = _best_of

    try:
        # Persist the corpus state once — the fixed index every batch
        # joins against (production: bucketed tables maintained by t31).
        cs_path = os.path.join(tmp, "corpus_shingles.parquet")
        cb_path = os.path.join(tmp, "corpus_bands.parquet")
        corpus_sh = dd.shingle_table(corpus, "doc_id", "text", n=2)
        corpus_sh.repartition(n_files).write.parquet(cs_path)
        dd.md5_band_table(
            dd.minhash_md5_signatures(corpus_sh, num_perm=32), num_perm=32, bands=8
        ).repartition(n_files).write.parquet(cb_path)
        corpus_shingles = spark.read.parquet(cs_path)
        corpus_bands = spark.read.parquet(cb_path)

        delta_sh = dd.shingle_table(delta, "doc_id", "text", n=2)
        base_delta_docs = delta.count()
        points: dict[str, dict] = {}
        base_sec = None
        for fac in (1, *factors):
            d_path = os.path.join(tmp, f"delta_{fac}x.parquet")
            rep = _with_replicas(delta_sh, fac).select(
                (F.col("id") + F.col("_r").cast("long") * span).alias("id"),
                F.when(F.col("_r") == 0, F.col("shingle"))
                .otherwise(F.concat_ws("#", F.col("shingle"), F.col("_r")))
                .alias("shingle"),
            )
            delta_fac = _materialize(spark, rep, d_path, n_files)

            def run():
                return dd.minhash_incremental_pairs(
                    corpus_bands,
                    delta_fac,
                    corpus_shingles,
                    num_perm=32,
                    bands=8,
                    threshold=0.35,
                ).count()

            pairs = run()
            best = best_of(run, _reps(fac))
            if fac == 1:
                base_sec = best
            points[f"{fac}x"] = {
                "sec": round(best, 4),
                "delta_docs": base_delta_docs * fac,
                "pairs": pairs,
                "slowdown_vs_1x": round(best / max(base_sec, 1e-9), 2),
                "docs_per_sec": round(base_delta_docs * fac / best),
            }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {"sf_dir": sf_dir, "points": points}


def run_curation_scale_probe(
    spark, sf_dir: str, factors: tuple[int, ...] = (8, 32)
) -> dict:
    """Map-only curation scale probe (VERDICT r4 ask #8): the
    classifier+PII in-flight path — per-row hashed-feature scoring plus
    regex redaction, ZERO shuffles by design (the s5/t42 plan shape).
    The claim under test is scan-speed linearity: docs are replicated
    with remapped ids and a replica salt appended to the text (so regex
    and tokenize work per replica matches 1x instead of hitting warmed
    dictionary-encoded pages), and the whole map path is timed end to
    end.  Slowdown ≈ factor/cores saturation means the path is
    scan-bound; super-linear growth would mean hidden state."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import curation as cu

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    if max_id is None:
        raise RuntimeError(
            f"curation scale probe: documents table at {sf_dir} is empty"
        )
    span = max_id + 1
    tmp = tempfile.mkdtemp(prefix="bench_curation_probe_")
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))

    best_of = _best_of

    try:
        points: dict[str, dict] = {}
        base_docs = docs.count()
        base_sec = None
        for fac in (1, *factors):
            d_path = os.path.join(tmp, f"docs_{fac}x.parquet")
            rep = _with_replicas(docs, fac).select(
                (F.col("doc_id") + F.col("_r").cast("long") * span).alias(
                    "doc_id"
                ),
                F.when(F.col("_r") == 0, F.col("text"))
                .otherwise(F.concat_ws(" r", F.col("text"), F.col("_r")))
                .alias("text"),
            )
            docs_fac = _materialize(spark, rep, d_path, n_files)

            def run():
                return docs_fac.select(
                    "doc_id",
                    cu.classifier_score(F.col("text")).alias("score"),
                    F.md5(cu.redact_pii(F.col("text"))).alias("redacted_md5"),
                ).count()

            best = best_of(run, _reps(fac))
            if fac == 1:
                base_sec = best
            rows = base_docs * fac
            points[f"{fac}x"] = {
                "sec": round(best, 4),
                "docs": rows,
                "slowdown_vs_1x": round(best / max(base_sec, 1e-9), 2),
                "docs_per_sec": round(rows / best),
            }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {"sf_dir": sf_dir, "points": points}


def run_bpe_scale_probe(
    spark, sf_dir: str, factors: tuple[int, ...] = (8,), n_merges: int = 4
) -> dict:
    """BPE-training scale probe: the BATCHED trainer under its SAMPLED
    contract (operators/bpe.learn_bpe_merges_batched(sample_docs=...),
    VERDICT r5 ask #4) timed at 1x and ``factors``x corpus volume with a
    CONSTANT sample target (the 1x corpus size) — so every pass scans a
    bounded sample whatever the corpus volume and merges/sec should stay
    roughly FLAT (the residual growth is the one COUNT pass + the
    pushed-down sample filter's scan, both linear but trivial).  The 1x
    point trains on the unsalted fixture (ADVICE r5: _r=0 keeps its
    original text, like the other probes)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import bpe

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tmp = tempfile.mkdtemp(prefix="bench_bpe_probe_")
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        points: dict[str, dict] = {}
        base_sec = None
        sample_docs = docs.count()
        for fac in (1, *factors):
            d_path = os.path.join(tmp, f"docs_{fac}x.parquet")
            rep = _with_replicas(docs, fac).select(
                F.when(F.col("_r") == 0, F.col("text"))
                .otherwise(F.concat_ws(" r", F.col("text"), F.col("_r")))
                .alias("text")
            )
            docs_fac = _materialize(spark, rep, d_path, n_files)
            bpe.learn_bpe_merges_batched(
                docs_fac, "text", n_merges, sample_docs=sample_docs
            )  # warm
            t0 = time.perf_counter()
            merges, passes = bpe.learn_bpe_merges_batched(
                docs_fac, "text", n_merges, sample_docs=sample_docs
            )
            sec = time.perf_counter() - t0
            if fac == 1:
                base_sec = sec
            points[f"{fac}x"] = {
                "sec": round(sec, 4),
                "n_merges": len(merges),
                "n_passes": passes,
                "sample_docs": sample_docs,
                "merges_per_sec": round(len(merges) / max(sec, 1e-9), 2),
                "slowdown_vs_1x": round(sec / max(base_sec, 1e-9), 2),
            }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {"sf_dir": sf_dir, "points": points}


def run_semdedup_scale_probe(
    spark, sf_dir: str, factors: tuple[int, ...] = (8, 32)
) -> dict:
    """Semantic-dedup scale probe for the round-5 fix: semdedup_trained
    derives k = ceil(N / target_cluster), so the expected cluster stays
    ~target_cluster vectors as the corpus grows — per-vector pairwise
    work should stay CONSTANT (the whole point; a fixed k would grow it
    linearly with N).  Embeddings are replicated with remapped ids and
    a per-replica perturbation of one dimension (identical replicas
    would be wall-to-wall near-dups — the adversarial shape the
    max_cluster chunk guard bounds, but not the typical workload this
    probe measures).  Timing includes k-means training (its driver
    state is k centroids; its passes are corpus-sized and belong in
    the number).  The 32x point (VERDICT r6 ask #3) is the one that
    certifies the bucketed assigner's O(N log k) claim: k grows WITH N
    here, so a residual O(N·k) term would show as super-linear time
    between 8x and 32x, while O(N log k) shows throughput still rising
    (the 1x point is fixed-overhead-dominated, so slowdown_vs_1x stays
    well under the factor)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    if max_id is None:
        raise RuntimeError(
            f"semdedup scale probe: embeddings table at {sf_dir} is empty"
        )
    span = max_id + 1
    tmp = tempfile.mkdtemp(prefix="bench_semdedup_probe_")
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # warm + ONE timed run (not best-of-3): each run trains k-means from
    # scratch — the most expensive probe in the suite; a single warm run
    # already absorbs codegen/footers, and the signal sought is the
    # factor-to-factor ratio, not a microsecond floor
    def best_of(action):
        return _best_of(action, n=1)

    try:
        base_n = emb.count()
        points: dict[str, dict] = {}
        base_sec = None
        for fac in (1, *factors):
            # per-POINT hygiene + anchor (VERDICT r11 next #2, one level
            # deeper than the per-family anchor): each point's k-means
            # leaves localCheckpoint blocks behind whose JVM-side cleanup
            # waits on driver GC — measured in-suite, the 8x point read
            # 2x its isolated wall while the FAMILY anchor said the box
            # was clean.  Collect both heaps between points and stamp
            # each point with its own anchor ratio so a noisy number is
            # attributable to the box at that moment.
            import gc as _gc

            _gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:  # noqa: BLE001 — a hint, never load-bearing
                pass
            point_anchor = {}
            try:
                point_anchor = run_family_anchor(spark)
            except Exception:  # noqa: BLE001 — diagnostic only
                pass
            e_path = os.path.join(tmp, f"emb_{fac}x.parquet")
            rep = _with_replicas(emb, fac).select(
                (F.col("vec_id") + F.col("_r").cast("long") * span).alias(
                    "vec_id"
                ),
                _perturbed_embedding(),
            )
            emb_fac = _materialize(spark, rep, e_path, n_files)
            n = base_n * fac
            k = max(1, -(-n // sim.SEMDEDUP_TARGET_CLUSTER))

            def run():
                return sim.semdedup_trained(
                    emb_fac, k=k, threshold=0.35
                ).count()

            best = best_of(run)
            if fac == 1:
                base_sec = best
            points[f"{fac}x"] = {
                "sec": round(best, 4),
                "vectors": n,
                "k": k,
                "slowdown_vs_1x": round(best / max(base_sec, 1e-9), 2),
                "vectors_per_sec": round(n / best),
                "point_anchor_ratio": point_anchor.get("anchor_ratio"),
            }
            # assign-only variant (VERDICT r12 next #9, additive keys):
            # the trained run above is dominated by k-means training
            # (2 iterations of corpus-sized assignment + centroid
            # update), which drowns the assignment/pairwise path the
            # operator optimizations actually touch.  Train ONCE
            # outside the timer with the SAME derivation
            # semdedup_trained uses, then time just the assignment +
            # sub-split + pairwise + flag chain.
            try:
                a_bits = sim.assign_bits_for(k)
                cents = sim.ivf_train(
                    emb_fac, k=k, iters=sim.SEMDEDUP_ITERS,
                    assign_bits=a_bits, n_total=n,
                )

                def run_assign():
                    return sim.semdedup(
                        emb_fac, threshold=0.35, centroids=cents,
                        max_cluster=sim.SEMDEDUP_MAX_CLUSTER,
                        assign_bits=a_bits,
                    ).count()

                assign_sec = best_of(run_assign)
                points[f"{fac}x"]["assign_only_sec"] = round(assign_sec, 4)
                points[f"{fac}x"]["assign_only_vectors_per_sec"] = round(
                    n / assign_sec
                )
            except Exception:  # noqa: BLE001 — additive, never forfeit
                pass
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {"sf_dir": sf_dir, "points": points}


def run_sketch_scale_probe(
    spark, sf_dir: str, factors: tuple[int, ...] = (8, 32)
) -> dict:
    """Distinct-count scale probe (operators/sketch.py): lineitem is
    replicated with REMAPPED part keys, so the distinct cardinality
    grows with the factor — the regime where exact COUNT(DISTINCT)
    must shuffle an ever-larger distinct set while the HLL sketch's
    shuffle stays capped at 2^p register rows per group.  Both paths
    are timed per factor; the claim under test is that the sketch
    scales scan-bound (slowdown ≈ replication cost) and its advantage
    over exact widens as the distinct set grows."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        sketch as sk,
    )

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_returnflag", "l_partkey", "l_orderkey"
    )
    max_pk = li.agg(F.max("l_partkey")).collect()[0][0]
    if max_pk is None:
        raise RuntimeError(
            f"sketch scale probe: lineitem table at {sf_dir} is empty"
        )
    span = max_pk + 1
    tmp = tempfile.mkdtemp(prefix="bench_sketch_probe_")
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        base_rows = li.count()
        points: dict[str, dict] = {}
        base_sketch = base_exact = None
        for fac in (1, *factors):
            d_path = os.path.join(tmp, f"li_{fac}x.parquet")
            rep = _with_replicas(li, fac).select(
                "l_returnflag",
                (
                    F.col("l_partkey") + F.col("_r").cast("long") * span
                ).alias("l_partkey"),
            )
            li_fac = _materialize(spark, rep, d_path, n_files)

            def run_sketch():
                return sk.approx_count_distinct_portable(
                    li_fac, ["l_partkey"], ["l_returnflag"], p=12
                ).collect()

            def run_exact():
                return (
                    li_fac.groupBy("l_returnflag")
                    .agg(F.count_distinct("l_partkey"))
                    .collect()
                )

            s_sec = _best_of(run_sketch, _reps(fac))
            exact_rows = run_exact()  # doubles as _best_of's warm run
            e_sec = _best_of(run_exact, _reps(fac))
            if fac == 1:
                base_sketch, base_exact = s_sec, e_sec
            # the claim local[32] wall time CANNOT show (its shuffle is
            # memory-speed): the REDUCE-SIDE STATE each plan must hold —
            # the exact path every distinct (group, key) pair, the
            # sketch at most groups × 2^p register rows, flat forever.
            # (Wire rows additionally scale with the map partition
            # count on both plans; state is the honest, partition-free
            # number.)  The exact figure is summed from a result the
            # timed plan produces anyway, not a separate aggregation.
            exact_state_rows = sum(r[1] for r in exact_rows)
            sketch_state_rows = sk.hll_registers(
                li_fac, ["l_partkey"], ["l_returnflag"], p=12
            ).count()
            points[f"{fac}x"] = {
                "sketch_sec": round(s_sec, 4),
                "exact_sec": round(e_sec, 4),
                "exact_state_rows": exact_state_rows,
                "sketch_state_rows": sketch_state_rows,
                "rows": base_rows * fac,
                "sketch_slowdown_vs_1x": round(
                    s_sec / max(base_sketch, 1e-9), 2
                ),
                "exact_slowdown_vs_1x": round(
                    e_sec / max(base_exact, 1e-9), 2
                ),
                "exact_over_sketch": round(e_sec / max(s_sec, 1e-9), 2),
            }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {"sf_dir": sf_dir, "points": points}


def run_matview_scale_probe(
    spark, sf_dir: str, factors: tuple[int, ...] = (8, 32)
) -> dict:
    """Incremental-MV maintenance cost vs base size (the t68 claim
    measured): a revenue-per-priority MV over a transactional base
    table at 1x and ``factors``x rows receives the SAME fixed-size CDC
    batch; mv_refresh reads only the diff's files and upserts only the
    touched groups, so its wall should stay ~FLAT while the
    full-recompute alternative (also timed) grows with the base.  Both
    paths include their real I/O: refresh commits a merge version,
    recompute scans the whole snapshot."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.sources import (
        matview as mvx,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTable,
    )

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    max_k = orders.agg(F.max("o_orderkey")).collect()[0][0]
    if max_k is None:
        raise RuntimeError(
            f"matview scale probe: orders table at {sf_dir} is empty"
        )
    span = max_k + 1
    g = ["o_orderpriority"]
    measures = {"revenue": "o_totalprice", "n_orders": "1"}
    base_rows = orders.count()
    # the FIXED CDC batch: the 1x table's keys shifted into a fresh
    # range (pure inserts — same batch whatever the base factor)
    delta = orders.withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(1000 * span)
    ).localCheckpoint(eager=True)
    tmp = tempfile.mkdtemp(prefix="bench_matview_probe_")
    try:
        # Whole-path warm-up BEFORE the measured loop (VERDICT r11
        # wrong #2: the 1x point — which runs first — absorbed the
        # init/refresh/recompute plans' first-touch codegen and read
        # back HIGHER than the 32x point, flattering the slowdown
        # ratio).  A miniature table exercises every plan shape the
        # measured points use: init, mv_init, refresh-with-delta,
        # recompute.
        w_t = TxTable(spark, os.path.join(tmp, "warm_base"))
        w_mv = TxTable(spark, os.path.join(tmp, "warm_mv"))
        small = orders.limit(2000).localCheckpoint(eager=True)
        wv = w_t.init(small)
        mvx.mv_init(w_mv, w_t.snapshot(), g, measures)
        wv2 = w_t.append(small.withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(3000 * span)
        ))
        mvx.mv_refresh(w_mv, w_t, g, measures, wv, wv2)
        mvx.mv_aggregate(w_t.snapshot(), g, measures).collect()

        points: dict[str, dict] = {}
        base_refresh = base_recompute = None
        for fac in (1, *factors):
            rep = _with_replicas(orders, fac).withColumn(
                "o_orderkey",
                F.col("o_orderkey") + F.col("_r").cast("long") * span,
            ).drop("_r")
            t = TxTable(spark, os.path.join(tmp, f"base_{fac}x"))
            mv = TxTable(spark, os.path.join(tmp, f"mv_{fac}x"))
            v1 = t.init(rep)
            mvx.mv_init(mv, t.snapshot(), g, measures)
            # warm refresh (codegen/footers) on a throwaway batch, so
            # the timed one measures the steady-state CDC cadence
            v1b = t.append(delta.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(2000 * span)
            ))
            mvx.mv_refresh(mv, t, g, measures, v1, v1b)
            v2 = t.append(delta)
            t0 = time.perf_counter()
            mvx.mv_refresh(mv, t, g, measures, v1b, v2)
            refresh_sec = time.perf_counter() - t0
            # fixed-vs-marginal split (VERDICT r11 next #7): a 1-row
            # delta pays the refresh's full fixed path — change-feed
            # plan, checkpoint, merge commit — with ~zero per-row
            # work; refresh_sec minus it is the O(delta) part the
            # flatness claim is actually about.
            v3 = t.append(
                delta.limit(1).withColumn(
                    "o_orderkey",
                    F.col("o_orderkey") + F.lit(4000 * span),
                ).coalesce(1)
            )
            t0 = time.perf_counter()
            mvx.mv_refresh(mv, t, g, measures, v2, v3)
            fixed_sec = time.perf_counter() - t0
            t0 = time.perf_counter()
            mvx.mv_aggregate(t.snapshot(), g, measures).collect()
            recompute_sec = time.perf_counter() - t0
            if fac == 1:
                base_refresh, base_recompute = refresh_sec, recompute_sec
            points[f"{fac}x"] = {
                "refresh_sec": round(refresh_sec, 4),
                "refresh_fixed_sec": round(fixed_sec, 4),
                "refresh_marginal_sec": round(
                    max(refresh_sec - fixed_sec, 0.0), 4
                ),
                "recompute_sec": round(recompute_sec, 4),
                "base_rows": base_rows * fac,
                "delta_rows": base_rows,
                "refresh_slowdown_vs_1x": round(
                    refresh_sec / max(base_refresh, 1e-9), 2
                ),
                "recompute_slowdown_vs_1x": round(
                    recompute_sec / max(base_recompute, 1e-9), 2
                ),
            }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {"sf_dir": sf_dir, "points": points}


def run_codec_probe(spark=None) -> dict:
    """Vendored-codec throughput (VERDICT r8 "What's wrong" #3: the
    multimodal decode was the suite's one perf-weak component).  Times
    the single-core decode kernels the Arrow-batched mapInPandas path
    calls per image — px/s here multiplies by the executor-core count
    at scale, so it IS the media-pipeline number that matters.  Images
    are seeded-synthetic (a gradient with mild deterministic texture —
    the smooth-ish statistics of real photos, not adversarial noise);
    encode is untimed.

    With a session, also times the JVM ImageIO tier
    (operators/jvmcodec — VERDICT r10 next #5: the fast tier that
    actually RUNS in this environment, compiled with the JDK's own
    javac): a one-partition decode job, so the published rate is
    per-core INCLUDING Spark job overhead — conservative."""
    import numpy as np

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        jpeg as _jpeg,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        png as _png,
    )

    w = h = 256
    rng = np.random.default_rng(20260816)
    x = np.linspace(0, 255, w)[None, :].repeat(h, 0)
    y = np.linspace(0, 255, h)[:, None].repeat(w, 1)
    img = np.clip(
        np.stack([x, y, (x + y) / 2], axis=2)
        + rng.normal(0, 6, (h, w, 3)),
        0,
        255,
    ).astype(np.uint8)
    jpg = _jpeg.encode_jpeg(w, h, img.tobytes(), quality=85, subsample=True)
    png = _png.encode_png(w, h, img.tobytes())
    px = w * h
    n_imgs = 8

    def decode_jpgs():
        for _ in range(n_imgs):
            _jpeg.decode_jpeg(jpg)

    def decode_pngs():
        for _ in range(n_imgs):
            _png.decode_png(png)

    def resize_batch():
        for _ in range(n_imgs):
            _png.resize_rgb_nearest(w, h, img.tobytes(), 64, 64)

    jpg_sec = _best_of(decode_jpgs)
    png_sec = _best_of(decode_pngs)
    rs_sec = _best_of(resize_batch)
    # the gated FAST tier (libjpeg-turbo / Pillow) behind the seam —
    # VERDICT r9 next #2's 'done' point: published whenever a fast
    # codec is installed, null (with the reason) when not
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        multimodal as _mm,
    )

    fast = None
    fast_tier = "none (turbojpeg/Pillow not installed)"
    if _mm._turbo is not None or _mm._PILImage is not None:
        fast_tier = "turbojpeg" if _mm._turbo is not None else "Pillow"

        def decode_fast():
            for _ in range(n_imgs):
                _mm._decode_rgb(jpg)

        fast = round(px * n_imgs / _best_of(decode_fast) / 1e6, 2)
    jvm_rate = jvm_rate_512 = None
    if spark is not None:
        from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
            jvmcodec as _jvmc,
        )

        if _jvmc.ensure_jvm_codec(spark):

            def jvm_point(data: bytes, point_px: int, n: int) -> float:
                big = spark.createDataFrame(
                    [(bytearray(data),)] * n, "content binary"
                ).coalesce(1).cache()
                big.count()

                def decode_jvm():
                    _jvmc.decode_images_jvm(big).selectExpr(
                        "sum(length(rgb)) AS s"
                    ).collect()

                rate = round(
                    point_px * n / _best_of(decode_jvm) / 1e6, 2
                )
                big.unpersist()
                return rate

            # same 256x256 image as the vendored point (apples to
            # apples; n amortizes the one-partition job overhead) plus
            # a 512x512 point — ImageIO's per-image reader setup
            # dominates small frames, and real photo corpora sit at
            # the larger size
            jvm_rate = jvm_point(jpg, px, 192)
            w2 = h2 = 512
            x2 = np.linspace(0, 255, w2)[None, :].repeat(h2, 0)
            y2 = np.linspace(0, 255, h2)[:, None].repeat(w2, 1)
            img2 = np.clip(
                np.stack([x2, y2, (x2 + y2) / 2], axis=2)
                + rng.normal(0, 6, (h2, w2, 3)),
                0,
                255,
            ).astype(np.uint8)
            jpg2 = _jpeg.encode_jpeg(
                w2, h2, img2.tobytes(), quality=85, subsample=True
            )
            jvm_rate_512 = jvm_point(jpg2, w2 * h2, 96)
            if fast is None or jvm_rate > fast:
                fast, fast_tier = jvm_rate, "jvm-imageio"
    # MJPEG/AVI frame decode (VERDICT r11 next #5 done point): a
    # 60-frame 256x256 MJPEG AVI — (a) full-stream decode frames/s
    # through parse + vendored T.81 decode, (b) sparse sampling (every
    # 8th frame) showing cost tracks SELECTED frames, not stream
    # length (the parse walk is O(frames) chunk headers, decode only
    # on selection).
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        avi as _avi,
    )

    n_vid_frames = 60
    vid_frames = [
        _jpeg.encode_jpeg(
            w, h,
            np.clip(img.astype(np.int32) + 3 * i, 0, 255)
            .astype(np.uint8).tobytes(),
            quality=85, subsample=True,
        )
        for i in range(n_vid_frames)
    ]
    avi_blob = _avi.build_mjpeg_avi(vid_frames, fps=10, width=w, height=h)

    def decode_all() -> float:
        t0 = time.perf_counter()
        p = _avi.parse_avi(avi_blob)
        for fr in p["frames"]:
            _jpeg.decode_jpeg(fr)
        return time.perf_counter() - t0

    def decode_sampled() -> float:
        t0 = time.perf_counter()
        p = _avi.parse_avi(avi_blob)
        seen = set()
        for off in range(0, p["duration_ms"], 800):  # every 8th frame
            fi = _avi.frame_index_at(
                off, p["us_per_frame"], p["n_frames"]
            )
            if fi not in seen:
                seen.add(fi)
                _jpeg.decode_jpeg(p["frames"][fi])
        return time.perf_counter() - t0

    all_sec = _best_of(decode_all, n=2)
    sam_sec = _best_of(decode_sampled, n=2)
    return {
        "image_px": px,
        "images_per_point": n_imgs,
        "jpeg_decode_mpx_per_s": round(px * n_imgs / jpg_sec / 1e6, 2),
        "png_decode_mpx_per_s": round(px * n_imgs / png_sec / 1e6, 2),
        "resize_mpx_per_s": round(px * n_imgs / rs_sec / 1e6, 2),
        "fast_jpeg_mpx_per_s": fast,
        "fast_jpeg_tier": fast_tier,
        "jvm_jpeg_mpx_per_s": jvm_rate,
        "jvm_jpeg_512_mpx_per_s": jvm_rate_512,
        "mjpeg_stream_frames": n_vid_frames,
        "mjpeg_decode_frames_per_s": round(n_vid_frames / all_sec, 2),
        "mjpeg_sampled_decode_sec": round(sam_sec, 4),
        "mjpeg_full_decode_sec": round(all_sec, 4),
        "mjpeg_sampled_vs_full": round(sam_sec / all_sec, 3),
        "note": "single-core kernel rate; multiply by executor cores",
    }


def run_bm25_index_probe(spark, sf_dir: str) -> dict:
    """Incremental BM25 inverted-index maintenance (VERDICT r10 next
    #6 done point): after appending a ~0.8% delta to a TxTable
    corpus, refreshing the postings matview off the change feed
    (tokenize transform, sources/matview.mv_refresh) must cost
    O(delta × its tokens) — published against the from-scratch twin
    (re-tokenize the whole corpus and materialize a fresh index, what
    a non-incremental pipeline would run).  Both sides include their
    index WRITE, so the ratio is end-to-end."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.operators.text import (
        tokens,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.matview import (
        mv_init,
        mv_refresh,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTable,
    )

    fac = 128
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    # corpus = 128 replicas with remapped ids and replica-salted text
    # (the shared probe replication discipline) — the base holds
    # replicas 0..126, the appended delta is replica 127: a ~0.8% delta
    # against a corpus big enough that re-tokenization dominates.
    # Text is repeated 3x per doc: the synthetic documents are an
    # order of magnitude shorter than real web documents, which
    # understates tokenization (the recompute's dominant cost) against
    # the refresh's fixed costs — repetition lengthens the docs without
    # growing the DISTINCT (term, doc) postings the refresh must scan,
    # exactly the real-corpus shape (long docs, bounded vocabulary)
    big = _with_replicas(docs, fac).select(
        (F.col("doc_id") * fac + F.col("_r")).alias("doc_id"),
        F.concat_ws(
            " ",
            F.col("text"),
            F.col("text"),
            F.col("text"),
            F.concat(F.lit("r"), F.col("_r").cast("string")),
        ).alias("text"),
        F.col("_r"),
    )

    def tok_rows(df):
        return df.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        ).filter(F.col("term") != "")

    g = ["term", "doc_id"]
    m = {"tf": "1"}
    base = tempfile.mkdtemp(prefix="bench_bm25idx_")
    try:
        corpus = TxTable(spark, base + "/corpus")
        corpus.init(
            big.filter(F.col("_r") != fac - 1).drop("_r").repartition(8)
        )
        postings = TxTable(spark, base + "/postings")
        mv_init(postings, corpus.snapshot(), g, m, transform=tok_rows)
        v0 = corpus.latest_version()
        corpus.append(
            big.filter(F.col("_r") == fac - 1).drop("_r").coalesce(2)
        )
        t0 = time.perf_counter()
        mv_refresh(postings, corpus, g, m, from_version=v0,
                   transform=tok_rows)
        refresh_sec = time.perf_counter() - t0
        # fixed-vs-marginal split (VERDICT r11 next #7): a one-doc
        # delta pays the full fixed refresh path (feed plan, tokenize
        # codegen, checkpoint, MV scan + commit) with ~zero per-token
        # work; publishing refresh minus it keeps the speedup ratio
        # honest as the corpus grows — the FIXED part won't shrink,
        # the marginal part is what O(delta) bounds.
        v1 = corpus.latest_version()
        corpus.append(
            big.filter((F.col("_r") == 0) & (F.col("doc_id") % fac == 0))
            .limit(1)
            .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
            .drop("_r")
            .coalesce(1)
        )
        t0 = time.perf_counter()
        mv_refresh(postings, corpus, g, m, from_version=v1,
                   transform=tok_rows)
        fixed_sec = time.perf_counter() - t0
        fresh = TxTable(spark, base + "/fresh_index")
        t0 = time.perf_counter()
        mv_init(fresh, corpus.snapshot(), g, m, transform=tok_rows)
        recompute_sec = time.perf_counter() - t0

        # Top-k + bucket-pruned reads, measured at the SERVICE level:
        # a real Bm25Index over the corpus TxTable — its postings MV
        # partitioned by the 32-way md5 term bucket — scoring a
        # 16-query batch that pairs the corpus's most common term with
        # distinct rare terms.  Published: (a) the service top-k
        # (bucket-pruned read) equals full scoring over an unpruned
        # read exactly; (b) both walls; (c) the bucketed layout reads
        # only the vocabulary's partitions (files_read_ratio).
        from ecommerce_data_pipeline_23a91a05i4_spark.operators.text import (
            Bm25Index,
            bm25_scores_from_index,
            bm25_topk,
        )

        idx = Bm25Index(corpus, base + "/svc_idx")
        t0 = time.perf_counter()
        idx.build()
        build_sec = time.perf_counter() - t0
        tdf_rows = (
            idx.termdf.snapshot()
            .select("term", F.col("n_rows").alias("df"))
            .orderBy(F.desc("df"), "term")
            .collect()
        )
        common = tdf_rows[0].term
        rare = [r.term for r in tdf_rows[-16:]]
        k = 10
        qt = spark.createDataFrame(
            [(i, common) for i in range(len(rare))]
            + [(i, t) for i, t in enumerate(rare)],
            "query_id long, term string",
        )
        dl = idx.doclen.snapshot().select("doc_id", "dl")
        stats = idx.cstats.snapshot().select("n_docs", "total_tokens")
        full_post = idx.postings.snapshot().select(
            "term", "doc_id", "tf"
        )

        def run_full_unpruned_read():
            scored = bm25_scores_from_index(full_post, dl, stats, qt)
            return bm25_topk(scored, k).collect()

        def run_service():
            return idx.score(qt, k=k).collect()

        full_rows = run_full_unpruned_read()  # warm both paths once
        service_rows = run_service()
        topk_equal = sorted(map(tuple, full_rows)) == sorted(
            (r.query_id, r.rank, r.doc_id, r.n_terms_matched, r.score)
            for r in service_rows
        )
        t0 = time.perf_counter()
        run_full_unpruned_read()
        full_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        run_service()
        service_sec = time.perf_counter() - t0
        files_total = len(idx.postings.manifest()["files"])
        import hashlib as _hl

        buckets = sorted({
            int(_hl.md5(t.encode()).hexdigest()[:8], 16)
            % Bm25Index.TB_BUCKETS
            for t in [common, *rare]
        })
        files_pruned = len([
            e for e in idx.postings.manifest()["files"]
            if e.get("part") in {str(b) for b in buckets}
        ])
        full_matched = full_post.join(
            qt.select("term").distinct(), "term"
        ).count()
        pruning = {
            "k": k,
            "n_queries": len(rare),
            "index_build_sec": round(build_sec, 4),
            "full_matched_postings": int(full_matched),
            "postings_files_total": files_total,
            "postings_files_read": files_pruned,
            "files_read_ratio": round(
                files_pruned / max(files_total, 1), 4
            ),
            "full_unpruned_read_topk_sec": round(full_sec, 4),
            "service_topk_sec": round(service_sec, 4),
            "topk_equal": bool(topk_equal),
        }
        return {
            "pruning": pruning,
            "n_docs": int(corpus.snapshot().count()),
            "delta_fraction": round(1.0 / fac, 4),
            "incremental_refresh_sec": round(refresh_sec, 4),
            "refresh_fixed_sec": round(fixed_sec, 4),
            "refresh_marginal_sec": round(
                max(refresh_sec - fixed_sec, 0.0), 4
            ),
            "full_recompute_sec": round(recompute_sec, 4),
            "speedup_vs_recompute": round(recompute_sec / refresh_sec, 2),
            "speedup_marginal_vs_recompute": round(
                recompute_sec / max(refresh_sec - fixed_sec, 1e-9), 2
            ),
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


#: Calibration-anchor nominals (VERDICT r10 next #4): the r10 driver
#: and builder measured the SAME HEAD at sf0.1 2.6x apart (1.23 s vs
#: 0.48 s) — pure machine contention, indistinguishable from a real
#: regression without a reference.  The anchor re-times two FIXED
#: workloads every run: a single-core numpy kernel (interpreter+BLAS
#: speed) and a 32-partition 1M-row Spark sum (the task-scheduling +
#: collect floor every sub-100 ms headline query pays regardless of
#: plan quality).  headline "value_anchor_normalized" = value /
#: (measured spark anchor / nominal): a contended box slows the anchor
#: and the suite together so normalized stays flat, while a real plan
#: regression moves normalized and raw together.  The nominal constants
#: are arbitrary fixed points (min observed on the build box,
#: 2026-08-16) — only the round-over-round RATIO of measured anchors
#: carries information; changing the nominals rescales, never reranks.
#: Pinned to the QUIET build box (best-of-7, no concurrent load) so
#: scale_vs_nominal reads ~1.0 when the environment is healthy and >1
#: under contention.
ANCHOR_NOMINAL = {
    "spark_roundtrip_sec": 0.135,
    "cpu_kernel_sec": 0.0115,
    # the MEDIAN nominal is what normalization divides by (ADVICE r11:
    # best-of-7 normalization lets one transiently-fast anchor run
    # deflate the published normalized headline; the median is robust
    # in both directions).  Fixed point: median of 7, repeated 3x on
    # the quiet build box 2026-08-16 (0.125 / 0.128 warm; pinned
    # slightly above at 0.13 so a healthy box reads ~1.0).
    "spark_roundtrip_median_sec": 0.13,
}


def run_family_anchor(spark) -> dict:
    """Quick 3-run anchor sampled immediately before each probe family
    (VERDICT r11 next #2): the median spark roundtrip over nominal, so
    every family's published numbers carry the box state AT THAT
    MOMENT — a contended window shows anchor_ratio >> 1 on exactly the
    families it hit."""
    def spark_roundtrip() -> float:
        t0 = time.perf_counter()
        spark.range(1_000_000, numPartitions=32).selectExpr(
            "sum(id) AS s"
        ).collect()
        return time.perf_counter() - t0

    runs = sorted(spark_roundtrip() for _ in range(3))
    med = runs[1]
    return {
        "anchor_spark_roundtrip_sec": round(med, 4),
        "anchor_ratio": round(
            med / ANCHOR_NOMINAL["spark_roundtrip_median_sec"], 3
        ),
    }


def run_anchor_probe(spark) -> dict:
    """Fixed-work calibration anchor published with every bench run
    (see ANCHOR_NOMINAL).  Best-of-7 with medians, so the driver can
    separate 'the box was slow' (anchor moved with the headline) from
    'the code got slow' (headline moved, anchor did not)."""
    import numpy as np

    def cpu_kernel() -> float:
        rng = np.random.default_rng(7)
        a = rng.random((256, 256))
        b = rng.random((256, 256))
        t0 = time.perf_counter()
        for _ in range(30):
            a = a @ b
            a /= np.abs(a).max()
        return time.perf_counter() - t0

    def spark_roundtrip() -> float:
        t0 = time.perf_counter()
        spark.range(1_000_000, numPartitions=32).selectExpr(
            "sum(id) AS s"
        ).collect()
        return time.perf_counter() - t0

    import statistics

    cpu_runs = sorted(cpu_kernel() for _ in range(7))
    spark_roundtrip()  # warm (codegen/scheduler path)
    sp_runs = sorted(spark_roundtrip() for _ in range(7))
    return {
        "cpu_kernel_sec": round(cpu_runs[0], 4),
        "cpu_kernel_median_sec": round(statistics.median(cpu_runs), 4),
        "spark_roundtrip_sec": round(sp_runs[0], 4),
        "spark_roundtrip_median_sec": round(statistics.median(sp_runs), 4),
        "nominal": dict(ANCHOR_NOMINAL),
    }


def run_txlog_probe(spark) -> dict:
    """Manifest-log commit-cost flatness (VERDICT r9 next #1 'done'
    criterion): with v2 delta commits + sidecars, the JSON bytes and
    wall time of a one-file append must NOT grow with the number of
    live table files.  Measures the same operation — append one file
    with stats+bloom metadata — at ~16 and ~512 live files (32×), plus
    a COLD handle's driver-side snapshot resolve at the big scale
    (bounded by checkpoint_interval, not file count)."""
    import shutil
    import tempfile
    import uuid as _uuid

    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTable,
    )

    base = tempfile.mkdtemp(prefix=f"bench_txlog_{_uuid.uuid4().hex[:8]}_")
    try:
        t = TxTable(
            spark,
            base + "/t",
            stats_col="k",
            bloom_col="k",
            checkpoint_interval=8,
        )
        one = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")

        def append_one() -> float:
            t0 = time.perf_counter()
            t.append(one.coalesce(1))
            return time.perf_counter() - t0

        def last_commit_bytes() -> int:
            v = t.latest_version()
            return os.path.getsize(
                os.path.join(base, "t", "_txlog", f"{v:020d}.json")
            )

        t.init(one.repartition(15))
        sec_small = append_one()
        bytes_small = last_commit_bytes()
        files_small = len(t.manifest()["files"])
        for _ in range(3):
            t.append(
                spark.range(200_000)
                .selectExpr("id AS k", "id * 2 AS v")
                .repartition(165)
            )
        sec_big = append_one()
        bytes_big = last_commit_bytes()
        files_big = len(t.manifest()["files"])
        t0 = time.perf_counter()
        cold = TxTable(spark, base + "/t")
        n_resolved = len(cold.manifest()["files"])
        resolve_sec = time.perf_counter() - t0

        # Multi-writer throughput (VERDICT r11 next #6): t98 proves
        # the op-aware rebase is CORRECT; this measures the claimed
        # win.  N threads race M disjoint one-file appends each
        # against one table — under rebase a lost race lands without
        # restaging, so wall ≈ slowest writer, not sum of writers.
        # The serialized comparator runs the SAME work single-file,
        # single-thread (what writers would pay if every lost race
        # forced a full re-stage-and-retry queue).
        import threading

        n_threads, per_thread = 4, 5
        serial_t = TxTable(spark, base + "/serial")
        serial_t.init(one.coalesce(1))
        t0 = time.perf_counter()
        for _ in range(n_threads * per_thread):
            serial_t.append(one.coalesce(1))
        serial_sec = time.perf_counter() - t0
        conc_t = TxTable(spark, base + "/conc")
        conc_t.init(one.coalesce(1))
        conc_errors: list[str] = []

        def writer() -> None:
            try:
                handle = TxTable(spark, base + "/conc")
                for _ in range(per_thread):
                    handle.append(one.coalesce(1))
            except Exception as exc:  # noqa: BLE001 — published below
                conc_errors.append(f"{type(exc).__name__}: {exc}"[:200])

        threads = [
            threading.Thread(target=writer) for _ in range(n_threads)
        ]
        t0 = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        conc_sec = time.perf_counter() - t0
        landed = conc_t.latest_version() - 1
        concurrent = {
            "threads": n_threads,
            "commits": n_threads * per_thread,
            "commits_landed": int(landed),
            "wall_sec": round(conc_sec, 4),
            "concurrent_commits_per_s": round(
                (n_threads * per_thread) / conc_sec, 2
            ),
            "serial_wall_sec": round(serial_sec, 4),
            "serial_commits_per_s": round(
                (n_threads * per_thread) / serial_sec, 2
            ),
            "speedup_vs_serial": round(serial_sec / conc_sec, 2),
        }
        if conc_errors:
            concurrent["errors"] = conc_errors
        return {
            "concurrent": concurrent,
            "files_small": files_small,
            "files_big": files_big,
            "commit_bytes_small": bytes_small,
            "commit_bytes_big": bytes_big,
            "commit_bytes_ratio": round(bytes_big / bytes_small, 3),
            "append_sec_small": round(sec_small, 4),
            "append_sec_big": round(sec_big, 4),
            "cold_resolve_sec_big": round(resolve_sec, 4),
            "cold_resolved_files": n_resolved,
            "note": "one-file append cost at 32x the live-file count",
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)


#: replication factor of the cached sf1 evidence dir (sf0.1 × 10)
SF1_FACTOR = 10


def ensure_scaled_dir(
    spark, src_dir: str, dst_dir: str, factor: int = SF1_FACTOR
) -> str:
    """Materialize (once — marker-cached across rounds) a ``factor``×
    replica of the sf0.1 tables with CONSISTENT foreign-key remapping,
    giving a REAL order-of-magnitude evidence point (~6M lineitem ≈
    TPC-H SF1) instead of only the probes' synthetic in-plan unions
    (VERDICT r7 ask #2).  Replica r shifts every key by r·span(table)
    — the scale-probe discipline — so join multiplicities per key are
    PRESERVED: orders reference the customer replica they came from,
    lineitem the orders/part/supplier replicas.  Embeddings get the
    semdedup-probe dim-0 perturbation (identical replicas would be
    wall-to-wall near-dups).  nation/region keep TPC-H's fixed size;
    events/documents copy through so any gate can run against the
    dir."""
    import shutil

    from pyspark.sql import functions as F

    marker = os.path.join(dst_dir, "_SCALED_OK")
    # the cache is only valid for THIS factor and THIS source state —
    # a regenerated testdata dir or a different factor must rebuild,
    # or the published sf1 ratios would divide fresh sf0.1 timings
    # into timings measured on mismatched cached data
    stamp = json.dumps(
        {
            "factor": factor,
            "src": src_dir,
            "src_mtime": round(
                os.path.getmtime(
                    os.path.join(src_dir, "lineitem.parquet")
                )
            ),
        },
        sort_keys=True,
    )
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == stamp:
                return dst_dir
    shutil.rmtree(dst_dir, ignore_errors=True)
    os.makedirs(dst_dir, exist_ok=True)
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def src(name: str):
        return spark.read.parquet(os.path.join(src_dir, f"{name}.parquet"))

    def span(df, key: str) -> int:
        mx = df.agg(F.max(key)).collect()[0][0]
        if mx is None:
            raise RuntimeError(f"ensure_scaled_dir: {key} is all-NULL")
        return int(mx) + 1

    cust, part, supp = src("customer"), src("part"), src("supplier")
    orders, li, emb = src("orders"), src("lineitem"), src("embeddings")
    sp_c, sp_p = span(cust, "c_custkey"), span(part, "p_partkey")
    sp_s, sp_o = span(supp, "s_suppkey"), span(orders, "o_orderkey")
    sp_v = span(emb, "vec_id")

    def shift(col: str, sp: int):
        return (F.col(col) + F.col("_r").cast("long") * sp).alias(col)

    def write(df, name: str):
        df.drop("_r").repartition(n_files).write.parquet(
            os.path.join(dst_dir, f"{name}.parquet")
        )

    write(
        _with_replicas(cust, factor).select(
            shift("c_custkey", sp_c), "c_name", "c_nationkey",
            "c_acctbal", "c_mktsegment", "_r",
        ),
        "customer",
    )
    write(
        _with_replicas(part, factor).select(
            shift("p_partkey", sp_p), "p_name", "p_brand", "p_type",
            "p_size", "p_retailprice", "_r",
        ),
        "part",
    )
    write(
        _with_replicas(supp, factor).select(
            shift("s_suppkey", sp_s), "s_name", "s_nationkey",
            "s_acctbal", "_r",
        ),
        "supplier",
    )
    write(
        _with_replicas(orders, factor).select(
            shift("o_orderkey", sp_o), shift("o_custkey", sp_c),
            "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority", "_r",
        ),
        "orders",
    )
    write(
        _with_replicas(li, factor).select(
            shift("l_orderkey", sp_o), shift("l_partkey", sp_p),
            shift("l_suppkey", sp_s), "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate", "_r",
        ),
        "lineitem",
    )
    write(
        _with_replicas(emb, factor).select(
            shift("vec_id", sp_v),
            _perturbed_embedding(),
            "label",
            "_r",
        ),
        "embeddings",
    )
    for name in ("nation", "region", "events", "documents"):
        shutil.copy(
            os.path.join(src_dir, f"{name}.parquet"),
            os.path.join(dst_dir, f"{name}.parquet"),
        )
    with open(marker, "w") as fh:
        fh.write(stamp)
    return dst_dir


def run_sf1_block(
    spark, sf_dir: str, queries, timings: dict, errors: dict
) -> dict:
    """The sf1 evidence point: q1–q10 timed (warm + best-of-3 each) on
    the cached 10× dir, per-query ratios against 10× the sf0.1 time
    (linear scaling would be 1.0; the acceptance bar is ≤ 2), plus the
    semdedup/sketch/matview probes' 1× points — real-data throughput
    at ~6M fact rows rather than a synthetic union."""
    sf1_dir = ensure_scaled_dir(
        spark,
        sf_dir,
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".bench_sf1"
        ),
    )
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — a hint, never load-bearing
        pass
    q_sf1: dict[str, float] = {}
    for name in headline_names(queries):
        try:
            df = queries[name](spark, sf1_dir)
            q_sf1[name] = round(_best_of(df.collect, n=3), 4)
        except Exception as exc:  # noqa: BLE001 — partial block > no block
            errors[f"__sf1_{name}__"] = f"{type(exc).__name__}: {exc}"[:500]
    block: dict = {
        "factor_vs_sf0.1": SF1_FACTOR,
        "queries_sec": q_sf1,
        "headline_total_sec": round(sum(q_sf1.values()), 4),
    }
    ratios = {
        n: round(q_sf1[n] / (SF1_FACTOR * timings[n]), 2)
        for n in q_sf1
        if timings.get(n)
    }
    if ratios:
        block["per_query_vs_sf0.1_scaled"] = ratios
        block["max_vs_scaled"] = max(ratios.values())
    for nm, fn_p in (
        ("semdedup", run_semdedup_scale_probe),
        ("sketch", run_sketch_scale_probe),
        ("matview", run_matview_scale_probe),
    ):
        try:
            block[nm] = fn_p(spark, sf1_dir, factors=())
        except Exception as exc:  # noqa: BLE001 — partial block > no block
            errors[f"__sf1_{nm}__"] = f"{type(exc).__name__}: {exc}"[:500]
    return block


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    spark = get_spark("bench")
    queries = entry_mod.queries()

    # One failing query must never forfeit the suite: every query is
    # individually guarded and the JSON line is always emitted, with
    # per-query errors recorded instead of timings.  Each query is timed
    # best-of-3 after a warm run — a single timed run makes a query's
    # number depend on its POSITION in the suite (early queries pay JVM/
    # JIT warmup the later ones have amortized; measured: the same q3
    # was 4x slower first-in-session than last), and the registry order
    # is a rotation schedule, so position must not leak into timings.
    # Engine warm pass: JVM/JIT warmup spans QUERIES, not just runs of
    # one query (measured: q3 best-of-3 is 0.083s when timed first in a
    # fresh session, 0.029s after the other headline queries have run
    # once).  Running the cheap headline suite unmeasured first puts
    # every timed query on the same warmed engine regardless of its
    # rotation position.
    for name in headline_names(queries):
        try:
            queries[name](spark, sf_dir).collect()
        except Exception:  # noqa: BLE001 — the timed loop records it
            pass

    ref10_names = set(headline_names(queries))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    # Scale probes run FIRST (on the freshly warmed engine, before the
    # 80+-query suite has accumulated heap/localCheckpoint pressure):
    # measured, a probe point timed after the full suite can spike ~3x
    # from GC noise that best-of-3 cannot hide.
    #
    # Per-family measurement protocol (VERDICT r11 next #2 — the r11
    # semdedup 32x number was unreadable because a single pre-suite
    # anchor could not see contention arriving mid-probe-sequence):
    # before EVERY family the JVM gets an explicit GC hint and a quick
    # 3-run anchor is sampled; each family's result carries its own
    # `anchor_ratio` (measured/nominal median), so a slow number is
    # attributable to the box at that MOMENT, not just the run.  The
    # heaviest family (semdedup: per-point k-means training) runs
    # second, right after the headline-shaped scale probe, before any
    # heap churn from the index/maintenance probes accumulates.
    probe: dict = {}
    probe_families = [
        (None, lambda: run_scale_probe(spark, sf_dir), "__scale_probe__"),
        ("semdedup", lambda: run_semdedup_scale_probe(spark, sf_dir),
         "__semdedup_scale_probe__"),
        ("llm", lambda: run_llm_scale_probe(spark, sf_dir),
         "__llm_scale_probe__"),
        ("curation", lambda: run_curation_scale_probe(spark, sf_dir),
         "__curation_scale_probe__"),
        ("bpe", lambda: run_bpe_scale_probe(spark, sf_dir),
         "__bpe_scale_probe__"),
        ("sketch", lambda: run_sketch_scale_probe(spark, sf_dir),
         "__sketch_scale_probe__"),
        ("matview", lambda: run_matview_scale_probe(spark, sf_dir),
         "__matview_scale_probe__"),
        ("bm25_index", lambda: run_bm25_index_probe(spark, sf_dir),
         "__bm25_index_probe__"),
        ("codec", lambda: run_codec_probe(spark), "__codec_probe__"),
        ("txlog", lambda: run_txlog_probe(spark), "__txlog_probe__"),
    ]
    for key, fn, errkey in probe_families:
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 — a hint, never load-bearing
            pass
        fam_anchor = {}
        try:
            fam_anchor = run_family_anchor(spark)
        except Exception:  # noqa: BLE001 — diagnostic only
            pass
        try:
            res = fn()
            if isinstance(res, dict):
                res.update(fam_anchor)
            if key is None:
                probe = res
            else:
                probe[key] = res
        except Exception as exc:  # noqa: BLE001 — never forfeit the line
            errors[errkey] = f"{type(exc).__name__}: {exc}"[:500]
    # RE-warm the headline right before timing it: seven probes now sit
    # between the first warm pass and the suite, and their heap/
    # checkpoint churn measurably degrades the first timed queries
    # (observed: headline 0.42 -> 0.57 s after the matview probe was
    # added; warm adjacency + an explicit JVM GC restore the band).
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — a hint, never load-bearing
        pass
    for name in headline_names(queries):
        try:
            queries[name](spark, sf_dir).collect()
        except Exception:  # noqa: BLE001 — the timed loop records it
            pass
    # calibration anchor, timed in the SAME window as the suite it
    # calibrates (VERDICT r10 next #4); a post-suite repeat exposes
    # contention drift WITHIN the window
    anchor: dict = {}
    try:
        anchor = run_anchor_probe(spark)
    except Exception as exc:  # noqa: BLE001 — never forfeit the line
        errors["__anchor__"] = f"{type(exc).__name__}: {exc}"[:500]
    headline_runs: dict[str, list[float]] = {}
    # engine-vs-collect split for streaming gates (VERDICT r12 next
    # #4, additive): an s-gate's fn() RUNS the stream (micro-batches,
    # state, sinks) and returns a materialized result, so the timed
    # re-collect below measures only the driver-side collect of that
    # result — s2c's ±35% spread is pure collect jitter.  Publishing
    # fn()'s own wall as the ENGINE share gives future rounds the
    # number that actually moves with engine work.  The timed metric
    # is unchanged for comparability.
    stream_engine_sec: dict[str, float] = {}
    for name, fn in queries.items():
        try:
            t_build0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if name.startswith("s"):
                stream_engine_sec[name] = round(
                    time.perf_counter() - t_build0, 4
                )
            df.collect()  # warm: codegen compile, footer reads, page cache
            # headline queries: best-of-5 with every run kept (VERDICT r5
            # ask #5 — the acceptance metric carries a published
            # min/median and jitter band, not a single noisy best).
            # Streaming gates: best-of-3 — their fn() drains the stream
            # and returns a MATERIALIZED (localCheckpointed) result, so
            # the timed quantity is a driver-side re-collect whose noise
            # a single run cannot hide (VERDICT r9 watch item: s2c's
            # 0.80->1.13 s "drift" was jitter on collecting ~95k session
            # rows; measured re-collect spread on one box: 0.82-1.14 s).
            # The rest: one timed run, keeping family totals comparable
            # round-over-round without quintupling the suite's wall time.
            n_runs = (
                5
                if name in ref10_names
                else 3 if name.startswith("s") else 1
            )
            runs = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                df.collect()
                runs.append(time.perf_counter() - t0)
            timings[name] = round(min(runs), 4)
            if name in ref10_names:
                headline_runs[name] = runs
        except Exception as exc:  # noqa: BLE001 — record and keep benching
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    # Headline value = the 10-query analytics suite, the number BASELINE.md
    # reports for the reference (4.44 s at ~30k fact rows).  The monitoring
    # (q11+) and LLM-data (t*) suites are timed in "queries" but kept out
    # of the headline so the comparison stays apples-to-apples.
    # (headline_total's sum-of-per-query-mins is only the completeness
    # check / fallback — the RECORDED value is the protocol min below,
    # VERDICT r6 ask #4: one number, one provenance.)
    total, failed_headline = headline_total(queries, timings, errors)

    # Jitter band (VERDICT r5 ask #5): the queries run in a FIXED order
    # (registry order) with 5 kept runs each, so run i across all 10
    # queries is a same-session repeat of the whole suite — min/median
    # of those 5 suite totals plus their spread is the published
    # protocol; a future round's headline move inside the band is noise.
    headline_stats: dict = {}
    if not failed_headline and len(headline_runs) == len(ref10_names):
        import statistics

        suite_runs = [
            round(sum(headline_runs[n][i] for n in headline_runs), 4)
            for i in range(5)
        ]
        mn, md = min(suite_runs), statistics.median(suite_runs)
        headline_stats = {
            "suite_runs_sec": suite_runs,
            "min_sec": round(mn, 4),
            "median_sec": round(md, 4),
            "jitter_pct": round(100.0 * (max(suite_runs) - mn) / mn, 1),
        }
        # The protocol's min IS the headline (VERDICT r6 ask #4: r6
        # published a separately re-warmed single run BELOW the
        # protocol's own minimum — exactly the cherry-picking smell the
        # protocol exists to kill).  value == headline_protocol.min_sec
        # by construction; per-query best-of-5 floors stay in "queries"
        # as detail.
        total = headline_stats["min_sec"]
    try:
        anchor["post_spark_roundtrip_sec"] = run_anchor_probe(spark)[
            "spark_roundtrip_sec"
        ]
    except Exception:  # noqa: BLE001 — drift diagnostic only
        pass
    value_anchor_normalized = None
    if total is not None and anchor.get("spark_roundtrip_median_sec"):
        # MEDIAN over median-nominal (ADVICE r11): best-of-7 could be
        # deflated by one lucky run, which would inflate the published
        # normalized headline; the basis is published so the scale is
        # auditable.
        scale = (
            anchor["spark_roundtrip_median_sec"]
            / ANCHOR_NOMINAL["spark_roundtrip_median_sec"]
        )
        anchor["scale_vs_nominal"] = round(scale, 3)
        anchor["normalization_basis"] = "spark_roundtrip_median_sec"
        value_anchor_normalized = round(total / scale, 4)

    # End-to-end pipeline at the reference's exact scale (1000 customers /
    # 500 products / 10k transactions) — per-step seconds comparable to
    # BASELINE.md (data_generation 3.36s, data_ingestion 4.61s, analytics
    # suite 4.44s on local Postgres).
    import shutil
    import tempfile

    from ecommerce_data_pipeline_23a91a05i4_spark.pipeline import run_pipeline

    base = tempfile.mkdtemp(prefix="bench_pipeline_")
    steps: dict[str, float] = {}
    pipeline_ok = False
    try:
        rep = run_pipeline(spark, base, 1000, 500, 10000)
        steps = {
            name: info["duration_seconds"]
            for name, info in rep["steps_executed"].items()
        }
        pipeline_ok = rep["overall_status"] == "success"
    except Exception as exc:  # noqa: BLE001 — still emit the JSON line
        errors["__pipeline__"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        shutil.rmtree(base, ignore_errors=True)

    ref10 = set(headline_names(queries))
    fam = {"q1_q10": 0.0, "q_other": 0.0, "t_llmdata": 0.0, "s_streaming": 0.0}
    for name, sec in timings.items():
        if name in ref10:
            fam["q1_q10"] += sec
        elif name.startswith("s"):
            fam["s_streaming"] += sec
        elif name.startswith("t"):
            fam["t_llmdata"] += sec
        else:
            fam["q_other"] += sec

    # The curation capstone (t38) composes most round-3 operators in one
    # chain; surface its wall time by name so a regression in the
    # COMPOSED path is visible round-over-round, not just per-gate.
    capstone_sec = timings.get("t38_curation_v2")

    # sf1 evidence point (VERDICT r7 ask #2): a REAL 10× dir (cached
    # across rounds), run last so a failure here can never cost the
    # sf0.1 record; SPARK_GRAFT_SF1=0 skips it.
    sf1_block: dict = {}
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and sf == 0.1:
        try:
            sf1_block = run_sf1_block(spark, sf_dir, queries, timings, errors)
        except Exception as exc:  # noqa: BLE001 — never forfeit the line
            errors["__sf1__"] = f"{type(exc).__name__}: {exc}"[:500]

    out = {
        "metric": "ref_analytics10_total_seconds",
        "value": total,
        "unit": "sec",
        "value_anchor_normalized": value_anchor_normalized,
        "anchor": anchor,
        "headline_protocol": headline_stats,
        "queries": timings,
        "stream_engine_sec": stream_engine_sec,
        "capstone_sec": capstone_sec,
        "family_totals_sec": {k: round(v, 4) for k, v in fam.items()},
        "all_queries_total_sec": round(sum(timings.values()), 4),
        "pipeline_sf_ref_steps_sec": steps,
        "pipeline_sf_ref_ok": pipeline_ok,
        "scale_probe": probe,
        "sf1": sf1_block,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
    if failed_headline:
        out["incomplete"] = True
    print(json.dumps(out))
    # Persist the FULL results dict in the repo as well: the driver keeps
    # only the tail of stdout, which truncated r4's per-query timings and
    # made round-over-round regression audits impossible (VERDICT r4
    # "What's wrong" #3).  The file is the auditable record; stdout stays
    # the driver contract.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    with open(full_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    # The driver stores only the TAIL of stdout; the big line above can be
    # truncated from the front, losing the headline.  Repeat the verdict-
    # critical numbers in a tiny trailing line that survives any window.
    tail = {
        "headline_total_sec": total,
        "headline_anchor_normalized_sec": value_anchor_normalized,
        "anchor_spark_roundtrip_median_sec": anchor.get(
            "spark_roundtrip_median_sec"
        ),
        "anchor_scale_vs_nominal": anchor.get("scale_vs_nominal"),
        "ratio_vs_baseline_4.44s": (
            round(total / 4.44, 4) if total is not None else None
        ),
        "headline_min_sec": headline_stats.get("min_sec"),
        "headline_median_sec": headline_stats.get("median_sec"),
        "headline_jitter_pct": headline_stats.get("jitter_pct"),
        "headline_incomplete": bool(failed_headline),
        "sf": sf,
    }
    # Probe points publish ABSOLUTE seconds + throughput alongside the
    # ratios (VERDICT r7 "What's wrong" #1: a ratio moves when its 1x
    # DENOMINATOR jitters — r7's sketch 2.19→2.78 "regression" was a
    # faster 1x; the absolutes had improved).  Every point, 1x included.
    for k, v in probe.get("points", {}).items():
        tail[f"scale_probe_{k}_sec"] = v["sec"]
        tail[f"scale_probe_{k}_rows_per_sec"] = v["rows_per_sec"]
        if k != "1x":
            tail[f"scale_probe_{k}_slowdown"] = v["slowdown_vs_1x"]
    for k, v in probe.get("llm", {}).get("points", {}).items():
        tail[f"scale_probe_llm_{k}_sec"] = v["sec"]
        tail[f"scale_probe_llm_{k}_docs_per_sec"] = v["docs_per_sec"]
        if k != "1x":
            tail[f"scale_probe_llm_{k}_slowdown"] = v["slowdown_vs_1x"]
    for k, v in probe.get("curation", {}).get("points", {}).items():
        tail[f"scale_probe_curation_{k}_sec"] = v["sec"]
        tail[f"scale_probe_curation_{k}_docs_per_sec"] = v["docs_per_sec"]
        if k != "1x":
            tail[f"scale_probe_curation_{k}_slowdown"] = v["slowdown_vs_1x"]
    for k, v in probe.get("bpe", {}).get("points", {}).items():
        tail[f"bpe_{k}_sec"] = v["sec"]
        tail[f"bpe_{k}_merges_per_sec"] = v["merges_per_sec"]
    for k, v in probe.get("semdedup", {}).get("points", {}).items():
        tail[f"scale_probe_semdedup_{k}_sec"] = v["sec"]
        tail[f"scale_probe_semdedup_{k}_vectors_per_sec"] = v[
            "vectors_per_sec"
        ]
        if "assign_only_sec" in v:
            tail[f"scale_probe_semdedup_{k}_assign_only_sec"] = v[
                "assign_only_sec"
            ]
        if k != "1x":
            tail[f"scale_probe_semdedup_{k}_slowdown"] = v["slowdown_vs_1x"]
    for k, v in probe.get("sketch", {}).get("points", {}).items():
        tail[f"sketch_{k}_sec"] = v["sketch_sec"]
        tail[f"sketch_{k}_exact_sec"] = v["exact_sec"]
        if k != "1x":
            tail[f"scale_probe_sketch_{k}_slowdown"] = v[
                "sketch_slowdown_vs_1x"
            ]
            tail[f"sketch_{k}_state_rows_saved"] = round(
                v["exact_state_rows"] / max(v["sketch_state_rows"], 1), 1
            )
    for k, v in probe.get("matview", {}).get("points", {}).items():
        tail[f"matview_{k}_refresh_sec"] = v["refresh_sec"]
        tail[f"matview_{k}_recompute_sec"] = v["recompute_sec"]
        if k != "1x":
            tail[f"matview_{k}_refresh_slowdown"] = v[
                "refresh_slowdown_vs_1x"
            ]
            tail[f"matview_{k}_recompute_slowdown"] = v[
                "recompute_slowdown_vs_1x"
            ]
    tx = probe.get("txlog", {})
    if tx:
        tail["txlog_commit_bytes_ratio_32x"] = tx.get("commit_bytes_ratio")
        tail["txlog_append_sec_big"] = tx.get("append_sec_big")
        tail["txlog_cold_resolve_sec_big"] = tx.get("cold_resolve_sec_big")
    # s2c split (VERDICT r12 next #4, additive): engine share vs the
    # timed driver-side collect, so the slowest gate is readable
    if "s2c_session_window_append" in stream_engine_sec:
        tail["s2c_engine_sec"] = stream_engine_sec[
            "s2c_session_window_append"
        ]
    if "s2c_session_window_append" in timings:
        tail["s2c_collect_sec"] = timings["s2c_session_window_append"]
    if sf1_block:
        tail["sf1_headline_total_sec"] = sf1_block.get("headline_total_sec")
        tail["sf1_max_vs_scaled"] = sf1_block.get("max_vs_scaled")
        # per-query sf1 seconds, first-class (VERDICT r12 next #8): at
        # sf0.1 the headline sits on the scheduling floor (8-core ≈
        # 32-core), so sf1 is where narrow-key rewrites resolve —
        # publish each query where the driver parses it
        for qn, qs in (sf1_block.get("queries_sec") or {}).items():
            tail[f"sf1_q_{qn}_sec"] = qs
        for nm, key in (
            ("semdedup", "vectors_per_sec"),
            ("sketch", "sketch_sec"),
        ):
            pt = sf1_block.get(nm, {}).get("points", {}).get("1x", {})
            if pt:
                tail[f"sf1_{nm}_{key}"] = pt.get(key)
        mv = sf1_block.get("matview", {}).get("points", {}).get("1x", {})
        if mv:
            tail["sf1_matview_refresh_sec"] = mv.get("refresh_sec")
    tail["capstone_sec"] = capstone_sec
    # the one-line JSON stays the LAST stdout line (the driver parses
    # it from the tail); ALSO mirror it to a file (additive, VERDICT
    # r12: the r11 comparison was lost because the driver captured
    # only a truncated stdout tail)
    tail_line = json.dumps(tail)
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "bench_tail.json",
            ),
            "w",
        ) as fh:
            fh.write(tail_line + "\n")
    except OSError:
        pass  # the printed line is the contract; the file is best-effort
    print(tail_line)


if __name__ == "__main__":
    if "--scale-probe" in sys.argv:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        # factors < 2 are meaningless (1x is always measured as the base)
        # and duplicates would collide on the materialized path
        extra = sorted({int(a) for a in sys.argv[1:] if a.isdigit()} - {0, 1})
        factors = tuple(extra) or (8, 32)
        print(
            json.dumps(
                {
                    "metric": "scale_probe",
                    **run_scale_probe(
                        get_spark("bench-scale-probe"), sf_dir, factors
                    ),
                }
            )
        )
    else:
        main()
