"""Physical-plan assertions — the 100 TB design contract.

Correctness tests say the answers are right; these say the *plans* are the
ones that survive a 1000-executor scale-up: filters reach the parquet
scan, projections prune columns, dimension joins broadcast, and hot-path
operators stay inside whole-stage codegen (no Python UDFs).
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from ecommerce_data_pipeline_23a91a05i4_spark.catalog import table
from ecommerce_data_pipeline_23a91a05i4_spark.plans import analytics, llmdata

SF = "/root/testdata/sf0.001"


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    li = table(spark, SF, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = explain_str(q)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_scan(spark):
    li = table(spark, SF, "lineitem")
    q = li.select("l_orderkey", "l_extendedprice")
    plan = explain_str(q)
    # ReadSchema must carry only the projected columns, not all 11
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema and "l_comment" not in read_schema


def test_dim_join_is_broadcast(spark):
    plan = explain_str(analytics.q1_top_products(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # part is dimension-sized


def test_geo_star_join_broadcasts_all_dims(spark):
    plan = explain_str(analytics.q6_geo_revenue(spark, SF))
    # customer/nation/region joins must all be broadcast at this SF
    assert plan.count("BroadcastHashJoin") >= 3


def test_hot_paths_have_no_python_udfs(spark):
    for fn in (
        analytics.q1_top_products,
        analytics.q9_dow_pattern,
        llmdata.t1_text_stats,
        llmdata.t5_ngram_jaccard,
        llmdata.t6_knn_cosine,
        llmdata.t9_simhash,
    ):
        plan = explain_str(fn(spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, fn.__name__


def test_wholestage_codegen_covers_agg(spark):
    # Codegen stages only appear in the AQE *final* plan (after an action),
    # marked with '*(n)' in simple mode.  Partial aggregation must also be
    # present (map-side combine before the exchange).
    df = analytics.q4_category_performance(spark, SF)
    df.collect()
    plan = explain_str(df, "simple")
    assert "isFinalPlan=true" in plan
    assert "*(" in plan  # whole-stage codegen stages exist
    assert "partial_sum" in plan  # map-side combine before shuffle


def test_topk_uses_take_ordered(spark):
    plan = explain_str(analytics.q1_top_products(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan  # O1: top-k, not global sort


def test_silver_transactions_partition_pruning(spark, pipeline_base):
    """Month-partitioned silver transactions: a month-range filter must
    prune partitions at the scan (the lakehouse analog of the reference's
    idx_transactions_date index)."""
    base, _ = pipeline_base
    df = spark.read.parquet(str(base / "silver" / "transactions"))
    q = df.filter(F.col("txn_month") == "2023-05")
    plan = explain_str(q)
    assert "PartitionFilters" in plan and "txn_month" in plan
    line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "2023-05" in line


def test_balanced_sample_broadcasts_stratum_counts(spark):
    """t22 must join the 5-row per-language counts by broadcast — the
    corpus itself is never shuffled."""
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import corpus

    plan = explain_str(corpus.t22_balanced_language_sample(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_window_is_per_document(spark):
    """t20's top-k window must partition by doc_id (per-group sort), and
    the corpus-count join must broadcast its single row."""
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import corpus

    plan = explain_str(corpus.t20_tfidf_top_terms(spark, SF))
    assert "partitionBy: [doc_id" in plan or "[doc_id#" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row count, broadcast side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_grouping_sets_single_scan(spark):
    """q33 computes both grouping sets from ONE lineitem scan via Expand —
    not one scan per set."""
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import behavioral

    plan = explain_str(behavioral.q33_returnflag_grouping_sets(spark, SF))
    assert "Expand" in plan
    # exactly one scan node in the plan tree (formatted mode repeats the
    # name in the detail section, so count the tree rendering)
    assert plan.count("+- Scan parquet") == 1


def test_rolling_window_aggregates_before_window(spark):
    """q30's RANGE window must run over the post-aggregate daily relation:
    partial aggregation below the window, exactly one window node."""
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import behavioral

    df = behavioral.q30_rolling_weekly_revenue(spark, SF)
    df.collect()
    plan = explain_str(df, "simple")
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("Window") >= 1
    assert "BatchEvalPython" not in plan


def test_funnel_reuses_user_id_shuffle_key(spark):
    """q32's three stage aggregations all hash-partition on user_id; no
    Python evaluation anywhere in the funnel."""
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import behavioral

    plan = explain_str(behavioral.q32_event_funnel(spark, SF))
    assert "hashpartitioning(user_id" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_neardup_has_no_cartesian_product(spark):
    """t7b (the scale path for embedding near-dedup) must block with LSH
    buckets — no CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    plan = explain_str(llmdata.t7b_embedding_neardup_lsh(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_has_no_cartesian_and_no_udfs(spark):
    """t31's candidate join must stay an equi-join on (band, bkey) —
    never a nested-loop pairing — and the whole chain pure JVM."""
    plan = explain_str(llmdata.t31_incremental_minhash(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontamination_broadcasts_benchmark_set(spark):
    """t34 probes candidate shingles against the benchmark set as a
    BROADCAST semi join — the corpus side must never shuffle on shingle
    for the membership test."""
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import llmdata as ld

    plan = explain_str(ld.t34_decontamination(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_sliding_chunks_plan_is_shuffle_free(spark):
    """t35's chunk fan-out is per-row plan arithmetic: scan → project →
    generate → sort for output ordering.  No Exchange may appear before
    the final output sort, and no Python anywhere."""
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import text as tx
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import corpus as cp

    # the orderBy exists only for the driver's stable output; assert the
    # unordered computation itself plans zero Exchange
    docs = table(spark, SF, "documents")
    toks = tx.tokens(F.col("text"))
    n_chunks = cp.chunk_count_expr(F.size(toks))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * cp.CHUNK_STRIDE + 1, cp.CHUNK_TOKENS)
        ),
    )
    q = docs.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
    plan = explain_str(q)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_query_paths_never_mutate_session_conf():
    """Readers and query plans must not set session conf: the sanctioned
    touch-points are session.py (the factory plus the entry-boundary
    normalization) and sources/maintenance.py's set/restore pair around
    a dynamic-partition-overwrite write (not a query path, and it
    restores the prior value)."""
    import pathlib

    import ecommerce_data_pipeline_23a91a05i4_spark as pkg_mod

    pkg = pathlib.Path(pkg_mod.__file__).parent
    allowed = {pkg / "session.py", pkg / "sources" / "maintenance.py"}
    offenders = [
        str(p)
        for p in sorted(pkg.rglob("*.py"))
        if p not in allowed and "conf.set" in p.read_text()
    ]
    assert not offenders, f"session conf mutated outside sanctioned sites: {offenders}"


def test_windowed_percentiles_avoid_group_buffering(spark):
    """q22b must compute exact percentiles via sort+window, not
    percentile()'s ObjectHashAggregate value buffer, and its final
    aggregate must reuse the window's hash partitioning (exactly one
    exchange on the group key)."""
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import extras

    df = extras.q22b_price_percentiles_windowed(spark, SF)
    plan = explain_str(df)
    assert "ObjectHashAggregate" not in plan
    assert "Window" in plan
    assert plan.count("hashpartitioning(o_orderpriority") <= 1


def test_classifier_plan_is_shuffle_free_scan_speed(spark):
    """t42's hashed-feature scorer is one higher-order fold per row — the
    whole point of the hashing trick over a vocabulary join is that the
    plan has NO Exchange and no Python, so it runs at scan speed."""
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import curation as cu

    docs = table(spark, SF, "documents")
    q = cu.classifier_scores(docs, "doc_id", "text")  # unordered core
    plan = explain_str(q)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_segment_and_bloom_plans_have_no_cartesian(spark):
    """t41 joins segments against the (small) boilerplate set and t43
    probes a broadcast bit relation — key joins both, never a cartesian
    product, and no Python anywhere."""
    from ecommerce_data_pipeline_23a91a05i4_spark.operators import dedup as dd

    docs = table(spark, SF, "documents")
    seg = dd.segment_dedup(docs, "doc_id", "text")
    bloom = dd.bloom_screen(
        docs, "doc_id", "text", dd.bloom_bit_table(docs, "text")
    )
    for q in (seg, bloom):
        plan = explain_str(q)
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the bit relation is explicitly broadcast into the probe join
    assert "BroadcastHashJoin" in explain_str(bloom)


def test_semdedup_cross_join_is_centroid_broadcast_only(spark):
    """t44's pairwise stage must be a key join on (cluster_id, sub,
    chunk) — never cartesian — with nothing in Python.  The assignment
    subtree now sits behind semdedup's one-materialization checkpoint
    (optimization r12), so its own invariant — the only nested-loop
    join is the k-row centroid-broadcast fallback — is pinned on the
    assignment plan directly, where it lives."""
    q = llmdata.t44_semdedup(spark, SF)
    plan = explain_str(q)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.operators import (
        similarity as sim,
    )

    emb = table(spark, SF, "embeddings")
    v = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    cents = v.filter(F.col("id") < 8).select(
        F.col("id").cast("int").alias("cluster_id"),
        F.col("vec").alias("centroid"),
    )
    assigned = sim._assign_clusters_bucketed(
        v, cents, sim.assign_bits_for(8), keep_vec=True
    )
    aplan = explain_str(assigned)
    assert "CartesianProduct" not in aplan
    assert "BroadcastNestedLoopJoin" in aplan  # k-row fallback only
    assert (
        "BatchEvalPython" not in aplan and "ArrowEvalPython" not in aplan
    )


def test_duplicate_spans_prescreened_explode_is_candidate_restricted(spark):
    """t54b's stride-1 explode must sit above a left-semi join on the
    winnow-candidate ids (the fan-out runs on candidates only, VERDICT
    r4 ask #6), with no cartesian product and no Python."""
    q = llmdata.t54b_duplicate_spans_prescreened(spark, SF)
    plan = explain_str(q)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_incremental_plan_is_clean(spark):
    """t61's only nested-loop joins are the centroid broadcasts; the
    store and delta-delta joins key on (cluster_id, sub) — never
    cartesian — and nothing runs in Python."""
    q = llmdata.t61_semdedup_incremental(spark, SF)
    plan = explain_str(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the k-row assignment join
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_segment_dedup_plan_is_clean(spark):
    q = llmdata.t46_incremental_segment_dedup(spark, SF)
    plan = explain_str(q)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_filtered_ann_filter_lands_below_bucket_join(spark):
    """t82's metadata predicate must reach the candidate side BELOW
    the SRP bucket join (filtering ranked output instead silently
    under-fills k), and the whole filtered-ANN plan stays
    bucket-blocked — no cartesian anywhere.  Physical plans print
    parents before children, so 'below the join' means the Filter
    line indexes AFTER the join line."""
    df = llmdata.t82_filtered_ann(spark, SF)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    lines = plan.splitlines()
    join_idx = [
        i for i, l in enumerate(lines)
        if "Join" in l and "bucket" in l
    ]
    filt_idx = [
        i for i, l in enumerate(lines)
        if "Filter" in l and "% 5" in l
    ]
    assert join_idx, "no bucket join in the filtered-ANN plan"
    assert filt_idx, "the metadata predicate vanished from the plan"
    assert min(filt_idx) > min(join_idx)


def test_bm25_relational_broadcasts_query_terms(spark):
    """t94's query-term table must reach the scorer as a BROADCAST
    (terms-as-data means a join, and a shuffled join on 200 rows would
    be the wrong plan), the per-query top-k must be a keyed window —
    and no cartesian or Python anywhere."""
    from ecommerce_data_pipeline_23a91a05i4_spark.plans import corpus

    q = corpus.t94_bm25_query_relation(spark, SF)
    plan = explain_str(q)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_join_is_banded_not_allpairs(spark):
    """t95's fuzzy join must candidate via the deletion-neighborhood
    variant equi-join — no cartesian product, no nested-loop join, no
    Python in the plan."""
    q = llmdata.t95_fuzzy_join(spark, SF)
    plan = explain_str(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_index_scoring_broadcasts_and_stays_jvm(spark):
    """t99's maintained-index scorer (bm25_scores_from_index) shares
    t94's plan discipline: query terms and per-term document
    frequencies broadcast, no cartesian beyond the one-row corpus-stat
    broadcast, no Python — the postings relation is the ONLY large
    input and is never shuffled against anything bigger than |vocab|."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.operators.text import (
        bm25_scores_from_index,
    )

    postings = spark.createDataFrame(
        [("alpha", 1, 2), ("beta", 1, 1), ("alpha", 2, 1)],
        "term string, doc_id long, tf long",
    )
    dl = spark.createDataFrame([(1, 3), (2, 1)], "doc_id long, dl long")
    stats = spark.createDataFrame([(2, 4)], "n_docs long, total_tokens long")
    qt = spark.createDataFrame(
        [(0, "alpha"), (0, "beta")], "query_id long, term string"
    )
    out = bm25_scores_from_index(postings, dl, stats, qt)
    plan = explain_str(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_index_scoring_plan_is_clean(spark, tmp_path):
    """AnnIndex.score (the t100 service): the query batch's band keys
    and vectors BROADCAST against the maintained index — the index
    relation is the only large input; no cartesian product, no Python
    workers; and the filtered variant's neighbor predicate sits in the
    corpus-side scan, BELOW the vector fetch and the cosine."""
    import random

    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_23a91a05i4_spark.operators.similarity import (
        AnnIndex,
    )
    from ecommerce_data_pipeline_23a91a05i4_spark.sources.txtable import (
        TxTable,
    )

    rng = random.Random(5)
    vecs = spark.createDataFrame(
        [
            (i, [rng.uniform(-1.0, 1.0) for _ in range(8)], i % 3)
            for i in range(30)
        ],
        "vec_id long, embedding array<double>, label int",
    )
    corpus = TxTable(spark, str(tmp_path / "corpus"))
    corpus.init(vecs.coalesce(1))
    idx = AnnIndex(
        corpus, str(tmp_path / "idx"), bands=4, bits_per_band=2, dim=8
    )
    idx.build()
    queries = vecs.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = explain_str(idx.score(queries, k=3, where="label % 3 = 0"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    # the neighbor filter is on the corpus scan side (pushed into the
    # snapshot read), not applied after the cosine projection
    assert "label" in plan and "PushedFilters" in plan


def test_bm25_index_topk_plan_is_clean(spark):
    """bm25_topk_from_index (full scoring plus the per-query top-k
    cut): the scoring joins broadcast the query-sized relations — no
    cartesian beyond the one-row stats broadcast, no Python workers;
    the postings relation is the only large input."""
    from ecommerce_data_pipeline_23a91a05i4_spark.operators.text import (
        bm25_topk_from_index,
    )

    postings = spark.createDataFrame(
        [("alpha", 1, 2), ("beta", 1, 1), ("alpha", 2, 1), ("beta", 3, 4)],
        "term string, doc_id long, tf long",
    )
    dl = spark.createDataFrame(
        [(1, 3), (2, 1), (3, 4)], "doc_id long, dl long"
    )
    stats = spark.createDataFrame(
        [(3, 8)], "n_docs long, total_tokens long"
    )
    termdf = spark.createDataFrame(
        [("alpha", 2), ("beta", 2)], "term string, df long"
    )
    qt = spark.createDataFrame(
        [(0, "alpha"), (0, "beta")], "query_id long, term string"
    )
    out = bm25_topk_from_index(postings, dl, stats, termdf, qt, k=2)
    plan = explain_str(out)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
