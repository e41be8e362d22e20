"""Corpus-curation gates (t20-t22) — TF-IDF term ranking, near-dup
cluster closure, and balanced stratified sampling.  These extend the
pairwise dedup + per-doc scoring family (t1-t19) with the three
*corpus-level* operations an LLM training-data pipeline runs after
scoring: rank salient terms, collapse near-dup pairs into clusters with
one canonical survivor, and rebalance strata before training.  All three
have exact DuckDB oracles.

Determinism discipline (same as plans/relational.py): integer/decimal
arithmetic wherever possible; the only doubles are single correctly-
rounded IEEE divisions/multiplications, which are bit-identical across
engines (unlike ln/exp, whose libm implementations may differ in the
last ulp — that is why t20's idf weight is rational, see its
docstring)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exprs import quant
from ..operators import dedup as dd
from ..operators.graph import connected_components
from ..operators.text import (
    bm25_scores,
    bm25_scores_relational,
    bm25_topk,
    norm_text,
)
from ._gate import Scratch, gate
from .llmdata import JACCARD_MAX_DOC_FREQ, JACCARD_THRESHOLD

TFIDF_TOP_K = 3
SAMPLE_TARGET_PER_STRATUM = 40.0


def t20_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most characteristic terms per document by tf-idf.

    The idf weight is the *rational* smoothed form (N+1)/(df+1) instead
    of ln((N+1)/(df+1)): log is monotone, so per-document term RANKING —
    the thing this query returns — is identical, while the score stays a
    single correctly-rounded IEEE division that two engines compute
    bit-identically (libm ln implementations are allowed to differ in the
    last ulp, which flips quantization boundaries and rank ties).  At
    production scale swap in log1p for numeric range; the plan shape is
    unchanged.

    Plan shape (optimization r13, guide §2.4 duplicated subtrees): ONE
    explode(tokens) → term-frequency aggregation per (doc, term) →
    document frequency as a COUNT WINDOW over the same relation
    partitioned by term (the former separate groupBy-join re-derived
    the whole normalize/explode/aggregate chain — the plan scanned
    documents three times) → broadcast the 1-row corpus count → per-doc
    top-k window.  doc_freq = count of (doc, term) rows per term either
    way, so scores and ranks are unchanged.  Both windows partition (by
    term, then by doc_id), so no sort is global."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    wdf = Window.partitionBy("term")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("doc_freq", F.count(F.lit(1)).over(wdf))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "doc_freq",
            quant(
                (F.col("tf") * (F.col("n_docs") + 1)).cast("double")
                / (F.col("doc_freq") + 1).cast("double"),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.select(
            "doc_id",
            F.row_number().over(w).alias("term_rank"),
            "term",
            "tf",
            "doc_freq",
            "tfidf",
        )
        .filter(F.col("term_rank") <= TFIDF_TOP_K)
        .orderBy("doc_id", "term_rank")
    )


def t21_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: t5's n-gram Jaccard pairs closed into
    connected components (operators/graph.py), with the min doc_id as
    each cluster's canonical id.  Pairwise output is not actionable for
    dedup — near-duplication chains (A~B~C with A!~C), and keeping
    "one of each pair" either over- or under-deletes; the component
    closure is what yields exactly one survivor per duplicate family.
    Deleting `cluster_size - 1` docs per component is then a semi-join.

    The component labels are minima over connected node sets — exact,
    partitioning-independent, and replayable by a serial recursive-CTE
    oracle."""
    docs = table(spark, sf_dir, "documents")
    shingled = dd.shingle_table(docs, "doc_id", "text", n=2)
    pairs = dd.jaccard_pairs(
        shingled, threshold=JACCARD_THRESHOLD, max_doc_freq=JACCARD_MAX_DOC_FREQ
    )
    cc = connected_components(pairs, "id_a", "id_b")
    w = Window.partitionBy("component")
    return (
        cc.select(
            F.col("node").alias("doc_id"),
            "component",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


def t40_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance — the last piece of the cross-run
    dedup story (t31/t37 produce incremental PAIRS; a curation pipeline
    must fold them into the EXISTING cluster assignment): the prior
    state is the corpus's (node → component) star, and the merge runs
    connected components over star-edges ∪ new delta-touching pairs.
    Star edges preserve the prior connectivity exactly, so the merged
    result provably equals a from-scratch closure over all pairs — which
    is what the oracle computes (t21's recursive CTE, shared verbatim) —
    while the incremental input is O(|prior nodes| + |new pairs|), never
    the historical pairwise evidence.

    The delta is doc_id % 5 == 0, as in t31; pairs are t5's Jaccard
    chain split into corpus-internal (prior rounds) vs delta-touching
    (this batch)."""
    docs = table(spark, sf_dir, "documents")
    shingled = dd.shingle_table(docs, "doc_id", "text", n=2)
    pairs = dd.jaccard_pairs(
        shingled, threshold=JACCARD_THRESHOLD, max_doc_freq=JACCARD_MAX_DOC_FREQ
    )
    is_delta_a = F.col("id_a") % 5 == 0
    is_delta_b = F.col("id_b") % 5 == 0
    corpus_pairs = pairs.filter(~is_delta_a & ~is_delta_b)
    delta_pairs = pairs.filter(is_delta_a | is_delta_b)

    # prior state, as a real pipeline would have persisted it: the
    # (node, component) star from previous rounds' closure
    prior = connected_components(corpus_pairs, "id_a", "id_b")
    star_edges = prior.select(
        F.col("node").alias("id_a"), F.col("component").alias("id_b")
    )
    merged = connected_components(
        star_edges.unionAll(delta_pairs.select("id_a", "id_b")), "id_a", "id_b"
    )
    w = Window.partitionBy("component")
    return (
        merged.select(
            F.col("node").alias("doc_id"),
            "component",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


def t22_balanced_language_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced stratified corpus sample: keep ~SAMPLE_TARGET docs per
    language regardless of how skewed the language mix is — the
    rebalancing step before multilingual training.  Selection is
    hash-deterministic (md5 of doc_id → uniform in [0,1), keep when
    u * stratum_size < target), so the sample is reproducible across
    engines, partitionings, and cluster sizes — rand()-based sampleBy
    is none of those.  Per-stratum rates adapt automatically: strata
    smaller than the target are kept whole.

    One broadcast join against the per-language counts (5 rows); the
    filter is embarrassingly parallel — no shuffle of the corpus
    itself."""
    docs = table(spark, sf_dir, "documents")
    sizes = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("stratum_size"))
    u = dd.md5_hash32(F.col("doc_id").cast("string")).cast("double") / F.lit(
        float(2**32)
    )
    return (
        docs.join(F.broadcast(sizes), "lang")
        .select(
            "doc_id",
            "lang",
            "stratum_size",
            quant(u, 6).alias("u"),
        )
        .filter(
            F.col("u") * F.col("stratum_size")
            < F.lit(SAMPLE_TARGET_PER_STRATUM)
        )
        .orderBy("doc_id")
    )


def t23_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed manifest of the multimodal asset table: per
    (modality, source) — asset count, DISTINCT content hashes (the
    exact-dup rate for binary blobs), and byte volume.  This is the
    query a curation pipeline runs before any decode: what is here, how
    much of it is unique, how big is it.

    The binary column is real (text bytes via the documents_as_assets
    adapter — the codec layer is the only stub, operators/multimodal.py);
    sha2-256 over raw bytes is computable by both engines, so unlike the
    Python feature extraction (t24, rows-only) this gate has a full
    oracle.  Content-sha dedup at 100 TB is the same hash-groupBy as text
    exact-dedup: one shuffle on the digest."""
    from ..operators import multimodal as mm

    docs = table(spark, sf_dir, "documents")
    assets = mm.with_content_sha(mm.documents_as_assets(docs))
    return (
        assets.groupBy("modality", F.col("metadata")["source"].alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.countDistinct("content_sha").alias("n_unique_contents"),
            F.sum(F.octet_length("content")).alias("total_bytes"),
            F.max(F.octet_length("content")).cast("long").alias("max_bytes"),
        )
        .orderBy("modality", "source")
    )


PACK_TOKEN_BUDGET = 2048
N_SHARDS = 16


def t27_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch assembly: greedy sequential packing of documents
    into fixed token-budget bins (contiguous fill — a doc goes into the
    bin its running-prefix token count falls in), per source.

    Deterministic under any partitioning: the pack order is (source,
    doc_id), not arrival order.  The window is PARTITIONED by source so
    state per group is bounded; for a single unbounded source the scale
    path is the standard two-phase prefix sum (per-partition partials +
    broadcast offsets), same math, no global window.  Output is the
    per-bin manifest a training dataloader consumes."""
    from ..operators import text as tx

    docs = table(spark, sf_dir, "documents")
    ntok = tx.token_count(F.col("text")).cast("long")
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = F.sum(F.col("nt")).over(w)
    bin_id = F.floor((cum - F.col("nt")) / F.lit(float(PACK_TOKEN_BUDGET)))
    return (
        docs.select("source", "doc_id", ntok.alias("nt"))
        .withColumn("bin_id", bin_id)
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            quant(
                F.sum("nt").cast("double") / F.lit(float(PACK_TOKEN_BUDGET)), 6
            ).alias("fill_ratio"),
        )
        .orderBy("source", "bin_id")
    )


def t28_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharding for training-data output: shard =
    md5-prefix(doc_id) mod N — stable across engines, runs, cluster
    sizes, and insert order (what makes shard-level resume/caching
    sound).  Output is the shard manifest with balance stats; the md5
    32-bit prefix idiom is the engine-portable hash shared with the
    dedup operators (operators/dedup.md5_hash32)."""
    from ..operators.dedup import md5_hash32

    docs = table(spark, sf_dir, "documents")
    shard = F.pmod(md5_hash32(F.col("doc_id").cast("string")), F.lit(N_SHARDS))
    return (
        docs.select(shard.alias("shard_id"), "doc_id", "n_chars")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard_id")
    )


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_count_expr(nt):
    """Number of sliding chunks for a doc of ``nt`` tokens — the single
    definition shared by t35's fan-out, t38's manifest arithmetic, and
    the plan-quality test (the three must stay bit-identical for the
    oracles to mean what they claim)."""
    return F.when(nt <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.lit(1)
        + F.floor(
            (nt - CHUNK_TOKENS + CHUNK_STRIDE - 1) / F.lit(float(CHUNK_STRIDE))
        ).cast("int")
    )


def t35_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the context-window fan-out
    every pretraining/RAG pipeline runs: each document becomes chunks of
    CHUNK_TOKENS tokens at CHUNK_STRIDE steps (16-token overlap), short
    docs one whole chunk.  Pure plan arithmetic: the chunk list is a
    higher-order expression over the token array, the fan-out one
    posexplode — per-row compute, no shuffle, no Python, and the fan-out
    factor is len/stride, never data-dependent state.  md5 over each
    chunk's text pins content (one wrong token boundary fails the hash);
    the DuckDB oracle replays slicing via list arithmetic."""
    from ..operators import text as tx

    docs = table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    nt = F.size(toks)
    n_chunks = chunk_count_expr(nt)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_TOKENS)
        ),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size(F.split(F.col("chunk"), " ")).cast("long").alias(
                "n_tokens_chunk"
            ),
            F.md5(F.col("chunk")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


MIX_ALPHA_SQRT = True  # alpha = 0.5 via sqrt: IEEE-exact in every engine
MIX_TARGET_FRACTION = 0.4
MIX_MOD = 1_000_000


def t36_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (the multi-corpus sampling
    strategy of GPT-3/PaLM data recipes: small sources up-weighted via
    weight ∝ size^alpha, alpha=0.5): per-source acceptance rates are
    derived from char mass, and documents are kept by a deterministic
    md5 threshold test — reproducible across engines, runs, and cluster
    sizes, no rand().

    Cross-engine determinism engineering: sqrt is IEEE-correctly-rounded
    (unlike pow), and each sqrt is floored to an integer micro-weight
    BEFORE summing, so the cross-source sum is exact integer arithmetic
    with no float ordering sensitivity.  One broadcastable 20-row
    aggregate joined back to the corpus — the scan keeps its partition
    count, no corpus-sized shuffle."""
    from ..operators.dedup import md5_hash32

    docs = table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    w6 = F.floor(
        F.sqrt(F.col("total_chars").cast("double")) * MIX_MOD + 0.5
    ).cast("long")
    weighted = per_src.withColumn("w6", w6)
    totals = weighted.agg(
        F.sum("w6").alias("sum_w6"), F.sum("n_docs").alias("n_total")
    )
    rates = weighted.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "total_chars",
        F.least(
            F.lit(1.0),
            F.lit(MIX_TARGET_FRACTION)
            * F.col("n_total").cast("double")
            * F.col("w6").cast("double")
            / (F.col("sum_w6").cast("double") * F.col("n_docs").cast("double")),
        ).alias("rate"),
    )
    thr = F.floor(F.col("rate") * MIX_MOD).cast("long")
    kept = (
        docs.join(F.broadcast(rates.withColumn("thr", thr)), "source")
        .withColumn(
            "keep",
            F.pmod(
                md5_hash32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
                F.lit(MIX_MOD),
            )
            < F.col("thr"),
        )
    )
    return (
        kept.groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("total_chars").alias("total_chars"),
            quant(F.first("rate"), 6).alias("rate"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias(
                "n_kept"
            ),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


def t25_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (mapInPandas fan-out): documents
    stand in as video assets with duration_ms = n_chars * 10, sampled
    every 2000 ms.  One output row per frame flows through the Arrow
    boundary, then aggregates per source.

    The sampling PLAN is exact arithmetic — ceil(duration/every) frames
    at offsets 0, 2000, … — so the oracle recomputes it straight from
    n_chars in SQL: cardinality, last-offset, and byte totals all check
    cross-engine even though frame payloads are produced in Python
    (stub decode, 32 bytes/frame by contract)."""
    from ..operators import multimodal as mm

    docs = table(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("modality"),
        F.col("text").cast("binary").alias("content"),
        F.create_map(
            F.lit("duration_ms"), (F.col("n_chars") * 10).cast("string")
        ).alias("metadata"),
    )
    frames = mm.sample_video_frames(assets, every_ms=2000)
    doc_src = docs.select(F.col("doc_id").alias("asset_id"), "source")
    return (
        frames.join(doc_src, "asset_id")
        .groupBy("source")
        .agg(
            F.countDistinct("asset_id").alias("n_assets"),
            F.count(F.lit(1)).alias("total_frames"),
            F.max("frame_offset_ms").alias("max_last_offset_ms"),
            F.sum("n_bytes").alias("total_frame_bytes"),
        )
        .orderBy("source")
    )


def t24_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary assets (mapInPandas):
    the deterministic stub encoder produces sha-derived vectors, and this
    gate aggregates them per source so the driver exercises the full
    plumbing — binary column → Arrow batch → pandas decode → schema-stable
    output — at gate scale.  The encoder is Python (as a real
    CLIP/whisper deployment would be) so DuckDB cannot recompute it; the
    gate instead carries a static-expected oracle
    (tools/gen_static_oracles.py), which is sound because every output
    column is deterministic: avg_f0 uses the repo's exact decimal-sum
    mean (order-independent under any partitioning) and the encoder's
    determinism is pinned by tests/test_multimodal.py."""
    from ..functions.exprs import dsum, quant as q
    from ..operators import multimodal as mm

    docs = table(spark, sf_dir, "documents")
    assets = mm.documents_as_assets(docs)
    feats = mm.extract_features(assets, fake=True)
    doc_src = docs.select(
        F.col("doc_id").alias("asset_id"), "source"
    )
    return (
        feats.join(doc_src, "asset_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            q(
                dsum(F.element_at("features", 1), "decimal(28,12)")
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_f0"),
            F.min("decode_width").alias("min_width"),
            F.max("decode_height").alias("max_height"),
        )
        .orderBy("source")
    )


BUDGET_FACTOR = 2   # token budget = factor x total corpus tokens
MAX_EPOCHS = 4      # data-constrained repeat ceiling per source


def t45_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch planner — the repetition schedule a
    data-constrained pretraining run derives from its mixture weights
    (the public recipe shape of Muennighoff et al. 2023: when the budget
    exceeds a source's unique tokens, repeat it up to a diminishing-
    returns epoch cap and reallocate nothing beyond it):

    - per-source unique token counts (one shuffle on source),
    - mixture weight ∝ sqrt(tokens) (t36's alpha=0.5 discipline:
      floored integer micro-weights, so the cross-source sum is exact),
    - alloc = budget·w/Σw by integer floor division,
    - epochs = ceil(alloc/tokens) capped at MAX_EPOCHS,
    - planned = min(alloc, epochs·tokens) — the tokens actually drawn.

    Everything after the floored sqrt is BIGINT-exact cross-engine (the
    budget·w6 product stays under 2^63 up to ~10⁹-token gate corpora;
    a 100 TB deployment lifts the intermediate to DECIMAL(38,0), a
    type-width change only).  Output is one row per source — a plan
    artifact, not data movement."""
    from ..operators import text as tx

    docs = table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(tx.token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w6 = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000 + 0.5).cast(
        "long"
    )
    weighted = per_src.withColumn("w6", w6)
    totals = weighted.agg(
        F.sum("w6").alias("sum_w6"),
        (F.lit(BUDGET_FACTOR) * F.sum("n_tokens")).cast("long").alias("budget"),
    )
    # `div` is BIGINT floor division in both engines (DuckDB `//`) —
    # double-precision `/` would lose exactness past 2^53
    alloc = F.expr("(budget * w6) div sum_w6")
    planned = weighted.crossJoin(F.broadcast(totals)).withColumn(
        "alloc_tokens", alloc
    )
    epochs = F.least(
        F.lit(MAX_EPOCHS).cast("long"),
        F.expr("(alloc_tokens + n_tokens - 1) div n_tokens"),
    )
    return (
        planned.withColumn("epochs", epochs)
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "alloc_tokens",
            "epochs",
            F.least(
                F.col("alloc_tokens"), F.col("epochs") * F.col("n_tokens")
            ).alias("planned_tokens"),
        )
        .orderBy("source")
    )


SPLIT_MOD = 1_000
SPLIT_VAL_PER_MILLE = 50    # 5% validation
SPLIT_TEST_PER_MILLE = 50   # 5% test


def t50_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test assignment — the split every
    training pipeline needs to be REPRODUCIBLE and leakage-free: a
    document's split is a pure function of its id (portable md5 hash
    mod 1000 against per-mille thresholds), so re-runs, engines, and
    cluster sizes all agree, appends never reshuffle old documents
    between splits (no train/test leakage across dataset versions), and
    the assignment needs no state anywhere.  Output is the per-source ×
    split manifest (doc and char counts) — the shape used to audit that
    the split is balanced within every source.  One small shuffle on
    (source, split); the assignment itself is map-side."""
    from ..operators.dedup import md5_hash32

    docs = table(spark, sf_dir, "documents")
    h = F.pmod(
        md5_hash32(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
        F.lit(SPLIT_MOD),
    )
    split = (
        F.when(h < SPLIT_VAL_PER_MILLE, F.lit("validation"))
        .when(h < SPLIT_VAL_PER_MILLE + SPLIT_TEST_PER_MILLE, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return (
        docs.withColumn("split", split)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .orderBy("source", "split")
    )


def t86_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/text.bm25_scores): top-20
    documents for the fixed query ``join window stream`` with k1=1.2,
    b=0.75 — the lexical retrieval twin of the dense kNN gates (t6/
    t65/t82).  Logless rational idf and a fixed-order term sum keep
    every score an exactly-replayable IEEE chain (the operator's
    docstring has the full numeric argument); the oracle mirrors the
    expression tree parenthesis-for-parenthesis.  Top-k is
    orderBy+limit (TakeOrderedAndProject — never a global sort)."""
    docs = table(spark, sf_dir, "documents")
    scored = bm25_scores(
        docs, "doc_id", "text", ["join", "window", "stream"]
    )
    return (
        scored.orderBy(F.desc("score"), "doc_id")
        .limit(20)
        .select("doc_id", "dl", "tf_0", "tf_1", "tf_2", "score")
    )


def t94_bm25_query_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with the query set as a RELATION
    (operators/text.bm25_scores_relational — VERDICT r9 next #4): 100
    two-term queries, derived from the corpus itself (the 200 most
    frequent length>=4 tokens, paired in frequency order), scored in
    ONE plan — terms joined as broadcast data, never compiled into
    per-term columns — and cut to the top-3 documents per query with a
    per-query window (a keyed shuffle, not a global sort).  Scores are
    integer fixed-point sums (order-independent, hash-exact); the
    oracle replays the whole derivation, quantization included.  The
    broadcast of the query-term table and the absence of any cartesian
    are plan-pinned in tests/test_plan_quality.py."""
    docs = table(spark, sf_dir, "documents")
    from ..operators.text import tokens

    toks = docs.select(
        F.explode(tokens(F.col("text"))).alias("term")
    ).filter((F.col("term") != "") & (F.length("term") >= 4))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "term")
        .limit(200)
    )
    # the window runs over the already-limited 200 rows (driver-scale),
    # not the full vocabulary
    qt = vocab.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("c"), "term"))
    ).select(
        F.floor((F.col("rn") - F.lit(1)) / F.lit(2))
        .cast("long")
        .alias("query_id"),
        "term",
    )
    scored = bm25_scores_relational(docs, "doc_id", "text", qt)
    return bm25_topk(scored, 3).orderBy("query_id", "rank")


@gate
def t99_incremental_bm25_index(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """INCREMENTAL BM25 corpus statistics over the change feed
    (VERDICT r10 next #6): a standing retrieval service keeps the
    inverted index — postings (term, doc, tf), doc lengths, corpus
    totals — as incrementally maintained matviews of a TxTable corpus
    (sources/matview.mv_init/mv_refresh with a row-local tokenize
    transform), so ingesting a delta costs O(delta x its tokens), never
    a corpus re-tokenization, and scoring consumes the maintained
    stats (operators/text.bm25_scores_from_index — the SAME shared
    scoring tail as the full recompute, bit-exact).

    Lifecycle: init the corpus on the %3!=2 bands and the three MVs
    from its snapshot; append the %3==2 band; delete_dv the %5==4
    band; ONE mv_refresh per MV absorbs both commits off the change
    feed.  Queries are the t94 derivation (top-200 len>=4 terms of the
    FINAL corpus, paired in frequency order), scored to top-3 per
    query; ``index_matches_recompute`` pins the maintained-index
    scores row-identical to bm25_scores_relational on the final text.
    The oracle replays everything from the raw corpus at the final
    state (documents minus the %5==4 band)."""
    from ..operators.text import bm25_scores_from_index, tokens
    from ..sources.matview import mv_init, mv_refresh
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = scratch.dir

    def tok_rows(df: DataFrame) -> DataFrame:
        # row-local transform: doc -> one row per token occurrence
        return df.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        ).filter(F.col("term") != "")

    def doc_rows(df: DataFrame) -> DataFrame:
        # row-local transform: doc -> (doc_id, dl, scope) one row
        return df.select(
            "doc_id",
            F.size(
                F.filter(tokens(F.col("text")), lambda t: t != "")
            ).alias("dl"),
            F.lit("corpus").alias("scope"),
        )

    corpus = TxTable(spark, base + "/corpus")
    corpus.init(docs.filter(F.col("doc_id") % 3 != 2).coalesce(2))
    postings = TxTable(spark, base + "/postings")
    doclen = TxTable(spark, base + "/doclen")
    cstats = TxTable(spark, base + "/cstats")
    snap0 = corpus.snapshot()
    mv_init(postings, snap0, ["term", "doc_id"], {"tf": "1"},
            transform=tok_rows)
    mv_init(doclen, snap0, ["doc_id"], {"dl": "dl"},
            transform=doc_rows)
    mv_init(cstats, snap0, ["scope"],
            {"n_docs": "1", "total_tokens": "dl"}, transform=doc_rows)
    v_init = corpus.latest_version()
    corpus.append(docs.filter(F.col("doc_id") % 3 == 2).coalesce(1))
    corpus.delete_dv(F.col("doc_id") % 5 == 4)
    # ONE refresh per MV absorbs the append AND the delete
    mv_refresh(postings, corpus, ["term", "doc_id"], {"tf": "1"},
               from_version=v_init, transform=tok_rows)
    mv_refresh(doclen, corpus, ["doc_id"], {"dl": "dl"},
               from_version=v_init, transform=doc_rows)
    mv_refresh(cstats, corpus, ["scope"],
               {"n_docs": "1", "total_tokens": "dl"},
               transform=doc_rows, from_version=v_init)
    final = corpus.snapshot()
    # t94's query derivation, over the FINAL corpus
    toks = final.select(
        F.explode(tokens(F.col("text"))).alias("term")
    ).filter((F.col("term") != "") & (F.length("term") >= 4))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "term")
        .limit(200)
    )
    qt = vocab.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("c"), "term"))
    ).select(
        F.floor((F.col("rn") - F.lit(1)) / F.lit(2))
        .cast("long")
        .alias("query_id"),
        "term",
    ).localCheckpoint(eager=True)  # one derivation, two consumers
    scored = bm25_scores_from_index(
        postings.snapshot().select("term", "doc_id", "tf"),
        doclen.snapshot().select("doc_id", "dl"),
        cstats.snapshot().select("n_docs", "total_tokens"),
        qt,
    )
    top = bm25_topk(scored, 3)
    # the maintained index and the full text recompute must agree
    # ROW-IDENTICALLY (shared scoring tail; exact integer sums)
    recompute = bm25_scores_relational(final, "doc_id", "text", qt)
    same = (
        scored.exceptAll(recompute).isEmpty()
        and recompute.exceptAll(scored).isEmpty()
    )
    return (
        top.withColumn("index_matches_recompute", F.lit(same))
        .orderBy("query_id", "rank")
    )


def t101_bm25_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k BM25 over a maintained-index shape
    (operators/text.bm25_topk_from_index): t94's 100 corpus-derived
    two-term queries, scored from (postings, doc lengths, corpus stats,
    term df) relations instead of the text, and cut per query to the
    top-3.  It must return ROW-IDENTICAL results to t94's scoring from
    text (same integer ranking key, same (score DESC, doc_id)
    tie-break).  The oracle IS t94's full-scoring replay, so the
    driver's hash equality checks the index path against the recompute
    cross-engine.  The name is kept from the retired max-score pruned
    plan, which never beat full scoring on wall time."""
    from ..operators.text import bm25_topk_from_index, tokens

    docs = table(spark, sf_dir, "documents")
    toks_all = docs.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    # Materialize the derived index relations ONCE: postings feeds
    # termdf, the query vocabulary and the scoring, dl feeds the stats
    # and the scoring — without a checkpoint each consumer re-ran the
    # tokenize-explode-aggregate chain.  In the real service (Bm25Index)
    # these ARE materialized matviews; checkpointing here makes the
    # gate measure the scoring, which is what t101 pins.
    dl = (
        toks_all.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
        .localCheckpoint(eager=True)
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    ).localCheckpoint(eager=True)
    postings = (
        toks_all.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    termdf = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .localCheckpoint(eager=True)
    )
    vocab = (
        postings.filter(F.length("term") >= 4)
        .groupBy("term")
        .agg(F.sum("tf").alias("c"))
        .orderBy(F.desc("c"), "term")
        .limit(200)
    )
    qt = vocab.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("c"), "term"))
    ).select(
        F.floor((F.col("rn") - F.lit(1)) / F.lit(2))
        .cast("long")
        .alias("query_id"),
        "term",
    ).localCheckpoint(eager=True)
    return bm25_topk_from_index(
        postings, dl, stats, termdf, qt, k=3
    ).orderBy("query_id", "rank")


def t102_mjpeg_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame decode (VERDICT r11 next #5 — t25's
    plan-arithmetic stub upgraded to decoded-frame CONTENT): each
    document seeds a deterministic MJPEG/AVI asset (2 + doc_id % 4
    gradient frames at 5 fps, vendored T.81 encoder packed by
    operators/avi.build_mjpeg_avi), and sample_video_frames
    (fake=False) parses the RIFF container, maps each 300 ms sample
    offset to its covering frame, and decodes ONLY the selected
    frames through the vendored JPEG decoder — real container parse,
    real entropy decode, no codec stub anywhere in the path.

    The rollup hashes the decoded RGB bytes (md5_hash32 summed per
    source — order-independent integers), so the gate pins pixel
    CONTENT, not just frame arithmetic.  The oracle is a
    checksum-guarded static pin (tools/gen_static_oracles.py):
    Python-side entropy decode is not SQL-replayable, the t24
    treatment; tests/test_multimodal.py pins the AVI round-trip and
    decode determinism independently."""
    from ..operators import multimodal as mm
    from ..operators.dedup import md5_hash32

    docs = table(spark, sf_dir, "documents")
    plan = docs.select(
        F.col("doc_id").alias("asset_id"),
        (F.lit(2) + F.col("doc_id") % 4).cast("int").alias("n_frames"),
    )
    assets = mm.synth_mjpeg_assets(plan, fps=5)
    frames = mm.sample_video_frames(assets, every_ms=300, fake=False)
    doc_src = docs.select(F.col("doc_id").alias("asset_id"), "source")
    return (
        frames.join(doc_src, "asset_id")
        .groupBy("source")
        .agg(
            F.countDistinct("asset_id").cast("long").alias("n_assets"),
            F.count(F.lit(1)).cast("long").alias("total_frames"),
            F.max("frame_offset_ms").cast("long")
            .alias("max_last_offset_ms"),
            F.sum("n_bytes").cast("long").alias("total_frame_bytes"),
            F.sum(md5_hash32(F.col("frame"))).cast("long")
            .alias("frame_hash_sum"),
        )
        .orderBy("source")
    )
