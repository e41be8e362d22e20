"""LLM training-data pipeline queries over the documents/embeddings tables
(north-star extensions beyond the reference surface — BASELINE.json):

    t1 text stats           (token/char/unique counts, avg token len, punct)
    t2 language ID          (stopword-marker heuristic, argmax w/ priority)
    t3 quality scoring      (composite score + A-D grade)
    t4 exact dedup          (md5 fingerprint groups)
    t5 n-gram Jaccard pairs (bigram shingles, hot-shingle cap, τ=0.3)
    t6 kNN cosine top-10    (brute-force, queries = vec_id < 10)
    t7 embedding near-dup   (all-pairs cosine ≥ 0.35)
    t8 MinHash-LSH pairs    (xxhash64; static-expected oracle)
    t9 SimHash pairs        (xxhash64; static-expected oracle)

    t7b LSH near-dup        (banded SRP blocking + exact verify — scale path)
    t26 BPE-ish tokens      (GPT-2-style pre-tokenizer counts vs whitespace)
    t29 curation capstone   (score → lang → dedup survivors → manifest)

Round-3 additions:

    t31 incremental MinHash dedup      (delta vs persisted corpus LSH index)
    t32 PII redaction                  (planted PII, md5-pinned redaction)
    t33 repetition quality filters     (Gopher-style top-word / dup-bigram)
    t34 train-test decontamination     (n-gram overlap vs benchmark source)
    t37 incremental embedding near-dup (delta vs persisted SRP band index)
    t38 curation capstone v2           (t33→t34→dedup→t32→chunks→shards)

Round-4 additions:

    t41 segment-level corpus dedup     (cross-doc boilerplate removal)
    t42 hashed-feature quality scorer  (fastText-shaped, shuffle-free)
    t43 Bloom membership pre-screen    (bounded bit relation, 4 probes)
    t44 SemDeDup semantic dedup        (cluster-local embedding pruning)
    t46 incremental segment dedup      (delta vs persisted segment store)
    t47 URL/domain provenance filter   (planted URLs, blocklist rollup)
    t48 BPE merge induction            (iterative tokenizer training)
    t49 BPE encoding                   (learned merges applied, zero-shuffle)

Round-5 additions:

    t55 TxTable row-level DELETE       (takedown lifecycle + time travel)
    t56 dedup-store takedown cascade   (subtract deleted docs, == recompute)
    t57 batched BPE training           (disjoint-prefix merges per pass)
    t58 HTML-to-text extraction        (planted wrappers, entity decode)
    t59 Luhn-validated card PII        (regex candidates, checksum, redact)
    t60 in-engine classifier training  (GD over hashed TF features)
    t61 incremental semantic dedup     (delta vs frozen centroids + store)
    t54b winnow-prescreened spans      (t54's scale path, same oracle)

t1-t7b, t26, and all round-3/4/5 gates have exact DuckDB oracles; t8/t9
use xxhash64 which has no DuckDB twin, so they carry static-expected
oracles generated by tools/gen_static_oracles.py (semantics additionally
pytest-verified against planted duplicates).

Integer outputs are cast to long: Spark size()/length() return int32 while
DuckDB len()/length() return int64, and the driver compares dtypes.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import read_parquet, table
from ..functions.exprs import dsum, money_sum, quant, r2
from ..operators import dedup as dd
from ..operators import similarity as sim
from ..operators import text as tx
from ._gate import Scratch, gate

JACCARD_THRESHOLD = 0.3
JACCARD_MAX_DOC_FREQ = 125  # 25% of the 500-doc corpus at sf0.01
NEARDUP_COSINE = 0.35
KNN_QUERY_MAX_ID = 10


def t1_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        "source",
        F.length(text).cast("long").alias("n_chars"),
        tx.token_count(text).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tx.tokens(text))).cast("long").alias("n_unique_tokens"),
        tx.avg_token_len(text).alias("avg_token_len"),
        tx.punct_ratio(text).alias("punct_ratio"),
        tx.content_fingerprint(text).alias("fingerprint"),
    ).orderBy("doc_id")


def t2_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    text = F.col("text")
    scores = tx.lang_scores(text)
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        tx.predicted_lang(text).alias("predicted_lang"),
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in tx.LANG_PRIORITY],
    ).orderBy("doc_id")


def t3_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    text = F.col("text")
    score = tx.quality_score(text)
    return docs.select(
        "doc_id",
        tx.token_count(text).cast("long").alias("token_count"),
        tx.stopword_count(text).cast("long").alias("stopword_count"),
        score.alias("quality_score"),
        tx.quality_grade(score).alias("quality_grade"),
    ).orderBy("doc_id")


def t4_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        dd.exact_duplicate_groups(docs, "text", "doc_id")
        .select(
            "fingerprint",
            F.col("n_docs").alias("n_docs"),
            F.col("keep_id").alias("keep_doc_id"),
        )
        .orderBy("fingerprint")
    )


def t5_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    shingled = dd.shingle_table(docs, "doc_id", "text", n=2)
    pairs = dd.jaccard_pairs(
        shingled, threshold=JACCARD_THRESHOLD, max_doc_freq=JACCARD_MAX_DOC_FREQ
    )
    return pairs.select(
        "id_a", "id_b", quant(F.col("jaccard"), 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def t6_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    out = sim.knn_bruteforce(queries, emb, k=10)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine_sim"
    ).orderBy("query_id", "rank")


def t65_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t6's top-k over the INT8-quantized corpus
    (operators/quantize.py — the FAISS-SQ8 memory/IO lever: one byte
    per element plus a per-vector scale, ~8x smaller than float64 at
    64 dims, and cosine reads the raw codes because per-vector scales
    cancel).  The oracle replays the whole pipeline in SQL — max-|x|
    fold, floor(x/scale + 0.5) round-half-up coding, integral-double
    dots — so a green row proves quantization AND ranking are
    bit-identical cross-engine; the recall-vs-exact trade is pinned
    separately by tests/test_quantize.py."""
    from ..operators import quantize as qz

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    out = qz.knn_quantized(queries, emb, k=10)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        "qcosine_sim",
    ).orderBy("query_id", "rank")


def t69_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN over the int8 corpus
    (operators/quantize.knn_lsh_quantized — the IVF-SQ composition:
    SRP buckets as the coarse partitioner, one-byte codes underneath;
    query time touches no float vectors at all).  n_planes=4 → 16
    buckets, so each query scores ~1/16th of the corpus instead of all
    of it; recall-vs-exact is pinned by tests/test_quantize.py.  The
    oracle replays quantization (t65's CTEs), the code-derived SRP
    sign bits with the shared hyperplane literals (t7b's discipline),
    the bucket equijoin, and the rank window — bit-for-bit."""
    from ..operators import quantize as qz

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_MAX_ID)
    out = qz.knn_lsh_quantized(queries, emb, k=10, n_planes=4)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        "qcosine_sim",
    ).orderBy("query_id", "rank")


def t7_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return sim.embedding_neardup_pairs(emb, NEARDUP_COSINE).orderBy("id_a", "id_b")


def t7b_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for t7: SRP-LSH banded blocking then exact cosine on
    candidates only — no cross join anywhere in the plan (asserted by
    tests/test_plan_quality.py).  The oracle mirrors the plan-literal
    hyperplanes, so the banding itself is verified cross-engine."""
    emb = table(spark, sf_dir, "embeddings")
    return sim.embedding_neardup_pairs_lsh(emb, NEARDUP_COSINE).orderBy(
        "id_a", "id_b"
    )


def t26_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting the way an LLM data pipeline needs it: whitespace
    words AND a BPE-ish pre-tokenizer count (contractions split,
    numbers chunked to <=3 digits, punctuation as its own marks), plus
    chars-per-BPE-token — the standard compression-ratio quality signal.
    Pure column expressions; the regex classes are shared Java/RE2
    syntax so the oracle tokenizes identically."""
    docs = table(spark, sf_dir, "documents")
    text = F.col("text")
    bpe = tx.bpe_token_count(text).cast("long")
    return (
        docs.select(
            "doc_id",
            tx.token_count(text).cast("long").alias("n_tokens_ws"),
            bpe.alias("n_tokens_bpe"),
            quant(
                F.length(tx.norm_text(text)).cast("double")
                / F.nullif(bpe, F.lit(0)),
                6,
            ).alias("chars_per_bpe_token"),
        )
        .orderBy("doc_id")
    )


CURATION_MIN_QUALITY = 0.5


def t29_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the full curation chain a training-data pipeline runs,
    composed from the individually-gated operators — score every doc
    (t3), identify its language (t2), drop exact-dup non-survivors
    (t4's min-doc_id-per-fingerprint rule), apply the quality floor,
    and emit the per-(language, grade) corpus manifest.

    One shuffle for the dedup window (on the 32-hex fingerprint) and
    one for the final aggregate; everything else is per-row column
    arithmetic.  avg_quality uses the exact decimal-sum mean so the
    result is identical under any partitioning."""
    docs = table(spark, sf_dir, "documents")
    text = F.col("text")
    scored = docs.select(
        "doc_id",
        "n_chars",
        tx.quality_score(text).alias("q"),
        tx.predicted_lang(text).alias("lang"),
        tx.content_fingerprint(text).alias("fp"),
    )
    w = Window.partitionBy("fp")
    kept = (
        scored.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(
            (F.col("doc_id") == F.col("keep_id"))
            & (F.col("q") >= CURATION_MIN_QUALITY)
        )
    )
    return (
        kept.groupBy("lang", tx.quality_grade(F.col("q")).alias("grade"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            quant(
                dsum(F.col("q"), "decimal(14,4)").cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
        )
        .orderBy("lang", "grade")
    )


def t31_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental near-dedup (the capability a continuously
    ingesting 100 TB training corpus actually needs): documents with
    doc_id % 5 == 0 play the NEW batch, the rest the EXISTING corpus
    whose LSH band index was persisted by prior runs.  Only the delta is
    shingled/hashed/banded fresh; candidates come from
    delta ⋈ (corpus ∪ delta) band buckets, so corpus×corpus pairs are
    structurally impossible and per-batch cost is O(|delta|+candidates)
    however big the corpus is (operators/dedup.minhash_incremental_pairs;
    bucketed persistence round-trip covered by tests/test_dedup.py).

    pair_kind labels each surviving pair delta_corpus / delta_delta.
    Portable md5 hashing throughout — the DuckDB oracle recomputes the
    full-corpus pairing and restricts it to delta-touching pairs, which
    also proves the incremental result equals the full recompute."""
    docs = table(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % 5 == 0
    delta = docs.filter(is_delta)
    corpus = docs.filter(~is_delta)
    # the corpus shingle set feeds BOTH the band index and the exact-
    # Jaccard verification — materialize it once (optimization r12,
    # guide §2.4; it also matches the gate's own story better: this
    # state is "persisted by prior runs", not re-derived per consumer)
    corpus_shingled = dd.shingle_table(
        corpus, "doc_id", "text", n=2
    ).localCheckpoint(eager=True)
    corpus_bands = dd.md5_band_table(
        dd.minhash_md5_signatures(corpus_shingled, num_perm=32),
        num_perm=32,
        bands=8,
    )
    pairs = dd.minhash_incremental_pairs(
        corpus_bands,
        dd.shingle_table(delta, "doc_id", "text", n=2),
        corpus_shingled,
        num_perm=32,
        bands=8,
        threshold=0.35,
    )
    return pairs.select(
        "id_a",
        "id_b",
        quant(F.col("jaccard"), 6).alias("jaccard"),
        F.when(
            (F.col("id_a") % 5 == 0) & (F.col("id_b") % 5 == 0),
            F.lit("delta_delta"),
        )
        .otherwise(F.lit("delta_corpus"))
        .alias("pair_kind"),
    ).orderBy("id_a", "id_b")


def plant_pii(did) -> F.Column:
    """The deterministic PII planting expression shared by t32 and the
    streaming s5 gate (and rebuilt identically by their oracles): the
    synthetic corpus carries no PII, so gates plant it with pure
    engine-portable string arithmetic keyed on doc_id."""
    return F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" call 555-0142 now")).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit(" from 10.0.0.1 logged")).otherwise(F.lit("")),
    )


def t32_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction stats (operators/curation.py).  The raw
    synthetic corpus carries no PII, so the gate deterministically
    plants it first — emails on doc_id%3, phone numbers on doc_id%5,
    IPv4 on doc_id%7 — with pure engine-portable string arithmetic the
    DuckDB oracle rebuilds identically.  Output proves both detection
    (per-kind counts) and redaction (md5 of the redacted text, so a
    single unredacted character fails the hash)."""
    from ..operators import curation as cu

    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = plant_pii(did)
    counts = cu.pii_counts(aug)  # span-exclusive: one span, one kind
    n_emails = counts["email"].cast("long")
    n_phones = counts["phone"].cast("long")
    n_ips = counts["ipv4"].cast("long")
    red = cu.redact_pii(aug)
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        (n_emails + n_phones + n_ips).alias("n_pii"),
        F.length(red).cast("long").alias("n_chars_redacted"),
        F.md5(red).alias("redacted_md5"),
    ).orderBy("doc_id")


REPEAT_TOP_WORD_MAX = 0.2
REPEAT_DUP_BIGRAM_MAX = 0.6


def t33_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1):
    per-doc top-word dominance and duplicate-bigram fraction, plus the
    keep/drop verdict at the documented thresholds.  Distributed as two
    bounded-cardinality shuffles (operators/curation.py); the oracle
    replays counts with unnest + GROUP BY."""
    from ..operators import curation as cu

    docs = table(spark, sf_dir, "documents")
    stats = cu.word_repetition_stats(docs, "doc_id", "text")
    return stats.select(
        F.col("id").alias("doc_id"),
        "n_words",
        "n_distinct_words",
        "top_word_count",
        quant(F.col("top_word_ratio"), 6).alias("top_word_ratio"),
        "n_bigrams",
        "n_distinct_bigrams",
        quant(F.col("dup_bigram_ratio"), 6).alias("dup_bigram_ratio"),
        (
            (F.col("top_word_ratio") <= REPEAT_TOP_WORD_MAX)
            & (F.col("dup_bigram_ratio") <= REPEAT_DUP_BIGRAM_MAX)
        ).alias("keep"),
    ).orderBy("doc_id")


CONTAMINATION_BENCH_SOURCE = "src0"
CONTAMINATION_NGRAM = 5
CONTAMINATION_FLAG_RATIO = 0.1


def t34_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-test decontamination: documents from every other source are
    checked for word-5-gram overlap against the 'src0' benchmark set
    (the n-gram contamination test of GPT-3 appx C).  The benchmark's
    distinct shingles broadcast; the probe is a map-side semi join —
    no corpus-sized shuffle (operators/curation.contamination_stats)."""
    from ..operators import curation as cu

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == CONTAMINATION_BENCH_SOURCE)
    cand = docs.filter(F.col("source") != CONTAMINATION_BENCH_SOURCE)
    out = cu.contamination_stats(
        cand, bench, "doc_id", "text", n=CONTAMINATION_NGRAM
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "n_shingles",
        "n_overlap",
        quant(F.col("contamination_ratio"), 6).alias("contamination_ratio"),
        (F.col("contamination_ratio") >= CONTAMINATION_FLAG_RATIO).alias(
            "flagged"
        ),
    ).orderBy("doc_id")


def t37_incremental_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental EMBEDDING near-dedup — t31's discipline
    applied to the vector corpus: vec_id % 5 == 0 plays the new batch,
    the rest the corpus whose SRP-LSH band index persisted from prior
    runs; only the delta is projected/banded fresh, candidates come from
    delta ⋈ (corpus ∪ delta) buckets, and corpus×corpus pairs are
    structurally impossible (operators/similarity.
    embedding_neardup_incremental).  The oracle recomputes the FULL
    t7b pairing and restricts it to delta-touching pairs, proving
    incremental == full recompute."""
    emb = table(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % 5 == 0
    corpus_bands = sim.srp_band_table(emb.filter(~is_delta))
    pairs = sim.embedding_neardup_incremental(
        corpus_bands, emb.filter(is_delta), emb, NEARDUP_COSINE
    )
    return pairs.select(
        "id_a",
        "id_b",
        "cosine_sim",
        F.when(
            (F.col("id_a") % 5 == 0) & (F.col("id_b") % 5 == 0),
            F.lit("delta_delta"),
        )
        .otherwise(F.lit("delta_corpus"))
        .alias("pair_kind"),
    ).orderBy("id_a", "id_b")


def t38_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 capstone: the full curation chain over the NEW operators,
    proving they compose — candidates (non-benchmark sources) pass the
    repetition filter (t33 thresholds) and the decontamination screen
    (t34, vs the src0 benchmark), exact-dup non-survivors are dropped
    (t4's min-doc_id rule), surviving text is PII-redacted (t32), docs
    are sliced into training context windows (t35 chunk arithmetic) and
    dealt to shards (t28's portable md5 mod N).  Output is the per-shard
    training-data manifest.

    Plan shape at scale: three bounded-cardinality joins on doc_id (all
    AQE-broadcastable at dimension size; shuffle-keyed on doc_id
    otherwise), the benchmark probe broadcast, then one aggregate on
    shard_id.  The chunk count is plan arithmetic — no fan-out needed to
    COUNT chunks."""
    from ..operators import curation as cu
    from ..operators.dedup import md5_hash32
    from .corpus import N_SHARDS, chunk_count_expr

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == CONTAMINATION_BENCH_SOURCE)
    cand = docs.filter(F.col("source") != CONTAMINATION_BENCH_SOURCE)

    rep = cu.word_repetition_stats(cand, "doc_id", "text").select(
        F.col("id").alias("doc_id"),
        (
            (F.col("top_word_ratio") <= REPEAT_TOP_WORD_MAX)
            & (F.col("dup_bigram_ratio") <= REPEAT_DUP_BIGRAM_MAX)
        ).alias("keep_rep"),
    )
    cont = cu.contamination_stats(
        cand, bench, "doc_id", "text", n=CONTAMINATION_NGRAM
    ).select(
        F.col("id").alias("doc_id"),
        (F.col("contamination_ratio") >= CONTAMINATION_FLAG_RATIO).alias(
            "contaminated"
        ),
    )
    survivors = (
        dd.exact_duplicate_groups(cand, "text", "doc_id")
        .select(F.col("keep_id").alias("doc_id"))
    )

    n_chunks = chunk_count_expr(F.size(tx.tokens(F.col("text"))))
    kept = (
        cand.join(rep, "doc_id")
        .join(cont, "doc_id")
        .join(survivors, "doc_id", "left_semi")
        .filter(F.col("keep_rep") & ~F.col("contaminated"))
        .select(
            "doc_id",
            F.pmod(md5_hash32(F.col("doc_id").cast("string")), F.lit(N_SHARDS)).alias(
                "shard_id"
            ),
            n_chunks.cast("long").alias("n_chunks"),
            F.length(cu.redact_pii(F.col("text"))).cast("long").alias(
                "n_chars_redacted"
            ),
        )
    )
    return (
        kept.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").alias("total_chunks"),
            F.sum("n_chars_redacted").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("shard_id")
    )


FLUENCY_MEAN_MIN = 32_600  # ≈ P2 of the corpus mean-micro-probability
from .llmdata_constants import FLUENCY_VOCAB_CAP  # shared with the oracle


def t39_unigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM fluency filter (the integer-exact surrogate for
    perplexity filtering — operators/curation.unigram_fluency_stats):
    every token scores its corpus micro-probability; documents of rare/
    garbage vocabulary get low means and are flagged.  The unigram table
    is capped at the top FLUENCY_VOCAB_CAP tokens (count DESC, token ASC)
    with out-of-vocabulary tokens scoring the 0 floor, so the gate runs
    the same bounded-vocabulary plan a web-scale corpus needs.  Output
    adds the keep verdict at the documented threshold."""
    from ..operators import curation as cu

    docs = table(spark, sf_dir, "documents")
    stats = cu.unigram_fluency_stats(
        docs, "doc_id", "text", vocab_cap=FLUENCY_VOCAB_CAP
    )
    return stats.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        quant(F.col("mean_microp"), 6).alias("mean_microp"),
        "min_microp",
        (F.col("mean_microp") >= FLUENCY_MEAN_MIN).alias("keep"),
    ).orderBy("doc_id")


def t84_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM fluency filter (operators/curation.
    bigram_fluency_stats — VERDICT r8 ask #6, extending t39's unigram
    surrogate with CONTEXT, the CCNet-style quality signal's n-gram
    structure): positions whose bigram is in the capped table score
    the 70/30 Jelinek-Mercer interpolation of conditional-bigram and
    unigram micro-probabilities; first tokens and bigram-OOV positions
    back off to the unigram score.  Counts and the interpolation are
    integer-exact (DIV throughout), so the DuckDB oracle replays the
    whole fold bit-for-bit — the t39/t60 discipline; only the final
    per-doc mean is one IEEE division.  The bigram cap (48) is below
    the corpus's distinct-bigram count, so the backoff path is
    exercised, exactly like t39's capped vocabulary."""
    from ..operators import curation as cu
    from .llmdata_constants import (
        BIGRAM_FLUENCY_MEAN_MIN,
        BIGRAM_LAMBDA_DEN,
        BIGRAM_LAMBDA_NUM,
        BIGRAM_VOCAB_CAP,
    )

    docs = table(spark, sf_dir, "documents")
    stats = cu.bigram_fluency_stats(
        docs,
        "doc_id",
        "text",
        vocab_cap=FLUENCY_VOCAB_CAP,
        bigram_cap=BIGRAM_VOCAB_CAP,
        lam_num=BIGRAM_LAMBDA_NUM,
        lam_den=BIGRAM_LAMBDA_DEN,
    )
    return stats.select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        quant(F.col("mean_fluency"), 6).alias("mean_fluency"),
        "min_fluency",
        (F.col("mean_fluency") >= BIGRAM_FLUENCY_MEAN_MIN).alias("keep"),
    ).orderBy("doc_id")


def t8_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only for the driver: xxhash64 has no cross-engine oracle."""
    docs = table(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(
        docs, "doc_id", "text", n=2, num_perm=32, bands=8, threshold=JACCARD_THRESHOLD
    )
    return pairs.select(
        "id_a", "id_b", quant(F.col("jaccard"), 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def t9_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only for the driver: xxhash64 has no cross-engine oracle."""
    docs = table(spark, sf_dir, "documents")
    return (
        dd.simhash_pairs(docs, "doc_id", "text", max_hamming=6)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


def t41_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level SEGMENT dedup (the RefinedWeb/CCNet line-dedup
    analog, over fixed 16-token segments because the synthetic corpus
    has no newlines): segments whose exact hash appears in >1 distinct
    documents are boilerplate and removed from every document; the
    cleaned remainder is md5-pinned.  Partial-document dedup is the
    capability t4 (whole-doc) cannot express — shared boilerplate dies,
    unique content survives (operators/dedup.segment_dedup: one shuffle
    on the segment digest, boilerplate join, per-doc reassembly).  The
    DuckDB oracle replays segmentation via list slicing and the same
    document-frequency rule."""
    docs = table(spark, sf_dir, "documents")
    return (
        dd.segment_dedup(docs, "doc_id", "text", seg_tokens=16, max_docs=1)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def t42_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fastText-classifier stage of
    public CCNet/GPT-3-style data recipes) as pure plan arithmetic: each
    token hashes to one of 1024 feature buckets, the bucket's integer
    weight is hash-derived (a deterministic stand-in with a trained
    model's exact runtime shape — swap the weight expression for a
    broadcast learned table and nothing else changes), and the document
    score is a single higher-order fold — zero shuffles, zero Python,
    scan-speed at 100 TB (operators/curation.classifier_scores).
    Integer score keeps the gate exact cross-engine."""
    from ..operators import curation as cu

    docs = table(spark, sf_dir, "documents")
    return (
        cu.classifier_scores(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def t43_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-screen for incremental ingest: the
    corpus's (doc_id %% 5 != 0) exact-dedup fingerprints populate a
    2^18-bit / 4-probe Bloom relation — bounded by the CONFIGURED filter
    size however large the corpus, hence broadcast-safe by construction
    — and the delta batch (doc_id %% 5 == 0) probes it with k md5-slice
    bits per document (operators/dedup.bloom_bit_table/bloom_screen).

    Output joins the Bloom verdict with exact corpus membership, so the
    gate PROVES the Bloom contract cross-engine: no false negatives
    (exact_dup -> maybe_dup), false positives allowed at the configured
    rate.  At 100 TB this is the cheap first stage in front of t31's
    full incremental dedup — most of a typical batch is novel and is
    discharged for the cost of four integer probes."""
    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    bits = dd.bloom_bit_table(corpus, "text")
    screened = dd.bloom_screen(delta, "doc_id", "text", bits)
    corpus_fps = corpus.select(
        tx.content_fingerprint(F.col("text")).alias("fp")
    ).distinct()
    exact = delta.select(
        F.col("doc_id").alias("id"),
        tx.content_fingerprint(F.col("text")).alias("fp"),
    ).join(
        corpus_fps.withColumn("_dup", F.lit(True)), "fp", "left"
    ).select("id", F.coalesce(F.col("_dup"), F.lit(False)).alias("exact_dup"))
    return (
        screened.join(exact, "id")
        .select(
            F.col("id").alias("doc_id"),
            "n_hits",
            "maybe_dup",
            "exact_dup",
        )
        .orderBy("doc_id")
    )


# Gate-pinned k so the DuckDB oracle can unroll the same training (the
# embeddings fixture is 500 vectors at every SF; production passes
# k=None and semdedup_trained derives k = ceil(N / target_cluster)).
SEMDEDUP_GATE_K = 16
# Gate-pinned BELOW the production default (SEMDEDUP_MAX_CLUSTER=48):
# the trained clusters on this balanced fixture top out at ~38 rows, so
# the default cap would leave the sub-split/chunk machinery driver-
# unproven; 32 forces several clusters through it.
SEMDEDUP_GATE_MAX_CLUSTER = 32


def t44_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over the embedding space (SemDeDup, Abbas et al.
    2023) on the PRODUCTION path (operators/similarity.semdedup_trained,
    VERDICT r4 ask #2): k-means centroids trained with ivf_train (k=16
    hash-sampled seeds ranked by (md5, id) — no k-sized single-
    partition stage, no id-order bias; 2 decimal-exact-mean refinement
    passes), broadcast-assignment to the trained centroids, then the
    drop-if-similar-to-any-lower-id-member prune at cosine >= 0.35 —
    with the pairwise stage HARD-bounded: clusters over the cap
    sub-split by 3 plan-literal SRP bits, then id-chunked so no compare
    group exceeds it (cap gate-pinned at 32 so this fixture's ~38-row
    clusters exercise the split path).  Complements t7/t7b: those find
    near-identical PAIRS corpus-wide; this prunes semantic redundancy
    cluster-locally — the shape that scales because expected per-vector
    compare work is a constant, not O(N/k_fixed).  The DuckDB oracle
    unrolls the full training loop (seeding, both assignment passes,
    decimal-sum/double-divide means, empty-cluster carryover), the
    sub-split, the chunking, and the drop rule with the same
    fold-ordered arithmetic."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        sim.semdedup_trained(
            emb,
            k=SEMDEDUP_GATE_K,
            iters=sim.SEMDEDUP_ITERS,
            max_cluster=SEMDEDUP_GATE_MAX_CLUSTER,
            threshold=NEARDUP_COSINE,
        )
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    )


# the t44b sampled-training modulus — gate-pinned so the oracle's
# training CTEs can apply the same md5 filter (~125 of 500 fixture
# vectors train; all 500 are assigned)
SEMDEDUP_GATE_TRAIN_MOD = 4


def t44b_semdedup_sampled_training(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """t44's production path with SAMPLED k-means training
    (operators/similarity.ivf_train(train_mod=) — the t57b sampling
    discipline applied to centroid training): every training pass
    (assignment + the N·dim posexplode mean update) runs over the
    deterministic md5-modulus sample, cutting per-iteration training
    cost to O(N/train_mod), while the FULL corpus is still assigned
    and pruned against the trained centroids.  This is the knob that
    matters at 10⁹ vectors: training quality depends on
    sample-per-cluster, not on N, so iterating k-means over every
    vector buys nothing but wall-clock.  The DuckDB oracle unrolls the
    whole loop with the same sample filter in the training CTEs —
    seeds from the sample, means over the sample, assignment over
    everything — bit-for-bit."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        sim.semdedup_trained(
            emb,
            k=SEMDEDUP_GATE_K,
            iters=sim.SEMDEDUP_ITERS,
            max_cluster=SEMDEDUP_GATE_MAX_CLUSTER,
            threshold=NEARDUP_COSINE,
            train_mod=SEMDEDUP_GATE_TRAIN_MOD,
        )
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    )


# ceil(400 corpus vectors / SEMDEDUP_TARGET_CLUSTER) at the 500-vector
# fixture — gate-pinned so the oracle can unroll the training (the
# SEMDEDUP_GATE_K discipline; production derives k from the count).
SEMDEDUP_INC_GATE_K = 13


def t61_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental SEMANTIC dedup — the semdedup member of
    the incremental family (t31 MinHash / t37 embedding / t46 segment):
    centroids are trained on the CORPUS (vec_id % 5 != 0), the corpus's
    (id, cluster, sub) store is built once (operators/similarity.
    semdedup_assign — pure per-vector state under frozen centroids, so
    it persists like the band tables), and the delta batch is pruned
    against store + earlier delta only
    (operators/similarity.semdedup_incremental): dropped when similar
    to ANY corpus member of its (cluster, sub) group or a LOWER-id
    delta member.  Corpus×corpus pairs are structurally impossible;
    per-batch cost is O(|delta| · expected group).  The oracle unrolls
    the corpus-only k-means training, assigns both sides with the same
    plan-literal sub keys, and replays the asymmetric drop rule."""
    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    cents = sim.ivf_train(
        corpus,
        k=SEMDEDUP_INC_GATE_K,
        iters=sim.SEMDEDUP_ITERS,
        assign_bits=sim.assign_bits_for(SEMDEDUP_INC_GATE_K),
    )
    store = sim.semdedup_assign(corpus, cents)
    return (
        sim.semdedup_incremental(
            store, delta, cents, threshold=NEARDUP_COSINE
        )
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    )


def t46_incremental_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run SEGMENT dedup (t41's incremental form, t31's contract):
    a new batch (doc_id % 5 == 0) is cleaned against the persisted
    corpus segment-frequency store — corpus TEXT is never re-read, and
    because delta ids are new, corpus-count + delta-count equals the
    full corpus∪delta document frequency, so the result provably equals
    the full t41 recompute restricted to delta documents (the oracle
    re-runs the full rule and restricts).  Per-batch cost is
    O(|delta segments| + store lookups)
    (operators/dedup.segment_dedup_incremental)."""
    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    counts = dd.segment_counts(corpus, "doc_id", "text", seg_tokens=16)
    return (
        dd.segment_dedup_incremental(
            counts, delta, "doc_id", "text", seg_tokens=16, max_docs=1
        )
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


BLOCKED_DOMAINS = ("site2.example.com", "site5.example.com")


def t47_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain provenance filtering (the C4/RefinedWeb source-level
    blocklist step): the synthetic corpus has no URLs, so the gate
    deterministically plants one per doc_id % 4 == 0 document with pure
    string arithmetic the oracle rebuilds identically (t32's planting
    discipline), extracts the host via a shared-syntax regex
    (operators/curation.extract_domain), marks blocklisted domains, and
    rolls up per domain.  At scale the blocklist is a broadcast
    lookup/isin against millions of rows per second of scan — the plan
    shape is scan + regexp + broadcast-hash semi join, no corpus-sized
    shuffle beyond the final small rollup."""
    from ..operators import curation as cu

    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.when(
        did % 4 == 0,
        F.concat(
            F.col("text"),
            F.lit(" http://site"),
            (did % 7).cast("string"),
            F.lit(".example.com/page"),
            did.cast("string"),
        ),
    ).otherwise(F.col("text"))
    tagged = docs.select(
        "doc_id",
        cu.extract_domain(aug).alias("domain"),
    ).withColumn(
        "blocked", F.col("domain").isin(*BLOCKED_DOMAINS)
    )
    return (
        tagged.groupBy("domain", "blocked")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select("domain", "n_docs", "blocked")
        .orderBy("domain")
    )


def t48_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): the four
    most frequent adjacent-pair merges learned iteratively over the
    corpus — count pairs (one shuffle), take the top pair (one row to
    the driver), apply the merge with a literal delimited-string replace
    (map-side), repeat.  Later merges compose earlier ones (merged
    tokens carry the \\x1e joiner), so the gate pins the whole iterative
    dependency chain: one wrong count in round 1 changes every later
    round.  The DuckDB oracle unrolls the same four rounds with scalar
    subqueries — the only engine-side state per round is one
    (pair, count) row, the property that lets tokenizer training run on
    a 100 TB corpus sample without driver blowup."""
    from ..operators import bpe

    docs = table(spark, sf_dir, "documents")
    merges = bpe.learn_bpe_merges(docs, "text", n_merges=4)
    return spark.createDataFrame(
        merges,
        "merge_rank long, token_a string, token_b string, n_occurrences long",
    ).orderBy("merge_rank")


def t57_bpe_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE training (operators/bpe.learn_bpe_merges_batched,
    VERDICT r4 ask #4): per corpus pass the maximal token-disjoint
    PREFIX of the ranked pair list is applied at once, collapsing the
    pass count by the mean batch width (8 merges train in 2 passes on
    this corpus) — the structural fix for the 32k-merges = 32k-jobs
    depth cap.  The oracle unrolls the SEQUENTIAL 8-round loop, so a
    green row IS the proof that batching reproduced the sequential
    merge list exactly on this corpus (the only case where the
    parallel-BPE approximation can diverge — a mid-batch created pair
    outranking a later accepted one — did not occur, and would fail the
    hash if it ever did)."""
    from ..operators import bpe

    docs = table(spark, sf_dir, "documents")
    merges, _ = bpe.learn_bpe_merges_batched(docs, "text", n_merges=8)
    return spark.createDataFrame(
        merges,
        "merge_rank long, token_a string, token_b string, n_occurrences long",
    ).orderBy("merge_rank")


def t49_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding with the corpus-learned merges (train with t48's
    loop, then encode — the full tokenizer lifecycle): per-document
    whitespace vs merged token counts and the compression ratio, the
    signal a data pipeline uses to budget sequence packing and to spot
    corpora a tokenizer fits badly.  Encoding is zero-shuffle map-side
    literal replaces (operators/bpe.apply_bpe_merges); the oracle
    replays training AND encoding in one unrolled statement."""
    from ..operators import bpe

    docs = table(spark, sf_dir, "documents")
    merges = bpe.learn_bpe_merges(docs, "text", n_merges=4)
    out = bpe.apply_bpe_merges(docs, "doc_id", "text", merges)
    return (
        out.select(
            F.col("id").alias("doc_id"),
            "n_tokens_ws",
            "n_tokens_bpe",
            quant(
                F.col("n_tokens_bpe").cast("double") / F.col("n_tokens_ws"), 6
            ).alias("compression"),
        )
        .orderBy("doc_id")
    )


# Gate-pinned so the oracle unrolls the same round count; the sample
# target binds for real at sf0.1 (5000 docs -> modulus 20 -> ~250
# trained docs) while staying a ~half sample at the 500-doc fixtures.
BPE_SAMPLED_GATE_MERGES = 6
BPE_SAMPLED_GATE_DOCS = 250


def t57b_bpe_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled BPE training, full-corpus encoding (VERDICT r5 ask #4 —
    the production contract that makes tokenizer training cost constant
    in corpus size): merges are learned on the deterministic md5-bucket
    sample of ~BPE_SAMPLED_GATE_DOCS documents
    (operators/bpe.learn_bpe_merges_batched(sample_docs=...)), then the
    FULL corpus is encoded with them map-side
    (operators/bpe.apply_bpe_merges).  The oracle unrolls the training
    rounds over the SAME SQL-computed sample, then replays the encode
    chain over all documents — so a green row proves both the sample
    selection and the train-on-sample/encode-everything split
    cross-engine.  Training passes scan a bounded corpus whatever the
    scale factor; the bench bpe probe pins merges/sec ~flat at 8x."""
    from ..operators import bpe

    docs = table(spark, sf_dir, "documents")
    merges, _ = bpe.learn_bpe_merges_batched(
        docs,
        "text",
        n_merges=BPE_SAMPLED_GATE_MERGES,
        sample_docs=BPE_SAMPLED_GATE_DOCS,
    )
    out = bpe.apply_bpe_merges(docs, "doc_id", "text", merges)
    return (
        out.select(
            F.col("id").alias("doc_id"),
            "n_tokens_ws",
            "n_tokens_bpe",
            quant(
                F.col("n_tokens_bpe").cast("double") / F.col("n_tokens_ws"), 6
            ).alias("compression"),
        )
        .orderBy("doc_id")
    )


def t42b_quality_classifier_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier's PRODUCTION form — per-token hashed buckets
    joined against a broadcast (bucket, weight) table
    (operators/curation.classifier_scores_with_table), here fed the
    materialized stand-in weights so it must equal t42's inline fold
    exactly.  Sharing t42's oracle makes the driver prove the
    learned-weights plan (one (id, bucket) shuffle + broadcast join)
    computes the same answer as the shuffle-free expression — the swap a
    deployment makes when weights come from offline training."""
    from ..operators import curation as cu

    docs = table(spark, sf_dir, "documents")
    return (
        cu.classifier_scores_with_table(
            docs, "doc_id", "text", cu.weight_table(spark)
        )
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def t51_dataset_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset version diff — the audit between two corpus snapshots
    every dataset release pipeline publishes: with v1 = the corpus
    (doc_id %% 5 != 0) and v2 = the full table, classify every document
    as added (new id), carried (same id, same content fingerprint), or
    a collision (same NORMALIZED content already present in v1 under a
    different id — exactly what incremental exact-dedup would drop).
    One full-outer-shaped pass keyed on doc_id plus a fingerprint semi
    join; no pairwise anything, so the diff costs two shuffles at any
    scale.  Rolled up per source."""
    docs = table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 5 != 0)
    v2_new = docs.filter(F.col("doc_id") % 5 == 0)
    v1_fps = v1.select(
        tx.content_fingerprint(F.col("text")).alias("fp")
    ).distinct()
    tagged = v2_new.select(
        "source",
        tx.content_fingerprint(F.col("text")).alias("fp"),
    ).join(v1_fps.withColumn("_dup", F.lit(True)), "fp", "left")
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_added"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_content_collisions"),
        )
        .orderBy("source")
    )


LEN_BUCKET_EDGES = (64, 128, 256, 512)


def t52_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram over fixed char buckets —
    the profile a curation run publishes to spot truncation/boilerplate
    anomalies per source.  Bucket assignment is a pure CASE expression
    (map-side); one small shuffle on (source, bucket)."""
    docs = table(spark, sf_dir, "documents")
    n = F.col("n_chars")
    bucket = (
        F.when(n < LEN_BUCKET_EDGES[0], F.lit("a_lt64"))
        .when(n < LEN_BUCKET_EDGES[1], F.lit("b_lt128"))
        .when(n < LEN_BUCKET_EDGES[2], F.lit("c_lt256"))
        .when(n < LEN_BUCKET_EDGES[3], F.lit("d_lt512"))
        .otherwise(F.lit("e_ge512"))
    )
    return (
        docs.groupBy("source", bucket.alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .orderBy("source", "len_bucket")
    )


@gate
def t53_txtable_versions(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Transactional-table lifecycle as a driver-checked gate: a
    manifest-log table (sources/txtable.py) is created from the corpus
    snapshot, the delta batch is appended as a second atomic commit, and
    every retained version is read back through time travel — the gate
    returns per-version (op, row count, distinct sources), which only
    comes out right if init/append/snapshot isolation all work.  The
    oracle recomputes the two snapshots' stats from the raw table, so
    the driver independently proves versioned reads return exactly the
    pre- and post-append corpus."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents")
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(docs.filter(F.col("doc_id") % 5 != 0))
    t.append(docs.filter(F.col("doc_id") % 5 == 0))
    rows = []
    for h in t.history():
        snap = t.snapshot(version=h["version"])
        stats = snap.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("source").cast("long").alias("n_sources"),
        ).collect()[0]
        rows.append((h["version"], h["op"], stats.n_docs, stats.n_sources))
    return spark.createDataFrame(
        rows, "version long, op string, n_docs long, n_sources long"
    ).orderBy("version")


@gate
def t55_txtable_delete(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Row-level DELETE on the transactional table (takedown/GDPR,
    VERDICT r4 ask #3): a source-partitioned TxTable is created from the
    corpus, doc_id % 7 == 0 rows are deleted as ONE manifest commit
    (sources/txtable.TxTable.delete — only files containing matches are
    rewritten, the rest carry by reference), and a second delete that
    matches NOTHING must commit no manifest at all.  The gate returns
    per-version (op, row count, rows still matching the predicate) read
    back through time travel: v1 must still serve the full pre-delete
    corpus (n_match > 0), v2 must have zero matches, and a third row
    would appear — failing the hash — if the no-op delete committed.
    The oracle recomputes both snapshots' stats from the raw table."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents")
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(docs, partition_by="source")
    t.delete(F.col("doc_id") % 7 == 0)
    t.delete(F.col("doc_id") < 0)  # matches nothing -> must be a no-op
    rows = []
    for h in t.history():
        snap = t.snapshot(version=h["version"])
        stats = snap.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_match"),
        ).collect()[0]
        rows.append((h["version"], h["op"], stats.n_docs, stats.n_match))
    return spark.createDataFrame(
        rows, "version long, op string, n_docs long, n_match long"
    ).orderBy("version")


def t56_dedup_index_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown cascade into the persisted dedup state (the other half
    of VERDICT r4 ask #3): the corpus segment-frequency store is built,
    doc_id % 7 == 0 documents are removed from it by SUBTRACTION
    (operators/dedup.segment_counts_subtract — O(|deleted|) text, the
    surviving corpus is never re-read), and the delta batch is then
    cleaned incrementally against the cascaded store.  The oracle runs
    the FULL segment-dedup rule over (corpus minus deleted) ∪ delta
    restricted to delta — equality proves deleted documents no longer
    ghost in the store: a segment that was boilerplate only because a
    deleted doc shared it must come back clean.  Same equality contract
    as t46, with the cascade inserted."""
    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    store = dd.segment_counts(corpus, "doc_id", "text", seg_tokens=16)
    deleted = corpus.filter(F.col("doc_id") % 7 == 0)
    cascaded = dd.segment_counts_subtract(
        store, deleted, "doc_id", "text", seg_tokens=16
    )
    return (
        dd.segment_dedup_incremental(
            cascaded, delta, "doc_id", "text", seg_tokens=16, max_docs=1
        )
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


@gate
def t77_shallow_clone(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """SHALLOW CLONE of the transactional corpus (sources/txtable.
    TxTable.clone_shallow — Delta's CLONE verb): the clone's first
    manifest references the source's data files IN PLACE (zero bytes
    copied — ``clone_is_metadata_only`` pins the clone's own data dir
    empty at v1), then the two tables DIVERGE: the clone deletes the
    doc_id % 7 rows and appends a derived batch (both staging
    clone-owned files), while the source is never written again
    (``src_undisturbed`` pins its version still 1).  At 100 TB this is
    the dev/test/experiment-copy verb — a full copy would move the
    whole table to change 1% of it.  The oracle recomputes both final
    states from raw documents: the source IS the corpus; the clone is
    the corpus minus the deleted band plus the derived batch."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    base = scratch.dir
    src = TxTable(spark, base + "/src")
    src.init(docs)
    clone = src.clone_shallow(base + "/dst")
    meta_only = not any(
        not e.get("base") for e in clone.manifest(1)["files"]
    )
    clone.delete(F.col("doc_id") % 7 == 0)
    extra = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.lit("clone "), F.col("text")).alias("text"),
        "lang",
        F.lit("clone").alias("source"),
        (F.col("n_chars") + 6).cast("long").alias("n_chars"),
    )
    clone.append(extra)
    undisturbed = src.latest_version() == 1
    rows = []
    for name, t in (("clone", clone), ("src", src)):
        st = t.snapshot().agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("sid"),
        ).collect()[0]
        rows.append((name, st.n, st.sid))
    return spark.createDataFrame(
        rows, "tbl string, n_rows long, sum_doc_id long"
    ).select(
        "tbl",
        "n_rows",
        "sum_doc_id",
        F.lit(meta_only).alias("clone_is_metadata_only"),
        F.lit(undisturbed).alias("src_undisturbed"),
    ).orderBy("tbl")


@gate
def t78_column_mapping(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Column RENAME + DROP via manifest column mapping (sources/
    txtable.TxTable.rename_column / drop_column — VERDICT r7 ask #3:
    the other half of the schema-evolution contract after t72's ADD).
    Both verbs are O(1) metadata commits: physical parquet names stay
    frozen while the logical schema moves, so no data file is touched
    (``files_untouched`` pins the rename AND drop manifests carrying
    byte-identical entries).  The lifecycle exercised end to end on
    the corpus: init(quality, text_len) → RENAME quality→q_score →
    DROP text_len → RE-ADD text_len with a DIFFERENT type (string) —
    the fresh-physical-name rule means pre-drop bytes can never
    resurrect under the re-added column — → append odd docs with the
    evolved schema → row-level DELETE across the mapping boundary
    (mixed pre/post files rewritten under one mapping).  Old-name
    reads fail loudly (``old_name_fails`` is computed by actually
    trying), and time travel still serves every retired layout:
    ``tt_len_sum`` reads the ORIGINAL bigint text_len back out of
    version 1.  The oracle replays the final state from raw
    documents."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(
        docs.filter(did % 2 == 0).select(
            "doc_id",
            "lang",
            (did % 97).cast("double").alias("quality"),
            F.length("text").cast("long").alias("text_len"),
        )
    )
    t.rename_column("quality", "q_score")           # v2, O(1)
    t.drop_column("text_len")                       # v3, O(1)
    e1 = [e["path"] for e in t.manifest(1)["files"]]
    untouched = (
        e1 == [e["path"] for e in t.manifest(2)["files"]]
        and e1 == [e["path"] for e in t.manifest(3)["files"]]
    )
    t.add_columns({"text_len": "string"})           # v4: new type
    t.append(                                       # v5: evolved shape
        docs.filter(did % 2 == 1).select(
            "doc_id",
            "lang",
            (did % 97).cast("double").alias("q_score"),
            F.when(F.length("text") >= 200, "long")
            .otherwise("short")
            .alias("text_len"),
        )
    )
    t.delete(did % 21 == 0)                         # v6: DML across it
    try:
        t.snapshot().select("quality").collect()
        old_name_fails = False
    except AnalysisException:
        # the EXPECTED failure — the old column name is gone; any
        # other exception class is an engine bug and must surface
        # (VERDICT r11 next #8)
        old_name_fails = True
    tt_len_sum = (
        t.snapshot(version=1)
        .agg(F.sum("text_len").cast("long").alias("s"))
        .collect()[0]
        .s
    )
    rename_op = t.history()[1]["op"]
    n_versions = len(t.versions())
    return (
        t.snapshot()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("text_len").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_null_tl"),
            F.sum(
                F.when(F.col("text_len") == "long", 1).otherwise(0)
            ).cast("long").alias("n_long"),
            F.sum(F.col("q_score").cast("long"))
            .cast("long")
            .alias("sum_q"),
        )
        .withColumn("files_untouched", F.lit(untouched))
        .withColumn("old_name_fails", F.lit(old_name_fails))
        .withColumn("rename_op", F.lit(rename_op))
        .withColumn("n_versions", F.lit(n_versions).cast("long"))
        .withColumn("tt_len_sum", F.lit(tt_len_sum).cast("long"))
        .orderBy("lang")
    )


@gate
def t63_takedown_lifecycle(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """The FULL GDPR takedown path in one gate (VERDICT r5 ask #6 —
    t55 + t56 + vacuum composed end-to-end): the corpus lives in a
    transactional table with a persisted segment-frequency dedup store;
    doc_id % 7 == 0 documents are (1) deleted as one manifest commit
    (sources/txtable.TxTable.delete), (2) cascaded OUT of the dedup
    store by subtraction, reading the victim text through TIME TRAVEL
    to the pre-delete version (operators/dedup.segment_counts_subtract
    — the surviving corpus is never re-read), then (3) vacuum()
    destroys the pre-delete bytes and manifests, and (4) a new delta
    batch is cleaned incrementally against the cascaded store in the
    post-takedown world.  The oracle recomputes the incremental result
    from RAW MINUS DELETED ∪ delta — equality proves the deleted
    documents neither ghost in the dedup state nor survive on disk —
    and pins the lifecycle facts: exactly one version remains after
    vacuum, the post-delete table holds exactly the survivors, and
    vacuum actually removed bytes."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    t = TxTable(spark, scratch.dir + "/docs")
    v1 = t.init(corpus)
    # the persisted dedup index, built from the live table
    store = dd.segment_counts(
        t.snapshot(), "doc_id", "text", seg_tokens=16
    ).localCheckpoint(eager=True)
    t.delete(F.col("doc_id") % 7 == 0)
    # cascade: victim text comes from the pre-delete version (time
    # travel), and the cascaded store MUST be materialized before
    # vacuum destroys those bytes
    deleted = t.snapshot(version=v1).filter(F.col("doc_id") % 7 == 0)
    cascaded = dd.segment_counts_subtract(
        store, deleted, "doc_id", "text", seg_tokens=16
    ).localCheckpoint(eager=True)
    removed = t.vacuum(keep_versions=1, min_age_seconds=0.0)
    n_versions = len(t.versions())
    n_post = t.snapshot().count()
    return (
        dd.segment_dedup_incremental(
            cascaded, delta, "doc_id", "text", seg_tokens=16, max_docs=1
        )
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "n_versions_after_vacuum", F.lit(n_versions).cast("long")
        )
        .withColumn("n_docs_post_delete", F.lit(n_post).cast("long"))
        .withColumn("vacuum_removed_some", F.lit(len(removed) > 0))
        .orderBy("doc_id")
    )


@gate
def t62_txtable_data_skipping(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Manifest-stats DATA SKIPPING on the transactional table (the
    per-file min/max design Delta/Iceberg use): the table is built with
    stats_col='n_chars' from three commits holding disjoint length
    bands (<128, 128-255, >=256 — one file each), and a [130, 250]
    range read must scan exactly the middle file while returning the
    complete, correct rows (prune is a file-set reduction; the real
    predicate applies on top).  The gate emits per-source aggregates of
    the pruned-then-filtered read PLUS the scanned/total file counts —
    the oracle recomputes the aggregates from the raw table and pins
    the counts at 1/3, so a green row proves both completeness (no row
    a skipped file should not have held is missing) and that skipping
    actually skipped."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents")
    n = F.col("n_chars")
    t = TxTable(spark, scratch.dir + "/docs", stats_col="n_chars")
    t.init(docs.filter(n < 128).coalesce(1))
    t.append(docs.filter((n >= 128) & (n < 256)).coalesce(1))
    t.append(docs.filter(n >= 256).coalesce(1))
    scanned, total = t.prune_counts("n_chars", 130, 250)
    snap = t.snapshot(prune=("n_chars", 130, 250)).filter(
        n.between(130, 250)
    )
    return (
        snap.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("files_scanned", F.lit(scanned).cast("long"))
        .withColumn("files_total", F.lit(total).cast("long"))
        .orderBy("source")
    )


@gate
def t62b_txtable_multicol_skipping(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """TWO-column manifest-stats data skipping (VERDICT r5 ask #7 —
    real tables skip on several columns): the table records per-file
    [min, max] for BOTH doc_id and n_chars in ONE stats pass
    (TxTable(stats_col=[...])), from three commits disjoint in
    DIFFERENT dimensions — A: low ids × short docs, B: low ids × long
    docs, C: high ids (all lengths).  A conjunctive prune on (low ids,
    short lengths) must scan exactly file A — each single-column prune
    alone scans 2 of 3, so the gate separates multi-column skipping
    from either column's — while the pruned-then-filtered read stays
    complete (the oracle recomputes it from the raw table and pins all
    four counts).  A fourth, ZERO-ROW append (an empty coalesce(1)
    write) must not inflate files_total: stats-enabled staging drops
    row-less files from the manifest instead of carrying a permanently
    unprunable entry (ADVICE r5)."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents")
    n = F.col("n_chars")
    did = F.col("doc_id")
    half = docs.count() // 2
    t = TxTable(spark, scratch.dir + "/docs", stats_col=["doc_id", "n_chars"])
    t.init(docs.filter((did < half) & (n < 192)).coalesce(1))
    t.append(docs.filter((did < half) & (n >= 192)).coalesce(1))
    t.append(docs.filter(did >= half).coalesce(1))
    t.append(docs.filter(n < 0).coalesce(1))  # zero rows: dropped
    both = [("doc_id", 0, half - 1), ("n_chars", 0, 127)]
    s_both, total = t.prune_counts(both)
    s_id, _ = t.prune_counts("doc_id", 0, half - 1)
    s_chars, _ = t.prune_counts("n_chars", 0, 127)
    snap = t.snapshot(prune=both).filter(
        did.between(0, half - 1) & n.between(0, 127)
    )
    return (
        snap.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("files_scanned_both", F.lit(s_both).cast("long"))
        .withColumn("files_scanned_id", F.lit(s_id).cast("long"))
        .withColumn("files_scanned_chars", F.lit(s_chars).cast("long"))
        .withColumn("files_total", F.lit(total).cast("long"))
        .orderBy("source")
    )


@gate
def t66_txtable_cdc_merge(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Keyed MERGE + latest-wins CDC apply on the transactional table
    (sources/txtable.TxTable.merge / apply_cdc — the DML verb that
    completes append/overwrite/delete; the reference's staging→
    production load knows only truncate-or-append,
    staging_to_production.py:87-106, so its users reload whole tables
    where one merge commit would do).  The corpus
    lives partitioned by ``band`` = doc_id % 4 and the change feed
    touches ONLY band-1 keys: per key the highest-seq event wins
    (superseded 'stale' updates must vanish), updates rewrite the row,
    a delete event at a higher seq than an update nets to a delete,
    deletes of never-seen keys are tolerated no-ops, and brand-new keys
    insert.  The oracle replays the collapse (one row_number window)
    and the merge (anti-join ∪ winners) from the raw table and pins the
    per-band content sums; the literal columns pin the transaction
    facts — exactly 2 versions, latest op 'merge', and all 3 untouched
    band files carried BY REFERENCE (the file-granular cost contract:
    O(hit files + batch), not O(table))."""
    from ..sources.txtable import TxTable, apply_cdc

    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    band = (did % 4).cast("string").alias("band")
    data_cols = ["doc_id", "text", "lang", "source", "n_chars"]
    corpus = docs.select(*data_cols, band).filter(did % 3 != 0)
    in_band = (did % 4 == 1) & (did % 3 != 0)
    upd_keys = docs.filter(in_band & (did % 5 == 0))
    stale = upd_keys.select(
        did.alias("doc_id"),
        F.lit("stale").alias("text"),
        "lang",
        "source",
        F.lit(5).cast("long").alias("n_chars"),
        band,
        F.lit("U").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    rev2_text = F.concat(F.col("text"), F.lit(" [rev2]"))
    rev2 = upd_keys.select(
        did.alias("doc_id"),
        rev2_text.alias("text"),
        "lang",
        "source",
        F.length(rev2_text).cast("long").alias("n_chars"),
        band,
        F.lit("U").alias("op"),
        F.lit(2).cast("long").alias("seq"),
    )
    dels = docs.filter((did % 4 == 1) & (did % 7 == 0)).select(
        did.alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("long").alias("n_chars"),
        band,
        F.lit("D").alias("op"),
        F.lit(3).cast("long").alias("seq"),
    )
    ins_text = F.concat(F.lit("new doc "), did.cast("string"))
    inserts = docs.filter((did % 4 == 1) & (did % 3 == 0)).select(
        did.alias("doc_id"),
        ins_text.alias("text"),
        "lang",
        F.lit("cdc").alias("source"),
        F.length(ins_text).cast("long").alias("n_chars"),
        band,
        F.lit("I").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    changes = stale.unionAll(rev2).unionAll(dels).unionAll(inserts)
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(corpus.repartition(1), partition_by="band")
    apply_cdc(t, changes, "doc_id")
    e1 = {e["path"] for e in t.manifest(1)["files"]}
    e2 = {e["path"] for e in t.manifest(2)["files"]}
    return (
        t.snapshot()
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.sum(F.length("text")).cast("long").alias("sum_chars"),
            F.sum("n_chars").cast("long").alias("sum_nchars"),
            F.sum(
                F.when(F.col("text").endswith(" [rev2]"), 1).otherwise(0)
            ).cast("long").alias("n_rev2"),
        )
        .withColumn(
            "n_versions", F.lit(len(t.versions())).cast("long")
        )
        .withColumn("latest_op", F.lit(t.history()[-1]["op"]))
        .withColumn(
            "n_files_carried", F.lit(len(e1 & e2)).cast("long")
        )
        .orderBy("band")
    )


@gate
def t68_incremental_matview(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Incremental materialized-view maintenance over the manifest log
    (sources/matview.py): a revenue-per-priority aggregate is built
    once, then advanced through an append, a row-level DELETE, and a
    CDC price merge purely from table_changes() diffs — each refresh
    reads only the base files that changed and upserts only the
    touched groups (TxTable.merge's file-granular contract).  DECIMAL
    accumulation makes the incrementally maintained state EXACTLY
    equal a from-scratch recompute — ``incremental_exact`` is that
    comparison, computed row-by-row against mv_aggregate() of the
    final base snapshot, and the oracle recomputes the same aggregate
    from raw orders (append ∪ init, minus deletes, with the merge's
    doubled prices).  mv_versions pins that each of the three
    refreshes committed exactly one MV version."""
    from ..sources import matview as mvx
    from ..sources.txtable import TxTable

    orders = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    g = ["o_orderpriority"]
    measures = {"revenue": "o_totalprice", "n_orders": "1"}
    base = TxTable(spark, scratch.dir + "/base")
    mv = TxTable(spark, scratch.dir + "/mv")
    v1 = base.init(orders.filter(k % 3 != 0).repartition(4))
    mvx.mv_init(mv, base.snapshot(), g, measures)
    v2 = base.append(orders.filter(k % 3 == 0))
    mvx.mv_refresh(mv, base, g, measures, v1, v2)
    v3 = base.delete(k % 7 == 0)
    mvx.mv_refresh(mv, base, g, measures, v2, v3)
    src = orders.filter((k % 11 == 0) & (k % 7 != 0)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    v4 = base.merge(src, "o_orderkey")
    mvx.mv_refresh(mv, base, g, measures, v3, v4)
    rc = mvx.mv_aggregate(base.snapshot(), g, measures)
    for c in ("revenue", "n_orders", "n_rows"):
        rc = rc.withColumnRenamed(c, f"rc_{c}")
    return (
        mv.snapshot()
        .join(rc, on=g, how="full")
        .select(
            "o_orderpriority",
            # decimal state, double at the boundary (repo-wide
            # convention: checked outputs are double/int — one
            # exact decimal->double cast per engine)
            F.col("revenue").cast("double").alias("revenue"),
            F.col("n_orders").cast("long").alias("n_orders"),
            (
                (F.col("revenue") == F.col("rc_revenue"))
                & (F.col("n_orders") == F.col("rc_n_orders"))
                & (F.col("n_rows") == F.col("rc_n_rows"))
            ).alias("incremental_exact"),
        )
        .withColumn(
            "mv_versions", F.lit(len(mv.versions())).cast("long")
        )
        .orderBy("o_orderpriority")
    )


def t70_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over the corpus token stream
    (operators/sketch.cms_build/cms_estimate — the heavy-hitters
    workhorse: exact per-token counts shuffle the whole vocabulary,
    the sketch shuffles ≤ depth×width counters whatever the
    cardinality, and counters MERGE by sum).  The ten most frequent
    tokens (deterministic count-desc/token-asc pick both engines
    repeat) are estimated from the sketch; ``no_undercount`` pins the
    published one-sided guarantee per token (the Spark side computes
    the real comparison; so does the oracle), and ``merge_exact`` pins
    counter-wise-sum losslessness by comparing the merged half-corpus
    sketches to the full one, counter for counter.  The oracle
    replays tokenize → salted-md5 addressing → counters → min-lookup
    relationally."""
    from ..operators import sketch as sk

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tx.tokens(F.col("text"))).alias("token"))
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    top = exact.orderBy(F.desc("exact_n"), F.asc("token")).limit(10)
    cms = sk.cms_build(toks, ["token"]).localCheckpoint(eager=True)
    halves = [
        sk.cms_build(
            docs.filter(F.col("doc_id") % 2 == i).select(
                F.explode(tx.tokens(F.col("text"))).alias("token")
            ),
            ["token"],
        )
        for i in (0, 1)
    ]
    merged = sk.cms_merge(*halves)
    same = (
        merged.exceptAll(cms).count() == 0
        and cms.exceptAll(merged).count() == 0
    )
    est = sk.cms_estimate(cms, top.select("token"), ["token"])
    return (
        top.join(est, "token")
        .select(
            "token",
            "exact_n",
            F.col("cms_count").alias("cms_n"),
            (F.col("cms_count") >= F.col("exact_n")).alias("no_undercount"),
            F.lit(same).alias("merge_exact"),
        )
        .orderBy("token")
    )


def t70b_cms_heavy_hitter_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter ENUMERATION over the Count-Min sketch
    (operators/sketch.cms_heavy_hitters — VERDICT r6 ask #5: t70's
    point estimates answer keys the caller supplies; the operator a
    100 TB user reaches for needs the candidate SET, without an exact
    global groupBy).  A skewed stream is planted on lineitem — key =
    l_partkey % 1000, keys divisible by 50 replicated ×9 — so the
    'heavy' set is unambiguous at every SF (hot keys carry 9× a normal
    key's mass, the 0.5% threshold sits ~between).  The composition:
    deterministic md5-modulus ROW sample → distinct candidate keys →
    full-data CMS estimates → keep those reaching ceil(0.005·N).  The
    returned set must EQUAL the exact-count heavy set here (width 8192
    keeps the sketch's overcount far from the bar; the md5 sample
    cannot miss a key with hundreds of occurrences), truly_heavy pins
    per-key agreement, and n_missed_true_heavies pins the one-sided
    guarantee (no false negatives past the sampler) as a hard 0.  The
    oracle replays sample, sketch, estimate, and threshold
    relationally."""
    import math

    from ..operators import sketch as sk

    li = table(spark, sf_dir, "lineitem")
    key = (F.col("l_partkey") % 1000).cast("long")
    reps = F.when(
        key % 50 == 0, F.sequence(F.lit(0), F.lit(8))
    ).otherwise(F.sequence(F.lit(0), F.lit(0)))
    stream = li.select(
        key.alias("key"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.explode(reps).alias("rep"),
    ).localCheckpoint()  # one materialization serves count/sketch/sample/exact
    row_id = F.concat_ws("\x1f", "ok", "ln", "rep")
    n = stream.count()
    need = math.ceil(0.005 * n)
    hh = sk.cms_heavy_hitters(
        stream,
        ["key"],
        row_id,
        threshold=0.005,
        sample_mod=8,
        width=8192,
        n_total=n,
    ).localCheckpoint()  # reused by the join and the miss count
    exact = stream.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    true_heavy = exact.filter(F.col("exact_n") >= need)
    n_true = true_heavy.count()
    n_missed = true_heavy.join(hh, "key", "left_anti").count()
    return (
        hh.join(exact, "key")
        .select(
            "key",
            F.col("cms_count").alias("cms_n"),
            "exact_n",
            (F.col("exact_n") >= F.lit(need)).alias("truly_heavy"),
        )
        .withColumn("n_true_heavies", F.lit(n_true).cast("long"))
        .withColumn("n_missed_true_heavies", F.lit(n_missed).cast("long"))
        .orderBy("key")
    )


def t79_grouped_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP heavy-hitter enumeration (operators/sketch.
    cms_heavy_hitters(group_cols=...) — VERDICT r7 ask #5: t70b's
    global bar is the wrong question at 100 TB corpus triage, where
    "top tokens PER SOURCE" / "top domains PER LANGUAGE" needs each
    group judged against its own mass; a global threshold drowns the
    small groups).  The t74 grouped-sketch discipline applied to CMS:
    one scan builds a counter relation per l_returnflag group (state
    ≤ groups × depth × width, addresses hash the key only so the
    per-group sketches sum into the global one), each group gets its
    own md5-sampled candidate set and its own bar ceil(0.01 · N_g)
    with N_g the group's row count.  Skew is planted per key
    (multiples of 40 replicated ×9) so the heavy set is unambiguous
    at every SF and the groups' different sizes force genuinely
    different bars.  truly_heavy pins per-(group, key) agreement with
    exact counts, n_missed_true_heavies pins the per-group one-sided
    guarantee, and the oracle replays sample → grouped sketch →
    estimate → per-group threshold relationally."""
    from ..operators import sketch as sk

    li = table(spark, sf_dir, "lineitem")
    key = (F.col("l_partkey") % 500).cast("long")
    reps = F.when(
        key % 40 == 0, F.sequence(F.lit(0), F.lit(8))
    ).otherwise(F.sequence(F.lit(0), F.lit(0)))
    stream = li.select(
        F.col("l_returnflag").alias("flag"),
        key.alias("key"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.explode(reps).alias("rep"),
    ).localCheckpoint()  # one materialization serves sketch/sample/exact
    row_id = F.concat_ws("\x1f", "ok", "ln", "rep")
    hh = sk.cms_heavy_hitters(
        stream,
        ["key"],
        row_id,
        threshold=0.01,
        sample_mod=4,
        width=8192,
        group_cols=["flag"],
    ).localCheckpoint()  # reused by the join and the miss count
    bars = stream.groupBy("flag").agg(
        F.ceil(F.lit(0.01) * F.count(F.lit(1))).cast("long").alias("need")
    )
    exact = stream.groupBy("flag", "key").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    true_heavy = exact.join(bars, "flag").filter(
        F.col("exact_n") >= F.col("need")
    )
    th_n = true_heavy.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n_true_heavies")
    )
    missed = (
        true_heavy.join(hh, ["flag", "key"], "left_anti")
        .groupBy("flag")
        .agg(F.count(F.lit(1)).cast("long").alias("_miss"))
    )
    return (
        hh.join(exact, ["flag", "key"])
        .join(bars, "flag")
        .join(th_n, "flag")
        .join(missed, "flag", "left")
        .select(
            "flag",
            "key",
            F.col("cms_count").alias("cms_n"),
            "exact_n",
            (F.col("exact_n") >= F.col("need")).alias("truly_heavy"),
            "n_true_heavies",
            F.coalesce(F.col("_miss"), F.lit(0))
            .cast("long")
            .alias("n_missed_true_heavies"),
        )
        .orderBy("flag", "key")
    )


@gate
def t83_commit_invariants(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Commit-time table invariants (TxTable.add_check_constraint /
    add_not_null — VERDICT r8 ask #5): the reference's production DDL
    is constraint-heavy (sql/ddl/create_production_schema.sql:35-88 —
    CHECK price >= 0, NOT NULL keys); this gate reproduces that
    contract at the transactional-table layer, where the engine
    previously expressed it only as post-hoc quality checks.

    The table inits on the doc_id%4==0 band of documents, declares
    CHECK (n_chars >= 0) and NOT NULL(source), takes one clean append
    (%4==1), then REJECTS: an append with negated n_chars, an append
    with NULL source, and a merge carrying a negative row — each
    failing IN the write plan (distributed enforcement, no extra
    pass) and leaving the version log untouched.  A clean merge
    (%4==2 upsert) lands afterwards, proving rejection does not wedge
    the table.  The oracle recomputes the final per-source stats from
    the three clean bands and pins the rejection/intactness booleans;
    per-verb enforcement breadth (overwrite / apply_cdc / streaming
    sink / clone) is pinned in tests/test_txtable.py."""
    import os

    from ..sources.txtable import TxTable

    docs = read_parquet(
        spark, os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "source", "n_chars")
    band = F.col("doc_id") % 4
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(docs.filter(band == 0))
    t.add_check_constraint("n_chars_nonneg", "n_chars >= 0")
    t.add_not_null("source")
    t.append(docs.filter(band == 1))
    v = t.latest_version()

    def rejected(df) -> bool:
        try:
            t.append(df)
            return False
        except PySparkException:
            # the constraint guard raises IN the write plan
            # (raise_error -> SparkRuntimeException); a Python-side
            # exception class would be an engine bug and must
            # surface (VERDICT r11 next #8)
            return True

    violation_rejected = rejected(
        docs.filter(band == 2).withColumn(
            "n_chars", -F.col("n_chars") - 1
        )
    )
    null_rejected = rejected(
        docs.filter(band == 2).withColumn(
            "source", F.lit(None).cast("string")
        )
    )
    merge_rejected = True
    try:
        t.merge(
            # cast matters: a bare int literal would fail the
            # SCHEMA check (ValueError) before the CHECK guard
            # ever ran — the exact wrong-reason pass the pinned
            # except class exposed (VERDICT r11 next #8)
            docs.filter(band == 3).withColumn(
                "n_chars", F.lit(-5).cast("long")
            ),
            on="doc_id",
        )
        merge_rejected = False
    except PySparkException:
        # expected: the CHECK guard fires inside the merge's write
        # plan; anything else re-raises (VERDICT r11 next #8 — a
        # bare except here would downgrade an engine bug to a
        # hash mismatch)
        pass
    log_intact = t.latest_version() == v
    t.merge(docs.filter(band == 2), on="doc_id")  # clean upsert

    return (
        t.snapshot()
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
        )
        .select(
            "*",
            F.lit(violation_rejected).alias("violation_rejected"),
            F.lit(null_rejected).alias("null_rejected"),
            F.lit(merge_rejected).alias("merge_rejected"),
            F.lit(log_intact).alias("log_intact"),
        )
        .orderBy("source")
    )


@gate
def t81_type_widening(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Metadata-only TYPE WIDENING on the transactional table
    (sources/txtable.TxTable.widen_column — the third schema-evolution
    verb after t72's ADD and t78's RENAME/DROP, completing the
    contract Delta documents): the narrow half of lineitem lands as
    (int key, smallint qty, float price), all three columns widen to
    (bigint, int, double) as O(1) commits (``files_untouched`` pins
    the three widen manifests carrying byte-identical entries — the
    old footers read through the wider scan schema, the probed
    SPARK-40876 parquet promotion), then the odd half appends WITH the
    widened schema carrying values that NEED the width (keys past
    2^33, quantities past smallint), and a row-level DELETE rewrites
    across the mixed narrow/wide footers.  Time travel still serves
    the narrow types (``tt_qty_type`` reads version 1's actual dtype)
    and the pre-widen row count.  Appended prices are float-rounded
    before the double cast so the decimal-exact sum stays tie-free in
    both engines (the t65 float32 discipline).  The oracle rebuilds
    the final state from raw lineitem."""
    from ..functions.exprs import dsum
    from ..sources.txtable import TxTable

    li = table(spark, sf_dir, "lineitem")
    ok = F.col("l_orderkey")
    t = TxTable(spark, scratch.dir + "/li")
    t.init(
        li.filter(ok % 2 == 0).select(
            ok.cast("int").alias("key"),
            F.col("l_quantity").cast("smallint").alias("qty"),
            F.col("l_extendedprice").cast("float").alias("price"),
            F.col("l_returnflag").alias("flag"),
        )
    )
    t.widen_column("key", "bigint")                 # v2, O(1)
    t.widen_column("qty", "int")                    # v3, O(1)
    t.widen_column("price", "double")               # v4, O(1)
    e1 = t.manifest(1)["files"]  # FULL entries: paths + stats + part
    untouched = all(
        e1 == t.manifest(v)["files"] for v in (2, 3, 4)
    )
    tt_qty_type = dict(t.snapshot(version=1).dtypes)["qty"]
    tt_n = t.snapshot(version=1).count()
    t.append(                                       # v5: needs width
        li.filter(ok % 2 == 1).select(
            (ok + F.lit(10_000_000_000)).alias("key"),
            (F.col("l_quantity") + 100_000).cast("int").alias("qty"),
            F.col("l_extendedprice")
            .cast("float")
            .cast("double")
            .alias("price"),
            F.col("l_returnflag").alias("flag"),
        )
    )
    t.delete(F.col("key") % 7 == 0)                 # v6: mixed footers
    return (
        t.snapshot()
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("qty").cast("long").alias("sum_qty"),
            F.sum("key").cast("long").alias("sum_key"),
            dsum(F.col("price"), "decimal(28,12)")
            .cast("double")
            .alias("sum_price"),
        )
        .withColumn("files_untouched", F.lit(untouched))
        .withColumn("widen_op", F.lit(t.history()[2]["op"]))
        .withColumn(
            "n_versions", F.lit(len(t.versions())).cast("long")
        )
        .withColumn("tt_qty_type", F.lit(tt_qty_type))
        .withColumn("tt_n", F.lit(tt_n).cast("long"))
        .orderBy("flag")
    )


# t80 gate geometry — shared with the oracle builder (oracles._t80_oracle)
PQ_GATE_M = 16
PQ_GATE_KSUB = 16
PQ_GATE_ITERS = 1
PQ_GATE_TRAIN_MOD = 2
PQ_GATE_K = 3
PQ_GATE_REFINE = 20


def t80_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization for the ANN stack (operators/quantize.
    pq_train/pq_encode/knn_pq — VERDICT r7 ask #6: SQ8's 8× is the
    floor; PQ's 4-bit codes are the ~32× that makes billion-vector
    corpora cache-resident).  The full published pipeline (Jégou,
    Douze, Schmid 2011) runs end to end: 16 per-sub-space codebooks
    train in ONE DataFrame flow on the md5-modulus HALF of the corpus
    (the t44b sampled-training discipline), every vector encodes to
    16 4-bit codes, each query precomputes one 16×16 ADC lookup
    table, candidates are scored by code lookups in fixed sub-space
    fold order, and the ADC top-20 shortlist is exactly re-ranked to
    the top-3 (the FAISS refine step — floats touched for 20 rows per
    query only).  Every float op is a fixed-order fold or single IEEE
    op, so the oracle unrolls codebook training (hash-sampled per-sub
    seeds, one L2 k-means pass with decimal-exact means), encoding,
    ADC, and the refine bit-for-bit.  recall@10 ≥ 0.85 vs exact kNN
    is pinned in pytest (test_quantize)."""
    from ..operators import quantize as qz

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    books = qz.pq_train(
        emb,
        m=PQ_GATE_M,
        ksub=PQ_GATE_KSUB,
        iters=PQ_GATE_ITERS,
        train_mod=PQ_GATE_TRAIN_MOD,
    )
    out = qz.knn_pq(
        queries,
        emb,
        books,
        k=PQ_GATE_K,
        m=PQ_GATE_M,
        refine=PQ_GATE_REFINE,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        "pq_cosine",
    ).orderBy("query_id", "rank")


#: t82 metadata predicate: the "source band" filter (vec_id % 5 == 2)
T82_FILTER_MOD = 5
T82_FILTER_BAND = 2


def t82_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered approximate nearest neighbor (operators/quantize.
    knn_pq_lsh(candidate_filter=, refine=) — VERDICT r8 ask #4):
    retrieval users almost always constrain by metadata (source, lang,
    date) FIRST, and the filter must land before the bucket join —
    filtering ranked output instead silently under-fills k whenever
    matches rank past it.  The gate searches the % 10 == 0 query set
    against ONLY the vec_id % 5 == 2 candidate band: codebooks train
    on the full corpus (t80's geometry pins), the band is encoded and
    SRP-bucketed, the bucket shortlist (reconstruction cosine ==
    the ADC score by linearity) is exactly re-ranked to the top-3.
    The oracle replays filter -> encode -> bucket -> score -> refine
    bit-for-bit; tests/test_plan_quality.py pins the filter below the
    bucket join in the physical plan, and test_quantize pins the
    recall@k contract under filtering."""
    from ..operators import quantize as qz

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    books = qz.pq_train(
        emb,
        m=PQ_GATE_M,
        ksub=PQ_GATE_KSUB,
        iters=PQ_GATE_ITERS,
        train_mod=PQ_GATE_TRAIN_MOD,
    )
    out = qz.knn_pq_lsh(
        queries,
        emb,
        books,
        k=PQ_GATE_K,
        m=PQ_GATE_M,
        n_planes=4,
        candidate_filter=(
            F.col("vec_id") % T82_FILTER_MOD == T82_FILTER_BAND
        ),
        refine=PQ_GATE_REFINE,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        "pq_cosine",
    ).orderBy("query_id", "rank")


@gate
def t73_zordered_compaction(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Z-ordered compaction INSIDE the transactional table
    (TxTable.compact(zorder_by=...) → operators/zorder.zorder_frame —
    VERDICT r6 ask #6: the repo had the layout primitive and the
    multi-column stats skipping but no bridge).  Orders land
    hash-scattered across 8 files, so every file spans both dimensions
    and a conjunctive (low-key × low-price) range read must scan all 8
    — pinned by files_scanned_before.  One Z-ordered compact commit
    later the same manifest-stats prune scans strictly fewer files
    (pruning_improved; the exact count depends on the range
    partitioner's sampled boundaries, so only the strict inequality is
    pinned) while the pruned-then-filtered read stays COMPLETE: the
    per-priority aggregate is recomputed by the oracle from raw orders.
    time-travel intact: the pre-compact version remains readable
    (n_versions = 2)."""
    from ..sources.txtable import TxTable

    orders = table(spark, sf_dir, "orders")
    kmax = orders.agg(F.max("o_orderkey")).first()[0]
    conds = [
        ("o_orderkey", 0, kmax // 4),
        ("o_totalprice", 0.0, 100000.0),
    ]
    t = TxTable(
        spark,
        scratch.dir + "/orders",
        stats_col=["o_orderkey", "o_totalprice"],
    )
    t.init(orders.repartition(8))
    s_before, total_before = t.prune_counts(conds)
    t.compact(8, zorder_by=["o_orderkey", "o_totalprice"])
    s_after, total_after = t.prune_counts(conds)
    snap = t.snapshot(prune=conds).filter(
        F.col("o_orderkey").between(0, kmax // 4)
        & F.col("o_totalprice").between(0.0, 100000.0)
    )
    return (
        snap.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("revenue"),
        )
        .withColumn(
            "files_scanned_before", F.lit(s_before).cast("long")
        )
        .withColumn("files_total", F.lit(total_before).cast("long"))
        .withColumn(
            "pruning_improved", F.lit(s_after < s_before)
        )
        .withColumn(
            "n_versions", F.lit(len(t.versions())).cast("long")
        )
        .orderBy("o_orderpriority")
    )


@gate
def t72_schema_evolution(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Metadata-only ADD COLUMN on the transactional table
    (sources/txtable.TxTable.add_columns — the O(1) schema evolution a
    100 TB table demands: the commit rewrites NOTHING, and rows
    written before the change read back NULL in the new column by
    parquet schema-on-read).  Half the corpus is written, ``quality``
    is added as a metadata commit, the other half appends WITH the
    evolved schema; the per-language aggregate pins that exactly the
    pre-evolution rows are NULL and the post-evolution values
    survive, while the literals pin the lifecycle: the evolution
    version carries byte-identical file entries (files_untouched),
    three versions, op 'add_columns'.  The oracle rebuilds the final
    table relationally from raw documents."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(docs.filter(did % 2 == 0))
    t.add_columns({"quality": "double"})
    e1 = [e["path"] for e in t.manifest(1)["files"]]
    e2 = [e["path"] for e in t.manifest(2)["files"]]
    t.append(
        docs.filter(did % 2 == 1).withColumn(
            "quality", (did % 97).cast("double")
        )
    )
    return (
        t.snapshot()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("quality").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_null_quality"),
            F.coalesce(F.sum("quality"), F.lit(0.0))
            .cast("long")
            .alias("sum_quality"),
        )
        .withColumn("files_untouched", F.lit(e1 == e2))
        .withColumn("n_versions", F.lit(len(t.versions())).cast("long"))
        .withColumn("evolution_op", F.lit(t.history()[1]["op"]))
        .orderBy("lang")
    )


def t54_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Any-alignment duplicate-passage detection
    (operators/dedup.duplicate_spans): stride-1 16-token windows hashed
    corpus-wide; spans in >1 distinct document surface with document and
    occurrence counts.  Complements t41 (aligned fixed segments): a
    passage copied mid-document is invisible to segment hashing but has
    every one of its windows here.  The oracle replays the stride-1
    windowing with list arithmetic."""
    docs = table(spark, sf_dir, "documents")
    return (
        dd.duplicate_spans(docs, "doc_id", "text", span_tokens=16, max_docs=1)
        .orderBy("span_md5")
    )


# Deterministic HTML wrapper planted around doc_id % 3 == 0 documents
# (t47/t32's planting discipline: pure string arithmetic both engines
# rebuild identically).  Shared with the t58 oracle.
HTML_PLANT_PRE = (
    '<html><head><style>p{color:red}</style></head>'
    '<body><h1>Doc '
)
HTML_PLANT_MID = '</h1><p class="x">'
HTML_PLANT_POST = (
    "</p><script>var n=1;</script>&amp; &lt;tail&gt;</body></html>"
)


def t58_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-to-text extraction (operators/text.strip_html) — the step
    every web-corpus recipe (C4, CCNet, RefinedWeb) runs before any
    quality filter: script/style blocks dropped WITH their contents,
    remaining tags stripped keeping inner text, common entities decoded
    (&amp; last — the double-unescape guard), whitespace collapsed.
    The corpus has no HTML, so a deterministic wrapper is planted on
    doc_id % 3 == 0 documents; the gate hashes the cleaned text, so one
    leaked tag, a swallowed text span, or a mis-decoded entity fails
    the row.  Map-side regexp chain — scan speed at any scale."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.when(
        did % 3 == 0,
        F.concat(
            F.lit(HTML_PLANT_PRE),
            did.cast("string"),
            F.lit(HTML_PLANT_MID),
            F.col("text"),
            F.lit(HTML_PLANT_POST),
        ),
    ).otherwise(F.col("text"))
    clean = tx.strip_html(aug)
    return (
        docs.select(
            "doc_id",
            tx.html_tag_count(aug).cast("long").alias("n_tags"),
            F.md5(clean).alias("clean_md5"),
            (clean != F.col("text")).alias("changed"),
        )
        .orderBy("doc_id")
    )


# Planted card strings (t59): a Luhn-VALID industry test number and a
# one-digit-off lookalike that the bare regex still matches — the pair
# that proves checksum validation, not just shape matching.
CARD_PLANT_VALID = " card 4111-1111-1111-1111 ok"
CARD_PLANT_INVALID = " num 4111 1111 1111 1112 end"


def t59_card_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated payment-card PII (operators/curation.card_scan):
    regex finds 16-digit card-shaped candidates, the Luhn formula
    validates them, and ONLY valid matches are redacted — the two-stage
    rule real PII scanners use because shape alone fires on order
    numbers.  A valid test number is planted on doc_id % 4 == 0 and a
    checksum-failing lookalike on doc_id % 6 == 0 (both on % 12), so
    the gate distinguishes candidates from validated matches per
    document; the redacted-text hash fails if the invalid lookalike is
    ever redacted or a valid card survives.  The oracle replays the
    same regex, the same integer Luhn fold, and the same candidate-
    order redaction fold in DuckDB."""
    from ..operators import curation as cu

    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 4 == 0, F.lit(CARD_PLANT_VALID)).otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit(CARD_PLANT_INVALID)).otherwise(F.lit("")),
    )
    return (
        cu.card_scan(
            docs.select("doc_id", aug.alias("text")), "doc_id", "text"
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_candidates",
            "n_valid",
            F.md5(F.col("redacted")).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


# t60 training configuration — shared with the oracle (which unrolls
# exactly CLS_TRAIN_ITERS gradient-descent rounds with these literals).
CLS_TRAIN_ITERS = 3
CLS_TRAIN_LR = 1.9
CLS_TRAIN_MARKER = " " + " ".join(["qualmark"] * 12)


def t60_classifier_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ENGINE classifier training — the offline half of the t42/t42b
    scoring story (whose weights 'production swaps for trained ones';
    this is the trainer): least-squares linear model over hashed
    term-frequency features, fitted by 3 full-batch gradient-descent
    rounds (operators/curation.train_linear_classifier).  Labels are a
    planted weak-supervision signal (a marker phrase appended to
    doc_id % 3 == 0 documents), so the gate can require REAL learning:
    with the self-calibrated mean threshold the trained model separates
    the classes perfectly on this corpus (tests assert accuracy 1.0),
    which no untrained weight table does.

    Determinism at any cluster size: per-doc scores fold bucket-ordered
    (never a partition-ordered double sum), per-bucket gradients
    accumulate in DECIMAL, and driver state per round is one
    <= CLS_BUCKETS weight table.  The DuckDB oracle unrolls all 3
    rounds — features, residuals, decimal gradients, IEEE weight
    updates, scoring, and the mean-threshold decision."""
    from ..operators import curation as cu

    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.when(
            did % 3 == 0, F.concat(F.col("text"), F.lit(CLS_TRAIN_MARKER))
        ).otherwise(F.col("text")).alias("text"),
    )
    # one materialization serves training AND scoring (the trainer
    # would otherwise checkpoint privately and the prediction pass
    # would re-run the tokenize/explode lineage from raw text)
    feats = cu.hashed_count_features(aug, "doc_id", "text").localCheckpoint(
        eager=True
    )
    labels = docs.select(
        F.col("doc_id").alias("id"),
        F.when(did % 3 == 0, 1.0).otherwise(0.0).alias("y"),
    ).localCheckpoint(eager=True)
    w = cu.train_linear_classifier(
        feats, labels, iters=CLS_TRAIN_ITERS, lr=CLS_TRAIN_LR,
        checkpoint=False,
    )
    return (
        cu.classifier_predictions(feats, labels, w)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


def t54b_duplicate_spans_prescreened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t54's SCALE path (VERDICT r4 ask #6): winnowing fingerprints
    pick candidate documents first, and the stride-1 explode — the
    ~16× token fan-out — runs only on them
    (operators/dedup.duplicate_spans_prescreened; lossless by the
    winnowing guarantee, see its docstring).  Shares t54's one-stage
    oracle: a green row proves the two-stage answer IS the exact
    answer, spans, doc counts and occurrence counts bit-for-bit."""
    docs = table(spark, sf_dir, "documents")
    return (
        dd.duplicate_spans_prescreened(
            docs, "doc_id", "text", span_tokens=16, max_docs=1
        )
        .orderBy("span_md5")
    )


@gate
def t85_deletion_vectors(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """DELETE via deletion vectors (TxTable.delete_dv — merge-on-read
    DML, the 100-TB shape: a takedown of scattered rows must not
    rewrite the gigabyte files that contain them).  The corpus inits
    as four files, two delete_dv commits hide the %7 then the %11
    bands — the gate RAISES if either commit rewrites or drops a data
    file (pinning that rows changed while the file set did not) — and
    each version's stats plus the change feed's per-commit delete
    count are read back through time travel and table_changes.  The
    oracle replays all three states and both CDF counts from the raw
    corpus.  Vector growth/fold, full-file drops, restore direction,
    clone ownership, vacuum liveness, and the streaming feed are
    pinned in tests/test_txtable.py and tests/test_txstream.py."""
    from ..sources import matview as mvx
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(docs.coalesce(4))
    paths0 = {e["path"] for e in t.manifest()["files"]}
    t.delete_dv((F.col("doc_id") % 7) == 0)
    t.delete_dv((F.col("doc_id") % 11) == 0)
    for v in (2, 3):
        if {e["path"] for e in t.manifest(v)["files"]} != paths0:
            raise AssertionError(
                "delete_dv rewrote or dropped a data file; the "
                "merge-on-read contract requires the file set to "
                "be unchanged here"
            )
    rows = []
    for h in t.history():
        v = h["version"]
        stats = (
            t.snapshot(v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(
                    ((F.col("doc_id") % 7) == 0).cast("long")
                ).cast("long").alias("n_match7"),
                F.sum(
                    ((F.col("doc_id") % 11) == 0).cast("long")
                ).cast("long").alias("n_match11"),
            )
            .collect()[0]
        )
        cdf_deletes = (
            0
            if v == 1
            else mvx.table_changes(t, v - 1, v)
            .filter(F.col("_change_type") == "delete")
            .count()
        )
        rows.append(
            (
                v,
                h["op"],
                stats.n_docs,
                stats.n_match7,
                stats.n_match11,
                cdf_deletes,
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, op string, n_docs long, n_match7 long, "
        "n_match11 long, cdf_deletes long",
    ).orderBy("version")


@gate
def t87_optimize_small(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Small-file OPTIMIZE (TxTable.optimize_small): the nightly
    lakehouse maintenance verb compact() is too blunt for — bin-pack
    ONLY the small-file debt, carry adequately-sized files by
    reference, materialize deletion vectors along the way.

    Lifecycle: one double-band init file (the 'big' file), three
    single-band appends (each ~half its size), a delete_dv that
    vectors ONLY the band-2 file, then optimize_small with the big
    file's size as the target.  Pinned: the big file carries by
    reference (its manifest path survives), the file count strictly
    drops, the vector is materialized (zero dv refs after), the op is
    'optimize', and the version count is exactly init+3 appends+
    delete_dv+optimize = 6.  The final per-source stats are recomputed
    by the oracle from the raw corpus minus the vectored band."""
    from ..sources.txtable import TxTable

    # carry the text payload so file sizes are data-proportional (with
    # only metadata columns, fixed parquet overhead dominates and the
    # big/small size contrast the lifecycle pins on disappears)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    band = F.col("doc_id") % 5
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(docs.filter(band.isin(0, 4)).coalesce(1))
    big_path = t.manifest()["files"][0]["path"]
    big_size = t.fs.size(t._abs(t.manifest()["files"][0]))
    for b in (1, 2, 3):
        t.append(docs.filter(band == b).coalesce(1))
    t.delete_dv(((F.col("doc_id") % 5) == 2) & ((F.col("doc_id") % 9) == 0))
    files_before = len(t.manifest()["files"])
    t.optimize_small(target_bytes=big_size)
    m = t.manifest()
    big_carried = big_path in {e["path"] for e in m["files"]}
    files_reduced = len(m["files"]) < files_before
    vector_materialized = all(not e.get("dv") for e in m["files"])
    return (
        t.snapshot()
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
        .withColumn("big_file_carried", F.lit(big_carried))
        .withColumn("files_reduced", F.lit(files_reduced))
        .withColumn(
            "vector_materialized", F.lit(vector_materialized)
        )
        .withColumn("last_op", F.lit(m["op"]))
        .withColumn(
            "n_versions", F.lit(len(t.versions())).cast("long")
        )
        .orderBy("source")
    )


@gate
def t89_bloom_point_lookup(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Per-file BLOOM INDEX point lookup (TxTable bloom_col — Delta's
    bloom filter index re-expressed as inline manifest metadata): the
    corpus lands hash-scattered across 8 files, so every file's
    [min, max] doc_id range covers every probe and min/max skipping is
    POWERLESS (files_scanned_range pins the full 8).  The per-file
    filters built at stage time (bit positions = Spark's own
    xxhash64(i, col), shared by build and probe) cut the same lookup
    to a handful of files — bloom_pruned_fewer pins the strict
    improvement, absent_pruned pins that a key the table never held
    prunes below the total too.  The probed row itself is recomputed
    by the oracle; bloom pruning is a file-set reduction, so the
    result is exact regardless of false positives."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    # probe = the largest doc_id in the LOWER half of the key range: an
    # existing key strictly inside every hash-scattered file's
    # [min, max] (probing the global max would let range skipping win
    # trivially and prove nothing about the bloom)
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    probe = (
        docs.filter(F.col("doc_id") <= (lo + hi) // 2)
        .agg(F.max("doc_id"))
        .first()[0]
    )
    t = TxTable(
        spark,
        scratch.dir + "/docs",
        stats_col="doc_id",
        bloom_col="doc_id",
    )
    t.init(docs.repartition(8))
    s_range, total = t.prune_counts_eq(
        [("doc_id", probe)], bloom=False
    )
    s_bloom, _ = t.prune_counts_eq([("doc_id", probe)])
    s_absent, _ = t.prune_counts_eq([("doc_id", probe + 987654321)])
    return (
        t.snapshot(prune_eq=[("doc_id", probe)])
        .filter(F.col("doc_id") == probe)
        .select("doc_id", "source", "n_chars")
        .withColumn(
            "files_scanned_range", F.lit(s_range).cast("long")
        )
        .withColumn("files_total", F.lit(total).cast("long"))
        .withColumn("bloom_pruned_fewer", F.lit(s_bloom < s_range))
        .withColumn("absent_pruned", F.lit(s_absent < total))
    )


@gate
def t90_analyze_stats(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """ANALYZE TABLE statistics (TxTable.analyze): row count, per-column
    null counts, min/max, and HLL-approximate NDV land in the manifest
    as a metadata-only commit and ride every later commit forward with
    their computed_at version.  The gate analyzes at v1 (p=4, md5 —
    the engine-portable sketch the oracle can replay), appends WITHOUT
    re-analyzing, and returns the carried stats: computed_at stays 1
    while the head moves to 3, pinning the staleness contract.  The
    oracle recomputes every number from the raw table — nulls/min/max
    exactly, the NDV by replaying the whole register pipeline in SQL
    (the t67 discipline)."""
    from ..sources.txtable import TxTable

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate")
    t = TxTable(spark, scratch.dir + "/li")
    t.init(li)
    t.analyze(columns=["l_partkey", "l_shipdate"], p=4, hash="md5")
    t.append(li.withColumn("l_partkey", F.col("l_partkey") + 10_000_000))
    st = t.table_stats()
    rows = [
        (
            c,
            st["n_rows"],
            cs["nulls"],
            float(cs["ndv"]),
            cs["min"],
            cs["max"],
            st["computed_at"],
            t.latest_version(),
        )
        for c, cs in sorted(st["columns"].items())
    ]
    return spark.createDataFrame(
        rows,
        "col_name string, n_rows long, n_nulls long, ndv double, "
        "min_val string, max_val string, computed_at long, "
        "head_version long",
    ).orderBy("col_name")


@gate
def t91_generated_columns(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """GENERATED COLUMNS (TxTable init(generated=...) — Delta's
    ``GENERATED ALWAYS AS``), in their canonical role: time-partitioning
    a fact table by a derived key.  The events table is declared with
    ``event_month = date_format(ts, 'yyyy-MM')`` as its partition
    column; writers append RAW events (no month column) and the engine
    derives layout and value, while a writer that provides the column
    with a wrong value is rejected IN the write plan (pinned).  The
    gate also pins that every manifest entry's partition value is a
    real yyyy-MM token.  Per-month stats are recomputed by the oracle
    from raw events with the strftime twin."""
    from ..sources.txtable import TxTable

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    t = TxTable(spark, scratch.dir + "/events")
    t.init(
        ev.filter(F.col("event_id") % 2 == 0),
        partition_by="event_month",
        generated={"event_month": "date_format(ts, 'yyyy-MM')"},
    )
    t.append(ev.filter(F.col("event_id") % 2 == 1))
    bad_rejected = False
    try:
        t.append(
            ev.filter(F.col("event_id") <= 10)
            .withColumn("event_id", F.col("event_id") + 10_000_000)
            .withColumn("event_month", F.lit("1999-01"))
        )
    except Exception:  # noqa: BLE001 — the loud plan_guard rejection
        bad_rejected = True
    import re as _re

    month_layout = all(
        e.get("part") and _re.fullmatch(r"\d{4}-\d{2}", e["part"])
        for e in t.manifest()["files"]
    )
    return (
        t.snapshot()
        .groupBy("event_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            r2(dsum(F.col("value"))).alias("total_value"),
        )
        .withColumn("bad_month_rejected", F.lit(bad_rejected))
        .withColumn("partitioned_by_month", F.lit(month_layout))
        .orderBy("event_month")
    )


@gate
def t92_quarantine_append(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Expectation-GATED ingest (TxTable.append_quarantine — the
    'expect or quarantine' pattern): a constraint-bearing table
    (CHECK n_chars >= 0, NOT NULL source) receives one mixed batch in
    which the %3==1 band carries negated n_chars and the %3==2 band
    carries NULL source; clean rows land in the table, each violating
    row lands in the quarantine table tagged with the constraint it
    failed, and NOTHING raises — the operational contract that one bad
    upstream row must neither poison a 100 TB table nor halt its feed.
    The oracle recomputes both destinations from the band predicates,
    including the per-constraint _violated tag."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    band = F.col("doc_id") % 3
    mixed = docs.withColumn(
        "n_chars",
        F.when(band == 1, -F.col("n_chars") - 1).otherwise(
            F.col("n_chars")
        ),
    ).withColumn(
        "source",
        F.when(band == 2, F.lit(None).cast("string")).otherwise(
            F.col("source")
        ),
    )
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(docs.limit(0))
    t.add_check_constraint("n_chars_nonneg", "n_chars >= 0")
    t.add_not_null("source")
    q = TxTable(spark, scratch.dir + "/quarantine")
    t.append_quarantine(mixed, q)
    main = (
        t.snapshot()
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
        .withColumn("dest", F.lit("main"))
        .withColumn("_violated", F.lit(""))
    )
    quar = (
        q.snapshot()
        .groupBy("_violated")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
        .withColumn("dest", F.lit("quarantine"))
    )
    return (
        main.unionByName(quar)
        .select("dest", "_violated", "n_rows", "sum_doc_id")
        .orderBy("dest", "_violated")
    )

@gate
def t93_log_checkpointing(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Manifest-log CHECKPOINTING (TxTable format v2 — VERDICT r9 next
    #1): commits write O(changed-files) delta JSON plus a columnar
    sidecar of added entries, and every checkpoint_interval-th commit
    materializes the full state as a parquet checkpoint, so commit
    bytes and snapshot resolve time stay flat as the table grows.

    Lifecycle (interval=3): init two files / append / CHECK constraint
    (v3 = checkpoint) / delete_dv (in-place entry change) / rename
    (metadata-only, column mapping) / compact (v6 = checkpoint) /
    append re-admitting the odd half of the deleted band.  Pinned:
    checkpoints landed at exactly {3,6}; every post-v1 manifest is
    delta-format (no inline file list); and for EVERY version a fresh
    handle's checkpoint-based resolution equals a pure full-log delta
    replay, byte-identical per entry.  Each version's row stats are
    read back through time travel; the oracle replays all seven states
    from the raw corpus."""
    import json as _json

    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    band5 = F.col("doc_id") % 5
    band7 = F.col("doc_id") % 7
    base = scratch.dir
    t = TxTable(spark, base + "/docs", checkpoint_interval=3)
    t.init(docs.filter(band5 != 4).coalesce(2))           # v1
    t.append(docs.filter(band5 == 4).coalesce(1))         # v2
    t.add_check_constraint("doc_id_pos", "doc_id >= 0")   # v3 = cp
    t.delete_dv(band7 == 0)                               # v4
    t.rename_column("n_chars", "len_chars")               # v5
    t.compact(n_files=2)                                  # v6 = cp
    t.append(                                             # v7
        docs.filter((band7 == 0) & (F.col("doc_id") % 2 == 1))
        .withColumnRenamed("n_chars", "len_chars")
        .coalesce(1)
    )
    checkpoints_at = ",".join(
        str(v) for v in t.checkpoint_versions()
    )
    delta_only = all(
        "files" not in t._manifest_raw(v) for v in t.versions()
    )

    def emap(handle: TxTable, v: int, cp: bool) -> dict:
        return {
            TxTable._entry_key(e): _json.dumps(e, sort_keys=True)
            for e in handle._resolve_entries(v, use_checkpoints=cp)
        }

    fresh = TxTable(spark, base + "/docs", checkpoint_interval=3)
    replay_equal = all(
        emap(fresh, v, True)
        == emap(TxTable(spark, base + "/docs"), v, False)
        for v in t.versions()
    )
    rows = []
    for h in t.history():
        v = h["version"]
        st = (
            t.snapshot(v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("doc_id").cast("long").alias("s"),
            )
            .collect()[0]
        )
        rows.append((v, h["op"], st.n, st.s))
    return (
        spark.createDataFrame(
            rows, "version long, op string, n_docs long, sum_doc_id long"
        )
        .withColumn("checkpoints_at", F.lit(checkpoints_at))
        .withColumn("delta_only", F.lit(delta_only))
        .withColumn("replay_equal", F.lit(replay_equal))
        .orderBy("version")
    )

def t95_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 FUZZY JOIN (operators/dedup.fuzzy_join_k1 — the
    SymSpell deletion-neighborhood band join + levenshtein verify,
    never an all-pairs scan): near-identical keys across two relations
    are the classic training-data near-dup (retouched titles, URL
    variants).  The synthetic corpus has no natural near-misses, so
    the gate INJECTS them deterministically: the right side is the %7
    band's 24-char normalized prefix with its third character deleted;
    the operator must find exactly those pairs plus any natural
    prefix collisions — the oracle proves completeness with the
    brute-force levenshtein cross join DuckDB can afford at gate
    scale."""
    from ..operators.dedup import fuzzy_join_k1
    from ..operators.text import norm_text

    docs = table(spark, sf_dir, "documents")
    key = F.substring(norm_text(F.col("text")), 1, 24)
    orig = docs.select(F.col("doc_id").alias("id_a"), key.alias("k"))
    # delete the 3rd character: concat(key[1:2], key[4:])
    pert = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("id_b"),
        F.concat(
            F.substring(key, 1, 2),
            key.substr(F.lit(4), F.length(key)),
        ).alias("k"),
    )
    return (
        fuzzy_join_k1(orig, pert, "k", "id_a", "id_b")
        .select("id_a", "id_b", "key_a", "key_b", "dist")
        .orderBy("id_a", "id_b")
    )

@gate
def t96_merge_schema_evolution(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """MERGE with SCHEMA EVOLUTION (TxTable.merge(evolve_schema=True)
    — Delta's withSchemaEvolution): a CDC feed that grew a ``tag``
    field merges into a table that never had it; the new column lands
    WITHIN the merge commit itself (atomic, ADVICE r10 — a failed
    merge leaves no schema trace), untouched files NULL-backfill it by
    schema-on-read, matched rows carry the source's values, and the
    %10 band delete-flags away.  Pinned: exactly TWO versions (init,
    merge) and the op names; the oracle rebuilds the final state —
    per-tag stats with the NULL group = rows the feed never touched —
    from the raw corpus."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    feed = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
        F.concat(
            F.lit("t"), (F.col("doc_id") % 3).cast("string")
        ).alias("tag"),
        (F.col("doc_id") % 10 == 0).alias("dead"),
    )
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(docs.coalesce(4))
    t.merge(feed, on="doc_id", delete_col="dead", evolve_schema=True)
    ops = ",".join(h["op"] for h in t.history())
    return (
        t.snapshot()
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
        )
        .withColumn("ops", F.lit(ops))
        .orderBy("tag")
    )

@gate
def t97_copy_into(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Idempotent directory ingest (TxTable.copy_into — the COPY INTO
    verb): a landing zone receives three band files, copy_into loads
    them; two more land, the second call loads ONLY those (its return
    pins the count); a third call is a commit-free no-op.  File-level
    memory lives in each copy_into commit's own manifest, so the
    resumable-backfill contract needs no side state.  The oracle
    rebuilds the final per-source stats from the raw corpus and pins
    the ingest arithmetic."""
    import os

    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    band = F.col("doc_id") % 5
    land = os.path.join(scratch.dir, "landing")
    for b in (0, 1, 2):
        docs.filter(band == b).coalesce(1).write.parquet(
            os.path.join(land, f"band{b}.parquet")
        )
    t = TxTable(spark, scratch.dir + "/docs")
    t.init(docs.limit(0))
    v1, first = t.copy_into(land, "band*.parquet")
    for b in (3, 4):
        docs.filter(band == b).coalesce(1).write.parquet(
            os.path.join(land, f"band{b}.parquet")
        )
    v2, second = t.copy_into(land, "band*.parquet")
    v3, third = t.copy_into(land, "band*.parquet")
    return (
        t.snapshot()
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
        .withColumn(
            "first_ingested", F.lit(len(first)).cast("long")
        )
        .withColumn(
            "second_ingested", F.lit(len(second)).cast("long")
        )
        .withColumn(
            "third_noop", F.lit(v3 is None and third == [])
        )
        .withColumn(
            "ops",
            F.lit(",".join(h["op"] for h in t.history())),
        )
        .orderBy("source")
    )


@gate
def t98_concurrent_writers(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Op-aware commit CONFLICT RESOLUTION (TxTable._commit_loop —
    VERDICT r10 next #1): disjoint data commits REBASE onto the new
    head instead of blanket re-stage-and-retry, so concurrent writers
    whose file sets don't overlap land without serializing behind each
    other.  Three deterministic races are injected between a victim
    writer's plan execution and its commit attempt:

    1. append racing append — both land, loser rebases;
    2. full compact racing a blind append — the compact lands without
       re-reading or re-staging (the r10 starvation case);
    3. delete_dv racing a blind append of predicate-MATCHING rows —
       the vector rebases and the delete serializes logically BEFORE
       the append (WriteSerializable, Delta's default isolation), so
       the appended rows survive.

    Each race's single-staging is pinned as a boolean column; the
    oracle recomputes the serialized final state from the raw corpus
    with the same set algebra."""
    from ..sources.txtable import TxTable

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    band = F.col("doc_id") % 4
    seven = F.col("doc_id") % 7

    def race(victim: TxTable, action, method: str = "_stage"):
        """Run ``action()`` once right after the victim's first staging
        — after its plan executed, before its commit attempt — and
        count stagings: 1 staging under a conflict proves the rebase
        path (the plan never re-ran)."""
        orig = getattr(victim, method)
        state = {"stages": 0, "fired": False}

        def wrapper(*args, **kw):
            out = orig(*args, **kw)
            state["stages"] += 1
            if not state["fired"]:
                state["fired"] = True
                action()
            return out

        setattr(victim, method, wrapper)
        return state

    path = scratch.dir + "/docs"
    a, b = TxTable(spark, path), TxTable(spark, path)
    a.init(docs.filter(band == 0).coalesce(2))               # v1
    s1 = race(b, lambda: a.append(docs.filter(band == 2).coalesce(1)))
    b.append(docs.filter(band == 1).coalesce(1))             # v2+v3
    b._stage = TxTable._stage.__get__(b)
    s2 = race(b, lambda: a.append(docs.filter(band == 3).coalesce(1)))
    b.compact(2)                                             # v4+v5
    b._stage = TxTable._stage.__get__(b)
    s3 = race(
        b,
        lambda: a.append(
            docs.filter((band == 0) & (seven == 0)).coalesce(1)
        ),
        method="_stage_dv",
    )
    b.delete_dv(seven == 0)                                  # v6+v7
    ops = ",".join(h["op"] for h in a.history())
    return (
        a.snapshot()
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("ops", F.lit(ops))
        .withColumn("append_rebased", F.lit(s1["stages"] == 1))
        .withColumn("compact_rebased", F.lit(s2["stages"] == 1))
        .withColumn("dv_rebased", F.lit(s3["stages"] == 1))
        .orderBy("source")
    )


@gate
def t100_ann_index(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """STANDING ANN retrieval index (VERDICT r11 next #1): AnnIndex —
    the embedding twin of Bm25Index — keeps the SRP band relation
    (t37's persisted index) as ONE incrementally maintained matview of
    a TxTable vector corpus, so a retrieval service absorbs corpus
    commits with refresh() (O(delta x bands) + one MV scan, never a
    re-projection) and serves filtered top-k per query batch.

    Lifecycle: init the corpus on vec_id % 5 != 0; build the index;
    append the % 5 == 0 band; DELETE the % 7 == 3 band (takedowns
    subtract band rows — no rebuild); one refresh() absorbs both
    commits off the change feed.  Queries are the final corpus's
    vec_id % 9 == 1 vectors; scoring is filtered ANN (neighbors
    restricted to label % 2 = 0 BEFORE vector fetch/cosine).  The
    oracle replays the whole thing from the raw embeddings table at
    the final state — same plan-literal hyperplanes, band-OR candidate
    rule, exact-cosine re-rank, and top-5 tie-break — so
    maintained-index scoring == full recompute is exactly what the
    driver's hash check proves (the t99 proof shape).
    ``index_matches_recompute`` additionally pins the maintained band
    relation bit-identical to a from-scratch banding of the final
    snapshot."""
    from ..sources.matview import mv_aggregate
    from ..sources.txtable import TxTable

    emb = table(spark, sf_dir, "embeddings")
    corpus = TxTable(spark, scratch.dir + "/corpus")
    corpus.init(emb.filter(F.col("vec_id") % 5 != 0).coalesce(2))
    idx = sim.AnnIndex(corpus, scratch.dir + "/idx")
    idx.build()
    corpus.append(emb.filter(F.col("vec_id") % 5 == 0).coalesce(1))
    corpus.delete(F.col("vec_id") % 7 == 3)
    idx.refresh()

    final = corpus.snapshot()
    queries = final.filter(F.col("vec_id") % 9 == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = idx.score(queries, k=5, where="label % 2 = 0").select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        "cosine_sim",
    )
    # maintained band MV == from-scratch banding of the final
    # snapshot (the index-vs-recompute pin, t99 style)
    maintained = idx.bands_mv.snapshot().select(
        "id", "band", "key", F.col("n_rows").cast("long").alias("n")
    )
    fresh = mv_aggregate(
        idx._band_rows(final), idx._G, idx._M
    ).select(
        "id", "band", "key", F.col("n_rows").cast("long").alias("n")
    )
    same = (
        maintained.exceptAll(fresh).isEmpty()
        and fresh.exceptAll(maintained).isEmpty()
    )
    return (
        top.withColumn("index_matches_recompute", F.lit(same))
        .orderBy("query_id", "rank")
    )
