"""Scale-pattern showcase queries beyond the reference surface:

    q17 hierarchical rollup    (GROUP BY ROLLUP — multi-level aggregates
                                in one pass instead of N passes)
    q18 salted aggregation     (two-stage skew-safe agg over hot keys —
                                result provably identical to the naive
                                groupBy, which is what the oracle checks)
    t10 token frequencies      (corpus vocabulary stats: explode → agg,
                                the building block under TF-IDF/BM25)

Each has an exact DuckDB oracle; q18's oracle is intentionally the
*naive* single-stage SQL — the test is that salting changes the plan,
never the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.exprs import dsum, mean2, quant, r2
from ..operators.text import tokens
from ._gate import Scratch, gate

SALT_BUCKETS = 16


def q17_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region → nation → grand-total revenue in one ROLLUP pass."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.rollup("r_name", "n_name")
        .agg(
            r2(dsum(rev)).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "total_revenue",
            "n_lineitems",
        )
        .orderBy("region", "nation")
    )


def q18_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the (5-key, heavily skewed)
    event_type dimension.

    Stage 1 groups on (event_type, salt) — the hot key fans out across
    SALT_BUCKETS reducers; stage 2 merges the partials.  Decimal partial
    sums make the merge exact, so the result is bit-identical to the
    naive single-stage aggregate (the oracle).  At 100 TB this is the
    pattern for any aggregation whose key histogram has a heavy head and
    whose skew AQE cannot fix (e.g. pre-AQE Spark, or stateful streaming).
    """
    events = table(spark, sf_dir, "events")
    salted = events.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        dsum(F.col("value")).alias("_v"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("_n").alias("n_events"),
            r2(F.sum("_v")).alias("total_value"),
            r2(F.sum("_v").cast("double") / F.sum("_n")).alias("avg_value"),
        )
        .orderBy("event_type")
    )


def t10_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: term frequency, document frequency, and a
    rational rarity weight tf·N/df (no log — libm log is not
    bit-portable across engines; the rational weight ranks identically)."""
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return (
        agg.crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "tf",
            "df",
            quant(F.col("tf").cast("double") * F.col("n_docs") / F.col("df"), 6).alias(
                "weight"
            ),
        )
        .orderBy(F.desc("tf"), "token")
        .limit(100)
    )


def q19_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: events.props is a JSON string;
    extract $.k (get_json_object — JVM-side, no Python), aggregate per
    event type.  The pattern for event-property pipelines where the
    payload schema is open-ended."""
    events = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("null_props"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


# fixed search terms: a mix of frequent and rare corpus vocabulary
SEARCH_TERMS = ("spark", "shuffle", "vector", "stream", "window")


def t11_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search with rarity-weighted ranking (the BM25-shaped
    building block): score(doc) = Σ_t tf(t,doc) · N/df(t) over matched
    query terms; top 20 docs.

    Plan shape at scale: tokens explode once, the tiny term list is a
    broadcast semi-filter, df stats join back on term — no all-pairs work.
    """
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = spark.createDataFrame([(t,) for t in SEARCH_TERMS], ["token"])
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token")).join(
        F.broadcast(terms), "token"
    )
    df_stats = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.join(F.broadcast(df_stats), "token")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("tf").alias("total_tf"),
            quant(
                F.sum(F.col("tf").cast("double") * F.col("n_docs") / F.col("df")), 6
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(20)


def q20_orders_without_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join as a row-producing operator (J4's shape, the incremental
    load primitive): orders with no line items, listed not just counted.
    left_anti never builds the right side's payload — at 100 TB the probe
    side streams against a broadcast/partitioned key set."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        orders.join(li.select("l_orderkey"), orders.o_orderkey == F.col("l_orderkey"), "left_anti")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            r2(F.col("o_totalprice")).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


PIVOT_PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
]


def q21_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab): order counts per year x priority.  The pivot
    value list is fixed, so the output schema is static — the only safe
    way to pivot at scale (a dynamic pivot needs a driver-side distinct
    pass first)."""
    orders = table(spark, sf_dir, "orders")
    df = (
        orders.select(
            F.year("o_orderdate").cast("long").alias("order_year"),
            "o_orderpriority",
        )
        .groupBy("order_year")
        .pivot("o_orderpriority", PIVOT_PRIORITIES)
        .count()
    )
    renames = {p: f"n_{p.split('-')[0]}" for p in PIVOT_PRIORITIES}
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    # fill pivot holes with 0 so both engines emit identical ints
    return df.select(
        "order_year",
        *[F.coalesce(F.col(n), F.lit(0)).alias(n) for n in renames.values()],
    ).orderBy("order_year")


def t12_event_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join gate: each event paired with the user's most recent
    order at or before the event time (operators/asof.py — union-sort-
    window, ONE shuffle; the oracle uses DuckDB's native ASOF JOIN).

    The right side is pre-reduced to one row per (key, time) — max
    orderkey wins — so tie-breaking is deterministic in both engines.
    """
    from ..operators.asof import asof_join

    events = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders")
    right = (
        orders.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("asof_orderdate"),
        )
        .agg(F.max("o_orderkey").alias("asof_orderkey"))
    )
    out = asof_join(
        events,
        right,
        on="user_id",
        left_time="ts",
        right_time="asof_orderdate",
        right_values=["asof_orderkey", "asof_orderdate"],
    )
    # Summarize to a month-grained checksum: every as-of pairing feeds
    # sum_orderkey/n_events, so a single wrong match flips the value hash,
    # while the result stays analytics-sized (collect cost is the result,
    # not 100k joined rows).  NULL month = events with no prior order.
    return (
        out.groupBy(F.date_trunc("month", F.col("asof_orderdate")).alias("asof_month"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("asof_orderkey").alias("sum_orderkey"),
        )
        .orderBy("asof_month")
    )


def t13_vocab_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT DISTINCT): vocabulary appearing in
    en-labeled documents but never in any other language's documents."""
    docs = table(spark, sf_dir, "documents")
    toks = lambda f: (  # noqa: E731
        docs.filter(f).select(F.explode(tokens(F.col("text"))).alias("token")).distinct()
    )
    en_only = toks(F.col("lang") == "en").subtract(toks(F.col("lang") != "en"))
    return en_only.orderBy("token")


def t14_event_session_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-join gate: derive per-user session intervals (same lag+cumsum
    logic as q16), then assign every event back to its containing interval
    with the bucketized range join (operators/rangejoin.py) and count
    events per interval.  The oracle derives identical intervals in SQL
    and uses a plain BETWEEN join — bucketing must not change results."""
    from pyspark.sql import Window

    from ..operators.rangejoin import range_join
    from .monitoring import SESSION_GAP_US

    events = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    sessionized = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0).alias("is_start"),
    ).select("user_id", "ts", F.sum("is_start").over(w).alias("session_seq"))
    intervals = sessionized.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"), F.max("ts").alias("session_end")
    ).drop("session_seq")

    assigned = range_join(
        events,
        intervals,
        on="user_id",
        point_time="ts",
        start="session_start",
        end="session_end",
        bucket_width_s=3600,
    )
    per_session = assigned.groupBy("user_id", "session_start", "session_end").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    # Roll the ~1-row-per-session relation up to the session-size
    # distribution: every interval assignment feeds n_sessions/sum_span_us,
    # so a misbucketed event flips the hash, while the result is tiny.
    span_us = F.unix_micros(F.col("session_end")) - F.unix_micros(
        F.col("session_start")
    )
    return (
        per_session.groupBy("n_events")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(span_us).alias("sum_span_us"),
        )
        .orderBy("n_events")
    )


def t15_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only gate (xxhash64 has no DuckDB twin): winnowing rolling-
    hash fingerprint near-dup pairs over the document corpus."""
    from ..operators.dedup import winnow_pairs

    docs = table(spark, sf_dir, "documents")
    return (
        winnow_pairs(docs, "doc_id", "text", k=16, window=8, min_shared=20)
        .orderBy("id_a", "id_b")
    )


def t16_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sampling: modulo-bucket selection (doc_id % 10
    == 0) with per-language acceptance stats.  Unlike rand()-based
    sampling, the sample is stable under any partitioning, cluster size,
    or engine — the property training-data subsets need for lineage."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("doc_id") % 10 == 0, 1).otherwise(0)).alias("n_sampled"),
            F.sum(
                F.when(F.col("doc_id") % 10 == 0, F.col("n_chars")).otherwise(0)
            ).alias("sampled_chars"),
        )
        .orderBy("lang")
    )


def q22_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (p50/p90/p99 of order totals per
    priority): the distribution-analytics aggregate the reference's AVG-only
    suite lacks.

    `percentile()` is Spark's exact variant — it buffers each group's
    values, which is fine for bounded group counts like the 5 priorities
    here but NOT for high-cardinality groups at 100 TB; there the one-line
    swap is `approx_percentile(col, p, accuracy)` (KLL-sketch-backed,
    mergeable, bounded memory), which no longer bit-matches a serial
    oracle.  Outputs are floor-quantized (functions/exprs.quant) because
    linear interpolation on doubles is the one place two engines'
    identical definitions can still round differently."""
    orders = table(spark, sf_dir, "orders")
    pctl = lambda p: quant(  # noqa: E731
        F.expr(f"percentile(o_totalprice, {p})"), 4
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            pctl(0.5).alias("p50"),
            pctl(0.9).alias("p90"),
            pctl(0.99).alias("p99"),
        )
        .orderBy("o_orderpriority")
    )


def q22b_price_percentiles_windowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB scale path for q22: EXACT grouped percentiles with no
    per-group buffering.  percentile() materializes each group's values
    in an ObjectHashAggregate buffer; this variant instead sorts within
    the group once (the window shuffle), computes each value's rank and
    the group size, and reconstructs the type-7 interpolation
    v[lo] + frac·(v[lo+1] − v[lo]) with conditional aggregates over the
    two bracketing ranks.  Memory per task is the sort spill budget, not
    the group size, and the final groupBy reuses the window's hash
    partitioning (no extra exchange — asserted in test_plan_quality).
    Identical numbers to q22, so it shares the oracle."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    wg = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wg).alias("n"),
    )

    def pctl(p: float, name: str):
        pos = 1.0 + (F.col("n") - 1).cast("double") * F.lit(p)
        lo = F.floor(pos).cast("long")
        frac = pos - lo.cast("double")
        lo_val = F.max(F.when(F.col("rn") == lo, F.col("v")))
        hi_val = F.max(
            F.when(F.col("rn") == F.least(lo + 1, F.col("n")), F.col("v"))
        )
        return quant(lo_val + F.max(frac) * (hi_val - lo_val), 4).alias(name)

    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            pctl(0.5, "p50"),
            pctl(0.9, "p90"),
            pctl(0.99, "p99"),
        )
        .orderBy("o_orderpriority")
    )


def t17_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup with engine-portable hashing — the
    oracle-CHECKED MinHash (t8's xxhash64 signatures exist only JVM-side,
    so its gate is rows-only; here every hash is md5-derived with literal
    modular permutations and the DuckDB oracle replays signature → bands →
    candidates → Jaccard verification bit-for-bit)."""
    from ..operators import dedup as dd

    docs = table(spark, sf_dir, "documents")
    shingled = dd.shingle_table(docs, "doc_id", "text", n=2)
    pairs = dd.minhash_md5_pairs(shingled, num_perm=32, bands=8, threshold=0.35)
    return pairs.select(
        "id_a", "id_b", quant(F.col("jaccard"), 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def t18_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with engine-portable hashing — the oracle-CHECKED
    SimHash (t9's xxhash64 fingerprints are JVM-only, so its gate is
    rows-only).  48-bit md5-derived fingerprints, 4x12-bit chunk blocking
    on the Spark side; the DuckDB oracle recomputes fingerprints and
    brute-forces ALL pairs, so equality also proves the blocking scheme's
    recall is exact (pigeonhole: hamming<=3 must agree on one of 4
    chunks)."""
    from ..operators.dedup import simhash_md5_pairs

    docs = table(spark, sf_dir, "documents")
    return (
        simhash_md5_pairs(docs, "doc_id", "text", max_hamming=3)
        .orderBy("id_a", "id_b")
    )


def t19_winnow_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint dedup with engine-portable hashing — the
    oracle-CHECKED winnowing (t15's xxhash64 variant is rows-only).
    md5-prefix gram hashes make the k-gram → window-min selection
    replayable in DuckDB list_transform/list_min SQL."""
    from ..operators.dedup import winnow_pairs

    docs = table(spark, sf_dir, "documents")
    return (
        winnow_pairs(docs, "doc_id", "text", k=16, window=8, min_shared=20, portable=True)
        .orderBy("id_a", "id_b")
    )


@gate
def t64_jdbc_roundtrip(
    spark: SparkSession, sf_dir: str, scratch: Scratch
) -> DataFrame:
    """Database interop end-to-end (reference S2, the PostgreSQL leg:
    ingest_to_staging.py loads tables into the database,
    staging_to_production.py:138-141 reads them back).  The gate runs
    the full round trip against an embedded Derby database (the JDBC
    driver pyspark itself ships): customer and nation are written over
    JDBC in batched inserts, customer is read back as a PARTITIONED
    read — 4 concurrent range queries on c_custkey with bounds fetched
    server-side by partition_bounds() — then joined and aggregated
    per nation.  The oracle computes the same aggregate straight from
    the parquet tables, so any value lost or mangled in either JDBC
    direction (types, batching, range-partition edges, the broadcast
    join on the read-back side) fails the hash.  The partitioned-read
    shape is asserted (4 input partitions), so the gate also pins the
    scale posture: a silent fall-back to a single-connection read
    fails loudly."""
    from ..sources.jdbc import (
        derby_url,
        partition_bounds,
        read_jdbc,
        write_jdbc,
    )

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    url = derby_url(scratch.dir + "/db")
    write_jdbc(cust, url, "customer", mode="overwrite")
    write_jdbc(nation, url, "nation", mode="overwrite")
    lo, hi = partition_bounds(spark, url, "customer", "c_custkey")
    c = read_jdbc(
        spark,
        url,
        "customer",
        partition_column="c_custkey",
        lower_bound=lo,
        upper_bound=hi,
        num_partitions=4,
    )
    if c.rdd.getNumPartitions() != 4:
        raise AssertionError(
            "partitioned JDBC read did not yield 4 partitions"
        )
    n = read_jdbc(spark, url, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.count_distinct("c_mktsegment")
            .cast("long")
            .alias("n_segments"),
            F.min("c_acctbal").alias("min_acctbal"),
            F.max("c_acctbal").alias("max_acctbal"),
        )
        .orderBy("n_name")
    )


def t67_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-count sketch (operators/sketch.py
    — COUNT(DISTINCT) without shuffling the distinct set; p=4 → 16
    registers, so at most 16 rows per group cross the wire however
    large the corpus).  Distinct parts per return flag, three ways:
    the exact count (context for the error), the sketch estimate, and
    the estimate from MERGING two half-sketches built on disjoint
    order halves — ``merge_exact`` pins the estimator's defining
    algebraic property (register-wise max is a lossless union) as a
    value equality, not a tolerance.  The oracle replays the WHOLE
    estimator in SQL — md5 nibble split, string-arithmetic ranks,
    2^61-scaled exact harmonic sum, one shared bias literal — so a
    green row proves the sketch math is engine-portable bit-for-bit.
    Gate data keeps E > 2.5m, the harmonic branch: the linear-counting
    branch's ln() is the one op engines may round apart (documented in
    hll_estimate)."""
    from ..operators import sketch as sk

    li = table(spark, sf_dir, "lineitem")
    g = ["l_returnflag"]
    exact = li.groupBy(*g).agg(
        F.count_distinct("l_partkey").cast("long").alias("n_exact")
    )
    est = sk.hll_estimate(
        sk.hll_registers(li, ["l_partkey"], g, p=4, hash="md5"), g, p=4
    ).withColumnRenamed("approx_distinct", "approx_parts")
    halves = [
        sk.hll_registers(
            li.filter(F.col("l_orderkey") % 2 == i),
            ["l_partkey"],
            g,
            p=4,
            hash="md5",
        )
        for i in (0, 1)
    ]
    merged = sk.hll_estimate(
        sk.hll_merge(*halves, group_by=g), g, p=4
    ).withColumnRenamed("approx_distinct", "approx_merged")
    return (
        exact.join(est, g)
        .join(merged, g)
        .select(
            "l_returnflag",
            "n_exact",
            "approx_parts",
            (F.col("approx_parts") == F.col("approx_merged")).alias(
                "merge_exact"
            ),
        )
        .orderBy("l_returnflag")
    )


def t71_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-quantile sketch over order totals
    (operators/sketch.hist_build/hist_quantile — one scan + ≤bins
    rows of state vs a full sort for exact percentiles; q22 is this
    gate's exact counterpart).  p50/p90/p99 are estimated by the
    deterministic first-bin-reaching-ceil(q·N) upper-edge rule the
    oracle replays bit-for-bit; ``within_bin`` pins the construction
    guarantee |est − exact order statistic| ≤ one bin width, computed
    Spark-side against the true ceil(q·N)-th smallest value, and
    ``merge_exact`` pins bin-wise-sum losslessness of the half-corpus
    merge.  Range literals are part of the sketch spec (values clamp
    to edge bins); in_range folds the no-clamping precondition into
    within_bin."""
    from ..operators import sketch as sk

    lo, hi, bins = 0.0, 500000.0, 100
    w = (hi - lo) / bins
    orders = table(spark, sf_dir, "orders")
    px = F.col("o_totalprice").cast("double")
    hist = sk.hist_build(orders, "o_totalprice", lo, hi, bins)
    hist = hist.localCheckpoint(eager=True)
    halves = [
        sk.hist_build(
            orders.filter(F.col("o_orderkey") % 2 == i),
            "o_totalprice",
            lo,
            hi,
            bins,
        )
        for i in (0, 1)
    ]
    merged = sk.hist_merge(*halves)
    same = (
        merged.exceptAll(hist).count() == 0
        and hist.exceptAll(merged).count() == 0
    )
    est = sk.hist_quantile(hist, [0.5, 0.9, 0.99], lo, hi, bins)
    n = orders.count()
    ranked = orders.select(
        px.alias("v"),
        F.row_number().over(Window.orderBy(px, "o_orderkey")).alias("rn"),
    )
    in_range = (
        orders.filter((px < lo) | (px >= hi)).count() == 0
    )
    import math

    targets = {float(q): int(math.ceil(q * n)) for q in (0.5, 0.9, 0.99)}
    # ONE global sort, all three order statistics in one job (not one
    # full sort per quantile)
    by_rn = {
        r.rn: r.v
        for r in ranked.filter(
            F.col("rn").isin(list(targets.values()))
        ).collect()
    }
    vdf = spark.createDataFrame(
        [(q, float(by_rn[rn])) for q, rn in targets.items()],
        "q double, exact_v double",
    )
    return (
        est.join(vdf, "q")
        .select(
            "q",
            "est",
            (
                F.lit(in_range)
                & (F.col("exact_v") <= F.col("est"))
                # inclusive: an order statistic exactly on the chosen
                # bin's lower edge satisfies the <= one-bin-width bound
                & (F.col("exact_v") >= F.col("est") - F.lit(w))
            ).alias("within_bin"),
            F.lit(same).alias("merge_exact"),
        )
        .orderBy("q")
    )


def t74_grouped_hist_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-GROUP histogram quantiles in one scan (operators/sketch.
    hist_build/hist_quantile with group_cols — t71's sketch lifted to
    grouped form): p50/p90 of o_totalprice per o_orderstatus, state
    ≤ groups × bins rows, the first-bin-reaching-ceil(q·N_g) upper-edge
    rule applied within each group over a bounded ≤ bins-row window —
    never a per-group sort.  At 100 TB this is the
    "percentiles-by-dimension" query (latency per endpoint, price per
    category, doc length per source) that exact percentile windows
    cannot survive.  Bin edges are SHARED across groups (the same
    [lo, hi] spec as t71), which is what makes per-group sketches
    roll up: ``rollup_exact`` pins that bin-summing the grouped sketch
    reproduces the global histogram counter-for-counter.  The oracle
    replays per-group binning, cumulative counts, and the quantile
    rule from raw orders."""
    from ..operators import sketch as sk

    lo, hi, bins = 0.0, 500000.0, 100
    orders = table(spark, sf_dir, "orders")
    gh = sk.hist_build(
        orders, "o_totalprice", lo, hi, bins,
        group_cols=["o_orderstatus"],
    ).localCheckpoint(eager=True)
    rolled = sk.hist_merge(gh)  # no group_cols: grouped -> global
    glob = sk.hist_build(orders, "o_totalprice", lo, hi, bins)
    same = (
        rolled.exceptAll(glob).count() == 0
        and glob.exceptAll(rolled).count() == 0
    )
    est = sk.hist_quantile(
        gh, [0.5, 0.9], lo, hi, bins, group_cols=["o_orderstatus"]
    )
    return (
        est.select(
            "o_orderstatus",
            "q",
            "est",
            F.lit(same).alias("rollup_exact"),
        )
        .orderBy("o_orderstatus", "q")
    )
