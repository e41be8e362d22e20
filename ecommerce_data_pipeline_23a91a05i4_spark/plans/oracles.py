"""DuckDB-runnable ANSI-SQL oracles, one per query in the suite.

Each string computes the same result as its DataFrame twin (same column
names, same decimal-accumulation + floor-quantization arithmetic — see
functions/exprs.py) so the driver's row-count + schema + value-hash
comparison passes bit-for-bit.  Tables are pre-registered views named
region/nation/customer/supplier/part/orders/lineitem/events/documents/
embeddings.
"""

# Shared with plans/llmdata.py so the t39 oracle's LIMIT can never
# drift from the Spark gate's vocabulary cap.
from .llmdata_constants import (  # noqa: F401
    BIGRAM_FLUENCY_MEAN_MIN,
    BIGRAM_LAMBDA_DEN,
    BIGRAM_LAMBDA_NUM,
    BIGRAM_VOCAB_CAP,
    FLUENCY_VOCAB_CAP,
)

# Operator tunables interpolated into the oracle SQL below — importing
# the very constants the Spark operators run with, so retuning an
# operator can never silently break its gate (ADVICE r4: the FLUENCY_
# VOCAB_CAP discipline, applied to every hardcoded tunable).
from ..operators.curation import CLS_BUCKETS, CLS_WEIGHT_SPAN
from ..operators.dedup import BLOOM_BITS, BLOOM_HASHES
from ..functions.exprs import (
    SQL_DSUM,
    SQL_MEAN2,
    SQL_MONEY_SUM,
    SQL_QUANT,
    SQL_R2,
    SQL_R4,
    SQL_SAFE_PCT,
)

REV = "l_extendedprice * (1 - l_discount)"
PROFIT = f"{REV} - l_quantity * p_retailprice * 0.7"

# events.ts is parquet timestamp[us]; DuckDB reads it natively as a naive
# TIMESTAMP, exactly what the Spark catalog produces under its UTC session.
EVENTS_NORM = (
    "ev AS (SELECT event_id, ts, "
    "user_id, event_type, value, props FROM events)"
)

MONITORING_ORACLES: dict[str, str] = {
    "q11_referential_integrity": """
        SELECT 'customer_without_nation' AS check_name,
               (SELECT COUNT(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n
                                  WHERE c.c_nationkey = n.n_nationkey))
                   AS violation_count
        UNION ALL
        SELECT 'lineitem_without_order',
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE l.l_orderkey = o.o_orderkey))
        UNION ALL
        SELECT 'lineitem_without_part',
               (SELECT COUNT(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p
                                  WHERE l.l_partkey = p.p_partkey))
        UNION ALL
        SELECT 'order_without_customer',
               (SELECT COUNT(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE o.o_custkey = c.c_custkey))
        ORDER BY check_name
    """,
    "q12_duplicate_detection": """
        SELECT user_id, event_type, COUNT(*) AS event_count
        FROM events
        GROUP BY user_id, event_type
        HAVING COUNT(*) > 1
        ORDER BY user_id, event_type
    """,
    "q13_freshness": f"""
        WITH {EVENTS_NORM}
        SELECT 'events' AS source, MAX(ts) AS latest_ts FROM ev
        UNION ALL
        SELECT 'lineitem', MAX(l_shipdate) FROM lineitem
        UNION ALL
        SELECT 'orders', MAX(o_orderdate) FROM orders
        ORDER BY source
    """,
    "q14_volume_anomaly": f"""
        WITH {EVENTS_NORM},
        daily AS (
            SELECT date_trunc('day', ts) AS event_date, COUNT(*) AS event_count
            FROM ev GROUP BY 1
        ),
        stats AS (
            SELECT COUNT(*) AS n_days,
                   SUM(event_count) AS sx,
                   SUM(event_count * event_count) AS sxx
            FROM daily
        )
        SELECT event_date,
               event_count,
               ((n_days * event_count - sx) * (n_days * event_count - sx)
                  * (n_days - 1))
                 > (9 * n_days * (n_days * sxx - sx * sx)) AS is_anomaly
        FROM daily CROSS JOIN stats
        ORDER BY event_date
    """,
    "q15_hourly_events": None,  # filled below (needs fragment helpers)
    "q16_user_sessions": f"""
        WITH {EVENTS_NORM},
        flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id)
                          > 1800000000
                        OR LAG(ts) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   THEN 1 ELSE 0 END AS is_start
            FROM ev
        ),
        sessionized AS (
            SELECT user_id, ts,
                   CAST(SUM(is_start) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
                       AS session_seq
            FROM flagged
        ),
        per_session AS (
            SELECT user_id, session_seq,
                   COUNT(*) AS n_events,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end
            FROM sessionized
            GROUP BY user_id, session_seq
        )
        SELECT user_id,
               MAX(session_seq) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               MAX(epoch_us(session_end) - epoch_us(session_start))
                   AS longest_session_us
        FROM per_session
        GROUP BY user_id
        ORDER BY user_id
    """,
}

MONITORING_ORACLES["q15_hourly_events"] = f"""
    WITH {EVENTS_NORM}
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS event_count,
           {SQL_R2(SQL_DSUM('value'))} AS total_value,
           {SQL_MEAN2('value', 'COUNT(*)')} AS avg_value
    FROM ev
    GROUP BY 1, 2
    ORDER BY window_start, event_type
"""

MONITORING_ORACLES["t30_corpus_integrity"] = """
    SELECT 'duplicate_vec_id' AS check_name,
           (SELECT COUNT(*) FROM (
                SELECT vec_id FROM embeddings
                GROUP BY vec_id HAVING COUNT(*) > 1))
               AS violation_count
    UNION ALL
    SELECT 'document_without_embedding',
           (SELECT COUNT(*) FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM embeddings e
                              WHERE e.vec_id = d.doc_id))
    UNION ALL
    SELECT 'embedding_without_document',
           (SELECT COUNT(*) FROM embeddings e
            WHERE NOT EXISTS (SELECT 1 FROM documents d
                              WHERE d.doc_id = e.vec_id))
    ORDER BY check_name
"""

# The streaming gate drains the exact streaming twin of q15 and must
# produce byte-identical rows — same oracle by construction.
MONITORING_ORACLES["s1_streaming_hourly_events"] = MONITORING_ORACLES[
    "q15_hourly_events"
]

# Stateful sessionization drained to final per-user counts: q16's window
# arithmetic restricted to the two columns the state machine tracks.
MONITORING_ORACLES["s2_streaming_sessionization"] = f"""
    WITH {EVENTS_NORM},
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id)
                      > 1800000000
                    OR LAG(ts) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_start
        FROM ev
    )
    SELECT user_id,
           CAST(SUM(is_start) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM flagged
    GROUP BY user_id
    ORDER BY user_id
"""

# The native session_window gate shares q16's FULL oracle (including
# longest_session_us): boundary semantics proven identical — the native
# operator merges an exactly-gap-length interval, q16 splits only on
# strictly-greater gaps.
MONITORING_ORACLES["s2b_session_window"] = MONITORING_ORACLES[
    "q16_user_sessions"
]

ANALYTICS_ORACLES: dict[str, str] = {
    "q1_top_products": f"""
        SELECT p_name AS product_name,
               p_brand AS brand,
               {SQL_MONEY_SUM(REV)} AS total_revenue,
               SUM(l_quantity) AS units_sold,
               {SQL_MEAN2('l_extendedprice', 'COUNT(*)')} AS avg_price
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_name, p_brand
        ORDER BY total_revenue DESC, product_name, brand
        LIMIT 10
    """,
    "q2_monthly_trend": f"""
        SELECT CAST(year(o_orderdate) AS VARCHAR) || '-' ||
                 lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') AS year_month,
               {SQL_MONEY_SUM(REV)} AS total_revenue,
               COUNT(DISTINCT l_orderkey) AS total_orders,
               {SQL_MEAN2(REV, 'COUNT(*)')} AS avg_item_value,
               COUNT(DISTINCT o_custkey) AS unique_customers
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY year(o_orderdate), month(o_orderdate)
        ORDER BY year_month
    """,
    "q3_customer_segmentation": f"""
        WITH customer_totals AS (
            SELECT o_custkey, {SQL_MONEY_SUM('o_totalprice')} AS total_spent
            FROM orders GROUP BY o_custkey
        )
        SELECT CASE WHEN total_spent < 50000 THEN '$0-$50K'
                    WHEN total_spent < 150000 THEN '$50K-$150K'
                    WHEN total_spent < 300000 THEN '$150K-$300K'
                    ELSE '$300K+' END AS spending_segment,
               COUNT(*) AS customer_count,
               {SQL_MONEY_SUM('total_spent')} AS total_revenue,
               {SQL_MEAN2('total_spent', 'COUNT(*)')} AS avg_customer_spend
        FROM customer_totals
        GROUP BY spending_segment
        ORDER BY customer_count DESC, spending_segment
    """,
    "q4_category_performance": f"""
        SELECT p_type AS category,
               {SQL_MONEY_SUM(REV)} AS total_revenue,
               {SQL_MONEY_SUM(PROFIT)} AS total_profit,
               {SQL_SAFE_PCT(SQL_DSUM(PROFIT), SQL_DSUM(REV))} AS profit_margin_pct,
               SUM(l_quantity) AS units_sold
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_type
        ORDER BY total_revenue DESC
    """,
    "q5_payment_distribution": f"""
        WITH agg AS (
            SELECT o_orderpriority AS order_priority,
                   COUNT(*) AS order_count,
                   {SQL_DSUM('o_totalprice')} AS rev_dec
            FROM orders
            GROUP BY o_orderpriority
        )
        SELECT order_priority,
               order_count,
               {SQL_R2('rev_dec')} AS total_revenue,
               {SQL_R4('order_count * 100.0 / SUM(order_count) OVER ()')}
                   AS pct_of_orders,
               {SQL_SAFE_PCT('rev_dec', 'SUM(rev_dec) OVER ()')} AS pct_of_revenue
        FROM agg
        ORDER BY order_priority
    """,
    "q6_geo_revenue": f"""
        SELECT n_name AS nation,
               r_name AS region,
               {SQL_MONEY_SUM(REV)} AS total_revenue,
               COUNT(DISTINCT c_custkey) AS total_customers,
               {SQL_R2(f'CAST({SQL_DSUM(REV)} AS DOUBLE) / COUNT(DISTINCT c_custkey)')}
                   AS avg_revenue_per_customer
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY n_name, r_name
        ORDER BY total_revenue DESC, nation
    """,
    "q7_customer_lifetime_value": f"""
        WITH per_cust AS (
            SELECT o_custkey,
                   {SQL_MONEY_SUM('o_totalprice')} AS total_spent,
                   COUNT(*) AS order_count,
                   {SQL_MEAN2('o_totalprice', 'COUNT(*)')} AS avg_order_value,
                   CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                                  DATE '2002-01-01') AS BIGINT)
                       AS days_since_last_order
            FROM orders GROUP BY o_custkey
        )
        SELECT c_custkey AS customer_id,
               c_name AS customer_name,
               total_spent, order_count, avg_order_value, days_since_last_order
        FROM per_cust JOIN customer ON o_custkey = c_custkey
        ORDER BY total_spent DESC, customer_id
    """,
    "q8_product_profitability": f"""
        SELECT p_partkey AS product_id,
               p_name AS product_name,
               p_brand AS brand,
               {SQL_MONEY_SUM(PROFIT)} AS total_profit,
               {SQL_SAFE_PCT(SQL_DSUM(PROFIT), SQL_DSUM(REV))} AS profit_margin,
               {SQL_MONEY_SUM(REV)} AS revenue,
               SUM(l_quantity) AS units_sold
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_partkey, p_name, p_brand
        ORDER BY total_profit DESC, product_id
    """,
    "q9_dow_pattern": f"""
        WITH daily AS (
            SELECT dayname(o_orderdate) AS day_name,
                   CAST(o_orderdate AS DATE) AS order_date,
                   {SQL_DSUM(REV)} AS daily_revenue,
                   COUNT(DISTINCT l_orderkey) AS daily_orders
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY day_name, order_date
        )
        SELECT day_name,
               {SQL_R2('CAST(SUM(daily_revenue) AS DOUBLE) / COUNT(*)')}
                   AS avg_daily_revenue,
               {SQL_R2('CAST(SUM(daily_orders) AS DOUBLE) / COUNT(*)')}
                   AS avg_daily_orders,
               {SQL_R2('SUM(daily_revenue)')} AS total_revenue
        FROM daily
        GROUP BY day_name
        ORDER BY total_revenue DESC, day_name
    """,
    "q10_discount_impact": f"""
        SELECT CASE WHEN l_discount = 0 THEN '0%'
                    WHEN l_discount <= 0.05 THEN '1-5%'
                    ELSE '6-10%' END AS discount_range,
               {SQL_QUANT(f"CAST({SQL_DSUM('l_discount * 100', 'DECIMAL(18,6)')} AS DOUBLE) / COUNT(*)", 4)}
                   AS avg_discount_pct,
               SUM(l_quantity) AS total_quantity_sold,
               {SQL_MONEY_SUM(REV)} AS total_revenue,
               {SQL_MEAN2(REV, 'COUNT(*)')} AS avg_line_total
        FROM lineitem
        GROUP BY discount_range
        ORDER BY total_revenue DESC, discount_range
    """,
}


# --------------------------------------------------------- LLM-data oracles

NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

# Bigram-shingle Jaccard pair chain (t5's pipeline), shared verbatim by
# t5_ngram_jaccard and t21_neardup_clusters so the two oracles cannot
# drift.  Produces CTE `j`(id_a, id_b, jaccard ≥ 0 unfiltered).
JACCARD_PAIR_CTES = f"""toks AS (
            SELECT doc_id, string_split({NORM}, ' ') AS l FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   CASE WHEN len(l) >= 2
                        THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
                        ELSE [array_to_string(l, ' ')] END AS g
            FROM toks
        ),
        sh AS (SELECT DISTINCT doc_id AS id, unnest(g) AS shingle FROM grams),
        sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
        hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 125),
        cold AS (SELECT * FROM sh ANTI JOIN hot USING (shingle)),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.id < b.id
            GROUP BY 1, 2
        ),
        j AS (
            SELECT id_a, id_b,
                   CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
            FROM inter
            JOIN sizes sa ON id_a = sa.id
            JOIN sizes sb ON id_b = sb.id
        )"""

EN_STOP = r"\b(the|a|an|is|are|of|and|to|in|that)\b"
_MARKERS = {
    "en": r"\b(the|a|an|is|are|of|and|to|in|that)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|zu|den|von)\b",
    "es": r"\b(el|los|las|una|es|y|de|que|en|por)\b",
    "fr": r"\b(le|la|les|un|une|est|et|que|pour|dans)\b",
    "zh": "[一-鿿]",
}

_SCORE_COLS = ",\n               ".join(
    f"CAST(len(regexp_extract_all(norm, '{pat}')) AS BIGINT) AS score_{lang}"
    for lang, pat in _MARKERS.items()
)

_DOT = (
    "list_reduce(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)


def _dot(a: str, b: str) -> str:
    return _DOT.replace("{a}", a).replace("{b}", b)


LLMDATA_ORACLES: dict[str, str] = {
    "t1_text_stats": f"""
        WITH d AS (SELECT doc_id, source, text, {NORM} AS norm FROM documents)
        SELECT doc_id,
               source,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(norm, ' '))) AS BIGINT)
                   AS n_unique_tokens,
               {SQL_QUANT("CAST(length(replace(norm, ' ', '')) AS DOUBLE) / greatest(len(string_split(norm, ' ')), 1)", 4)}
                   AS avg_token_len,
               {SQL_QUANT("CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) / greatest(length(text), 1)", 6)}
                   AS punct_ratio,
               md5(norm) AS fingerprint
        FROM d
        ORDER BY doc_id
    """,
    "t2_lang_id": f"""
        WITH d AS (SELECT doc_id, lang, {NORM} AS norm FROM documents),
        s AS (
            SELECT doc_id, lang AS declared_lang,
               {_SCORE_COLS}
            FROM d
        )
        SELECT doc_id, declared_lang,
               CASE WHEN score_zh > GREATEST(score_en, score_de, score_es, score_fr) THEN 'zh'
                    WHEN score_fr > GREATEST(score_en, score_de, score_es) THEN 'fr'
                    WHEN score_es > GREATEST(score_en, score_de) THEN 'es'
                    WHEN score_de > score_en THEN 'de'
                    ELSE 'en' END AS predicted_lang,
               score_en, score_de, score_es, score_fr, score_zh
        FROM s
        ORDER BY doc_id
    """,
    "t3_quality_score": f"""
        WITH d AS (SELECT doc_id, text, {NORM} AS norm FROM documents),
        m AS (
            SELECT doc_id,
                   CAST(len(string_split(norm, ' ')) AS BIGINT) AS token_count,
                   CAST(len(regexp_extract_all(norm, '{EN_STOP}')) AS BIGINT)
                       AS stopword_count,
                   CAST(len(string_split(norm, ' ')) AS DOUBLE) AS toks,
                   CAST(length(text) AS DOUBLE) AS chars,
                   {SQL_QUANT("CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) / greatest(length(text), 1)", 6)}
                       AS punct_ratio
            FROM d
        ),
        scored AS (
            SELECT doc_id, token_count, stopword_count,
                   {SQL_QUANT("least(toks / 50.0, 1.0) * 0.25 + least(chars / 250.0, 1.0) * 0.25 + least(CAST(stopword_count AS DOUBLE) / greatest(toks, 1.0) * 4.0, 1.0) * 0.30 + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.20", 4)}
                       AS quality_score
            FROM m
        )
        SELECT doc_id, token_count, stopword_count, quality_score,
               CASE WHEN quality_score >= 0.8 THEN 'A'
                    WHEN quality_score >= 0.6 THEN 'B'
                    WHEN quality_score >= 0.4 THEN 'C'
                    ELSE 'D' END AS quality_grade
        FROM scored
        ORDER BY doc_id
    """,
    "t4_dedup_exact": f"""
        SELECT md5({NORM}) AS fingerprint,
               COUNT(*) AS n_docs,
               MIN(doc_id) AS keep_doc_id
        FROM documents
        GROUP BY 1
        ORDER BY fingerprint
    """,
    "t5_ngram_jaccard": f"""
        WITH {JACCARD_PAIR_CTES}
        SELECT id_a, id_b, {SQL_QUANT('jaccard', 6)} AS jaccard
        FROM j WHERE jaccard >= 0.3
        ORDER BY id_a, id_b
    """,
    "t6_knn_cosine": f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   sqrt({_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS query_id,
                   c.vec_id AS neighbor_id,
                   {SQL_QUANT(_dot('q.embedding', 'c.embedding') + ' / (q.nrm * c.nrm)', 6)}
                       AS cosine_sim
            FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine_sim DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine_sim
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """,
    # t65: the full int8 quantization pipeline replayed in SQL — the
    # same order-independent max-|x| fold, the same floor(x/scale+0.5)
    # round-half-up code, and dots over integral doubles (exact in
    # IEEE), so ranks match the Spark side bit-for-bit.  127 is
    # operators/quantize.QUANT_LEVELS (import-checked in tests).
    "t65_quantized_knn": f"""
        WITH s0 AS (
            SELECT vec_id, embedding,
                   list_reduce(
                       list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                       (a, b) -> greatest(a, b)) / 127.0 AS scale
            FROM embeddings
        ),
        qv AS (
            SELECT vec_id,
                   CASE WHEN scale = 0
                        THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
                        ELSE list_transform(
                            embedding,
                            x -> floor(CAST(x AS DOUBLE) / scale + 0.5))
                   END AS qvec
            FROM s0
        ),
        v AS (
            SELECT vec_id, qvec, sqrt({_dot('qvec', 'qvec')}) AS nrm FROM qv
        ),
        scored AS (
            SELECT q.vec_id AS query_id,
                   c.vec_id AS neighbor_id,
                   {SQL_QUANT(_dot('q.qvec', 'c.qvec') + ' / (q.nrm * c.nrm)', 6)}
                       AS qcosine_sim
            FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, qcosine_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcosine_sim DESC, neighbor_id)
                       AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, qcosine_sim
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """,
    "t7_embedding_neardup": f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   sqrt({_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {SQL_QUANT(_dot('a.embedding', 'b.embedding') + ' / (a.nrm * b.nrm)', 6)}
                       AS cosine_sim
            FROM v a JOIN v b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, cosine_sim
        FROM scored WHERE cosine_sim >= 0.35
        ORDER BY id_a, id_b
    """,
}


def _srp_lsh_oracle(
    threshold: float,
    bands: int,
    bits_per_band: int,
    dim: int,
    seed: int,
    delta_only: bool = False,
) -> str:
    """DuckDB twin of operators/similarity.embedding_neardup_pairs_lsh:
    the SAME hyperplane literals (single source of truth — imported from
    the operator module), the same sequential-fold dot products, the same
    banded agree-on-all-bits candidate rule, the same exact-cosine verify.
    Both engines fold left-to-right over double-cast elements, so the
    sign bits — and therefore the candidate set — match bit-for-bit.

    delta_only=True is t37's twin: the full recompute restricted to
    pairs touching the delta partition (vec_id % 5 = 0) plus the
    pair_kind label — equality proves the incremental formulation
    returns exactly the full pairing's delta-touching subset."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, bands * bits_per_band, seed)

    def plane_lit(coeffs: list[float]) -> str:
        return "[" + ", ".join(repr(c) for c in coeffs) + "]"

    bit_cols = ",\n                   ".join(
        f"CASE WHEN {_dot('embedding', plane_lit(planes[p]))} > 0 "
        f"THEN 1 ELSE 0 END AS bit{p}"
        for p in range(bands * bits_per_band)
    )
    band_cols = ",\n                   ".join(
        "("
        + " + ".join(
            f"bit{i * bits_per_band + j} * {1 << j}" for j in range(bits_per_band)
        )
        + f") AS band{i}"
        for i in range(bands)
    )
    band_match = " OR ".join(f"a.band{i} = b.band{i}" for i in range(bands))
    delta_pred = (
        "AND (a.vec_id % 5 = 0 OR b.vec_id % 5 = 0)" if delta_only else ""
    )
    kind_col = (
        ",\n               CASE WHEN id_a % 5 = 0 AND id_b % 5 = 0"
        " THEN 'delta_delta' ELSE 'delta_corpus' END AS pair_kind"
        if delta_only
        else ""
    )
    return f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   sqrt({_dot('embedding', 'embedding')}) AS nrm,
                   {bit_cols}
            FROM embeddings
        ),
        sig AS (
            SELECT vec_id, embedding, nrm,
                   {band_cols}
            FROM v
        ),
        scored AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {SQL_QUANT(_dot('a.embedding', 'b.embedding') + ' / (a.nrm * b.nrm)', 6)}
                       AS cosine_sim
            FROM sig a JOIN sig b
              ON a.vec_id < b.vec_id AND ({band_match}) {delta_pred}
        )
        SELECT id_a, id_b, cosine_sim{kind_col}
        FROM scored WHERE cosine_sim >= {threshold}
        ORDER BY id_a, id_b
    """


# t69: t65's quantization CTEs + t7b's shared-hyperplane sign bits,
# composed — buckets and ranks both replay bit-for-bit because every
# dot is the same left-fold over double-cast int codes.
def _t69_oracle() -> str:
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 4)  # knn_lsh_quantized's default seed 42

    def plane_lit(coeffs: list[float]) -> str:
        return "[" + ", ".join(repr(c) for c in coeffs) + "]"

    bit_cols = ",\n                   ".join(
        f"CASE WHEN {_dot('qvec', plane_lit(planes[p]))} > 0 "
        f"THEN 1 ELSE 0 END AS bit{p}"
        for p in range(4)
    )
    bucket = " + ".join(f"bit{p} * {1 << p}" for p in range(4))
    return f"""
        WITH s0 AS (
            SELECT vec_id, embedding,
                   list_reduce(
                       list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                       (a, b) -> greatest(a, b)) / 127.0 AS scale
            FROM embeddings
        ),
        qv AS (
            SELECT vec_id,
                   CASE WHEN scale = 0
                        THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
                        ELSE list_transform(
                            embedding,
                            x -> floor(CAST(x AS DOUBLE) / scale + 0.5))
                   END AS qvec
            FROM s0
        ),
        v AS (
            SELECT vec_id, qvec, sqrt({_dot('qvec', 'qvec')}) AS nrm,
                   {bit_cols}
            FROM qv
        ),
        sig AS (
            SELECT vec_id, qvec, nrm, ({bucket}) AS bucket FROM v
        ),
        scored AS (
            SELECT q.vec_id AS query_id,
                   c.vec_id AS neighbor_id,
                   {SQL_QUANT(_dot('q.qvec', 'c.qvec') + ' / (q.nrm * c.nrm)', 6)}
                       AS qcosine_sim
            FROM sig q JOIN sig c
              ON q.bucket = c.bucket AND q.vec_id < 10
                 AND c.vec_id <> q.vec_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, qcosine_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcosine_sim DESC, neighbor_id)
                       AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, qcosine_sim
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """


LLMDATA_ORACLES["t69_quantized_ann"] = _t69_oracle()


# t100: the standing AnnIndex service replayed from scratch — final
# corpus state (all vec_ids appended, % 7 == 3 deleted), t7b's
# hyperplane literals and band-OR candidate rule, the label-parity
# neighbor filter BELOW the cosine, exact-cosine re-rank, top-5 with
# the shared (score DESC, neighbor_id) tie-break.  Equality proves the
# incrementally maintained band matview scores exactly like a fresh
# recompute (the t99 proof shape for embeddings).
def _t100_oracle(
    bands: int = 6, bits_per_band: int = 3, dim: int = 64,
    seed: int = 7, k: int = 5,
) -> str:
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, bands * bits_per_band, seed)

    def plane_lit(coeffs: list[float]) -> str:
        return "[" + ", ".join(repr(c) for c in coeffs) + "]"

    bit_cols = ",\n                   ".join(
        f"CASE WHEN {_dot('embedding', plane_lit(planes[p]))} > 0 "
        f"THEN 1 ELSE 0 END AS bit{p}"
        for p in range(bands * bits_per_band)
    )
    band_cols = ",\n                   ".join(
        "("
        + " + ".join(
            f"bit{i * bits_per_band + j} * {1 << j}"
            for j in range(bits_per_band)
        )
        + f") AS band{i}"
        for i in range(bands)
    )
    band_match = " OR ".join(f"q.band{i} = c.band{i}" for i in range(bands))
    return f"""
        WITH v AS (
            SELECT vec_id, label, embedding,
                   sqrt({_dot('embedding', 'embedding')}) AS nrm,
                   {bit_cols}
            FROM embeddings
            WHERE vec_id % 7 <> 3
        ),
        sig AS (
            SELECT vec_id, label, embedding, nrm,
                   {band_cols}
            FROM v
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {SQL_QUANT(_dot('q.embedding', 'c.embedding') + ' / (q.nrm * c.nrm)', 6)}
                       AS cosine_sim
            FROM sig q JOIN sig c
              ON ({band_match})
                 AND q.vec_id % 9 = 1
                 AND c.vec_id <> q.vec_id
                 AND c.label % 2 = 0
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine_sim DESC, neighbor_id)
                       AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
               cosine_sim, TRUE AS index_matches_recompute
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


LLMDATA_ORACLES["t100_ann_index"] = _t100_oracle()


LLMDATA_ORACLES["t7b_embedding_neardup_lsh"] = _srp_lsh_oracle(
    threshold=0.35, bands=6, bits_per_band=3, dim=64, seed=7
)

LLMDATA_ORACLES["t37_incremental_embedding_neardup"] = _srp_lsh_oracle(
    threshold=0.35, bands=6, bits_per_band=3, dim=64, seed=7, delta_only=True
)


# Capstone curation chain: t3's score arithmetic + t2's lang argmax +
# t4's min-doc_id-per-fingerprint dedup rule, composed in one statement.
_CURATION_SCORE = (
    "least(toks / 50.0, 1.0) * 0.25 + least(chars / 250.0, 1.0) * 0.25 "
    "+ least(stops / greatest(toks, 1.0) * 4.0, 1.0) * 0.30 "
    "+ (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.20"
)

LLMDATA_ORACLES["t29_curation_pipeline"] = f"""
    WITH d AS (SELECT doc_id, n_chars, text, {NORM} AS norm FROM documents),
    m AS (
        SELECT doc_id, n_chars, md5(norm) AS fp,
               CAST(len(string_split(norm, ' ')) AS DOUBLE) AS toks,
               CAST(length(text) AS DOUBLE) AS chars,
               CAST(len(regexp_extract_all(norm, '{EN_STOP}')) AS DOUBLE)
                   AS stops,
               {SQL_QUANT("CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) / greatest(length(text), 1)", 6)}
                   AS punct_ratio,
               {_SCORE_COLS}
        FROM d
    ),
    scored AS (
        SELECT doc_id, n_chars, fp,
               {SQL_QUANT(_CURATION_SCORE, 4)} AS q,
               CASE WHEN score_zh > GREATEST(score_en, score_de, score_es, score_fr) THEN 'zh'
                    WHEN score_fr > GREATEST(score_en, score_de, score_es) THEN 'fr'
                    WHEN score_es > GREATEST(score_en, score_de) THEN 'es'
                    WHEN score_de > score_en THEN 'de'
                    ELSE 'en' END AS lang
        FROM m
    ),
    kept AS (
        SELECT lang, n_chars, q,
               CASE WHEN q >= 0.8 THEN 'A'
                    WHEN q >= 0.6 THEN 'B'
                    WHEN q >= 0.4 THEN 'C'
                    ELSE 'D' END AS grade
        FROM (
            SELECT s.*, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id
            FROM scored s
        )
        WHERE doc_id = keep_id AND q >= 0.5
    )
    SELECT lang, grade,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {SQL_QUANT('CAST(SUM(CAST(q AS DECIMAL(14,4))) AS DOUBLE) / COUNT(*)', 6)}
               AS avg_quality
    FROM kept
    GROUP BY lang, grade
    ORDER BY lang, grade
"""


def _bpe_oracle() -> str:
    """Same BPE-ish pattern as the Spark tokenizer (single source of
    truth — operators/text.BPE_ISH_PATTERN); the classes are shared
    Java-regex/RE2 syntax so both engines emit identical token lists."""
    from ..operators.text import BPE_ISH_PATTERN

    pat = BPE_ISH_PATTERN.replace("'", "''")
    return f"""
        WITH d AS (SELECT doc_id, {NORM} AS norm FROM documents),
        t AS (
            SELECT doc_id,
                   len(string_split(norm, ' ')) AS ws,
                   len(regexp_extract_all(norm, '{pat}')) AS bpe,
                   length(norm) AS nc
            FROM d
        )
        SELECT doc_id,
               CAST(ws AS BIGINT) AS n_tokens_ws,
               CAST(bpe AS BIGINT) AS n_tokens_bpe,
               {SQL_QUANT('CAST(nc AS DOUBLE) / NULLIF(bpe, 0)', 6)}
                   AS chars_per_bpe_token
        FROM t
        ORDER BY doc_id
    """


LLMDATA_ORACLES["t26_bpe_token_stats"] = _bpe_oracle()


# Deterministic PII planting, shared by the t32 and s5 oracles (the
# Spark twin is plans/llmdata.plant_pii).
_PII_PLANT_SQL = """text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0 THEN ' call 555-0142 now' ELSE '' END
                   || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.0.1 logged' ELSE '' END"""


def _pii_sql_parts() -> tuple[dict, str]:
    """(span-exclusive per-kind count exprs, full-redaction expr) over a
    text column named ``t`` — the SQL twin of curation.pii_counts /
    redact_pii, shared by the t32 and s5 oracles.  Counting mirrors
    pii_counts: each kind is counted on the text with all earlier kinds
    already redacted."""
    from ..operators.curation import PII_PATTERNS, REDACT_ORDER, REDACT_TOKEN

    red = "t"
    counts = {}
    for kind in REDACT_ORDER:
        counts[kind] = (
            f"CAST(len(regexp_extract_all({red}, '{PII_PATTERNS[kind]}')) AS BIGINT)"
        )
        red = f"regexp_replace({red}, '{PII_PATTERNS[kind]}', '{REDACT_TOKEN}', 'g')"
    return counts, red


def _pii_oracle() -> str:
    """DuckDB twin of llmdata.t32_pii_redaction: identical deterministic
    PII planting, the same shared-RE2/Java regexes from
    operators/curation.PII_PATTERNS, the same redaction order, and an
    md5 over the redacted text so one leaked character mismatches."""
    counts, red = _pii_sql_parts()
    return f"""
        WITH aug AS (
            SELECT doc_id,
                   {_PII_PLANT_SQL} AS t
            FROM documents
        )
        SELECT doc_id,
               {counts['email']} AS n_emails,
               {counts['phone']} AS n_phones,
               {counts['ipv4']} AS n_ips,
               {counts['email']} + {counts['phone']} + {counts['ipv4']} AS n_pii,
               CAST(length({red}) AS BIGINT) AS n_chars_redacted,
               md5({red}) AS redacted_md5
        FROM aug
        ORDER BY doc_id
    """


LLMDATA_ORACLES["t32_pii_redaction"] = _pii_oracle()


def _curation_v2_oracle() -> str:
    """DuckDB twin of llmdata.t38_curation_v2: replays the composed
    chain — repetition filter (t33 CTEs), decontamination screen (t34
    CTEs), exact-dup survivors (t4's min-id rule), PII redaction chain
    (t32's regexes, identical order), chunk-count arithmetic (t35), and
    the portable shard hash (t28) — over the non-benchmark candidates,
    rolled up per shard."""
    from ..operators.curation import PII_PATTERNS, REDACT_ORDER, REDACT_TOKEN
    from .corpus import N_SHARDS

    red = "c.text"
    for kind in REDACT_ORDER:
        red = f"regexp_replace({red}, '{PII_PATTERNS[kind]}', '{REDACT_TOKEN}', 'g')"
    norm_c = NORM.replace("(text)", "(c.text)") if "(text)" in NORM else NORM
    return f"""
        WITH cand AS (SELECT * FROM documents WHERE source <> 'src0'),
        rt AS (
            SELECT doc_id, unnest(string_split({NORM}, ' ')) AS w FROM cand
        ),
        wc AS (SELECT doc_id, w, COUNT(*) AS c FROM rt GROUP BY 1, 2),
        ws AS (
            SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_word_count
            FROM wc GROUP BY doc_id
        ),
        gr AS (
            SELECT doc_id,
                   CASE WHEN len(l) >= 2
                        THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
                        ELSE [] END AS g
            FROM (SELECT doc_id, string_split({NORM}, ' ') AS l FROM cand)
        ),
        gs AS (
            SELECT doc_id, len(g) AS n_bigrams, len(list_distinct(g)) AS n_db
            FROM gr
        ),
        keeprep AS (
            SELECT ws.doc_id
            FROM ws JOIN gs ON ws.doc_id = gs.doc_id
            WHERE CAST(top_word_count AS DOUBLE) / n_words <= 0.2
              AND (CASE WHEN n_bigrams > 0
                        THEN 1.0 - CAST(n_db AS DOUBLE) / n_bigrams
                        ELSE 0.0 END) <= 0.6
        ),
        g5 AS (
            SELECT doc_id, source,
                   CASE WHEN len(l) >= 5
                        THEN list_transform(range(1, len(l) - 3),
                                            i -> array_to_string(l[i:i+4], ' '))
                        ELSE [array_to_string(l, ' ')] END AS g
            FROM (SELECT doc_id, source, string_split({NORM}, ' ') AS l
                  FROM documents)
        ),
        sh5 AS (SELECT DISTINCT doc_id, source, unnest(g) AS shingle FROM g5),
        benchsh AS (SELECT DISTINCT shingle FROM sh5 WHERE source = 'src0'),
        candsh AS (SELECT doc_id, shingle FROM sh5 WHERE source <> 'src0'),
        csizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM candsh GROUP BY doc_id),
        chits AS (
            SELECT doc_id, COUNT(*) AS n_ov
            FROM candsh WHERE shingle IN (SELECT shingle FROM benchsh)
            GROUP BY doc_id
        ),
        clean AS (
            SELECT s.doc_id
            FROM csizes s LEFT JOIN chits h ON s.doc_id = h.doc_id
            WHERE CAST(COALESCE(h.n_ov, 0) AS DOUBLE) / s.n_sh < 0.1
        ),
        surv AS (
            SELECT MIN(doc_id) AS doc_id FROM cand GROUP BY md5({NORM})
        ),
        kept AS (
            SELECT c.doc_id,
                   ('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % {N_SHARDS} AS shard_id,
                   CAST(CASE WHEN len(string_split({norm_c}, ' ')) <= 64 THEN 1
                             ELSE 1 + (len(string_split({norm_c}, ' ')) - 64 + 47) // 48
                        END AS BIGINT) AS n_chunks,
                   CAST(length({red}) AS BIGINT) AS n_chars_redacted
            FROM cand c
            WHERE c.doc_id IN (SELECT doc_id FROM keeprep)
              AND c.doc_id IN (SELECT doc_id FROM clean)
              AND c.doc_id IN (SELECT doc_id FROM surv)
        )
        SELECT shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
               CAST(SUM(n_chars_redacted) AS BIGINT) AS total_chars,
               MIN(doc_id) AS min_doc_id
        FROM kept
        GROUP BY shard_id
        ORDER BY shard_id
    """


LLMDATA_ORACLES["t38_curation_v2"] = _curation_v2_oracle()


LLMDATA_ORACLES["t39_unigram_fluency"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({NORM}, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT SUM(c) AS n_total FROM freq),
    kept AS (SELECT w, c FROM freq ORDER BY c DESC, w ASC LIMIT {FLUENCY_VOCAB_CAP}),
    microp AS (
        SELECT w, (c * 1000000) // n_total AS microp FROM kept CROSS JOIN tot
    ),
    per_doc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(COALESCE(m.microp, 0)) AS DOUBLE) / COUNT(*)
                   AS mean_microp,
               CAST(MIN(COALESCE(m.microp, 0)) AS BIGINT) AS min_microp
        FROM toks t LEFT JOIN microp m ON t.w = m.w
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           {SQL_QUANT('mean_microp', 6)} AS mean_microp,
           min_microp,
           (mean_microp >= 32600) AS keep
    FROM per_doc
    ORDER BY doc_id
"""


# t84: the interpolated bigram fold replayed bit-for-bit — position
# structs from the token list (no window), full-count conditional
# denominators, integer DIV interpolation, backoff for position 1 and
# bigram-OOV, one IEEE division for the mean (the t39 discipline).
LLMDATA_ORACLES["t84_bigram_fluency"] = f"""
    WITH d AS (
        SELECT doc_id, string_split({NORM}, ' ') AS l FROM documents
    ),
    tok AS (
        SELECT doc_id, s['w'] AS w, s['prev'] AS prev
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(l) + 1),
                       i -> {{'w': l[i],
                             'prev': CASE WHEN i >= 2 THEN l[i - 1]
                                          ELSE NULL END}})) AS s
            FROM d
        )
    ),
    uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS n_total FROM uni),
    kept_u AS (SELECT w, c FROM uni
               ORDER BY c DESC, w ASC LIMIT {FLUENCY_VOCAB_CAP}),
    microp_u AS (
        SELECT w, (c * 1000000) // n_total AS up FROM kept_u CROSS JOIN tot
    ),
    big AS (
        SELECT prev AS w1, w AS w2, COUNT(*) AS c2
        FROM tok WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    kept_b AS (SELECT w1, w2, c2 FROM big
               ORDER BY c2 DESC, w1 ASC, w2 ASC LIMIT {BIGRAM_VOCAB_CAP}),
    microp_b AS (
        SELECT b.w1, b.w2, (b.c2 * 1000000) // u.c AS bp
        FROM kept_b b JOIN uni u ON b.w1 = u.w
    ),
    scored AS (
        SELECT t.doc_id,
               CASE WHEN b.bp IS NOT NULL
                    THEN ({BIGRAM_LAMBDA_NUM} * b.bp
                          + {BIGRAM_LAMBDA_DEN - BIGRAM_LAMBDA_NUM}
                            * COALESCE(u.up, 0))
                         // {BIGRAM_LAMBDA_DEN}
                    ELSE COALESCE(u.up, 0) END AS score
        FROM tok t
        LEFT JOIN microp_u u ON t.w = u.w
        LEFT JOIN microp_b b ON t.prev = b.w1 AND t.w = b.w2
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(score) AS DOUBLE) / COUNT(*) AS mean_fluency,
               CAST(MIN(score) AS BIGINT) AS min_fluency
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           {{SQLQ}} AS mean_fluency,
           min_fluency,
           (mean_fluency >= {BIGRAM_FLUENCY_MEAN_MIN}) AS keep
    FROM per_doc
    ORDER BY doc_id
""".replace("{SQLQ}", SQL_QUANT("mean_fluency", 6))


LLMDATA_ORACLES["t33_repetition_filters"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({NORM}, ' ')) AS w FROM documents
    ),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    ws AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
               CAST(MAX(c) AS BIGINT) AS top_word_count
        FROM wc GROUP BY doc_id
    ),
    gr AS (
        SELECT doc_id,
               CASE WHEN len(l) >= 2
                    THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
                    ELSE [] END AS g
        FROM (SELECT doc_id, string_split({NORM}, ' ') AS l FROM documents)
    ),
    gs AS (
        SELECT doc_id,
               CAST(len(g) AS BIGINT) AS n_bigrams,
               CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct_bigrams
        FROM gr
    ),
    ratios AS (
        SELECT ws.doc_id, n_words, n_distinct_words, top_word_count,
               CAST(top_word_count AS DOUBLE) / n_words AS twr,
               n_bigrams, n_distinct_bigrams,
               CASE WHEN n_bigrams > 0
                    THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
                    ELSE 0.0 END AS dbr
        FROM ws JOIN gs ON ws.doc_id = gs.doc_id
    )
    SELECT doc_id, n_words, n_distinct_words, top_word_count,
           {SQL_QUANT('twr', 6)} AS top_word_ratio,
           n_bigrams, n_distinct_bigrams,
           {SQL_QUANT('dbr', 6)} AS dup_bigram_ratio,
           (twr <= 0.2 AND dbr <= 0.6) AS keep
    FROM ratios
    ORDER BY doc_id
"""


LLMDATA_ORACLES["t34_decontamination"] = f"""
    WITH toks AS (
        SELECT doc_id, source, string_split({NORM}, ' ') AS l FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               CASE WHEN len(l) >= 5
                    THEN list_transform(range(1, len(l) - 3),
                                        i -> array_to_string(l[i:i+4], ' '))
                    ELSE [array_to_string(l, ' ')] END AS g
        FROM toks
    ),
    sh AS (
        SELECT DISTINCT doc_id, source, unnest(g) AS shingle FROM grams
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    cand AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
        FROM cand GROUP BY doc_id
    ),
    hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM cand WHERE shingle IN (SELECT shingle FROM bench)
        GROUP BY doc_id
    )
    SELECT s.doc_id,
           s.n_shingles,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           {SQL_QUANT('CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / s.n_shingles', 6)}
               AS contamination_ratio,
           (CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / s.n_shingles >= 0.1)
               AS flagged
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    ORDER BY s.doc_id
"""


def _segment_dedup_oracle(where: str = "", corpus_where: str = "") -> str:
    """Shared t41/t46/t56 oracle: the corpus-wide segment boilerplate
    rule with an optional restriction of the OUTPUT rows (t46/t56
    restrict to the delta batch; the boilerplate rule always sees
    corpus∪delta) and of the CORPUS itself (t56's corpus excludes the
    deleted documents — the full recompute the cascaded store must
    equal).  One generator on purpose — the gates pin full ==
    incremental (== cascaded), so their oracles must not drift."""
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split({NORM}, ' ') AS l FROM documents
        {corpus_where}
    ),
    segs AS (
        SELECT doc_id,
               unnest(list_transform(range(0, (len(l) + 15) // 16),
                      i -> {{'sid': i,
                            'seg': array_to_string(l[i*16+1 : i*16+16], ' ')}}))
                   AS s
        FROM toks
    ),
    h AS (
        SELECT doc_id, CAST(s.sid AS BIGINT) AS sid, s.seg AS seg,
               md5(s.seg) AS m
        FROM segs
    ),
    boiler AS (
        SELECT m FROM h GROUP BY m HAVING COUNT(DISTINCT doc_id) > 1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN m IN (SELECT m FROM boiler)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           md5(COALESCE(array_to_string(
               list(seg ORDER BY sid)
                   FILTER (WHERE m NOT IN (SELECT m FROM boiler)),
               ' '), '')) AS clean_md5
    FROM h
    {where}
    GROUP BY doc_id
    ORDER BY doc_id
"""


LLMDATA_ORACLES["t41_segment_dedup"] = _segment_dedup_oracle()


# md5-prefix 32-bit hash (operators/dedup.md5_hash32) in DuckDB syntax
_H32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"


# Hashed-feature classifier score over a tokens CTE column ``w`` — the
# SQL twin of operators/curation.classifier_score, shared by the t42 and
# s5 oracles so batch and streaming scoring oracles cannot drift.
_CLS_SCORE_SQL = (
    "SUM((('0x' || substr(md5('w:' || CAST("
    + _H32.format(x="w")
    + f" % {CLS_BUCKETS} AS VARCHAR)), 1, 8))::BIGINT"
    + f" % {2 * CLS_WEIGHT_SPAN + 1}) - {CLS_WEIGHT_SPAN})"
)

LLMDATA_ORACLES["t42_quality_classifier"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split({NORM}, ' ') AS l FROM documents
    ),
    t AS (
        SELECT doc_id, len(l) AS n_tokens, unnest(l) AS w FROM toks
    ),
    scored AS (
        SELECT doc_id,
               ANY_VALUE(n_tokens) AS n_tokens,
               {_CLS_SCORE_SQL} AS score
        FROM t GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(score AS BIGINT) AS score,
           score > 0 AS keep
    FROM scored
    ORDER BY doc_id
"""

LLMDATA_ORACLES["t43_bloom_prefilter"] = f"""
    WITH cf AS (
        SELECT md5({NORM}) AS h FROM documents WHERE doc_id % 5 != 0
    ),
    bits AS (
        SELECT DISTINCT
               unnest(list_transform(range(0, {BLOOM_HASHES}),
                      j -> ('0x' || substr(h, 1 + 8*j, 8))::BIGINT % {BLOOM_BITS}))
                   AS bit
        FROM cf
    ),
    dp AS (
        SELECT doc_id, md5({NORM}) AS h FROM documents WHERE doc_id % 5 = 0
    ),
    probes AS (
        SELECT doc_id,
               unnest(list_transform(range(0, {BLOOM_HASHES}),
                      j -> ('0x' || substr(h, 1 + 8*j, 8))::BIGINT % {BLOOM_BITS}))
                   AS bit
        FROM dp
    ),
    hits AS (
        SELECT p.doc_id,
               CAST(SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hits
        FROM probes p LEFT JOIN bits b USING (bit)
        GROUP BY p.doc_id
    )
    SELECT h.doc_id,
           h.n_hits,
           h.n_hits = {BLOOM_HASHES} AS maybe_dup,
           d.h IN (SELECT DISTINCT h FROM cf) AS exact_dup
    FROM hits h JOIN dp d USING (doc_id)
    ORDER BY h.doc_id
"""


# ------------------------------------------------------------ extra oracles

EXTRAS_ORACLES: dict[str, str] = {
    "q17_revenue_rollup": f"""
        SELECT COALESCE(r_name, 'ALL') AS region,
               COALESCE(n_name, 'ALL') AS nation,
               {SQL_R2(SQL_DSUM(REV))} AS total_revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY region, nation
    """,
    # deliberately the NAIVE single-stage aggregate: salting in the Spark
    # plan must never change the answer
    "q18_salted_event_stats": f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               {SQL_R2(SQL_DSUM('value'))} AS total_value,
               {SQL_R2(f"CAST({SQL_DSUM('value')} AS DOUBLE) / COUNT(*)")} AS avg_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "t10_token_frequencies": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split({NORM}, ' ')) AS token
            FROM documents
        ),
        agg AS (
            SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
            FROM toks GROUP BY token
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT token, tf, df,
               {SQL_QUANT('CAST(tf AS DOUBLE) * n_docs / df', 6)} AS weight
        FROM agg CROSS JOIN n
        ORDER BY tf DESC, token
        LIMIT 100
    """,
}


EXTRAS_ORACLES["q19_props_json_stats"] = """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""

_TERMS = "('spark', 'shuffle', 'vector', 'stream', 'window')"
EXTRAS_ORACLES["t11_keyword_search"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({NORM}, ' ')) AS token
        FROM documents
    ),
    matched AS (SELECT * FROM toks WHERE token IN {_TERMS}),
    dfs AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM matched GROUP BY token),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM matched GROUP BY doc_id, token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id,
               COUNT(*) AS n_terms_matched,
               CAST(SUM(tf) AS BIGINT) AS total_tf,
               {SQL_QUANT('SUM(CAST(tf AS DOUBLE) * n_docs / df)', 6)} AS score
        FROM tf JOIN dfs USING (token) CROSS JOIN n
        GROUP BY doc_id
    )
    SELECT doc_id, n_terms_matched, total_tf, score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT 20
"""


EXTRAS_ORACLES["q20_orders_without_items"] = f"""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           {SQL_R2('o_totalprice')} AS total_price,
           o_orderdate
    FROM orders
    ANTI JOIN lineitem ON o_orderkey = l_orderkey
    ORDER BY o_orderkey
"""

EXTRAS_ORACLES["q21_priority_pivot"] = """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_2,
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_3,
           CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_4,
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_5,
    FROM orders
    GROUP BY 1
    ORDER BY order_year
"""


EXTRAS_ORACLES["t12_event_asof_order"] = f"""
    WITH {EVENTS_NORM},
    o AS (
        SELECT o_custkey AS user_id,
               o_orderdate AS asof_orderdate,
               MAX(o_orderkey) AS asof_orderkey
        FROM orders GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('month', o.asof_orderdate) AS TIMESTAMP) AS asof_month,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(SUM(o.asof_orderkey) AS BIGINT) AS sum_orderkey
    FROM ev e ASOF LEFT JOIN o
      ON e.user_id = o.user_id AND e.ts >= o.asof_orderdate
    GROUP BY 1
    ORDER BY asof_month NULLS FIRST
"""

EXTRAS_ORACLES["t13_vocab_difference"] = f"""
    WITH toks AS (
        SELECT lang, unnest(string_split({NORM}, ' ')) AS token FROM documents
    )
    SELECT DISTINCT token FROM toks WHERE lang = 'en'
    EXCEPT
    SELECT DISTINCT token FROM toks WHERE lang <> 'en'
    ORDER BY token
"""


EXTRAS_ORACLES["t14_event_session_ranges"] = f"""
    WITH {EVENTS_NORM},
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id)
                      > 1800000000
                    OR LAG(ts) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_start
        FROM ev
    ),
    sessionized AS (
        SELECT user_id, ts,
               SUM(is_start) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
        FROM flagged
    ),
    intervals AS (
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM sessionized GROUP BY user_id, session_seq
    ),
    per_session AS (
        SELECT e.user_id AS user_id, i.session_start, i.session_end,
               COUNT(*) AS n_events
        FROM ev e JOIN intervals i
          ON e.user_id = i.user_id
         AND e.ts BETWEEN i.session_start AND i.session_end
        GROUP BY 1, 2, 3
    )
    SELECT n_events,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(epoch_us(session_end) - epoch_us(session_start)) AS BIGINT)
             AS sum_span_us
    FROM per_session
    GROUP BY 1
    ORDER BY n_events
"""


# t64: the aggregate the Spark side computes AFTER a write→partitioned-
# read round trip through an embedded Derby database; DuckDB computes it
# straight from parquet, so the hash proves JDBC lost/mangled nothing.
EXTRAS_ORACLES["t64_jdbc_roundtrip"] = """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
           MIN(c_acctbal) AS min_acctbal,
           MAX(c_acctbal) AS max_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
"""


# The ENTIRE HyperLogLog estimator replayed in SQL — md5 nibble split,
# string-arithmetic leading-zero ranks, register-wise MAX, 2^61-scaled
# exact harmonic sum (DuckDB sums BIGINT into HUGEINT, so 16·2^61 never
# overflows), and ONE shared bias literal computed by the same Python
# expression the operator uses.  Shared by t67 (lineitem parts per
# flag; merge_exact pins the Spark-side merged-halves comparison) and
# s8 (streaming register state over events; stream_equals_batch pins
# the Spark-side stream-vs-batch register comparison).
def _hll_oracle(
    from_sql: str,
    bool_col: str,
    est_name: str,
    exact_sql: str,
    group_name: str = "group_key",
) -> str:
    from ..operators.sketch import TWO_61, hll_alpha

    m = 16  # p=4, the gates' register count
    const = hll_alpha(m) * (m * m) * float(TWO_61)
    return f"""
    WITH vals AS (
        {from_sql}
    ),
    parts AS (
        SELECT g,
               strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS ridx,
               length(regexp_extract(substr(h, 2, 15), '^0*')) AS z,
               substr(regexp_replace(substr(h, 2, 15), '^0*', ''), 1, 1) AS c
        FROM vals
    ),
    ranked AS (
        SELECT g, ridx,
               CASE WHEN z = 15 THEN 61
                    ELSE 4 * z + CASE WHEN c = '1' THEN 3
                                      WHEN c IN ('2', '3') THEN 2
                                      WHEN c IN ('4', '5', '6', '7') THEN 1
                                      ELSE 0 END + 1 END AS r
        FROM parts
    ),
    regs AS (SELECT g, ridx, MAX(r) AS rmax FROM ranked GROUP BY g, ridx),
    agg AS (
        SELECT g,
               SUM(CAST(1 AS BIGINT) << (61 - rmax)) AS zsum,
               COUNT(*) AS npres
        FROM regs GROUP BY g
    ),
    finals AS (
        SELECT g,
               {const!r} / CAST(zsum + ({m} - npres)
                   * CAST({TWO_61} AS HUGEINT) AS DOUBLE) AS e
        FROM agg
    )
    SELECT f.g AS {group_name},
           CAST(x.n AS BIGINT) AS n_exact,
           {SQL_QUANT('f.e', 4)} AS {est_name},
           TRUE AS {bool_col}
    FROM finals f
    JOIN ({exact_sql}) x ON f.g = x.g
    ORDER BY {group_name}
"""


EXTRAS_ORACLES["t67_hll_distinct"] = _hll_oracle(
    from_sql=(
        "SELECT l_returnflag AS g, md5(CAST(l_partkey AS VARCHAR)) AS h "
        "FROM lineitem WHERE l_partkey IS NOT NULL"
    ),
    bool_col="merge_exact",
    est_name="approx_parts",
    exact_sql=(
        "SELECT l_returnflag AS g, COUNT(DISTINCT l_partkey) AS n "
        "FROM lineitem GROUP BY 1"
    ),
    group_name="l_returnflag",
)

# t70: the Count-Min pipeline replayed relationally — tokenize with the
# shared NORM expression, address counters with the same depth-salted
# md5 prefix (the repo's ('0x'||hex)::BIGINT idiom), rebuild the
# counter relation, and point-estimate the same deterministic top-10
# by min-over-rows; no_undercount is computed, not pinned.
def _t70_oracle() -> str:
    depth, width = 4, 256  # cms_build defaults, shared with the gate

    def addr(token_expr: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || "
            f"{token_expr}), 1, 8))::BIGINT % {width} AS INT)"
        )

    ds = ", ".join(f"({d})" for d in range(depth))
    return f"""
    WITH toks AS (
        SELECT unnest(string_split({NORM}, ' ')) AS token FROM documents
    ),
    exact AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM toks GROUP BY token
    ),
    top AS (
        SELECT token, exact_n FROM exact ORDER BY exact_n DESC, token
        LIMIT 10
    ),
    ds(d) AS (VALUES {ds}),
    hits AS (
        SELECT d, {addr('token')} AS w FROM toks CROSS JOIN ds
    ),
    counters AS (
        SELECT d, w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM hits GROUP BY d, w
    ),
    lookups AS (
        SELECT t.token, t.exact_n, ds.d AS d, {addr('t.token')} AS w
        FROM top t CROSS JOIN ds
    ),
    est AS (
        SELECT l.token, l.exact_n,
               MIN(COALESCE(c.cnt, 0)) AS cms_n
        FROM lookups l LEFT JOIN counters c ON l.d = c.d AND l.w = c.w
        GROUP BY l.token, l.exact_n
    )
    SELECT token, exact_n, CAST(cms_n AS BIGINT) AS cms_n,
           cms_n >= exact_n AS no_undercount, TRUE AS merge_exact
    FROM est ORDER BY token
"""


LLMDATA_ORACLES["t70_cms_heavy_hitters"] = _t70_oracle()


# t70b: the full sampled+CMS heavy-hitter ENUMERATION — planted-skew
# stream, md5-modulus row sample → candidates, depth-salted counters,
# min-estimate, ceil(0.005·N) threshold — replayed relationally with
# the gate's literal geometry (depth 4, width 8192, sample_mod 8).
def _t70b_oracle() -> str:
    depth, width, mod = 4, 8192, 8

    def addr(key_expr: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || "
            f"CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT % {width} "
            "AS INT)"
        )

    ds = ", ".join(f"({d})" for d in range(depth))
    return f"""
    WITH base AS (
        SELECT CAST(l_partkey % 1000 AS BIGINT) AS key,
               l_orderkey AS ok, l_linenumber AS ln,
               unnest(range(0, CASE WHEN (l_partkey % 1000) % 50 = 0
                                    THEN 9 ELSE 1 END)) AS rep
        FROM lineitem
    ),
    needq AS (
        SELECT CAST(ceil(CAST(0.005 AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))
                    AS BIGINT) AS need
        FROM base
    ),
    ds(d) AS (VALUES {ds}),
    counters AS (
        SELECT d, w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT d, {addr('key')} AS w FROM base CROSS JOIN ds)
        GROUP BY d, w
    ),
    cand AS (
        SELECT DISTINCT key FROM base
        WHERE ('0x' || substr(md5(CAST(ok AS VARCHAR) || chr(31) ||
                    CAST(ln AS VARCHAR) || chr(31) ||
                    CAST(rep AS VARCHAR)), 1, 8))::BIGINT % {mod} = 0
    ),
    est AS (
        SELECT l.key, MIN(COALESCE(c.cnt, 0)) AS cms_n
        FROM (SELECT cand.key, ds.d, {addr('cand.key')} AS w
              FROM cand CROSS JOIN ds) l
        LEFT JOIN counters c ON l.d = c.d AND l.w = c.w
        GROUP BY l.key
    ),
    hh AS (
        SELECT key, cms_n FROM est
        WHERE cms_n >= (SELECT need FROM needq)
    ),
    exact AS (
        SELECT key, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM base GROUP BY key
    ),
    th AS (
        SELECT key FROM exact WHERE exact_n >= (SELECT need FROM needq)
    )
    SELECT h.key, CAST(h.cms_n AS BIGINT) AS cms_n, e.exact_n,
           e.exact_n >= (SELECT need FROM needq) AS truly_heavy,
           CAST((SELECT COUNT(*) FROM th) AS BIGINT) AS n_true_heavies,
           CAST((SELECT COUNT(*) FROM th
                 WHERE key NOT IN (SELECT key FROM hh)) AS BIGINT)
               AS n_missed_true_heavies
    FROM hh h JOIN exact e USING (key) ORDER BY key
"""


LLMDATA_ORACLES["t70b_cms_heavy_hitter_set"] = _t70b_oracle()


# t79: the grouped twin — per-l_returnflag sketches (addresses hash the
# key only), per-group md5-modulus candidate samples, per-group bars
# ceil(0.01 · N_group) — replayed relationally with the gate's literal
# geometry (depth 4, width 8192, sample_mod 4).
def _t79_oracle() -> str:
    depth, width, mod = 4, 8192, 4

    def addr(key_expr: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || "
            f"CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT % {width} "
            "AS INT)"
        )

    ds = ", ".join(f"({d})" for d in range(depth))
    return f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(l_partkey % 500 AS BIGINT) AS key,
               l_orderkey AS ok, l_linenumber AS ln,
               unnest(range(0, CASE WHEN (l_partkey % 500) % 40 = 0
                                    THEN 9 ELSE 1 END)) AS rep
        FROM lineitem
    ),
    bars AS (
        SELECT flag,
               CAST(ceil(CAST(0.01 AS DOUBLE) *
                         CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS need
        FROM base GROUP BY flag
    ),
    ds(d) AS (VALUES {ds}),
    counters AS (
        SELECT flag, d, w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT flag, d, {addr('key')} AS w FROM base CROSS JOIN ds)
        GROUP BY flag, d, w
    ),
    cand AS (
        SELECT DISTINCT flag, key FROM base
        WHERE ('0x' || substr(md5(CAST(ok AS VARCHAR) || chr(31) ||
                    CAST(ln AS VARCHAR) || chr(31) ||
                    CAST(rep AS VARCHAR)), 1, 8))::BIGINT % {mod} = 0
    ),
    est AS (
        SELECT l.flag, l.key, MIN(COALESCE(c.cnt, 0)) AS cms_n
        FROM (SELECT cand.flag, cand.key, ds.d, {addr('cand.key')} AS w
              FROM cand CROSS JOIN ds) l
        LEFT JOIN counters c
               ON l.flag = c.flag AND l.d = c.d AND l.w = c.w
        GROUP BY l.flag, l.key
    ),
    hh AS (
        SELECT e.flag, e.key, e.cms_n
        FROM est e JOIN bars b ON e.flag = b.flag
        WHERE e.cms_n >= b.need
    ),
    exact AS (
        SELECT flag, key, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM base GROUP BY flag, key
    ),
    th AS (
        SELECT x.flag, x.key
        FROM exact x JOIN bars b ON x.flag = b.flag
        WHERE x.exact_n >= b.need
    ),
    th_n AS (
        SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_true FROM th
        GROUP BY flag
    ),
    missed AS (
        SELECT t.flag, CAST(COUNT(*) AS BIGINT) AS n_missed
        FROM th t LEFT JOIN hh ON t.flag = hh.flag AND t.key = hh.key
        WHERE hh.key IS NULL GROUP BY t.flag
    )
    SELECT h.flag, h.key, CAST(h.cms_n AS BIGINT) AS cms_n, e.exact_n,
           e.exact_n >= b.need AS truly_heavy,
           tn.n_true AS n_true_heavies,
           CAST(COALESCE(ms.n_missed, 0) AS BIGINT)
               AS n_missed_true_heavies
    FROM hh h
    JOIN exact e ON h.flag = e.flag AND h.key = e.key
    JOIN bars b ON h.flag = b.flag
    JOIN th_n tn ON h.flag = tn.flag
    LEFT JOIN missed ms ON h.flag = ms.flag
    ORDER BY h.flag, h.key
"""


LLMDATA_ORACLES["t79_grouped_heavy_hitters"] = _t79_oracle()


# t73: Z-ordered compaction — the relational half (the conjunctive
# pruned-then-filtered read stays complete) recomputed from raw orders;
# the transactional literals (8 hash-scattered files all scanned
# before, strict pruning improvement after, 2 versions) pin the layout
# facts the Spark side measured for real.
LLMDATA_ORACLES["t73_zordered_compaction"] = f"""
    WITH kq AS (SELECT MAX(o_orderkey) // 4 AS kcap FROM orders)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {SQL_MONEY_SUM('o_totalprice')} AS revenue,
           CAST(8 AS BIGINT) AS files_scanned_before,
           CAST(8 AS BIGINT) AS files_total,
           TRUE AS pruning_improved,
           CAST(2 AS BIGINT) AS n_versions
    FROM orders
    WHERE o_orderkey BETWEEN 0 AND (SELECT kcap FROM kq)
      AND o_totalprice BETWEEN 0 AND 100000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# t71: the histogram sketch + first-bin-reaching-ceil(q·N) upper-edge
# rule replayed with the gate's literal [lo, hi]/bins spec; within_bin
# and merge_exact pin TRUE (the Spark side computes both for real).
def _t71_oracle() -> str:
    lo, hi, bins = 0.0, 500000.0, 100  # the gate's sketch spec
    w = (hi - lo) / bins
    return f"""
    WITH vals AS (
        SELECT CAST(o_totalprice AS DOUBLE) AS x
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    h AS (
        SELECT LEAST(GREATEST(CAST(floor((x - {lo!r}) / {w!r}) AS INT),
                              0), {bins - 1}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM vals GROUP BY 1
    ),
    c AS (
        SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum,
               SUM(cnt) OVER () AS total
        FROM h
    ),
    qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                     (CAST(0.99 AS DOUBLE))),
    est AS (
        SELECT q, MIN(bin) AS qbin FROM qs CROSS JOIN c
        WHERE cum >= ceil(q * CAST(total AS DOUBLE))
        GROUP BY q
    )
    SELECT q, {SQL_QUANT(f"{lo!r} + (qbin + 1) * {w!r}", 4)} AS est,
           TRUE AS within_bin, TRUE AS merge_exact
    FROM est ORDER BY q
"""


EXTRAS_ORACLES["t71_hist_quantiles"] = _t71_oracle()


# t74: the t71 histogram replay PER GROUP — same binning and
# first-bin-reaching-ceil(q·N_g) upper-edge rule, cumulative counts
# partitioned by o_orderstatus.  rollup_exact is pinned TRUE (the
# Spark side computes the grouped-vs-global bin-sum comparison for
# real; per-group counts summing to the global histogram is exact
# integer algebra, so one grouped replay oracles both).
def _t74_oracle() -> str:
    lo, hi, bins = 0.0, 500000.0, 100  # the gate's sketch spec
    w = (hi - lo) / bins
    return f"""
    WITH vals AS (
        SELECT o_orderstatus AS g, CAST(o_totalprice AS DOUBLE) AS x
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    h AS (
        SELECT g,
               LEAST(GREATEST(CAST(floor((x - {lo!r}) / {w!r}) AS INT),
                              0), {bins - 1}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM vals GROUP BY 1, 2
    ),
    c AS (
        SELECT g, bin,
               SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
               SUM(cnt) OVER (PARTITION BY g) AS total
        FROM h
    ),
    qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE))),
    est AS (
        SELECT g, q, MIN(bin) AS qbin FROM qs CROSS JOIN c
        WHERE cum >= ceil(q * CAST(total AS DOUBLE))
        GROUP BY g, q
    )
    SELECT g AS o_orderstatus, q,
           {SQL_QUANT(f"{lo!r} + (qbin + 1) * {w!r}", 4)} AS est,
           TRUE AS rollup_exact
    FROM est ORDER BY o_orderstatus, q
"""


EXTRAS_ORACLES["t74_grouped_hist_quantiles"] = _t74_oracle()


# s9: the streamed CDC feed replayed relationally — because the feed's
# files partition the keys (doc_id % 9 bands), micro-batch boundaries
# are invisible to the final state, and one global latest-wins
# collapse + merge reproduces it; n_versions=4 pins one merge commit
# per micro-batch.
MONITORING_ORACLES["s9_streaming_cdc_apply"] = """
    WITH corpus AS (
        SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 <> 0
    ),
    changes AS (
        SELECT doc_id, 'stale' AS text, lang, 'U' AS op,
               CAST(1 AS BIGINT) AS seq
        FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0
        UNION ALL
        SELECT doc_id, text || ' [cdc]', lang, 'U', CAST(2 AS BIGINT)
        FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0
        UNION ALL
        SELECT doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               'D', CAST(3 AS BIGINT)
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id, 'cdc doc ' || CAST(doc_id AS VARCHAR), lang,
               'I', CAST(1 AS BIGINT)
        FROM documents WHERE doc_id % 3 = 0
    ),
    latest AS (
        SELECT * FROM (
            SELECT c.*, row_number() OVER (
                PARTITION BY doc_id ORDER BY seq DESC) AS rn
            FROM changes c
        ) r WHERE rn = 1
    ),
    merged AS (
        SELECT doc_id, text, lang FROM corpus
        WHERE doc_id NOT IN (SELECT doc_id FROM latest)
        UNION ALL
        SELECT doc_id, text, lang FROM latest WHERE op <> 'D'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
           CAST(SUM(CASE WHEN text LIKE '% [cdc]' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_updated,
           CAST(4 AS BIGINT) AS n_versions
    FROM merged GROUP BY lang ORDER BY lang
"""


# s10: the s9 latest-wins collapse feeds the MV measures; the MV's
# incremental state must equal this from-scratch recompute exactly
# (incremental_exact pins the row-by-row decimal comparison the Spark
# side runs for real; 4 base versions = init + one merge per batch,
# 4 mv versions = init + one refresh per batch).
MONITORING_ORACLES["s10_streaming_cdc_matview"] = """
    WITH corpus AS (
        SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 <> 0
    ),
    changes AS (
        SELECT doc_id, 'stale' AS text, lang, 'U' AS op,
               CAST(1 AS BIGINT) AS seq
        FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0
        UNION ALL
        SELECT doc_id, text || ' [cdc]', lang, 'U', CAST(2 AS BIGINT)
        FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0
        UNION ALL
        SELECT doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               'D', CAST(3 AS BIGINT)
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id, 'cdc doc ' || CAST(doc_id AS VARCHAR), lang,
               'I', CAST(1 AS BIGINT)
        FROM documents WHERE doc_id % 3 = 0
    ),
    latest AS (
        SELECT * FROM (
            SELECT c.*, row_number() OVER (
                PARTITION BY doc_id ORDER BY seq DESC) AS rn
            FROM changes c
        ) r WHERE rn = 1
    ),
    merged AS (
        SELECT doc_id, text, lang FROM corpus
        WHERE doc_id NOT IN (SELECT doc_id FROM latest)
        UNION ALL
        SELECT doc_id, text, lang FROM latest WHERE op <> 'D'
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
           TRUE AS incremental_exact,
           CAST(4 AS BIGINT) AS base_versions,
           CAST(4 AS BIGINT) AS mv_versions
    FROM merged GROUP BY lang ORDER BY lang
"""


# s12: the t71 histogram replay over events.value — the drained
# complete-mode bin state must equal the batch histogram
# (stream_equals_batch pinned TRUE; the Spark side computes the
# bin-for-bin comparison for real), so one batch replay of binning +
# the ceil(q·N) upper-edge rule oracles the stream.  Bounds are
# data-derived exactly as the gate derives them (lo = min, hi =
# greatest(max, min + 1), w = (hi − lo)/bins): every step is one IEEE
# double op in both engines, so lo/w match bit-for-bit.  All numeric
# literals are CAST to DOUBLE — DuckDB bare literals are DECIMAL and
# would change the arithmetic.
def _s12_oracle() -> str:
    bins = 200  # the gate's sketch spec
    return f"""
    WITH vals AS (
        SELECT CAST(value AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL
    ),
    spec AS (
        SELECT lo, GREATEST(mx, lo + CAST(1.0 AS DOUBLE)) AS hi,
               (GREATEST(mx, lo + CAST(1.0 AS DOUBLE)) - lo)
                   / CAST({bins} AS DOUBLE) AS w
        FROM (SELECT min(x) AS lo, max(x) AS mx FROM vals)
    ),
    h AS (
        SELECT LEAST(GREATEST(CAST(floor((x - lo) / w) AS INT),
                              0), {bins - 1}) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM vals CROSS JOIN spec GROUP BY 1
    ),
    c AS (
        SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum,
               SUM(cnt) OVER () AS total
        FROM h
    ),
    qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                     (CAST(0.99 AS DOUBLE))),
    est AS (
        SELECT q, MIN(bin) AS qbin FROM qs CROSS JOIN c
        WHERE cum >= ceil(q * CAST(total AS DOUBLE))
        GROUP BY q
    )
    SELECT q, {SQL_QUANT("lo + (qbin + 1) * w", 4)} AS est,
           TRUE AS within_bin, TRUE AS stream_equals_batch
    FROM est CROSS JOIN spec ORDER BY q
"""


MONITORING_ORACLES["s12_streaming_hist_quantiles"] = _s12_oracle()


# s11: the t70 CMS replay over events/user_id — the drained complete-
# mode counter state must equal the batch sketch (stream_equals_batch
# pinned TRUE; the Spark side computes the counter-for-counter
# comparison for real), so one batch replay oracles the stream.
def _s11_oracle() -> str:
    depth, width = 4, 256

    def addr(key_expr: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || "
            f"CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT % {width} "
            "AS INT)"
        )

    ds = ", ".join(f"({d})" for d in range(depth))
    return f"""
    WITH keys AS (
        SELECT user_id FROM events WHERE user_id IS NOT NULL
    ),
    exact AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM keys GROUP BY user_id
    ),
    top AS (
        SELECT user_id, exact_n FROM exact
        ORDER BY exact_n DESC, user_id LIMIT 10
    ),
    ds(d) AS (VALUES {ds}),
    counters AS (
        SELECT d, w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT d, {addr('user_id')} AS w FROM keys CROSS JOIN ds)
        GROUP BY d, w
    ),
    est AS (
        SELECT l.user_id, l.exact_n, MIN(COALESCE(c.cnt, 0)) AS cms_n
        FROM (SELECT t.user_id, t.exact_n, ds.d,
                     {addr('t.user_id')} AS w
              FROM top t CROSS JOIN ds) l
        LEFT JOIN counters c ON l.d = c.d AND l.w = c.w
        GROUP BY l.user_id, l.exact_n
    )
    SELECT user_id, exact_n, CAST(cms_n AS BIGINT) AS cms_n,
           cms_n >= exact_n AS no_undercount,
           TRUE AS stream_equals_batch
    FROM est ORDER BY user_id
"""


MONITORING_ORACLES["s11_streaming_cms_sketch"] = _s11_oracle()


# s13: the t70b heavy-hitter composition fed by the drained streaming
# sketch — planted skew (user_id % 10 == 0 events ×9), md5-modulus row
# sample → candidates, depth-salted counters, min-estimate, and the
# SF-invariant derived bar ceil((2.0/U)·N) (hot share ≈ 5/U vs normal
# ≈ 0.56/U).  stream_equals_batch is pinned TRUE (the Spark side
# computes the counter comparison for real), so one batch replay
# oracles the streaming composition end-to-end.
def _s13_oracle() -> str:
    depth, width, mod = 4, 2048, 8

    def addr(key_expr: str) -> str:
        return (
            "CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || "
            f"CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT % {width} "
            "AS INT)"
        )

    ds = ", ".join(f"({d})" for d in range(depth))
    return f"""
    WITH base AS (
        SELECT user_id, event_id,
               unnest(range(0, CASE WHEN user_id % 10 = 0
                                    THEN 9 ELSE 1 END)) AS rep
        FROM events
    ),
    needq AS (
        SELECT CAST(ceil((CAST(2.0 AS DOUBLE)
                          / (SELECT COUNT(DISTINCT user_id) FROM base))
                         * CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS need
        FROM base
    ),
    ds(d) AS (VALUES {ds}),
    counters AS (
        SELECT d, w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT d, {addr('user_id')} AS w FROM base CROSS JOIN ds)
        GROUP BY d, w
    ),
    cand AS (
        SELECT DISTINCT user_id FROM base
        WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR) || chr(31) ||
                    CAST(rep AS VARCHAR)), 1, 8))::BIGINT % {mod} = 0
    ),
    est AS (
        SELECT l.user_id, MIN(COALESCE(c.cnt, 0)) AS cms_n
        FROM (SELECT cand.user_id, ds.d, {addr('cand.user_id')} AS w
              FROM cand CROSS JOIN ds) l
        LEFT JOIN counters c ON l.d = c.d AND l.w = c.w
        GROUP BY l.user_id
    ),
    hh AS (
        SELECT user_id, cms_n FROM est
        WHERE cms_n >= (SELECT need FROM needq)
    ),
    exact AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM base GROUP BY user_id
    ),
    th AS (
        SELECT user_id FROM exact
        WHERE exact_n >= (SELECT need FROM needq)
    )
    SELECT h.user_id, CAST(h.cms_n AS BIGINT) AS cms_n, e.exact_n,
           e.exact_n >= (SELECT need FROM needq) AS truly_heavy,
           CAST((SELECT COUNT(*) FROM th) AS BIGINT) AS n_true_heavies,
           CAST((SELECT COUNT(*) FROM th
                 WHERE user_id NOT IN (SELECT user_id FROM hh))
                AS BIGINT) AS n_missed_true_heavies,
           TRUE AS stream_equals_batch
    FROM hh h JOIN exact e USING (user_id) ORDER BY user_id
"""


MONITORING_ORACLES["s13_streaming_heavy_hitters"] = _s13_oracle()


# s14: streaming exact dedup — planted at-least-once duplicates
# (event_id % 7 rows twice) must be invisible after
# dropDuplicatesWithinWatermark, so the drained stream equals the RAW
# batch (stream_equals_batch pinned TRUE; the Spark side computes the
# row-for-row comparison for real) and one raw-events aggregate oracles
# it.  Counts and the id-sum are exact BIGINTs.
MONITORING_ORACLES["s14_streaming_exact_dedup"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           TRUE AS stream_equals_batch
    FROM events GROUP BY event_type ORDER BY event_type
"""


# s8: identical estimator, events stream — the register state a drained
# complete-mode stream leaves behind must equal the batch sketch, so
# one batch replay oracles both.
MONITORING_ORACLES["s8_streaming_distinct_sketch"] = _hll_oracle(
    from_sql=(
        "SELECT event_type AS g, md5(CAST(event_id AS VARCHAR)) AS h "
        "FROM events WHERE event_id IS NOT NULL"
    ),
    bool_col="stream_equals_batch",
    est_name="approx_events",
    exact_sql=(
        "SELECT event_type AS g, COUNT(DISTINCT event_id) AS n "
        "FROM events GROUP BY 1"
    ),
    group_name="event_type",
)


EXTRAS_ORACLES["t16_deterministic_sample"] = """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN n_chars ELSE 0 END) AS BIGINT)
               AS sampled_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
"""


EXTRAS_ORACLES["q22_price_percentiles"] = f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {SQL_QUANT("quantile_cont(o_totalprice, 0.5)", 4)} AS p50,
           {SQL_QUANT("quantile_cont(o_totalprice, 0.9)", 4)} AS p90,
           {SQL_QUANT("quantile_cont(o_totalprice, 0.99)", 4)} AS p99
    FROM orders
    GROUP BY 1
    ORDER BY o_orderpriority
"""

# The windowed variant computes the same type-7 interpolated percentiles
# — identical numbers, shared oracle.
EXTRAS_ORACLES["q22b_price_percentiles_windowed"] = EXTRAS_ORACLES[
    "q22_price_percentiles"
]


def _minhash_portable_oracle() -> str:
    """DuckDB twin of extras.t17_minhash_portable: identical shingling
    (t5's), md5-derived 32-bit shingle hashes, the SAME literal (a, b)
    modular permutations (operators.dedup.minhash_coeffs), md5 band keys,
    candidate self-join, and candidate-scoped exact-Jaccard verification."""
    from ..operators.dedup import MINHASH_P, minhash_coeffs

    num_perm, bands = 32, 8
    r = num_perm // bands
    mins = ",\n                   ".join(
        f"MIN(({a} * hv + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_perm))
    )
    band_selects = "\n            UNION ALL\n            ".join(
        "SELECT id, {j} AS band, md5(concat_ws(',', {cols})) AS bkey FROM sig".format(
            j=j, cols=", ".join(f"mh{j * r + k}" for k in range(r))
        )
        for j in range(bands)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split({NORM}, ' ') AS l FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   CASE WHEN len(l) >= 2
                        THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
                        ELSE [array_to_string(l, ' ')] END AS g
            FROM toks
        ),
        sh AS (SELECT DISTINCT doc_id AS id, unnest(g) AS shingle FROM grams),
        hv AS (
            SELECT id, shingle,
                   ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hv
            FROM sh
        ),
        sig AS (
            SELECT id,
                   {mins}
            FROM hv GROUP BY id
        ),
        bands AS (
            {band_selects}
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
        ),
        sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
        inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS i
            FROM cand c
            JOIN sh a ON a.id = c.id_a
            JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
            GROUP BY 1, 2
        ),
        j AS (
            SELECT id_a, id_b,
                   CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
            FROM inter
            JOIN sizes sa ON id_a = sa.id
            JOIN sizes sb ON id_b = sb.id
        )
        SELECT id_a, id_b, {SQL_QUANT('jaccard', 6)} AS jaccard
        FROM j WHERE jaccard >= 0.35
        ORDER BY id_a, id_b
    """


EXTRAS_ORACLES["t17_minhash_portable"] = _minhash_portable_oracle()


def _incremental_minhash_oracle(cross_only: bool = False) -> str:
    """DuckDB twin of llmdata.t31_incremental_minhash.  The oracle takes
    the OPPOSITE route to the Spark plan on purpose: it recomputes the
    full-corpus portable-MinHash pairing (t17's chain, threshold 0.35)
    and then restricts to pairs touching the delta (doc_id % 5 = 0).
    Equality therefore proves the incremental delta⋈(corpus∪delta)
    formulation returns exactly the full recompute's delta-touching
    pairs — the correctness contract of cross-run dedup.

    cross_only=True is s3's twin (streaming screen of the delta against
    the static corpus): exactly one endpoint in the delta, and no
    pair_kind column."""
    if cross_only:
        cand_pred = "(a.id % 5 = 0) <> (b.id % 5 = 0)"
        kind_col = ""
    else:
        cand_pred = "a.id % 5 = 0 OR b.id % 5 = 0"
        kind_col = (
            ",\n               CASE WHEN id_a % 5 = 0 AND id_b % 5 = 0"
            " THEN 'delta_delta'\n"
            "                    ELSE 'delta_corpus' END AS pair_kind"
        )
    from ..operators.dedup import MINHASH_P, minhash_coeffs

    num_perm, bands = 32, 8
    r = num_perm // bands
    mins = ",\n                   ".join(
        f"MIN(({a} * hv + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_perm))
    )
    band_selects = "\n            UNION ALL\n            ".join(
        "SELECT id, {j} AS band, md5(concat_ws(',', {cols})) AS bkey FROM sig".format(
            j=j, cols=", ".join(f"mh{j * r + k}" for k in range(r))
        )
        for j in range(bands)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split({NORM}, ' ') AS l FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   CASE WHEN len(l) >= 2
                        THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
                        ELSE [array_to_string(l, ' ')] END AS g
            FROM toks
        ),
        sh AS (SELECT DISTINCT doc_id AS id, unnest(g) AS shingle FROM grams),
        hv AS (
            SELECT id, shingle,
                   ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS hv
            FROM sh
        ),
        sig AS (
            SELECT id,
                   {mins}
            FROM hv GROUP BY id
        ),
        bands AS (
            {band_selects}
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
            WHERE {cand_pred}
        ),
        sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
        inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS i
            FROM cand c
            JOIN sh a ON a.id = c.id_a
            JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
            GROUP BY 1, 2
        ),
        j AS (
            SELECT id_a, id_b,
                   CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
            FROM inter
            JOIN sizes sa ON id_a = sa.id
            JOIN sizes sb ON id_b = sb.id
        )
        SELECT id_a, id_b, {SQL_QUANT('jaccard', 6)} AS jaccard{kind_col}
        FROM j WHERE jaccard >= 0.35
        ORDER BY id_a, id_b
    """


LLMDATA_ORACLES["t31_incremental_minhash"] = _incremental_minhash_oracle()
MONITORING_ORACLES["s3_streaming_neardup"] = _incremental_minhash_oracle(
    cross_only=True
)


# ------------------------------------------------- relational gates (q23+)

RELATIONAL_ORACLES: dict[str, str] = {}

RELATIONAL_ORACLES["q23_monthly_growth"] = f"""
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {SQL_MONEY_SUM('o_totalprice')} AS revenue
        FROM orders GROUP BY 1
    ),
    nav AS (
        SELECT month, n_orders, revenue,
               LAG(revenue) OVER (ORDER BY month) AS prev_revenue
        FROM monthly
    )
    SELECT month, n_orders, revenue, prev_revenue,
           {SQL_SAFE_PCT('revenue - prev_revenue', 'prev_revenue')} AS growth_pct
    FROM nav
    ORDER BY month
"""

RELATIONAL_ORACLES["q24_brand_type_cube"] = f"""
    SELECT COALESCE(p_brand, 'ALL') AS brand,
           COALESCE(p_type, 'ALL') AS part_type,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           {SQL_MONEY_SUM('p_retailprice')} AS total_price,
           {SQL_MEAN2('p_retailprice', 'COUNT(*)')} AS avg_price
    FROM part
    GROUP BY CUBE (p_brand, p_type)
    ORDER BY brand, part_type
"""

RELATIONAL_ORACLES["q25_top_parts_per_brand"] = f"""
    WITH ranked AS (
        SELECT p_brand AS brand,
               ROW_NUMBER() OVER (
                   PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey
               ) AS brand_rank,
               p_partkey AS partkey,
               p_name AS part_name,
               {SQL_R2('p_retailprice')} AS retail_price
        FROM part
    )
    SELECT CAST(brand_rank AS INT) AS brand_rank, brand, partkey, part_name,
           retail_price
    FROM ranked WHERE brand_rank <= 3
    ORDER BY brand, brand_rank
"""

RELATIONAL_ORACLES["q26_daily_activity"] = f"""
    WITH {EVENTS_NORM},
    od AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {SQL_MONEY_SUM('o_totalprice')} AS order_value
        FROM orders GROUP BY 1
    ),
    ed AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {SQL_R2(SQL_DSUM('value'))} AS event_value
        FROM ev GROUP BY 1
    )
    SELECT day,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(order_value, 0.0) AS order_value,
           COALESCE(n_events, 0) AS n_events,
           COALESCE(event_value, 0.0) AS event_value
    FROM od FULL JOIN ed USING (day)
    ORDER BY day
"""

RELATIONAL_ORACLES["q27_order_date_spine"] = """
    WITH bounds AS (
        SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
               MAX(CAST(o_orderdate AS DATE)) AS d1
        FROM orders
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    filled AS (
        SELECT s.day, COALESCE(d.n_orders, 0) AS n_orders
        FROM spine s LEFT JOIN daily d ON s.day = d.day
    )
    SELECT CAST(date_trunc('month', day) AS TIMESTAMP) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_active_days,
           CAST(SUM(CASE WHEN n_orders = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_days,
           CAST(SUM(n_orders) AS BIGINT) AS total_orders
    FROM filled
    GROUP BY 1
    ORDER BY month
"""

RELATIONAL_ORACLES["q28_nation_balance_outliers"] = f"""
    WITH pn AS (
        SELECT c_nationkey,
               SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS sum_bal,
               COUNT(*) AS n_cust
        FROM customer GROUP BY 1
    )
    SELECT n_name AS nation,
           c_custkey AS custkey,
           {SQL_R2('c_acctbal')} AS acctbal
    FROM customer c
    JOIN pn USING (c_nationkey)
    JOIN nation ON c_nationkey = n_nationkey
    WHERE CAST(c_acctbal AS DECIMAL(18,4)) * 2 * n_cust > sum_bal * 3
    ORDER BY nation, custkey
"""

# q35: capped-basket co-occurrence with association-rule metrics —
# deterministic per-order item cap, exact BIGINT counts, each metric one
# cast-to-double IEEE division (the gate constants BASKET_CAP /
# MIN_PAIR_COUNT are imported so spec drift fails loudly at import).
def _q35_oracle() -> str:
    from .relational import BASKET_CAP, MIN_PAIR_COUNT

    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    b AS (
        SELECT l_orderkey, l_partkey FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
            FROM li)
        WHERE rn <= {BASKET_CAP}
    ),
    no AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM b),
    item AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
        FROM b GROUP BY 1
    ),
    p AS (
        SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_PAIR_COUNT}
    )
    SELECT part_a, part_b, n_pair,
           {SQL_QUANT("CAST(n_pair AS DOUBLE)"
                      " / (SELECT CAST(n AS DOUBLE) FROM no)", 6)} AS support,
           {SQL_QUANT("CAST(n_pair AS DOUBLE) / na.n_item", 6)} AS confidence,
           {SQL_QUANT("CAST(n_pair * (SELECT n FROM no) AS DOUBLE)"
                      " / (na.n_item * nb.n_item)", 6)} AS lift
    FROM p
    JOIN item na ON p.part_a = na.l_partkey
    JOIN item nb ON p.part_b = nb.l_partkey
    ORDER BY n_pair DESC, part_a, part_b
"""


RELATIONAL_ORACLES["q35_market_basket"] = _q35_oracle()


RELATIONAL_ORACLES["q29_lineitem_moment_stats"] = f"""
    WITH agg AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
               SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS sy,
               SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS sxy,
               SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS sxx,
               SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4)))
                   AS syy
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag AS returnflag,
           n,
           {SQL_QUANT('CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)', 6)} AS avg_qty,
           {SQL_QUANT(
               'sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)'
               ' - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))'
               ' / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))', 6
           )} AS stddev_qty,
           {SQL_QUANT(
               '(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)'
               ' - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
               ' / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)'
               ' - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))'
               ' * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)'
               ' - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))', 6
           )} AS corr_qty_price
    FROM agg
    ORDER BY returnflag
"""


def _simhash_portable_oracle() -> str:
    """DuckDB twin of extras.t18_simhash_portable: identical tokenization
    and md5-prefix 48-bit hashes (operators.dedup.simhash_md5_sql), but
    brute-force ALL-pairs Hamming — so a hash match also proves the Spark
    side's 4x12-bit chunk blocking loses no pair (exact recall)."""
    from ..operators.dedup import SIMHASH_MD5_BITS

    bits = SIMHASH_MD5_BITS
    return f"""
        WITH d AS (SELECT doc_id, {NORM} AS norm FROM documents),
        toks AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM d),
        hv AS (
            SELECT doc_id, ('0x' || substr(md5(t), 1, 12))::BIGINT AS h
            FROM toks
        ),
        b AS (SELECT unnest(range(0, {bits})) AS bit),
        votes AS (
            SELECT doc_id, bit, SUM(((h >> bit) & 1) * 2 - 1) AS v
            FROM hv CROSS JOIN b GROUP BY 1, 2
        ),
        sim AS (
            SELECT doc_id,
                   SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                            ELSE CAST(0 AS BIGINT) END) AS sim
            FROM votes GROUP BY 1
        )
        SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
               bit_count(xor(a.sim, b2.sim)) AS hamming
        FROM sim a JOIN sim b2 ON a.doc_id < b2.doc_id
        WHERE bit_count(xor(a.sim, b2.sim)) <= 3
        ORDER BY id_a, id_b
    """


EXTRAS_ORACLES["t18_simhash_portable"] = _simhash_portable_oracle()

# DuckDB twin of extras.t19_winnow_portable: same normalized text, same
# md5-prefix 32-bit gram hashes, same window-min selection (list_transform
# over 1-based inclusive slices == Spark's transform over slice()), same
# distinct-fingerprint pair join.
_WINNOW_K, _WINNOW_W, _WINNOW_MIN = 16, 8, 20
EXTRAS_ORACLES["t19_winnow_portable"] = f"""
    WITH d AS (SELECT doc_id, {NORM} AS norm FROM documents),
    g AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(len(norm) - {_WINNOW_K} + 1, 1) + 1),
                   i -> ('0x' || substr(md5(substr(norm, i, {_WINNOW_K})), 1, 8))::BIGINT
               ) AS grams
        FROM d
    ),
    m AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(len(grams) - {_WINNOW_W} + 1, 1) + 1),
                   i -> list_min(grams[i:i+{_WINNOW_W}-1])
               ) AS mins
        FROM g
    ),
    fp AS (SELECT DISTINCT doc_id AS id, unnest(mins) AS fingerprint FROM m)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
    FROM fp a JOIN fp b ON a.fingerprint = b.fingerprint AND a.id < b.id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_WINNOW_MIN}
    ORDER BY id_a, id_b
"""


# ---------------------------------------------- behavioral gates (q30-q34)

BEHAVIORAL_ORACLES: dict[str, str] = {}

BEHAVIORAL_ORACLES["q30_rolling_weekly_revenue"] = f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        FROM orders GROUP BY 1
    ),
    win AS (
        SELECT day, n_orders, rev,
               CAST(SUM(n_orders) OVER w AS BIGINT) AS rolling_orders,
               SUM(rev) OVER w AS rolling_rev
        FROM daily
        WINDOW w AS (ORDER BY CAST(day AS DATE) - DATE '1970-01-01'
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, n_orders,
           {SQL_R2('rev')} AS day_revenue,
           rolling_orders,
           {SQL_R2('rolling_rev')} AS rolling_revenue
    FROM win
    ORDER BY day
"""

BEHAVIORAL_ORACLES["q31_weekly_cohort_retention"] = f"""
    WITH {EVENTS_NORM},
    cohort AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
        FROM ev GROUP BY 1
    ),
    act AS (
        SELECT e.user_id, c.cohort_week,
               CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS act_week
        FROM ev e JOIN cohort c USING (user_id)
    ),
    cells AS (
        SELECT cohort_week,
               CAST(date_diff('day', CAST(cohort_week AS DATE),
                              CAST(act_week AS DATE)) / 7 AS INT)
                   AS week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        FROM act GROUP BY 1, 2
    ),
    sizes AS (
        SELECT cohort_week,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cohort_size
        FROM cohort GROUP BY 1
    )
    SELECT cohort_week, week_offset, cohort_size, n_active,
           {SQL_SAFE_PCT('n_active', 'cohort_size')} AS retention_pct
    FROM cells JOIN sizes USING (cohort_week)
    ORDER BY cohort_week, week_offset
"""

BEHAVIORAL_ORACLES["q32_event_funnel"] = f"""
    WITH {EVENTS_NORM},
    v AS (
        SELECT user_id, MIN(ts) AS v_ts FROM ev
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS c_ts
        FROM ev e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.v_ts
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS p_ts
        FROM ev e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        GROUP BY 1
    ),
    s(stage, n_users) AS (
        SELECT '1_all_users', (SELECT COUNT(DISTINCT user_id) FROM ev)
        UNION ALL SELECT '2_first_view', (SELECT COUNT(*) FROM v)
        UNION ALL SELECT '3_click_after_view', (SELECT COUNT(*) FROM c)
        UNION ALL SELECT '4_purchase_after_click', (SELECT COUNT(*) FROM p)
    )
    SELECT stage, CAST(n_users AS BIGINT) AS n_users,
           {SQL_SAFE_PCT('n_users', 'LAG(n_users) OVER (ORDER BY stage)')}
               AS step_conversion_pct
    FROM s
    ORDER BY stage
"""

BEHAVIORAL_ORACLES["q33_returnflag_grouping_sets"] = f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {SQL_MONEY_SUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    ORDER BY returnflag, linestatus
"""

BEHAVIORAL_ORACLES["q34_click_purchase_overlap"] = """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    ORDER BY user_id
"""

# t75: per-user lag -> (prev, next) counts -> row-normalized transition
# probabilities.  cnt/total are exact BIGINTs; one cast-to-double then
# one IEEE division replays bit-for-bit.
BEHAVIORAL_ORACLES["t75_event_transitions"] = f"""
    WITH seq AS (
        SELECT event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev
        FROM events
    ),
    t AS (
        SELECT prev, event_type AS next,
               CAST(COUNT(*) AS BIGINT) AS n_trans
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev AS prev_type, next AS next_type, n_trans,
           {SQL_QUANT(
               "CAST(n_trans AS DOUBLE)"
               " / SUM(n_trans) OVER (PARTITION BY prev)", 6)} AS p_trans
    FROM t ORDER BY prev_type, next_type
"""


# ------------------------------------------------- corpus gates (t20-t22)

CORPUS_ORACLES: dict[str, str] = {}

CORPUS_ORACLES["t20_tfidf_top_terms"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    dfq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term, tf, doc_freq,
               {SQL_QUANT(
                   'CAST(tf * (n_docs + 1) AS DOUBLE)'
                   ' / CAST(doc_freq + 1 AS DOUBLE)', 6
               )} AS tfidf
        FROM tf JOIN dfq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tf, doc_freq, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS term_rank
        FROM scored
    )
    SELECT doc_id, CAST(term_rank AS INT) AS term_rank, term, tf, doc_freq,
           tfidf
    FROM ranked WHERE term_rank <= 3
    ORDER BY doc_id, term_rank
"""

# Connected components replayed serially: the recursive CTE enumerates
# (node, reachable-ancestor) pairs from the symmetric pair graph;
# MIN(ancestor) per node == the min-label-propagation fixpoint the Spark
# operator converges to.
CORPUS_ORACLES["t21_neardup_clusters"] = f"""
    WITH RECURSIVE {JACCARD_PAIR_CTES},
    pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.3),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    cc(node, lab) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.b, c.lab FROM cc c JOIN sym e ON e.a = c.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lab) AS component FROM cc GROUP BY 1),
    szs AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY 1
    )
    SELECT doc_id, component, cluster_size
    FROM comp JOIN szs USING (component)
    ORDER BY doc_id
"""

# t40 merges delta pairs into the prior corpus star; star edges preserve
# connectivity exactly, so the merged closure equals t21's from-scratch
# closure over all pairs — the oracle is shared verbatim, and equality
# proves the incremental formulation.
CORPUS_ORACLES["t40_incremental_clusters"] = CORPUS_ORACLES[
    "t21_neardup_clusters"
]

CORPUS_ORACLES["t22_balanced_language_sample"] = f"""
    WITH sizes AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS stratum_size
        FROM documents GROUP BY 1
    ),
    scored AS (
        SELECT doc_id, lang, stratum_size,
               {SQL_QUANT(
                   "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
                   '::BIGINT AS DOUBLE) / 4294967296.0', 6
               )} AS u
        FROM documents JOIN sizes USING (lang)
    )
    SELECT doc_id, lang, stratum_size, u
    FROM scored
    WHERE u * stratum_size < 40.0
    ORDER BY doc_id
"""

# Greedy sequential packing: contiguous fill over (source, doc_id) order
# — a doc's bin is floor(prefix-sum-before-it / budget).  Same whitespace
# tokenizer as t1; 2048-token budget (plans/corpus.PACK_TOKEN_BUDGET).
CORPUS_ORACLES["t27_sequence_packing"] = f"""
    WITH d AS (
        SELECT source, doc_id,
               CAST(len(string_split({NORM}, ' ')) AS BIGINT) AS nt
        FROM documents
    ),
    c AS (
        SELECT source, doc_id, nt,
               SUM(nt) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        FROM d
    )
    SELECT source,
           CAST(FLOOR((cum - nt) / 2048.0) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           {SQL_QUANT('CAST(SUM(nt) AS DOUBLE) / 2048.0', 6)} AS fill_ratio
    FROM c
    GROUP BY source, 2
    ORDER BY source, bin_id
"""

# Deterministic sharding: md5-prefix(doc_id) mod 16 — the same portable
# 32-bit md5 idiom the dedup oracles use.
CORPUS_ORACLES["t28_shard_assignment"] = """
    SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16
               AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY 1
    ORDER BY shard_id
"""

# Frame-sampling plan arithmetic recomputed from n_chars: duration =
# n_chars*10 ms, frames every 2000 ms -> ceil(duration/2000) offsets
# starting at 0; stub frames are 32 bytes by contract (multimodal.py).
CORPUS_ORACLES["t25_frame_sample"] = """
    WITH per_doc AS (
        SELECT source,
               CASE WHEN n_chars > 0
                    THEN CAST(CEIL(n_chars * 10 / 2000.0) AS BIGINT)
                    ELSE 0 END AS n_frames
        FROM documents
    )
    SELECT source,
           CAST(SUM(CASE WHEN n_frames > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_assets,
           CAST(SUM(n_frames) AS BIGINT) AS total_frames,
           CAST(MAX(CASE WHEN n_frames > 0 THEN (n_frames - 1) * 2000 END)
               AS BIGINT) AS max_last_offset_ms,
           CAST(SUM(n_frames) * 32 AS BIGINT) AS total_frame_bytes
    FROM per_doc
    GROUP BY source
    HAVING SUM(n_frames) > 0
    ORDER BY source
"""

CORPUS_ORACLES["t35_sliding_chunks"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split({NORM}, ' ') AS l FROM documents
    ),
    nc AS (
        SELECT doc_id, l,
               CASE WHEN len(l) <= 64 THEN 1
                    ELSE 1 + (len(l) - 64 + 47) // 48 END AS ns
        FROM toks
    ),
    ch AS (
        SELECT doc_id,
               unnest(list_transform(range(0, ns),
                      i -> {{'cid': i,
                            'txt': array_to_string(l[i*48+1 : i*48+64], ' ')}}))
                   AS s
        FROM nc
    )
    SELECT doc_id,
           CAST(s.cid AS BIGINT) AS chunk_id,
           CAST(len(string_split(s.txt, ' ')) AS BIGINT) AS n_tokens_chunk,
           md5(s.txt) AS chunk_md5
    FROM ch
    ORDER BY doc_id, chunk_id
"""

CORPUS_ORACLES["t36_temperature_mix"] = f"""
    WITH per_src AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT *,
               CAST(FLOOR(sqrt(CAST(total_chars AS DOUBLE)) * 1000000 + 0.5)
                   AS BIGINT) AS w6
        FROM per_src
    ),
    tot AS (SELECT SUM(w6) AS sum_w6, SUM(n_docs) AS n_total FROM w),
    rates AS (
        SELECT source, n_docs, total_chars,
               LEAST(1.0,
                     0.4 * CAST(n_total AS DOUBLE) * CAST(w6 AS DOUBLE)
                     / (CAST(sum_w6 AS DOUBLE) * CAST(n_docs AS DOUBLE)))
                   AS rate
        FROM w CROSS JOIN tot
    ),
    kept AS (
        SELECT d.source, d.n_chars,
               (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8))::BIGINT
                % 1000000) < CAST(FLOOR(r.rate * 1000000) AS BIGINT) AS keep
        FROM documents d JOIN rates r ON d.source = r.source
    )
    SELECT r.source, r.n_docs, r.total_chars,
           {SQL_QUANT('r.rate', 6)} AS rate,
           CAST(SUM(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN k.keep THEN k.n_chars ELSE 0 END) AS BIGINT)
               AS kept_chars
    FROM rates r JOIN kept k ON r.source = k.source
    GROUP BY r.source, r.n_docs, r.total_chars, r.rate
    ORDER BY r.source
"""

CORPUS_ORACLES["t23_multimodal_manifest"] = """
    SELECT 'image' AS modality,
           source,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_unique_contents,
           CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(CAST(text AS BLOB))) AS BIGINT) AS max_bytes
    FROM documents
    GROUP BY source
    ORDER BY modality, source
"""


# ------------------------------------------------------- round-4 oracles

def _semdedup_trained_oracle(
    k: int,
    iters: int,
    max_cluster: int,
    sub_bits: int,
    sub_seed: int,
    dim: int,
    threshold: float,
    corpus_where: str = "",
    delta_where: str | None = None,
    emit_pairs: bool = False,
    train_mod: int | None = None,
) -> str:
    """DuckDB twin of operators/similarity.semdedup_trained: unrolls the
    ivf_train k-means loop (hash-sampled seeds ranked by (md5, id) —
    operators/similarity._seed_centroids, per-iteration SRP-BUCKETED
    nearest-centroid assignment, per-dim mean as decimal-exact SUM cast
    to double then one IEEE division, empty-cluster carryover), the
    final assignment, the >max_cluster SRP sub-split with the SAME
    hyperplane literals as the operator, the id-ordered chunk cap, and
    the drop-if-similar-to-any-lower-id-member rule.  Every float op is
    a sequential fold or a single IEEE op, so both engines agree
    bit-for-bit (the _srp_lsh_oracle discipline extended to the
    training loop; tunables are the operator module's own constants).

    The bucketed assignment (operators/similarity.
    _assign_clusters_bucketed: candidates = centroids within Hamming 1
    of the vector's assign-plane SRP key, exact argmax among them,
    argmax over ALL centroids when no candidate) replays as ONE window:
    ORDER BY (hamming(akey, asig) <= 1) DESC, cos DESC, cid ASC over
    all (vector, centroid) pairs — when candidates exist one of them
    outranks every non-candidate; when none, the fallback's global
    order applies verbatim.  assign_bits comes from the operator's own
    assign_bits_for(k).

    ``corpus_where`` filters the TRAINING set (seeds, assignment
    passes, means).  ``delta_where`` switches to the INCREMENTAL twin
    (t61, operators/similarity.semdedup_incremental): corpus and delta
    are both assigned under the trained centroids with UNCONDITIONAL
    sub keys (the semdedup_assign store contract), and a delta vector
    drops when similar to ANY corpus group member or a LOWER-id delta
    group member — witnesses capped to the max_group lowest-id rows
    per (cluster, sub) group, the operator's degenerate-corpus bound;
    output is the delta only."""
    from ..operators.similarity import (
        ASSIGN_SEED,
        SEED_OVERSAMPLE,
        SEMDEDUP_MAX_CLUSTER,
        _hyperplanes,
        assign_bits_for,
    )

    planes = _hyperplanes(dim, sub_bits, sub_seed)
    assign_bits = assign_bits_for(k)
    aplanes = _hyperplanes(dim, assign_bits, ASSIGN_SEED)
    max_group = SEMDEDUP_MAX_CLUSTER

    def plane_lit(coeffs: list[float]) -> str:
        return "[" + ", ".join(repr(c) for c in coeffs) + "]"

    def cos(vec_a: str, nrm_a: str, vec_b: str, nrm_b: str) -> str:
        return f"{_dot(vec_a, vec_b)} / ({nrm_a} * {nrm_b})"

    def sub_expr(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN {_dot(col, plane_lit(planes[p]))} > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(sub_bits)
        )

    def akey_expr(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN {_dot(col, plane_lit(aplanes[p]))} > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(assign_bits)
        )

    # the bucketed-assignment window order (see docstring)
    def asg_order(cos_sql: str) -> str:
        return (
            "(CASE WHEN bit_count(xor(CAST(vc.akey AS BIGINT), "
            "CAST(c.asig AS BIGINT))) <= 1 THEN 1 ELSE 0 END) DESC, "
            f"{cos_sql} DESC, c.cid ASC"
        )

    # the TRAINING relation: the corpus, or its md5-modulus sample when
    # train_mod is set (ivf_train(train_mod=) — sampled k-means; the
    # final assignment below still runs over every vector)
    tr = "vt" if train_mod is not None and train_mod > 1 else "vc"
    ctes = [
        "v AS (SELECT vec_id, embedding, "
        f"sqrt({_dot('embedding', 'embedding')}) AS nrm, "
        f"{akey_expr('embedding')} AS akey FROM embeddings)",
        f"vc AS (SELECT * FROM v {corpus_where})",
    ]
    if tr == "vt":
        ctes.append(
            "vt AS (SELECT * FROM vc WHERE "
            "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT "
            f"% {train_mod} = 0)"
        )
    ctes += [
        # seeds (operators/similarity._seed_centroids): hash-sample
        # candidates by the t16 md5 modulus (mod = max(1, n //
        # (SEED_OVERSAMPLE·k)), full-corpus fallback when the sample is
        # short of k), then the k (hkey, id)-smallest candidates get
        # cluster ids 0..k-1 in hash order
        "sdh AS (SELECT *, ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), "
        f"1, 8))::BIGINT AS hkey FROM {tr})",
        f"sdm AS (SELECT GREATEST(1, COUNT(*) // {SEED_OVERSAMPLE * k}) "
        "AS m FROM sdh)",
        "sdc AS (SELECT * FROM sdh WHERE hkey % (SELECT m FROM sdm) = 0)",
        f"cand AS (SELECT * FROM sdc "
        f"WHERE (SELECT COUNT(*) FROM sdc) >= {k} "
        "UNION ALL SELECT * FROM sdh "
        f"WHERE (SELECT COUNT(*) FROM sdc) < {k})",
        "c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY hkey, vec_id) - 1 "
        "AS cid, embedding AS cvec, nrm AS cnrm, akey AS asig "
        f"FROM cand ORDER BY hkey, vec_id LIMIT {k})",
    ]
    for r in range(1, iters + 1):
        prev = f"c{r - 1}"
        asg_cos = cos("vc.embedding", "vc.nrm", "c.cvec", "c.cnrm")
        ctes.append(
            f"a{r} AS (SELECT vec_id, cid AS cluster_id FROM ("
            f"SELECT vc.vec_id, c.cid, ROW_NUMBER() OVER ("
            f"PARTITION BY vc.vec_id ORDER BY {asg_order(asg_cos)}"
            f") AS rn FROM {tr} vc CROSS JOIN {prev} c) WHERE rn = 1)"
        )
        # multiple unnests in one SELECT zip positionally (both lists
        # have length dim), giving (dim index, component) rows
        ctes.append(
            f"u{r} AS (SELECT cluster_id, dim, "
            "CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m "
            f"FROM (SELECT a.cluster_id, "
            f"unnest(range(1, {dim + 1})) AS dim, "
            f"unnest(vc.embedding) AS val "
            f"FROM a{r} a JOIN {tr} vc USING (vec_id)) "
            "GROUP BY cluster_id, dim)"
        )
        ctes.append(
            f"c{r} AS (SELECT cid, cvec, "
            f"sqrt({_dot('cvec', 'cvec')}) AS cnrm, "
            f"{akey_expr('cvec')} AS asig FROM ("
            f"SELECT p.cid, COALESCE(n.centroid, p.cvec) AS cvec "
            f"FROM {prev} p LEFT JOIN ("
            "SELECT cluster_id AS cid, list(m ORDER BY dim) AS centroid "
            f"FROM u{r} GROUP BY cluster_id) n USING (cid)))"
        )
    final_cos = cos("vc.embedding", "vc.nrm", "c.cvec", "c.cnrm")
    if delta_where is None:
        # batch mode: assign EVERY vector; conditional sub-split + chunk
        ctes.append(
            f"af AS (SELECT vec_id, cid AS cluster_id FROM ("
            f"SELECT vc.vec_id, c.cid, ROW_NUMBER() OVER ("
            f"PARTITION BY vc.vec_id ORDER BY {asg_order(final_cos)}"
            f") AS rn FROM v vc CROSS JOIN c{iters} c) WHERE rn = 1)"
        )
        ctes.append(
            "sz AS (SELECT cluster_id, COUNT(*) AS csz FROM af "
            "GROUP BY cluster_id)"
        )
        ctes.append(
            "m AS (SELECT a.vec_id, a.cluster_id, v.embedding, v.nrm, "
            f"CASE WHEN sz.csz > {max_cluster} "
            f"THEN {sub_expr('v.embedding')} ELSE 0 END AS sub "
            "FROM af a JOIN v USING (vec_id) JOIN sz USING (cluster_id))"
        )
        ctes.append(
            "g AS (SELECT *, FLOOR((ROW_NUMBER() OVER ("
            "PARTITION BY cluster_id, sub ORDER BY vec_id) - 1) "
            f"/ {max_cluster}) AS chunk FROM m)"
        )
        ctes.append(
            "dropped AS (SELECT DISTINCT b.vec_id FROM g a JOIN g b "
            "ON a.cluster_id = b.cluster_id AND a.sub = b.sub "
            "AND a.chunk = b.chunk AND a.vec_id < b.vec_id "
            f"WHERE {cos('a.embedding', 'a.nrm', 'b.embedding', 'b.nrm')}"
            f" >= {threshold})"
        )
        return (
            "WITH "
            + ",\n    ".join(ctes)
            + """
    SELECT a.vec_id,
           CAST(a.cluster_id AS BIGINT) AS cluster_id,
           a.vec_id IN (SELECT vec_id FROM dropped) AS dropped
    FROM af a
    ORDER BY a.vec_id
"""
        )

    # incremental mode: corpus store + delta, unconditional sub keys
    def assign_sub(name: str, where: str) -> str:
        return (
            f"{name} AS (SELECT q.vec_id, q.cluster_id, s.embedding, "
            f"s.nrm, {sub_expr('s.embedding')} AS sub FROM ("
            f"SELECT vec_id, cid AS cluster_id FROM ("
            f"SELECT vc.vec_id, c.cid, ROW_NUMBER() OVER ("
            f"PARTITION BY vc.vec_id ORDER BY {asg_order(final_cos)}"
            f") AS rn FROM v vc CROSS JOIN c{iters} c {where}) WHERE rn = 1"
            f") q JOIN v s USING (vec_id))"
        )

    ctes.append(assign_sub("mc", corpus_where))
    ctes.append(assign_sub("md", delta_where))
    # witness caps: only the max_group LOWEST-id rows per (cluster, sub)
    # group can testify against a delta vector (semdedup_incremental /
    # semdedup_stream's degenerate-corpus bound)
    ctes.append(
        "mcw AS (SELECT * FROM (SELECT mc.*, ROW_NUMBER() OVER ("
        "PARTITION BY cluster_id, sub ORDER BY vec_id) AS grn FROM mc) "
        f"WHERE grn <= {max_group})"
    )
    pair_cos = cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")
    if emit_pairs:
        # s7: the (delta, corpus) near-dup PAIRS themselves, cosine
        # quantized BEFORE the threshold (the streaming gate filters on
        # the quantized value)
        return (
            "WITH "
            + ",\n    ".join(ctes)
            + f"""
    SELECT b.vec_id,
           CAST(b.cluster_id AS BIGINT) AS cluster_id,
           a.vec_id AS corpus_id,
           {SQL_QUANT(cos('b.embedding', 'b.nrm', 'a.embedding', 'a.nrm'), 6)}
               AS cosine_sim
    FROM md b JOIN mcw a
      ON a.cluster_id = b.cluster_id AND a.sub = b.sub
    WHERE {SQL_QUANT(cos('b.embedding', 'b.nrm', 'a.embedding', 'a.nrm'), 6)}
          >= {threshold}
    ORDER BY b.vec_id, corpus_id
"""
        )
    ctes.append(
        "mdw AS (SELECT * FROM (SELECT md.*, ROW_NUMBER() OVER ("
        "PARTITION BY cluster_id, sub ORDER BY vec_id) AS grn FROM md) "
        f"WHERE grn <= {max_group})"
    )
    ctes.append(
        "dropped AS ("
        "SELECT DISTINCT b.vec_id FROM md b JOIN mcw a "
        "ON a.cluster_id = b.cluster_id AND a.sub = b.sub "
        f"WHERE {pair_cos} >= {threshold} "
        "UNION "
        "SELECT DISTINCT b.vec_id FROM md b JOIN mdw a "
        "ON a.cluster_id = b.cluster_id AND a.sub = b.sub "
        "AND a.vec_id < b.vec_id "
        f"WHERE {pair_cos} >= {threshold})"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT d.vec_id,
           CAST(d.cluster_id AS BIGINT) AS cluster_id,
           d.vec_id IN (SELECT vec_id FROM dropped) AS dropped
    FROM md d
    ORDER BY d.vec_id
"""
    )

def _t44_oracle() -> str:
    from ..operators.similarity import (
        SEMDEDUP_ITERS,
        SEMDEDUP_SUB_BITS,
        SEMDEDUP_SUB_SEED,
    )
    from .llmdata import (
        NEARDUP_COSINE,
        SEMDEDUP_GATE_K,
        SEMDEDUP_GATE_MAX_CLUSTER,
    )

    return _semdedup_trained_oracle(
        k=SEMDEDUP_GATE_K,
        iters=SEMDEDUP_ITERS,
        max_cluster=SEMDEDUP_GATE_MAX_CLUSTER,
        sub_bits=SEMDEDUP_SUB_BITS,
        sub_seed=SEMDEDUP_SUB_SEED,
        dim=64,
        threshold=NEARDUP_COSINE,
    )


LLMDATA_ORACLES["t44_semdedup"] = _t44_oracle()


def _t44b_oracle() -> str:
    from ..operators.similarity import (
        SEMDEDUP_ITERS,
        SEMDEDUP_SUB_BITS,
        SEMDEDUP_SUB_SEED,
    )
    from .llmdata import (
        NEARDUP_COSINE,
        SEMDEDUP_GATE_K,
        SEMDEDUP_GATE_MAX_CLUSTER,
        SEMDEDUP_GATE_TRAIN_MOD,
    )

    return _semdedup_trained_oracle(
        k=SEMDEDUP_GATE_K,
        iters=SEMDEDUP_ITERS,
        max_cluster=SEMDEDUP_GATE_MAX_CLUSTER,
        sub_bits=SEMDEDUP_SUB_BITS,
        sub_seed=SEMDEDUP_SUB_SEED,
        dim=64,
        threshold=NEARDUP_COSINE,
        train_mod=SEMDEDUP_GATE_TRAIN_MOD,
    )


LLMDATA_ORACLES["t44b_semdedup_sampled_training"] = _t44b_oracle()


def _pq_train_ctes(
    m: int, ksub: int, iters: int, train_mod: int
) -> tuple[list[str], str, str, "callable"]:
    """The PQ codebook-training CTE chain shared by the t80 and t82
    oracles (operators/quantize.pq_train's twin): md5-sampled training
    half, per-sub hash-seeded codebooks (the k (hkey, id)-smallest
    sampled sub-vectors per sub-space), one-or-more L2 k-means passes
    (left-fold squared distance, decimal-exact per-dim means,
    empty-codeword carryover).  Returns (ctes, codebook_cte_name,
    sub-slice expr, l2sq builder); callers append their own encoding
    and scoring stages."""
    from ..operators.similarity import SEED_OVERSAMPLE

    dim = 64
    dsub = dim // m
    hkey = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT"

    def l2sq(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {dsub + 1}), "
            f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
            f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
            "(x, y) -> x + y)"
        )

    sl = f"embedding[(sub * {dsub} + 1):((sub + 1) * {dsub})]"
    ctes = [
        f"subs AS (SELECT unnest(range(0, {m})) AS sub)",
        "v AS (SELECT vec_id, embedding FROM embeddings)",
        # training half: the md5-modulus sample (pq_train(train_mod=))
        f"vt AS (SELECT vec_id, embedding, {hkey} AS hkey FROM v "
        f"WHERE {hkey} % {train_mod} = 0)",
        f"svt AS (SELECT vec_id, hkey, sub, {sl} AS svec "
        "FROM vt CROSS JOIN subs)",
        # per-sub seeds: hash-sample candidate ids (mod = max(1,
        # n_train // (SEED_OVERSAMPLE·ksub)), full-sample fallback when
        # short of ksub ids), then the ksub (hkey, id)-smallest per sub
        f"sdm AS (SELECT GREATEST(1, COUNT(*) // {SEED_OVERSAMPLE * ksub})"
        " AS md FROM vt)",
        "cand AS (SELECT * FROM svt WHERE hkey % (SELECT md FROM sdm) = 0)",
        "candf AS (SELECT * FROM cand WHERE "
        f"(SELECT COUNT(DISTINCT vec_id) FROM cand) >= {ksub} "
        "UNION ALL SELECT * FROM svt WHERE "
        f"(SELECT COUNT(DISTINCT vec_id) FROM cand) < {ksub})",
        "c0 AS (SELECT sub, cid, cvec FROM (SELECT sub, "
        "ROW_NUMBER() OVER (PARTITION BY sub ORDER BY hkey, vec_id) - 1 "
        "AS cid, list_transform(svec, x -> CAST(x AS DOUBLE)) AS cvec "
        f"FROM candf) WHERE cid < {ksub})",
    ]
    for r in range(1, iters + 1):
        prev = f"c{r - 1}"
        ctes.append(
            f"a{r} AS (SELECT vec_id, sub, cid AS code FROM ("
            "SELECT s.vec_id, s.sub, c.cid, ROW_NUMBER() OVER ("
            "PARTITION BY s.vec_id, s.sub ORDER BY "
            f"{l2sq('s.svec', 'c.cvec')} ASC, c.cid ASC) AS rn "
            f"FROM svt s JOIN {prev} c ON s.sub = c.sub) WHERE rn = 1)"
        )
        ctes.append(
            f"u{r} AS (SELECT sub, code, d, "
            "CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) "
            "AS mval FROM (SELECT a.sub, a.code, "
            f"unnest(range(1, {dsub + 1})) AS d, unnest(s.svec) AS val "
            f"FROM a{r} a JOIN svt s ON a.vec_id = s.vec_id "
            "AND a.sub = s.sub) GROUP BY sub, code, d)"
        )
        ctes.append(
            f"c{r} AS (SELECT p.sub, p.cid, "
            "COALESCE(n.centroid, p.cvec) AS cvec "
            f"FROM {prev} p LEFT JOIN (SELECT sub, code AS cid, "
            f"list(mval ORDER BY d) AS centroid FROM u{r} "
            "GROUP BY sub, code) n ON p.sub = n.sub AND p.cid = n.cid)"
        )
    return ctes, f"c{iters}", sl, l2sq


def _t80_oracle() -> str:
    """DuckDB twin of the PQ pipeline (operators/quantize.pq_train /
    pq_encode / knn_pq(refine=)): codebook training (_pq_train_ctes),
    full-corpus encoding through the SAME argmin (l2 ASC, code ASC),
    per-query ADC tables, the sub-space-ordered lookup fold for
    dot(q, x̂) and |x̂|², the ADC shortlist, and the exact-cosine
    refine — every float op a fixed-order fold or one IEEE op (the
    t44b discipline), so ranks match bit-for-bit."""
    from .llmdata import (
        PQ_GATE_ITERS,
        PQ_GATE_K,
        PQ_GATE_KSUB,
        PQ_GATE_M,
        PQ_GATE_REFINE,
        PQ_GATE_TRAIN_MOD,
    )

    fold = "list_reduce({l}, (x, y) -> x + y)"
    ctes, cb, sl, l2sq = _pq_train_ctes(
        PQ_GATE_M, PQ_GATE_KSUB, PQ_GATE_ITERS, PQ_GATE_TRAIN_MOD
    )
    ctes += [
        # full-corpus encoding through the same argmin
        f"sv AS (SELECT vec_id, sub, {sl} AS svec FROM v CROSS JOIN subs)",
        "e AS (SELECT vec_id, sub, cid AS code FROM ("
        "SELECT s.vec_id, s.sub, c.cid, ROW_NUMBER() OVER ("
        "PARTITION BY s.vec_id, s.sub ORDER BY "
        f"{l2sq('s.svec', 'c.cvec')} ASC, c.cid ASC) AS rn "
        f"FROM sv s JOIN {cb} c ON s.sub = c.sub) WHERE rn = 1)",
        # queries + per-query ADC tables
        "q AS (SELECT vec_id, embedding, "
        f"sqrt({_dot('embedding', 'embedding')}) AS qnrm FROM v "
        "WHERE vec_id % 10 = 0)",
        f"qs AS (SELECT vec_id AS qid, sub, {sl} AS qsv "
        "FROM q CROSS JOIN subs)",
        "dt AS (SELECT qs.qid, qs.sub, c.cid, "
        f"{_dot('qs.qsv', 'c.cvec')} AS pdot, "
        f"{_dot('c.cvec', 'c.cvec')} AS pcc "
        f"FROM qs JOIN {cb} c ON qs.sub = c.sub)",
        # the sub-space-ordered ADC folds (Spark: zip_with + left fold)
        "sc AS (SELECT qid, nid, "
        + fold.format(l="list(pdot ORDER BY sub)")
        + " AS ds, "
        + fold.format(l="list(pcc ORDER BY sub)")
        + " AS rn2 FROM (SELECT d.qid, e.vec_id AS nid, e.sub, d.pdot, "
        "d.pcc FROM e JOIN dt d ON e.sub = d.sub AND e.code = d.cid) "
        "GROUP BY qid, nid)",
        "adc AS (SELECT s.qid, s.nid, "
        + SQL_QUANT(
            "CASE WHEN q.qnrm * sqrt(s.rn2) = 0 THEN 0.0 "
            "ELSE s.ds / (q.qnrm * sqrt(s.rn2)) END",
            6,
        )
        + " AS pq_cosine FROM sc s JOIN q ON s.qid = q.vec_id "
        "WHERE s.nid <> s.qid)",
        "shortlist AS (SELECT qid, nid FROM (SELECT qid, nid, "
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY pq_cosine DESC, "
        f"nid ASC) AS rnk FROM adc) WHERE rnk <= {PQ_GATE_REFINE})",
        # exact-cosine refine over the shortlist only
        "refined AS (SELECT s.qid, s.nid, "
        + SQL_QUANT(
            _dot("qv.embedding", "cv.embedding")
            + f" / (qv.qnrm * sqrt({_dot('cv.embedding', 'cv.embedding')}))",
            6,
        )
        + " AS pq_cosine FROM shortlist s "
        "JOIN q qv ON s.qid = qv.vec_id "
        "JOIN v cv ON s.nid = cv.vec_id)",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(rnk AS BIGINT) AS rank, pq_cosine
    FROM (SELECT qid, nid, pq_cosine, ROW_NUMBER() OVER (
              PARTITION BY qid ORDER BY pq_cosine DESC, nid ASC) AS rnk
          FROM refined)
    WHERE rnk <= {PQ_GATE_K}
    ORDER BY query_id, rank
"""
    )


LLMDATA_ORACLES["t80_product_quantization"] = _t80_oracle()


def _t82_oracle() -> str:
    """DuckDB twin of FILTERED ANN (operators/quantize.knn_pq_lsh with
    candidate_filter + refine): codebooks train on the FULL corpus
    (_pq_train_ctes, t80's pins), then the metadata band — and only it
    — is encoded, reconstructed (flatten of codewords in sub order),
    SRP-bucketed on the reconstruction (queries bucket on their float
    vector, same seed-42 hyperplane literals as t69's replay), scored
    by reconstruction cosine inside bucket equality, shortlisted, and
    exactly re-ranked.  Every float op replays Spark's fold order, so
    ranks match bit-for-bit."""
    from ..operators.similarity import _hyperplanes
    from .llmdata import (
        PQ_GATE_ITERS,
        PQ_GATE_K,
        PQ_GATE_KSUB,
        PQ_GATE_M,
        PQ_GATE_REFINE,
        PQ_GATE_TRAIN_MOD,
        T82_FILTER_BAND,
        T82_FILTER_MOD,
    )

    ctes, cb, sl, l2sq = _pq_train_ctes(
        PQ_GATE_M, PQ_GATE_KSUB, PQ_GATE_ITERS, PQ_GATE_TRAIN_MOD
    )
    planes = _hyperplanes(64, 4)

    def plane_lit(coeffs: list[float]) -> str:
        return "[" + ", ".join(repr(c) for c in coeffs) + "]"

    def bucket_of(vec: str) -> str:
        return " + ".join(
            f"(CASE WHEN {_dot(vec, plane_lit(planes[p]))} > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(4)
        )

    ctes += [
        # the retrieval filter lands BEFORE encoding: only the band
        # is encoded/bucketed, exactly like candidates.filter() ahead
        # of pq_encode on the Spark side
        "vf AS (SELECT vec_id, embedding FROM v "
        f"WHERE vec_id % {T82_FILTER_MOD} = {T82_FILTER_BAND})",
        f"sv AS (SELECT vec_id, sub, {sl} AS svec FROM vf CROSS JOIN subs)",
        "e AS (SELECT vec_id, sub, cid AS code FROM ("
        "SELECT s.vec_id, s.sub, c.cid, ROW_NUMBER() OVER ("
        "PARTITION BY s.vec_id, s.sub ORDER BY "
        f"{l2sq('s.svec', 'c.cvec')} ASC, c.cid ASC) AS rn "
        f"FROM sv s JOIN {cb} c ON s.sub = c.sub) WHERE rn = 1)",
        # codeword reconstruction (pure function of the codes) and its
        # SRP bucket
        "rv AS (SELECT e.vec_id AS nid, "
        "flatten(list(c.cvec ORDER BY e.sub)) AS rvec "
        f"FROM e JOIN {cb} c ON e.sub = c.sub AND e.code = c.cid "
        "GROUP BY e.vec_id)",
        "cbkt AS (SELECT nid, rvec, " + bucket_of("rvec") + " AS bucket "
        "FROM rv)",
        # queries: % 10 band, bucketed on the float vector
        "q AS (SELECT vec_id, embedding, "
        + bucket_of("embedding")
        + " AS bucket FROM v WHERE vec_id % 10 = 0)",
        # reconstruction cosine inside bucket equality (knn_pq_lsh's
        # scored stage: denom product of the two norms, 0-guarded)
        "scored AS (SELECT q.vec_id AS qid, c.nid, "
        + SQL_QUANT(
            "CASE WHEN sqrt(" + _dot("q.embedding", "q.embedding") + ") * "
            "sqrt(" + _dot("c.rvec", "c.rvec") + ") = 0 THEN 0.0 "
            "ELSE " + _dot("q.embedding", "c.rvec") + " / (sqrt("
            + _dot("q.embedding", "q.embedding") + ") * sqrt("
            + _dot("c.rvec", "c.rvec") + ")) END",
            6,
        )
        + " AS pq_cosine FROM cbkt c JOIN q "
        "ON c.bucket = q.bucket AND c.nid <> q.vec_id)",
        "shortlist AS (SELECT qid, nid FROM (SELECT qid, nid, "
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY pq_cosine DESC, "
        f"nid ASC) AS rnk FROM scored) WHERE rnk <= {PQ_GATE_REFINE})",
        # exact-cosine refine over the filtered shortlist only
        "refined AS (SELECT s.qid, s.nid, "
        + SQL_QUANT(
            _dot("qv.embedding", "cv.embedding")
            + " / (sqrt(" + _dot("qv.embedding", "qv.embedding") + ") * "
            "sqrt(" + _dot("cv.embedding", "cv.embedding") + "))",
            6,
        )
        + " AS pq_cosine FROM shortlist s "
        "JOIN q qv ON s.qid = qv.vec_id "
        "JOIN vf cv ON s.nid = cv.vec_id)",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT qid AS query_id, nid AS neighbor_id,
           CAST(rnk AS BIGINT) AS rank, pq_cosine
    FROM (SELECT qid, nid, pq_cosine, ROW_NUMBER() OVER (
              PARTITION BY qid ORDER BY pq_cosine DESC, nid ASC) AS rnk
          FROM refined)
    WHERE rnk <= {PQ_GATE_K}
    ORDER BY query_id, rank
"""
    )


LLMDATA_ORACLES["t82_filtered_ann"] = _t82_oracle()


# t83: the constrained table's final contents are exactly the three
# clean bands (init %4==0, append %4==1, merged %4==2 — doc_id is
# unique, so the clean merge inserts the whole band); every violating
# write was rejected at staging and committed nothing, which the
# recomputed stats prove and the pinned booleans record.
LLMDATA_ORACLES["t83_commit_invariants"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
           TRUE AS violation_rejected,
           TRUE AS null_rejected,
           TRUE AS merge_rejected,
           TRUE AS log_intact
    FROM documents
    WHERE doc_id % 4 IN (0, 1, 2)
    GROUP BY source
    ORDER BY source
"""


# t77: shallow clone — the source's final state IS the raw corpus
# (never written after init); the clone's is corpus minus the % 7 band
# plus the derived % 3 batch.  The metadata pins (clone v1 references
# only, source version still 1) are computed for real on the Spark
# side and replayed as constants.
LLMDATA_ORACLES["t77_shallow_clone"] = """
    WITH src AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
        FROM documents
    ),
    cl AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
        FROM (
            SELECT doc_id FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT doc_id + 1000000 FROM documents WHERE doc_id % 3 = 0
        )
    )
    SELECT 'clone' AS tbl, n_rows, sum_doc_id,
           TRUE AS clone_is_metadata_only, TRUE AS src_undisturbed
    FROM cl
    UNION ALL
    SELECT 'src' AS tbl, n_rows, sum_doc_id,
           TRUE AS clone_is_metadata_only, TRUE AS src_undisturbed
    FROM src
    ORDER BY tbl
"""


def _t61_oracle() -> str:
    from ..operators.similarity import (
        SEMDEDUP_ITERS,
        SEMDEDUP_SUB_BITS,
        SEMDEDUP_SUB_SEED,
    )
    from .llmdata import NEARDUP_COSINE, SEMDEDUP_INC_GATE_K

    return _semdedup_trained_oracle(
        k=SEMDEDUP_INC_GATE_K,
        iters=SEMDEDUP_ITERS,
        max_cluster=0,  # unused: incremental mode subs unconditionally
        sub_bits=SEMDEDUP_SUB_BITS,
        sub_seed=SEMDEDUP_SUB_SEED,
        dim=64,
        threshold=NEARDUP_COSINE,
        corpus_where="WHERE vec_id % 5 != 0",
        delta_where="WHERE vec_id % 5 = 0",
    )


LLMDATA_ORACLES["t61_semdedup_incremental"] = _t61_oracle()


def _s7_oracle() -> str:
    from ..operators.similarity import (
        SEMDEDUP_ITERS,
        SEMDEDUP_SUB_BITS,
        SEMDEDUP_SUB_SEED,
    )
    from .llmdata import NEARDUP_COSINE, SEMDEDUP_INC_GATE_K

    return _semdedup_trained_oracle(
        k=SEMDEDUP_INC_GATE_K,
        iters=SEMDEDUP_ITERS,
        max_cluster=0,  # unused: incremental mode subs unconditionally
        sub_bits=SEMDEDUP_SUB_BITS,
        sub_seed=SEMDEDUP_SUB_SEED,
        dim=64,
        threshold=NEARDUP_COSINE,
        corpus_where="WHERE vec_id % 5 != 0",
        delta_where="WHERE vec_id % 5 = 0",
        emit_pairs=True,
    )


MONITORING_ORACLES["s7_streaming_semdedup"] = _s7_oracle()

CORPUS_ORACLES["t45_epoch_plan"] = f"""
    WITH per_src AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split({NORM}, ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT *,
               CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
                   AS BIGINT) AS w6
        FROM per_src
    ),
    tot AS (
        SELECT SUM(w6) AS sum_w6,
               CAST(2 * SUM(n_tokens) AS BIGINT) AS budget
        FROM w
    ),
    planned AS (
        SELECT source, n_docs, n_tokens,
               CAST((budget * w6) // sum_w6 AS BIGINT) AS alloc_tokens
        FROM w CROSS JOIN tot
    ),
    ep AS (
        SELECT *,
               LEAST(CAST(4 AS BIGINT),
                     CAST((alloc_tokens + n_tokens - 1) // n_tokens AS BIGINT))
                   AS epochs
        FROM planned
    )
    SELECT source, n_docs, n_tokens, alloc_tokens, epochs,
           LEAST(alloc_tokens, epochs * n_tokens) AS planned_tokens
    FROM ep
    ORDER BY source
"""

MONITORING_ORACLES["s4_streaming_exact_dedup"] = f"""
    SELECT DISTINCT md5({NORM}) AS fp FROM documents ORDER BY fp
"""


# t46: the full t41 rule recomputed over corpus∪delta, restricted to the
# delta batch — equality with the incremental path's output is exactly
# the cross-run contract (corpus text never re-read engine-side).
LLMDATA_ORACLES["t46_incremental_segment_dedup"] = _segment_dedup_oracle("WHERE doc_id % 5 = 0")

LLMDATA_ORACLES["t47_domain_filter"] = f"""
    WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0
                    THEN text || ' http://site' || CAST(doc_id % 7 AS VARCHAR)
                         || '.example.com/page' || CAST(doc_id AS VARCHAR)
                    ELSE text END AS t
        FROM documents
    ),
    tagged AS (
        SELECT doc_id,
               COALESCE(regexp_extract(t, 'https?://([A-Za-z0-9.-]+)', 1), '')
                   AS domain
        FROM aug
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           domain IN ('site2.example.com', 'site5.example.com') AS blocked
    FROM tagged
    GROUP BY domain
    ORDER BY domain
"""


def _bpe_round_ctes(n: int, with_doc_id: bool, where: str = "") -> list[str]:
    """The ``n`` unrolled BPE training rounds (operators/bpe.py) as
    chained CTEs with scalar-subquery merge literals — ONE generator
    shared by the t48 (merge list) and t49 (train-then-encode) oracles
    so the two gates can never unroll different rounds.  Exact because
    every step is list arithmetic or LITERAL replace on \\x1f-delimited
    text (no regex; see bpe.py's determinism notes).  ``with_doc_id``
    threads doc_id through the corpus CTEs (t49 needs per-doc output;
    c{n} materializes only when the final SELECT references it).

    Every corpus CTE and every top{r} is AS MATERIALIZED: each round's
    replace references top{r} three times and chains to the previous
    round, so DuckDB's default CTE INLINING re-expands the whole chain
    per reference — ~4^n scans of documents.parquet, which exhausts
    file descriptors past ~6 rounds.  Materialization makes each round
    one scan of the previous round, the same linear structure the Spark
    loop has (localCheckpoint per round)."""
    did = "doc_id, " if with_doc_id else ""
    ctes = [
        f"c0 AS MATERIALIZED (SELECT {did}chr(31) || array_to_string(string_split("
        + NORM
        + f", ' '), chr(31)||chr(31)) || chr(31) AS w FROM documents {where})"
    ]
    for r in range(1, n + 1):
        prev = f"c{r-1}"
        ctes.append(
            f"t{r} AS MATERIALIZED (SELECT string_split(substr(w, 2, length(w) - 2), "
            f"chr(31)||chr(31)) AS l FROM {prev})"
        )
        ctes.append(
            f"p{r} AS (SELECT unnest(list_transform(range(1, len(l)), "
            f"i -> {{'a': l[i], 'b': l[i+1]}})) AS s FROM t{r} "
            f"WHERE len(l) >= 2)"
        )
        ctes.append(
            f"g{r} AS (SELECT s.a AS a, s.b AS b, "
            f"CAST(COUNT(*) AS BIGINT) AS c FROM p{r} GROUP BY 1, 2)"
        )
        ctes.append(
            f"top{r} AS MATERIALIZED (SELECT a, b, c FROM g{r} "
            f"ORDER BY c DESC, a ASC, b ASC LIMIT 1)"
        )
        ctes.append(
            f"c{r} AS MATERIALIZED (SELECT {did}replace(w, "
            f"chr(31) || (SELECT a FROM top{r}) || chr(31) || chr(31) || "
            f"(SELECT b FROM top{r}) || chr(31), "
            f"chr(31) || (SELECT a FROM top{r}) || chr(30) || "
            f"(SELECT b FROM top{r}) || chr(31)) AS w FROM {prev})"
        )
    return ctes


def _bpe_merge_oracle(n: int) -> str:
    """t48: the learned merge list (rank, pair, count) per round."""
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a AS token_a, "
        f"b AS token_b, c AS n_occurrences FROM top{r}"
        for r in range(1, n + 1)
    ]
    return (
        "WITH "
        + ",\n".join(_bpe_round_ctes(n, with_doc_id=False))
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY merge_rank"
    )


def _bpe_encode_oracle(n: int) -> str:
    """t49: the corpus after applying ALL ``n`` learned merges, reduced
    to per-document token counts and the compression ratio."""
    n_bpe = ("len(string_split(substr(e.w, 2, length(e.w) - 2), "
             "chr(31)||chr(31)))")
    n_ws = "len(string_split(" + NORM.replace("text", "d.text") + ", ' '))"
    ratio = f"CAST({n_bpe} AS DOUBLE) / {n_ws}"
    return (
        "WITH "
        + ",\n".join(_bpe_round_ctes(n, with_doc_id=True))
        + f"""
    SELECT d.doc_id,
           CAST({n_ws} AS BIGINT) AS n_tokens_ws,
           CAST({n_bpe} AS BIGINT) AS n_tokens_bpe,
           {SQL_QUANT(ratio, 6)} AS compression
    FROM documents d JOIN c{n} e USING (doc_id)
    ORDER BY d.doc_id
"""
    )


LLMDATA_ORACLES["t48_bpe_merges"] = _bpe_merge_oracle(4)
LLMDATA_ORACLES["t49_bpe_encode"] = _bpe_encode_oracle(4)
# t57 runs the BATCHED trainer but its oracle unrolls the SEQUENTIAL
# loop — the gate pins batched == sequential on this corpus.
LLMDATA_ORACLES["t57_bpe_batched"] = _bpe_merge_oracle(8)


def _bpe_sampled_encode_oracle(n: int, sample_docs: int) -> str:
    """t57b: TRAIN the n unrolled rounds on the deterministic md5-bucket
    sample (operators/bpe.learn_bpe_merges_batched's sample_docs
    contract: bucket % max(1, COUNT(*) // sample_docs) == 0 — the
    modulus is computed IN SQL from the same COUNT the operator takes,
    so one oracle string is exact at every scale factor), then ENCODE
    the FULL corpus with the learned merges via a second e0..e{n}
    replace chain — the sample-train / full-encode production shape."""
    pred = (
        "WHERE (('0x' || substr(md5(text), 1, 8))::BIGINT) % "
        f"(SELECT GREATEST(1, COUNT(*) // {sample_docs}) FROM documents)"
        " = 0"
    )
    ctes = _bpe_round_ctes(n, with_doc_id=False, where=pred)
    ctes.append(
        "e0 AS MATERIALIZED (SELECT doc_id, chr(31) || array_to_string("
        "string_split(" + NORM + ", ' '), chr(31)||chr(31)) || chr(31) "
        "AS w FROM documents)"
    )
    for r in range(1, n + 1):
        ctes.append(
            f"e{r} AS MATERIALIZED (SELECT doc_id, replace(w, "
            f"chr(31) || (SELECT a FROM top{r}) || chr(31) || chr(31) || "
            f"(SELECT b FROM top{r}) || chr(31), "
            f"chr(31) || (SELECT a FROM top{r}) || chr(30) || "
            f"(SELECT b FROM top{r}) || chr(31)) AS w FROM e{r-1})"
        )
    n_bpe = (
        "len(string_split(substr(e.w, 2, length(e.w) - 2), "
        "chr(31)||chr(31)))"
    )
    n_ws = "len(string_split(" + NORM.replace("text", "d.text") + ", ' '))"
    ratio = f"CAST({n_bpe} AS DOUBLE) / {n_ws}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT d.doc_id,
           CAST({n_ws} AS BIGINT) AS n_tokens_ws,
           CAST({n_bpe} AS BIGINT) AS n_tokens_bpe,
           {SQL_QUANT(ratio, 6)} AS compression
    FROM documents d JOIN e{n} e USING (doc_id)
    ORDER BY d.doc_id
"""
    )


def _t57b_oracle() -> str:
    from .llmdata import BPE_SAMPLED_GATE_MERGES, BPE_SAMPLED_GATE_DOCS

    return _bpe_sampled_encode_oracle(
        BPE_SAMPLED_GATE_MERGES, BPE_SAMPLED_GATE_DOCS
    )


LLMDATA_ORACLES["t57b_bpe_sampled"] = _t57b_oracle()


CORPUS_ORACLES["t50_dataset_split"] = f"""
    WITH tagged AS (
        SELECT source, n_chars,
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                                1, 8))::BIGINT % 1000) AS h
        FROM documents
    )
    SELECT source,
           CASE WHEN h < 50 THEN 'validation'
                WHEN h < 100 THEN 'test'
                ELSE 'train' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM tagged
    GROUP BY source, split
    ORDER BY source, split
"""


def _streaming_curation_oracle() -> str:
    """DuckDB twin of monitoring.s5_streaming_curation: the delta batch
    through the SAME planting (_PII_PLANT_SQL), redaction/count SQL
    (_pii_sql_parts) and classifier score (_CLS_SCORE_SQL) the batch
    gates' oracles use — stream == batch proved on values."""
    counts, red = _pii_sql_parts()
    n_pii = " + ".join(counts[k] for k in counts)
    return f"""
    WITH aug AS (
        SELECT doc_id, text, {_PII_PLANT_SQL} AS t
        FROM documents WHERE doc_id % 5 = 0
    ),
    toks AS (
        SELECT doc_id, unnest(string_split({NORM}, ' ')) AS w FROM aug
    ),
    sc AS (
        SELECT doc_id, {_CLS_SCORE_SQL} AS score FROM toks GROUP BY doc_id
    )
    SELECT a.doc_id,
           {n_pii} AS n_pii,
           md5({red}) AS redacted_md5,
           CAST(s.score AS BIGINT) AS score,
           s.score > 0 AS keep
    FROM aug a JOIN sc s USING (doc_id)
    ORDER BY a.doc_id
"""


MONITORING_ORACLES["s5_streaming_curation"] = _streaming_curation_oracle()

# s2c: append-mode native sessionization — q16's session arithmetic plus
# the watermark cutoff (a session emits iff last_event + 30 min gap <=
# max(ts) - 30 min delay; the open tail stays in state, not in output).
MONITORING_ORACLES["s2c_session_window_append"] = f"""
    WITH {EVENTS_NORM},
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id)
                      > 1800000000
                    OR LAG(ts) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS is_start
        FROM ev
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(is_start) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS sid
        FROM flagged
    ),
    agg AS (
        SELECT user_id, sid,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM ev)
    SELECT user_id, session_start, session_end, n_events
    FROM agg CROSS JOIN wm
    WHERE session_end + INTERVAL 30 MINUTE <= w
    ORDER BY user_id, session_start
"""


LLMDATA_ORACLES["t42b_quality_classifier_table"] = LLMDATA_ORACLES[
    "t42_quality_classifier"
]

LLMDATA_ORACLES["t51_dataset_version_diff"] = f"""
    WITH v1 AS (
        SELECT DISTINCT md5({NORM}) AS fp FROM documents WHERE doc_id % 5 != 0
    ),
    v2 AS (
        SELECT source, md5({NORM}) AS fp FROM documents WHERE doc_id % 5 = 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_added,
           CAST(SUM(CASE WHEN fp IN (SELECT fp FROM v1)
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_content_collisions
    FROM v2
    GROUP BY source
    ORDER BY source
"""

LLMDATA_ORACLES["t52_length_profile"] = """
    SELECT source,
           CASE WHEN n_chars < 64 THEN 'a_lt64'
                WHEN n_chars < 128 THEN 'b_lt128'
                WHEN n_chars < 256 THEN 'c_lt256'
                WHEN n_chars < 512 THEN 'd_lt512'
                ELSE 'e_ge512' END AS len_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY source, len_bucket
    ORDER BY source, len_bucket
"""

LLMDATA_ORACLES["t53_txtable_versions"] = """
    SELECT CAST(1 AS BIGINT) AS version, 'init' AS op,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents WHERE doc_id % 5 != 0
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'append',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT source) AS BIGINT)
    FROM documents
    ORDER BY version
"""


LLMDATA_ORACLES["t62_txtable_data_skipping"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(1 AS BIGINT) AS files_scanned,
           CAST(3 AS BIGINT) AS files_total
    FROM documents
    WHERE n_chars BETWEEN 130 AND 250
    GROUP BY source
    ORDER BY source
"""

LLMDATA_ORACLES["t62b_txtable_multicol_skipping"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(1 AS BIGINT) AS files_scanned_both,
           CAST(2 AS BIGINT) AS files_scanned_id,
           CAST(2 AS BIGINT) AS files_scanned_chars,
           CAST(3 AS BIGINT) AS files_total
    FROM documents
    WHERE doc_id BETWEEN 0 AND (SELECT COUNT(*) // 2 - 1 FROM documents)
      AND n_chars BETWEEN 0 AND 127
    GROUP BY source
    ORDER BY source
"""

# t66: the CDC lifecycle replayed relationally — rebuild the change
# feed with the gate's exact planting arithmetic, collapse it latest-
# wins (one row_number window), merge it (corpus anti-join winners ∪
# non-delete winners), and aggregate per band; the transaction facts
# (2 versions, op 'merge', 3-of-4 band files carried by reference) are
# pinned as literals.
LLMDATA_ORACLES["t66_txtable_cdc_merge"] = """
    WITH corpus AS (
        SELECT doc_id, text, lang, source, n_chars,
               CAST(doc_id % 4 AS VARCHAR) AS band
        FROM documents WHERE doc_id % 3 <> 0
    ),
    changes AS (
        SELECT doc_id, 'stale' AS text, lang, source,
               CAST(5 AS BIGINT) AS n_chars,
               CAST(doc_id % 4 AS VARCHAR) AS band, 'U' AS op,
               CAST(1 AS BIGINT) AS seq
        FROM documents
        WHERE doc_id % 4 = 1 AND doc_id % 3 <> 0 AND doc_id % 5 = 0
        UNION ALL
        SELECT doc_id, text || ' [rev2]', lang, source,
               CAST(length(text || ' [rev2]') AS BIGINT),
               CAST(doc_id % 4 AS VARCHAR), 'U', CAST(2 AS BIGINT)
        FROM documents
        WHERE doc_id % 4 = 1 AND doc_id % 3 <> 0 AND doc_id % 5 = 0
        UNION ALL
        SELECT doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
               CAST(doc_id % 4 AS VARCHAR), 'D', CAST(3 AS BIGINT)
        FROM documents WHERE doc_id % 4 = 1 AND doc_id % 7 = 0
        UNION ALL
        SELECT doc_id, 'new doc ' || CAST(doc_id AS VARCHAR), lang, 'cdc',
               CAST(length('new doc ' || CAST(doc_id AS VARCHAR)) AS BIGINT),
               CAST(doc_id % 4 AS VARCHAR), 'I', CAST(1 AS BIGINT)
        FROM documents WHERE doc_id % 4 = 1 AND doc_id % 3 = 0
    ),
    latest AS (
        SELECT * FROM (
            SELECT c.*, row_number() OVER (
                PARTITION BY doc_id ORDER BY seq DESC) AS rn
            FROM changes c
        ) r WHERE rn = 1
    ),
    merged AS (
        SELECT doc_id, text, n_chars, band FROM corpus
        WHERE doc_id NOT IN (SELECT doc_id FROM latest)
        UNION ALL
        SELECT doc_id, text, n_chars, band FROM latest WHERE op <> 'D'
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
           CAST(SUM(n_chars) AS BIGINT) AS sum_nchars,
           CAST(SUM(CASE WHEN text LIKE '% [rev2]' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_rev2,
           CAST(2 AS BIGINT) AS n_versions,
           'merge' AS latest_op,
           CAST(3 AS BIGINT) AS n_files_carried
    FROM merged GROUP BY band ORDER BY band
"""

# t68: the MV's final state recomputed relationally — base after
# append ∪ init (= all orders), minus %7 deletes, with %11 prices
# doubled by the merge — summed in DECIMAL exactly as the MV
# accumulates; incremental_exact pins TRUE because the Spark side
# computes it by comparing the maintained MV to a real recompute.
LLMDATA_ORACLES["t68_incremental_matview"] = """
    WITH final AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS px
        FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT o_orderpriority,
           CAST(CAST(SUM(CAST(px AS DECIMAL(18,4))) AS DECIMAL(18,4))
               AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS incremental_exact,
           CAST(4 AS BIGINT) AS mv_versions
    FROM final GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

# t72: the evolved table rebuilt relationally — even doc_ids carry a
# NULL quality (written before the ADD COLUMN), odd ones the planted
# value; the lifecycle literals are pinned.
LLMDATA_ORACLES["t72_schema_evolution"] = """
    WITH final AS (
        SELECT lang,
               CASE WHEN doc_id % 2 = 1
                    THEN CAST(doc_id % 97 AS DOUBLE) END AS quality
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN quality IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_quality,
           CAST(COALESCE(SUM(quality), 0) AS BIGINT) AS sum_quality,
           TRUE AS files_untouched,
           CAST(3 AS BIGINT) AS n_versions,
           'add_columns' AS evolution_op
    FROM final GROUP BY lang ORDER BY lang
"""

# t81: the type-widened table's final state rebuilt relationally —
# even orderkeys are the narrow init batch (int/smallint/float — the
# float round-trip is the one value-changing cast, replayed verbatim),
# odd orderkeys the post-widen append with shifted keys/quantities;
# key % 7 rows are deleted; lifecycle facts are pinned literals.
LLMDATA_ORACLES["t81_type_widening"] = f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CASE WHEN l_orderkey % 2 = 0
                    THEN CAST(l_orderkey AS BIGINT)
                    ELSE l_orderkey + 10000000000 END AS key,
               CASE WHEN l_orderkey % 2 = 0
                    THEN CAST(l_quantity AS BIGINT)
                    ELSE CAST(l_quantity + 100000 AS BIGINT) END AS qty,
               CAST(CAST(l_extendedprice AS FLOAT) AS DOUBLE) AS price
        FROM lineitem
    ),
    final AS (SELECT * FROM base WHERE key % 7 <> 0)
    SELECT flag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(qty) AS BIGINT) AS sum_qty,
           CAST(SUM(key) AS BIGINT) AS sum_key,
           CAST({SQL_DSUM('price', 'DECIMAL(28,12)')} AS DOUBLE)
               AS sum_price,
           TRUE AS files_untouched,
           'widen_column:qty:smallint->int' AS widen_op,
           CAST(6 AS BIGINT) AS n_versions,
           'smallint' AS tt_qty_type,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE l_orderkey % 2 = 0) AS tt_n
    FROM final GROUP BY flag ORDER BY flag
"""

# t78: the column-mapped table's final state rebuilt relationally —
# even doc_ids (the init batch, written before the re-add of text_len
# as a string) carry NULL there; odd doc_ids (the evolved append)
# carry the short/long label; doc_id % 21 rows are deleted; q_score
# is the renamed quality column, values intact.  tt_len_sum replays
# the version-1 time travel read from raw (all even docs' original
# bigint lengths).
LLMDATA_ORACLES["t78_column_mapping"] = """
    WITH final AS (
        SELECT lang,
               CAST(doc_id % 97 AS DOUBLE) AS q_score,
               CASE WHEN doc_id % 2 = 1 THEN
                   CASE WHEN LENGTH(text) >= 200 THEN 'long'
                        ELSE 'short' END
               END AS text_len
        FROM documents
        WHERE doc_id % 21 <> 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN text_len IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null_tl,
           CAST(SUM(CASE WHEN text_len = 'long' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_long,
           CAST(SUM(CAST(q_score AS BIGINT)) AS BIGINT) AS sum_q,
           TRUE AS files_untouched,
           TRUE AS old_name_fails,
           'rename_column:quality->q_score' AS rename_op,
           CAST(6 AS BIGINT) AS n_versions,
           (SELECT CAST(SUM(LENGTH(text)) AS BIGINT) FROM documents
            WHERE doc_id % 2 = 0) AS tt_len_sum
    FROM final GROUP BY lang ORDER BY lang
"""

LLMDATA_ORACLES["t55_txtable_delete"] = """
    SELECT CAST(1 AS BIGINT) AS version, 'init' AS op,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match
    FROM documents
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'delete',
           CAST(COUNT(*) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM documents WHERE doc_id % 7 != 0
    ORDER BY version
"""

LLMDATA_ORACLES["t56_dedup_index_cascade"] = _segment_dedup_oracle(
    where="WHERE doc_id % 5 = 0",
    corpus_where="WHERE doc_id % 5 = 0 OR doc_id % 7 != 0",
)

# t63: t56's recompute-from-(raw minus deleted) contract, run through
# the real table lifecycle (delete -> time-travel cascade -> vacuum ->
# incremental), plus the pinned lifecycle facts.
LLMDATA_ORACLES["t63_takedown_lifecycle"] = (
    "SELECT q.*, CAST(1 AS BIGINT) AS n_versions_after_vacuum, "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM documents "
    "WHERE doc_id % 5 != 0 AND doc_id % 7 != 0) AS n_docs_post_delete, "
    "TRUE AS vacuum_removed_some FROM ("
    + _segment_dedup_oracle(
        where="WHERE doc_id % 5 = 0",
        corpus_where="WHERE doc_id % 5 = 0 OR doc_id % 7 != 0",
    )
    + ") q ORDER BY q.doc_id"
)

LLMDATA_ORACLES["t54_duplicate_spans"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split({NORM}, ' ') AS l FROM documents
    ),
    spans AS (
        SELECT doc_id,
               unnest(CASE WHEN len(l) >= 16
                           THEN list_transform(range(0, len(l) - 15),
                                i -> array_to_string(l[i+1 : i+16], ' '))
                           ELSE [array_to_string(l, ' ')] END) AS span
        FROM toks
    )
    SELECT md5(span) AS span_md5,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM spans
    GROUP BY span_md5
    HAVING COUNT(DISTINCT doc_id) > 1
    ORDER BY span_md5
"""


def _t58_oracle() -> str:
    """DuckDB twin of t58: the same planted wrapper, the same strip
    chain character for character — patterns and entity table imported
    from operators/text so they cannot drift; DuckDB's regexp_replace
    needs the explicit 'g' flag (first-match by default, where Spark
    replaces all)."""
    from ..operators.text import (
        HTML_ENTITIES,
        HTML_SCRIPT,
        HTML_STYLE,
        HTML_TAG,
    )
    from .llmdata import HTML_PLANT_MID, HTML_PLANT_POST, HTML_PLANT_PRE

    def sq(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    stripped = (
        f"regexp_replace(regexp_replace(regexp_replace(t, "
        f"{sq(HTML_SCRIPT)}, ' ', 'g'), "
        f"{sq(HTML_STYLE)}, ' ', 'g'), "
        f"{sq(HTML_TAG)}, ' ', 'g')"
    )
    for ent, rep in HTML_ENTITIES:
        stripped = f"replace({stripped}, {sq(ent)}, {sq(rep)})"
    clean = f"trim(regexp_replace({stripped}, '\\s+', ' ', 'g'))"
    plant = (
        f"{sq(HTML_PLANT_PRE)} || CAST(doc_id AS VARCHAR) || "
        f"{sq(HTML_PLANT_MID)} || text || {sq(HTML_PLANT_POST)}"
    )
    return f"""
    WITH aug AS (
        SELECT doc_id, text,
               CASE WHEN doc_id % 3 = 0 THEN {plant} ELSE text END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, {sq(HTML_TAG)})) AS BIGINT)
               AS n_tags,
           md5({clean}) AS clean_md5,
           {clean} != text AS changed
    FROM aug
    ORDER BY doc_id
"""


LLMDATA_ORACLES["t58_html_extract"] = _t58_oracle()


def _t59_oracle() -> str:
    """DuckDB twin of t59: same card regex, same integer Luhn fold,
    same candidate-order redaction (list_reduce has no initial
    accumulator, so the text is prepended to the candidate list —
    identical left fold).  Pattern and plant strings imported from the
    operator/gate modules."""
    from ..operators.curation import CARD_PATTERN, CARD_TOKEN
    from .llmdata import CARD_PLANT_INVALID, CARD_PLANT_VALID

    clean = "replace(replace(m, '-', ''), ' ', '')"
    digit = f"CAST(substr({clean}, i, 1) AS INT)"
    dlen = f"length({clean})"
    luhn = (
        f"list_sum(list_transform(range(1, {dlen} + 1), i -> "
        f"CASE WHEN ({dlen} - i) % 2 = 1 THEN "
        f"CASE WHEN {digit} * 2 > 9 THEN {digit} * 2 - 9 "
        f"ELSE {digit} * 2 END ELSE {digit} END)) % 10 = 0"
    )
    return f"""
    WITH aug AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 4 = 0 THEN '{CARD_PLANT_VALID}'
                    ELSE '' END ||
               CASE WHEN doc_id % 6 = 0 THEN '{CARD_PLANT_INVALID}'
                    ELSE '' END AS t
        FROM documents
    ),
    c AS (
        SELECT doc_id, t,
               regexp_extract_all(t, '{CARD_PATTERN}') AS cands
        FROM aug
    )
    SELECT doc_id,
           CAST(len(cands) AS BIGINT) AS n_candidates,
           CAST(len(list_filter(cands, m -> {luhn})) AS BIGINT) AS n_valid,
           md5(list_reduce(list_prepend(t, cands),
               (acc, m) -> CASE WHEN {luhn}
                                THEN replace(acc, m, '{CARD_TOKEN}')
                                ELSE acc END)) AS redacted_md5
    FROM c
    ORDER BY doc_id
"""


LLMDATA_ORACLES["t59_card_pii"] = _t59_oracle()


def _t60_oracle() -> str:
    """DuckDB twin of t60: the full gradient-descent training loop
    unrolled — planted marker, TF features over the md5 bucket space,
    per-round residuals (bucket-ordered list_reduce fold, matching the
    Spark side's sorted aggregate), DECIMAL-exact gradients, IEEE
    weight updates (every numeric literal cast to DOUBLE — DuckDB would
    otherwise type 1.9/0.0 as DECIMAL and drift from Spark's double
    arithmetic), then scoring and the decimal-mean threshold.  Round
    CTEs are MATERIALIZED (the BPE-oracle lesson: default inlining
    re-expands the iteration chain per reference)."""
    from ..operators.curation import CLS_BUCKETS
    from .llmdata import CLS_TRAIN_ITERS, CLS_TRAIN_LR, CLS_TRAIN_MARKER

    h32 = _H32.format(x="w")
    lr = f"CAST({CLS_TRAIN_LR} AS DOUBLE)"
    zero = "CAST(0.0 AS DOUBLE)"
    dot = (
        "list_reduce(list_prepend({z}, "
        "list(f.x * COALESCE(w.wgt, {z}) ORDER BY f.bucket)), "
        "(a, v) -> a + v)"
    ).replace("{z}", zero)
    grad = (
        "SELECT bucket, "
        "CAST(SUM(CAST(f.x * r.r AS DECIMAL(28,12))) AS DOUBLE) AS g "
        "FROM feat f JOIN {r} r USING (doc_id) GROUP BY bucket"
    )
    ctes = [
        "aug AS MATERIALIZED (SELECT doc_id, CASE WHEN doc_id % 3 = 0 "
        f"THEN text || '{CLS_TRAIN_MARKER}' ELSE text END AS text "
        "FROM documents)",
        f"toks AS (SELECT doc_id, string_split({NORM}, ' ') AS l FROM aug)",
        "feat AS MATERIALIZED (SELECT doc_id, "
        f"{h32} % {CLS_BUCKETS} AS bucket, "
        "CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(n) AS x "
        "FROM (SELECT doc_id, unnest(l) AS w, len(l) AS n FROM toks) "
        "GROUP BY doc_id, bucket)",
        "lab AS MATERIALIZED (SELECT doc_id, CASE WHEN doc_id % 3 = 0 "
        "THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y "
        "FROM documents)",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)",
        # round 1: all-zero weights score exactly 0.0 for every doc
        f"r1 AS MATERIALIZED (SELECT doc_id, {zero} - y AS r FROM lab)",
        f"g1 AS ({grad.format(r='r1')})",
        f"w1 AS MATERIALIZED (SELECT bucket, {zero} - {lr} * g / nn.n AS wgt "
        "FROM g1 CROSS JOIN nn)",
    ]
    for it in range(2, CLS_TRAIN_ITERS + 1):
        prev = f"w{it - 1}"
        ctes.append(
            f"s{it} AS (SELECT f.doc_id, {dot} AS yh "
            f"FROM feat f LEFT JOIN {prev} w USING (bucket) "
            "GROUP BY f.doc_id)"
        )
        ctes.append(
            f"r{it} AS MATERIALIZED (SELECT l.doc_id, "
            f"COALESCE(s.yh, {zero}) - l.y AS r "
            f"FROM lab l LEFT JOIN s{it} s USING (doc_id))"
        )
        ctes.append(f"g{it} AS ({grad.format(r=f'r{it}')})")
        ctes.append(
            f"w{it} AS MATERIALIZED (SELECT bucket, "
            f"COALESCE(w.wgt, {zero}) - {lr} * COALESCE(g.g, {zero}) / nn.n "
            f"AS wgt FROM {prev} w FULL OUTER JOIN g{it} g USING (bucket) "
            "CROSS JOIN nn)"
        )
    final_w = f"w{CLS_TRAIN_ITERS}"
    ctes.append(
        f"sF AS (SELECT f.doc_id, {dot} AS yh "
        f"FROM feat f LEFT JOIN {final_w} w USING (bucket) "
        "GROUP BY f.doc_id)"
    )
    ctes.append(
        "sc AS MATERIALIZED (SELECT l.doc_id, CAST(l.y AS BIGINT) AS y, "
        + SQL_QUANT(f"COALESCE(s.yh, {zero})", 6)
        + " AS yhat FROM lab l LEFT JOIN sF s USING (doc_id))"
    )
    ctes.append(
        "thr AS (SELECT CAST(SUM(CAST(yhat AS DECIMAL(28,12))) AS DOUBLE) "
        "/ COUNT(*) AS t FROM sc)"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT doc_id, y, yhat, yhat >= thr.t AS predicted
    FROM sc CROSS JOIN thr
    ORDER BY doc_id
"""
    )


LLMDATA_ORACLES["t60_classifier_training"] = _t60_oracle()

# t54b runs the two-stage (winnow-prescreened) path against the SAME
# one-stage oracle — the gate pins prescreened == exact.
LLMDATA_ORACLES["t54b_duplicate_spans_prescreened"] = LLMDATA_ORACLES[
    "t54_duplicate_spans"
]

MONITORING_ORACLES["s6_streaming_txtable_sink"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents
    GROUP BY source
    ORDER BY source
"""

# s16: the change-feed hop's target table must hold EXACTLY the
# per-commit diff of A's four commits, recomputed from raw documents.
# File-granular delete semantics are replayed explicitly: v1/v2 stage
# one file per (source, commit-modulus) — repartition("source") puts
# each value in exactly one task — so v3's delete rewrites precisely
# the (source, m) groups CONTAINING an even doc_id: all their rows
# stream as deletes, their odd-id rows as re-inserts.
MONITORING_ORACLES["s16_streaming_change_feed"] = """
    WITH s12 AS (
        SELECT doc_id, source, n_chars, doc_id % 3 AS m
        FROM documents
        WHERE doc_id % 3 IN (0, 1)
    ),
    hit AS (
        SELECT DISTINCT source, m FROM s12 WHERE doc_id % 2 = 0
    ),
    feed AS (
        SELECT 1 AS commit_version, 'insert' AS change_type,
               doc_id, source, n_chars
        FROM s12 WHERE m = 0
        UNION ALL
        SELECT 2, 'insert', doc_id, source, n_chars
        FROM s12 WHERE m = 1
        UNION ALL
        SELECT 3, 'delete', doc_id, source, n_chars
        FROM s12
        WHERE EXISTS (SELECT 1 FROM hit h
                      WHERE h.source = s12.source AND h.m = s12.m)
        UNION ALL
        SELECT 3, 'insert', doc_id, source, n_chars
        FROM s12
        WHERE EXISTS (SELECT 1 FROM hit h
                      WHERE h.source = s12.source AND h.m = s12.m)
          AND doc_id % 2 <> 0
        UNION ALL
        SELECT 4, 'insert', doc_id, source, n_chars
        FROM documents WHERE doc_id % 3 = 2
    )
    SELECT CAST(commit_version AS BIGINT) AS commit_version,
           change_type,
           source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
           TRUE AS replay_noop,
           TRUE AS restart_noop
    FROM feed
    GROUP BY commit_version, change_type, source
    ORDER BY commit_version, change_type, source
"""

# s15: the auto-compacted table must hold EXACTLY the raw corpus (s6's
# contract through interleaved compact commits); the lifecycle facts
# are pinned literals.
MONITORING_ORACLES["s15_streaming_sink_autocompact"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           TRUE AS compaction_ran,
           TRUE AS files_below_no_compaction,
           TRUE AS replay_noop
    FROM documents
    GROUP BY source
    ORDER BY source
"""


# t85: deletion vectors — three table states and two per-commit CDF
# delete counts, all pure functions of the raw corpus and the two
# predicates; 'delete_dv' op strings are part of the pinned contract.
LLMDATA_ORACLES["t85_deletion_vectors"] = """
    SELECT 1 AS version, 'init' AS op,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
             WHERE doc_id % 7 = 0) AS n_match7,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
             WHERE doc_id % 11 = 0) AS n_match11,
           CAST(0 AS BIGINT) AS cdf_deletes
    UNION ALL
    SELECT 2, 'delete_dv',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
             WHERE doc_id % 7 <> 0),
           CAST(0 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
             WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
             WHERE doc_id % 7 = 0)
    UNION ALL
    SELECT 3, 'delete_dv',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
             WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0),
           CAST(0 AS BIGINT),
           CAST(0 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
             WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0)
    ORDER BY version
"""


# s17: stream-stream interval join == batch self-join (values are raw
# parquet doubles, no arithmetic — hash-safe as-is)
MONITORING_ORACLES["s17_streaming_interval_join"] = """
    SELECT c.user_id,
           c.event_id AS cause_id,
           e.event_id AS effect_id,
           c.ts AS cause_ts,
           e.ts AS effect_ts,
           e.value
    FROM events c
    JOIN events e
      ON e.user_id = c.user_id
     AND e.ts > c.ts
     AND e.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND e.event_type = 'purchase'
    ORDER BY c.user_id, cause_id, effect_id
"""


# t86: BM25 — mirrors bm25_scores' expression tree exactly: rational
# idf (2N-2df+1)/(2df+1), norm = k1*((1-b)+b*(dl/avgdl)) with avgdl =
# total/N, per-term s_i = idf*(tf*(k1+1))/(tf+norm), total = s0+s1+s2
# in that order.  All doubles come from one mirrored chain of IEEE
# +,*,/ over integers, so the hash matches without quantization.
CORPUS_ORACLES["t86_bm25_retrieval"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term
        FROM documents
    ),
    nz AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM nz GROUP BY 1
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM nz WHERE term IN ('join', 'window', 'stream')
        GROUP BY 1, 2
    ),
    tfp AS (
        SELECT doc_id,
               SUM(CASE WHEN term = 'join' THEN tf END) AS tf_0,
               SUM(CASE WHEN term = 'window' THEN tf END) AS tf_1,
               SUM(CASE WHEN term = 'stream' THEN tf END) AS tf_2
        FROM tf GROUP BY 1
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_tokens
        FROM dl
    ),
    dfreq AS (
        SELECT CAST(SUM(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS df_0,
               CAST(SUM(CASE WHEN term = 'window' THEN 1 ELSE 0 END) AS BIGINT) AS df_1,
               CAST(SUM(CASE WHEN term = 'stream' THEN 1 ELSE 0 END) AS BIGINT) AS df_2
        FROM tf
    ),
    base AS (
        SELECT dl.doc_id, dl.dl, tfp.tf_0, tfp.tf_1, tfp.tf_2,
               stats.n_docs, stats.total_tokens,
               dfreq.df_0, dfreq.df_1, dfreq.df_2
        FROM dl LEFT JOIN tfp USING (doc_id)
        CROSS JOIN stats CROSS JOIN dfreq
    ),
    scored AS (
        SELECT doc_id, dl,
               CAST(COALESCE(tf_0, 0) AS BIGINT) AS tf_0,
               CAST(COALESCE(tf_1, 0) AS BIGINT) AS tf_1,
               CAST(COALESCE(tf_2, 0) AS BIGINT) AS tf_2,
               (0.0
                + COALESCE(((2.0 * CAST(n_docs AS DOUBLE) - 2.0 * CAST(df_0 AS DOUBLE) + 1.0)
                            / (2.0 * CAST(df_0 AS DOUBLE) + 1.0))
                           * (CAST(tf_0 AS DOUBLE) * 2.2)
                           / (CAST(tf_0 AS DOUBLE)
                              + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
                                       / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 0.0)
                + COALESCE(((2.0 * CAST(n_docs AS DOUBLE) - 2.0 * CAST(df_1 AS DOUBLE) + 1.0)
                            / (2.0 * CAST(df_1 AS DOUBLE) + 1.0))
                           * (CAST(tf_1 AS DOUBLE) * 2.2)
                           / (CAST(tf_1 AS DOUBLE)
                              + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
                                       / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 0.0)
                + COALESCE(((2.0 * CAST(n_docs AS DOUBLE) - 2.0 * CAST(df_2 AS DOUBLE) + 1.0)
                            / (2.0 * CAST(df_2 AS DOUBLE) + 1.0))
                           * (CAST(tf_2 AS DOUBLE) * 2.2)
                           / (CAST(tf_2 AS DOUBLE)
                              + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
                                       / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 0.0)
               ) AS score
        FROM base
    )
    SELECT doc_id, dl, tf_0, tf_1, tf_2, score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT 20
"""


# t87: small-file OPTIMIZE — final stats are the corpus minus the
# vectored band; the lifecycle booleans and version count are pinned
# (6 = init + three appends + delete_dv + optimize).
LLMDATA_ORACLES["t87_optimize_small"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           TRUE AS big_file_carried,
           TRUE AS files_reduced,
           TRUE AS vector_materialized,
           'optimize' AS last_op,
           CAST(6 AS BIGINT) AS n_versions
    FROM documents
    WHERE NOT (doc_id % 5 = 2 AND doc_id % 9 = 0)
    GROUP BY source
    ORDER BY source
"""


# s18: stream-static enrichment == batch left join (decimal-exact
# value sums; NULL segment = users without a customer row)
MONITORING_ORACLES["s18_streaming_enrichment"] = f"""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           {SQL_R2(SQL_DSUM('e.value'))} AS total_value
    FROM events e
    LEFT JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
"""


# t89: bloom point lookup — the probed row is the max-doc_id row; the
# hash-scattered layout makes range skipping scan all 8 files
# (pinned), and the bloom improvements are pinned as booleans.
LLMDATA_ORACLES["t89_bloom_point_lookup"] = """
    SELECT doc_id, source, n_chars,
           CAST(8 AS BIGINT) AS files_scanned_range,
           CAST(8 AS BIGINT) AS files_total,
           TRUE AS bloom_pruned_fewer,
           TRUE AS absent_pruned
    FROM documents
    WHERE doc_id = (
        SELECT MAX(doc_id) FROM documents
        WHERE doc_id <= (
            SELECT (MIN(doc_id) + MAX(doc_id)) // 2 FROM documents
        )
    )
"""


# t90: ANALYZE stats — nulls/min/max exact, NDV by replaying the p=4
# md5 register pipeline per column (the t67 harmonic-branch math; both
# gate columns are high-cardinality, keeping the ln-free branch).
def _t90_oracle() -> str:
    from ..operators.sketch import TWO_61, hll_alpha

    m = 16
    const = hll_alpha(m) * (m * m) * float(TWO_61)

    def est(col: str) -> str:
        return f"""(
        WITH vals AS (
            SELECT md5(CAST({col} AS VARCHAR)) AS h FROM lineitem
            WHERE {col} IS NOT NULL
        ),
        parts AS (
            SELECT strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS ridx,
                   length(regexp_extract(substr(h, 2, 15), '^0*')) AS z,
                   substr(regexp_replace(substr(h, 2, 15), '^0*', ''), 1, 1) AS c
            FROM vals
        ),
        ranked AS (
            SELECT ridx,
                   CASE WHEN z = 15 THEN 61
                        ELSE 4 * z + CASE WHEN c = '1' THEN 3
                                          WHEN c IN ('2', '3') THEN 2
                                          WHEN c IN ('4', '5', '6', '7') THEN 1
                                          ELSE 0 END + 1 END AS r
            FROM parts
        ),
        regs AS (SELECT ridx, MAX(r) AS rmax FROM ranked GROUP BY ridx),
        agg AS (
            SELECT SUM(CAST(1 AS BIGINT) << (61 - rmax)) AS zsum,
                   COUNT(*) AS npres
            FROM regs
        )
        SELECT {SQL_QUANT(
            f"{const!r} / CAST(zsum + ({m} - npres)"
            f" * CAST({TWO_61} AS HUGEINT) AS DOUBLE)", 4
        )} FROM agg
    )"""

    def one(col: str) -> str:
        return f"""
    SELECT '{col}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           {est(col)} AS ndv,
           CAST(MIN({col}) AS VARCHAR) AS min_val,
           CAST(MAX({col}) AS VARCHAR) AS max_val,
           CAST(1 AS BIGINT) AS computed_at,
           CAST(3 AS BIGINT) AS head_version
    FROM lineitem"""

    return (
        one("l_partkey") + "\n    UNION ALL" + one("l_shipdate")
        + "\n    ORDER BY col_name"
    )


LLMDATA_ORACLES["t90_analyze_stats"] = _t90_oracle()


# t91: generated columns — per-month stats from raw events via the
# strftime twin of date_format(ts, 'yyyy-MM'); rejection booleans pinned
LLMDATA_ORACLES["t91_generated_columns"] = f"""
    SELECT strftime(ts, '%Y-%m') AS event_month,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           {SQL_R2(SQL_DSUM('value'))} AS total_value,
           TRUE AS bad_month_rejected,
           TRUE AS partitioned_by_month
    FROM events
    GROUP BY 1
    ORDER BY event_month
"""


# t92: quarantine ingest — both destinations are pure functions of the
# band predicates; constraint names in _violated are part of the
# pinned contract (declaration order fixes the tag order)
LLMDATA_ORACLES["t92_quarantine_append"] = """
    SELECT 'main' AS dest, '' AS _violated,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 'quarantine', 'n_chars_nonneg',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT)
    FROM documents WHERE doc_id % 3 = 1
    UNION ALL
    SELECT 'quarantine', 'source_not_null',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(doc_id) AS BIGINT)
    FROM documents WHERE doc_id % 3 = 2
    ORDER BY dest, _violated
"""


# t93: manifest-log checkpointing — each version's row stats replay
# from the band predicates; the checkpoint/delta/replay-equality pins
# are computed Python-side and asserted as literals
LLMDATA_ORACLES["t93_log_checkpointing"] = """
    WITH v AS (
        SELECT 1 AS version, 'init' AS op, doc_id
        FROM documents WHERE doc_id % 5 <> 4
        UNION ALL
        SELECT 2, 'append', doc_id FROM documents
        UNION ALL
        SELECT 3, 'add_constraint:doc_id_pos', doc_id FROM documents
        UNION ALL
        SELECT 4, 'delete_dv', doc_id
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT 5, 'rename_column:n_chars->len_chars', doc_id
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT 6, 'compact', doc_id
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT 7, 'append', doc_id
        FROM documents WHERE doc_id % 7 <> 0 OR doc_id % 2 = 1
    )
    SELECT CAST(version AS BIGINT) AS version, op,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           '3,6' AS checkpoints_at,
           TRUE AS delta_only,
           TRUE AS replay_equal
    FROM v
    GROUP BY version, op
    ORDER BY version
"""


# t94: BM25 with the query set as a relation — replays the full
# derivation: corpus-derived 100 two-term queries, the mirrored IEEE
# partial-score chain, 2^20 fixed-point floor quantization, integer
# sums (order-independent), top-3 per query on the integer key.
CORPUS_ORACLES["t94_bm25_query_relation"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term
        FROM documents
    ),
    nz AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    vocab AS (
        SELECT term, COUNT(*) AS c FROM nz
        WHERE length(term) >= 4
        GROUP BY 1
        ORDER BY c DESC, term LIMIT 200
    ),
    q AS (
        SELECT CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY c DESC, term) - 1)
                          / 2) AS BIGINT) AS query_id,
               term
        FROM vocab
    ),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM nz GROUP BY 1
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_tokens
        FROM dl
    ),
    tfm AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM nz WHERE term IN (SELECT term FROM q)
        GROUP BY 1, 2
    ),
    dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfm GROUP BY 1
    ),
    part AS (
        SELECT tfm.doc_id, tfm.term,
               CAST(FLOOR(
                   ((2.0 * CAST(n_docs AS DOUBLE) - 2.0 * CAST(df AS DOUBLE) + 1.0)
                    / (2.0 * CAST(df AS DOUBLE) + 1.0))
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
                               / (CAST(total_tokens AS DOUBLE)
                                  / CAST(n_docs AS DOUBLE)))))
                   * 1048576.0
               ) AS BIGINT) AS s_fp
        FROM tfm JOIN dl USING (doc_id) JOIN dfreq USING (term)
        CROSS JOIN stats
    ),
    hits AS (
        SELECT q.query_id, part.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
               SUM(s_fp) AS score_fp
        FROM part JOIN q USING (term)
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id, n_terms_matched,
               CAST(score_fp AS DOUBLE) / 1048576.0 AS score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score_fp DESC, doc_id) AS rank
        FROM hits
    )
    SELECT query_id, rank, doc_id, n_terms_matched, score
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
"""


# t99: incremental BM25 index — the t94 chain replayed over the FINAL
# corpus state (init %3!=2 ∪ append %3==2 ∖ delete_dv %5==4 = all
# documents minus the %5==4 band); the maintained-index-vs-recompute
# equality is pinned as a literal TRUE column.
CORPUS_ORACLES["t99_incremental_bm25_index"] = f"""
    WITH fdocs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
    ),
    toks AS (
        SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term
        FROM fdocs
    ),
    nz AS (SELECT doc_id, term FROM toks WHERE term <> ''),
    vocab AS (
        SELECT term, COUNT(*) AS c FROM nz
        WHERE length(term) >= 4
        GROUP BY 1
        ORDER BY c DESC, term LIMIT 200
    ),
    q AS (
        SELECT CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY c DESC, term) - 1)
                          / 2) AS BIGINT) AS query_id,
               term
        FROM vocab
    ),
    dl AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM nz GROUP BY 1
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_tokens
        FROM dl
    ),
    tfm AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM nz WHERE term IN (SELECT term FROM q)
        GROUP BY 1, 2
    ),
    dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfm GROUP BY 1
    ),
    part AS (
        SELECT tfm.doc_id, tfm.term,
               CAST(FLOOR(
                   ((2.0 * CAST(n_docs AS DOUBLE) - 2.0 * CAST(df AS DOUBLE) + 1.0)
                    / (2.0 * CAST(df AS DOUBLE) + 1.0))
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE)
                               / (CAST(total_tokens AS DOUBLE)
                                  / CAST(n_docs AS DOUBLE)))))
                   * 1048576.0
               ) AS BIGINT) AS s_fp
        FROM tfm JOIN dl USING (doc_id) JOIN dfreq USING (term)
        CROSS JOIN stats
    ),
    hits AS (
        SELECT q.query_id, part.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
               SUM(s_fp) AS score_fp
        FROM part JOIN q USING (term)
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id, n_terms_matched,
               CAST(score_fp AS DOUBLE) / 1048576.0 AS score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score_fp DESC, doc_id) AS rank
        FROM hits
    )
    SELECT query_id, rank, doc_id, n_terms_matched, score,
           TRUE AS index_matches_recompute
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
"""


# s20: 3-hop bronze->silver->gold chain — the batch composition of the
# whole pipeline: final bronze = (%3 in (0,1) minus the %7==0 delete)
# plus the %3==2 band appended AFTER the delete; silver keeps the
# even-n_chars rows with the doubled derived column; gold aggregates
# per source.  Every lifecycle pin is a literal TRUE.
MONITORING_ORACLES["s20_streaming_multihop_pipeline"] = """
    WITH bron AS (
        SELECT doc_id, source, n_chars FROM documents
        WHERE (doc_id % 3 IN (0, 1) AND doc_id % 7 <> 0)
           OR doc_id % 3 = 2
    ),
    silv AS (
        SELECT doc_id, source, n_chars, n_chars * 2 AS twice_chars
        FROM bron WHERE n_chars % 2 = 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(twice_chars) AS BIGINT) AS sum_twice,
           CAST(4 AS BIGINT) AS bronze_versions,
           TRUE AS silver_matches_batch,
           TRUE AS chain_exact,
           TRUE AS restart_noop,
           TRUE AS silver_autocompacted
    FROM silv
    GROUP BY source
    ORDER BY source
"""


# s19: outer stream-stream interval join == plain batch LEFT join
# (the sentinel-flush drain makes every unmatched click emit, so no
# watermark-cutoff arithmetic remains in the oracle)
MONITORING_ORACLES["s19_streaming_outer_interval_join"] = """
    SELECT c.user_id,
           c.event_id AS cause_id,
           c.ts AS cause_ts,
           e.event_id AS effect_id,
           e.ts AS effect_ts,
           e.value
    FROM events c
    LEFT JOIN events e
      ON e.user_id = c.user_id
     AND e.event_type = 'purchase'
     AND e.ts > c.ts
     AND e.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
    ORDER BY c.user_id, cause_id, COALESCE(effect_id, -1)
"""


# t95: fuzzy join — brute-force levenshtein cross join over the
# (original key, perturbed %7-band key) relations proves the banded
# operator complete; derivation (norm prefix, 3rd-char deletion)
# mirrored exactly
LLMDATA_ORACLES["t95_fuzzy_join"] = f"""
    WITH k AS (
        SELECT doc_id, substr({NORM}, 1, 24) AS key FROM documents
    ),
    p AS (
        SELECT doc_id, substr(key, 1, 2) || substr(key, 4) AS key
        FROM k WHERE doc_id % 7 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.key AS key_a, b.key AS key_b,
           CAST(levenshtein(a.key, b.key) AS INT) AS dist
    FROM k a JOIN p b ON levenshtein(a.key, b.key) <= 1
    ORDER BY id_a, id_b
"""


# t96: merge schema evolution — final state rebuilt relationally: the
# %5 feed band updates n_chars/+tag (minus the %10 delete-flag band),
# everything else keeps a NULL tag; ops pins init/add_columns/merge
LLMDATA_ORACLES["t96_merge_schema_evolution"] = """
    WITH final AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000
                    ELSE n_chars END AS n_chars,
               CASE WHEN doc_id % 5 = 0
                    THEN 't' || CAST(doc_id % 3 AS VARCHAR)
                    ELSE NULL END AS tag
        FROM documents
        WHERE NOT (doc_id % 5 = 0 AND doc_id % 10 = 0)
    )
    SELECT tag,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
           'init,merge' AS ops
    FROM final
    GROUP BY tag
    ORDER BY tag
"""


# t97: COPY INTO — final state is the whole corpus; ingest arithmetic
# (3 then 2 then none) and the op sequence are pinned literals
LLMDATA_ORACLES["t97_copy_into"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(3 AS BIGINT) AS first_ingested,
           CAST(2 AS BIGINT) AS second_ingested,
           TRUE AS third_noop,
           'init,copy_into,copy_into' AS ops
    FROM documents
    GROUP BY source
    ORDER BY source
"""


# t98: op-aware commit conflict resolution — the serialized equivalent
# of the three injected races: all four %4 bands land (two racing
# append pairs + the compact race's append), the delete_dv hides the
# %7==0 band of the rows visible at its read snapshot, and the
# WriteSerializable rebase lets the concurrently appended
# (%4==0 AND %7==0) rows survive the vector.
LLMDATA_ORACLES["t98_concurrent_writers"] = """
    WITH final AS (
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id % 4 = 0 AND doc_id % 7 = 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           'init,append,append,append,compact,append,delete_dv' AS ops,
           TRUE AS append_rebased,
           TRUE AS compact_rebased,
           TRUE AS dv_rebased
    FROM final
    GROUP BY source
    ORDER BY source
"""


# t101: top-k from the index relations — the oracle IS t94's
# full-scoring replay (identical derivation, ranking key, and
# tie-break): hash equality against it checks the index path against
# the text recompute, cross-engine.
CORPUS_ORACLES["t101_bm25_topk_pruned"] = CORPUS_ORACLES[
    "t94_bm25_query_relation"
]
