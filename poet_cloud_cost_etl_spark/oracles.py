"""DuckDB oracle SQL twins for every entry in ``queries.QUERIES``.

Same name, same output column names, same deterministic-value
conventions (integer-cents money, derived averages, rounded ratios) —
see queries.py module docstring. Tables are pre-registered DuckDB
views over the same parquet files.
"""

from __future__ import annotations

ORACLES: dict[str, str] = {}


def _cents(expr: str) -> str:
    return f"CAST(ROUND(({expr})*100) AS BIGINT)"


# Normalized events→costs projection, reused by several oracles.
EVENTS_COSTS = """
    SELECT
        CAST(ts AS DATE) AS date,
        CAST(user_id AS VARCHAR) AS account_id,
        event_type AS service,
        CAST(NULL AS VARCHAR) AS region,
        value AS cost,
        'USD' AS currency,
        'aws' AS cloud_provider,
        'events' AS source_table,
        TIMESTAMP '2026-01-01 00:00:00' AS sync_timestamp
    FROM events
"""

ORDERS_COSTS = """
    SELECT
        CAST(o_orderdate AS DATE) AS date,
        CAST(o_custkey AS VARCHAR) AS account_id,
        o_orderpriority AS service,
        o_orderstatus AS region,
        o_totalprice AS cost,
        'USD' AS currency,
        'gcp' AS cloud_provider,
        'orders' AS source_table,
        TIMESTAMP '2026-01-01 00:00:00' AS sync_timestamp
    FROM orders
"""

COSTS_VIEW = f"({EVENTS_COSTS} UNION ALL {ORDERS_COSTS})"

ORACLES["costs_normalize_events"] = EVENTS_COSTS

# DECIMAL-money DDL parity (reference sql/init.sql:19): same
# projection, cost computed as DECIMAL(10,2) — the reference's money
# type — then rendered as VARCHAR for the hashed surface.  Two
# distinct hazards, two distinct defenses (r7+r8 post-mortems):
#   (a) rounding: double→decimal is not engine-portable (Spark
#       rounds the shortest round-trip decimal string via
#       BigDecimal.valueOf; DuckDB rounds the exact binary
#       expansion) — the inner VARCHAR round-trip pins DuckDB to
#       Spark's semantics;
#   (b) materialization: the driver fetches DuckDB results through
#       pandas, which degrades DECIMAL(10,2) to float64 ('10.10' →
#       10.1), changing the canonical string even when the decimal
#       values are bit-identical — so the *output* column is VARCHAR
#       ('10.10' on both engines; Spark scale-2 BigDecimal.toString
#       and DuckDB decimal→varchar both always print 2 fraction
#       digits).  The DecimalType(10,2) DDL itself is asserted in
#       pytest (tests/test_pipeline.py) where no pandas leg exists.
ORACLES["costs_normalize_decimal"] = """
    SELECT
        CAST(ts AS DATE) AS date,
        CAST(user_id AS VARCHAR) AS account_id,
        event_type AS service,
        CAST(NULL AS VARCHAR) AS region,
        CAST(CAST(CAST(value AS VARCHAR) AS DECIMAL(10,2)) AS VARCHAR)
            AS cost,
        'USD' AS currency,
        'aws' AS cloud_provider,
        'events' AS source_table,
        TIMESTAMP '2026-01-01 00:00:00' AS sync_timestamp
    FROM events
"""

ORACLES["costs_union_view"] = f"""
    SELECT
        cloud_provider,
        service,
        CAST(SUM({_cents('cost')}) AS BIGINT) AS cost_cents,
        COUNT(*) AS n_rows,
        CAST(SUM({_cents('cost')}) AS DOUBLE) / 100.0 AS total_cost
    FROM {COSTS_VIEW} costs
    GROUP BY cloud_provider, service
"""

ORACLES["costs_by_service_30d"] = f"""
    SELECT service, CAST(cost_cents AS DOUBLE) / 100.0 AS total
    FROM (
        SELECT service, CAST(SUM({_cents('cost')}) AS BIGINT) AS cost_cents
        FROM ({EVENTS_COSTS}) costs
        WHERE date >= DATE '2024-01-15'
        GROUP BY service
    )
    ORDER BY total DESC, service
"""

ORACLES["costs_daily_trend"] = f"""
    SELECT date, CAST(SUM({_cents('cost')}) AS DOUBLE) / 100.0 AS daily_cost
    FROM ({EVENTS_COSTS}) costs
    GROUP BY date
    ORDER BY date
"""

ORACLES["costs_by_account"] = f"""
    SELECT
        account_id,
        CAST(SUM({_cents('cost')}) AS DOUBLE) / 100.0 AS total_cost,
        COUNT(*) AS n_items
    FROM {COSTS_VIEW} costs
    GROUP BY account_id
"""

ORACLES["top_accounts"] = f"""
    SELECT account_id, CAST(SUM({_cents('cost')}) AS DOUBLE) / 100.0 AS total_cost
    FROM ({EVENTS_COSTS}) costs
    GROUP BY account_id
    ORDER BY total_cost DESC, account_id
    LIMIT 10
"""

ORACLES["account_filter_in"] = f"""
    SELECT
        account_id,
        service,
        CAST(SUM({_cents('cost')}) AS BIGINT) AS cost_cents,
        COUNT(*) AS n
    FROM ({EVENTS_COSTS}) costs
    WHERE account_id IN ('7', '23', '42', '99', '111')
       OR (account_id = '3' AND service = 'purchase')
       OR (account_id = '58' AND service = 'click')
    GROUP BY account_id, service
"""

ORACLES["q1_pricing_summary"] = f"""
    SELECT
        l_returnflag,
        l_linestatus,
        CAST(qty_cents AS DOUBLE) / 100.0 AS sum_qty,
        CAST(base_cents AS DOUBLE) / 100.0 AS sum_base_price,
        CAST(disc_cents AS DOUBLE) / 100.0 AS sum_disc_price,
        CAST(charge_cents AS DOUBLE) / 100.0 AS sum_charge,
        ROUND(CAST(qty_cents AS DOUBLE) / count_order / 100.0, 4) AS avg_qty,
        ROUND(CAST(base_cents AS DOUBLE) / count_order / 100.0, 4) AS avg_price,
        count_order
    FROM (
        SELECT
            l_returnflag,
            l_linestatus,
            CAST(SUM({_cents('l_quantity')}) AS BIGINT) AS qty_cents,
            CAST(SUM({_cents('l_extendedprice')}) AS BIGINT) AS base_cents,
            CAST(SUM({_cents('l_extendedprice' + "*(1-l_discount)")}) AS BIGINT) AS disc_cents,
            CAST(SUM({_cents('l_extendedprice' + "*(1-l_discount)*(1+l_tax)")}) AS BIGINT)
                AS charge_cents,
            COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    )
    ORDER BY l_returnflag, l_linestatus
"""

ORACLES["join_broadcast_dim"] = f"""
    SELECT
        s_name,
        CAST(SUM({_cents('l_extendedprice*(1-l_discount)')}) AS DOUBLE) / 100.0 AS revenue,
        COUNT(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
"""

ORACLES["join_chain_dims"] = f"""
    SELECT
        r_name,
        COUNT(*) AS n_customers,
        CAST(SUM({_cents('c_acctbal')}) AS DOUBLE) / 100.0 AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
"""

ORACLES["join_left_outer"] = f"""
    SELECT
        c_custkey,
        c_mktsegment,
        COUNT(o_orderkey) AS order_count,
        CAST(COALESCE(CAST(SUM(CASE WHEN o_orderkey IS NOT NULL
                THEN {_cents('o_totalprice')} END) AS BIGINT), 0) AS DOUBLE) / 100.0
            AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
"""

ORACLES["join_semi"] = """
    SELECT c_mktsegment, COUNT(*) AS n_active_customers
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    GROUP BY c_mktsegment
"""

ORACLES["window_topn_per_group"] = """
    SELECT p_brand, p_partkey, p_retailprice, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT
            p_brand, p_partkey, p_retailprice,
            ROW_NUMBER() OVER (
                PARTITION BY p_brand
                ORDER BY p_retailprice DESC, p_partkey ASC
            ) AS rn
        FROM part
    )
    WHERE rn <= 3
"""

DAILY_REVENUE = f"""
    SELECT
        CAST(o_orderdate AS DATE) AS order_date,
        CAST(SUM({_cents('o_totalprice')}) AS BIGINT) AS rev_cents
    FROM orders
    GROUP BY CAST(o_orderdate AS DATE)
"""

ORACLES["window_lag_delta"] = f"""
    SELECT
        order_date,
        CAST(rev_cents AS DOUBLE) / 100.0 AS daily_revenue,
        CAST(rev_cents - LAG(rev_cents, 1) OVER (ORDER BY order_date) AS DOUBLE) / 100.0
            AS delta_vs_prev_day
    FROM ({DAILY_REVENUE})
"""

ORACLES["window_moving_avg"] = f"""
    SELECT
        order_date,
        CAST(rev_cents AS DOUBLE) / 100.0 AS daily_revenue,
        ROUND(
            CAST(SUM(rev_cents) OVER w AS DOUBLE)
            / (COUNT(*) OVER w) / 100.0, 4) AS ma7
    FROM ({DAILY_REVENUE})
    WINDOW w AS (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

ORACLES["window_running_total"] = f"""
    SELECT
        account_id,
        date,
        CAST(SUM(day_cents) OVER (
            PARTITION BY account_id ORDER BY date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS DOUBLE) / 100.0 AS running_cost
    FROM (
        SELECT account_id, date, CAST(SUM({_cents('cost')}) AS BIGINT) AS day_cents
        FROM ({EVENTS_COSTS}) costs
        GROUP BY account_id, date
    )
"""

# --- batch 2: aggregates / set ops / scalar funcs / asof+range joins ---

ORACLES["join_anti"] = """
    SELECT c_mktsegment, COUNT(*) AS n_inactive_customers
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 450000
    )
    GROUP BY c_mktsegment
"""

ORACLES["agg_stats"] = f"""
    SELECT
        l_returnflag,
        n,
        n_parts,
        min_price,
        max_price,
        ROUND(CAST(price_cents AS DOUBLE) / n / 100.0, 4) AS avg_price,
        stddev_price
    FROM (
        SELECT
            l_returnflag,
            COUNT(*) AS n,
            COUNT(DISTINCT l_partkey) AS n_parts,
            MIN(l_extendedprice) AS min_price,
            MAX(l_extendedprice) AS max_price,
            CAST(SUM({_cents('l_extendedprice')}) AS BIGINT) AS price_cents,
            ROUND(STDDEV_SAMP(l_extendedprice), 2) AS stddev_price
        FROM lineitem
        GROUP BY l_returnflag
    )
"""

ORACLES["agg_rollup"] = f"""
    SELECT
        cloud_provider,
        service,
        CAST(GROUPING(cloud_provider) AS INTEGER) AS g_provider,
        CAST(GROUPING(service) AS INTEGER) AS g_service,
        CAST(SUM({_cents('cost')}) AS DOUBLE) / 100.0 AS total_cost,
        COUNT(*) AS n
    FROM {COSTS_VIEW} costs
    GROUP BY ROLLUP(cloud_provider, service)
"""

ORACLES["agg_cube"] = f"""
    SELECT
        l_returnflag,
        l_linestatus,
        CAST(SUM({_cents('l_quantity')}) AS DOUBLE) / 100.0 AS sum_qty,
        COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
"""

# agg_approx_distinct — the TOLERANCE TWIN: sketch values are
# engine-specific, but the accuracy contract isn't. The Spark side
# emits (exact count, within-5% booleans); the oracle computes the
# exact count and literal TRUEs. Both engines' sketches are
# deterministic functions of the data, so the hash is stable.
ORACLES["agg_approx_distinct"] = """
    SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS exact_parts,
        TRUE AS approx_parts_ok,
        TRUE AS approx_median_ok
    FROM lineitem
    GROUP BY l_returnflag
"""

ORACLES["set_intersect"] = """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""

ORACLES["set_except"] = """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""

ORACLES["json_extract_props"] = """
    SELECT
        event_type,
        CAST(SUM(k) AS BIGINT) AS k_sum,
        MIN(k) AS k_min,
        MAX(k) AS k_max,
        COUNT(k) AS n_with_k
    FROM (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    GROUP BY event_type
"""

ORACLES["string_funcs"] = """
    SELECT
        p_partkey,
        UPPER(p_name) AS name_upper,
        CAST(LEN(STRING_SPLIT(p_name, ' ')) AS INTEGER) AS n_words,
        STRING_SPLIT(p_name, ' ')[1] AS first_word,
        REPLACE(p_brand, 'Brand#', 'B') AS brand_code,
        SUBSTRING(p_type, 1, 5) AS type_prefix,
        CAST(LENGTH(p_name) AS INTEGER) AS name_len,
        CONCAT_WS('|', p_brand, p_type) AS brand_type
    FROM part
"""

ORACLES["date_funcs"] = """
    SELECT
        o_orderkey,
        CAST(o_orderdate AS DATE) AS order_date,
        CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
        CAST(MONTH(o_orderdate) AS INTEGER) AS o_month,
        CAST(DAY(o_orderdate) AS INTEGER) AS o_day,
        CAST(QUARTER(o_orderdate) AS INTEGER) AS o_quarter,
        CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
        CAST(o_orderdate - INTERVAL 30 DAY AS DATE) AS minus_30d,
        LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
        CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INTEGER)
            AS days_to_1999,
        CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start
    FROM orders
"""

ORACLES["math_funcs"] = """
    SELECT
        p_partkey,
        ROUND(SQRT(p_retailprice), 6) AS sqrt_price,
        POW(CAST(p_size AS DOUBLE), 2) AS size_sq,
        CAST(ABS(p_size - 25) AS INTEGER) AS abs_dev,
        CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
        CAST(p_partkey % 7 AS BIGINT) AS key_mod7
    FROM part
"""

ORACLES["join_asof"] = """
    SELECT
        p.event_id,
        p.user_id,
        p.ts,
        p.purchase_value,
        c.ts AS last_click_ts,
        c.click_value AS last_click_value
    FROM (
        SELECT event_id, user_id, ts, value AS purchase_value
        FROM events WHERE event_type = 'purchase'
    ) p
    ASOF LEFT JOIN (
        SELECT user_id, ts, value AS click_value
        FROM events WHERE event_type = 'click'
    ) c
    ON p.user_id = c.user_id AND c.ts <= p.ts
"""

ORACLES["join_range"] = """
    SELECT e1.user_id AS u, COUNT(*) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
    GROUP BY e1.user_id
"""

# --- batch 3: dedup / similarity / text analysis (X-family) ---

# DuckDB twins of the Spark tokenization/shingling expressions
# (operators/dedup.py TOKENS_SQL / SHINGLES_SQL).
_TOKS = (
    "string_split_regex(trim(regexp_replace(lower({col}), '[^a-z0-9 ]', '', 'g')), ' +')"
)

_SHINGLE_CTE = f"""
    toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    )
"""

ORACLES["dedup_exact"] = """
    SELECT MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
"""

ORACLES["dedup_fingerprint"] = """
    SELECT
        md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                ' +', ' ', 'g'))) AS fp,
        MIN(doc_id) AS keeper_doc_id,
        COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
"""

_MH_COLS = ",\n            ".join(
    f"MIN(md5('{j}|' || shingle)) AS mh{j}" for j in range(1, 9)
)
_BAND_UNION = "\n        UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, md5(mh{2*b+1} || mh{2*b+2}) AS band_val FROM mh"
    for b in range(4)
)
ORACLES["dedup_minhash_lsh"] = f"""
    WITH {_SHINGLE_CTE},
    mh AS (
        SELECT doc_id,
            {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_BAND_UNION}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
"""

ORACLES["dedup_ngram_jaccard"] = f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, jaccard
    FROM (
        SELECT doc_a, doc_b,
            ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6)
                AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
    )
    WHERE jaccard >= 0.5
"""

_V_COLS = ",\n            ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(16)
)
_SIM_SUM = " + ".join(f"(CASE WHEN v{j} >= 0 THEN {2**j} ELSE 0 END)" for j in range(16))
ORACLES["dedup_simhash"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    hs AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) AS h FROM tk),
    v AS (
        SELECT doc_id,
            {_V_COLS}
        FROM hs GROUP BY doc_id
    )
    SELECT doc_id, CAST({_SIM_SUM} AS INTEGER) AS simhash FROM v
"""

ORACLES["dedup_embedding_cosine"] = """
    SELECT id_a, id_b, cos_sim
    FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    WHERE cos_sim >= 0.4
"""

ORACLES["ann_topk_bruteforce"] = """
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT query_id, neighbor_id, cos_sim,
            ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
            ) AS rank
        FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[])), 6)
                    AS cos_sim
            FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 5) q
            WHERE e.vec_id <> q.vec_id
        )
    )
    WHERE rank <= 3
"""

ORACLES["ann_lsh_bucketed"] = """
    WITH bucketed AS (
        SELECT vec_id, embedding,
            (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
          + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) AS bucket
        FROM embeddings
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT query_id, neighbor_id, cos_sim,
            ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
            ) AS rank
        FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.embedding AS DOUBLE[])), 6)
                    AS cos_sim
            FROM bucketed e
            JOIN (SELECT * FROM bucketed WHERE vec_id < 5) q
              ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
        )
    )
    WHERE rank <= 3
"""

ORACLES["text_token_counts"] = f"""
    SELECT
        doc_id,
        CAST(len({_TOKS.format(col='text')}) AS INTEGER) AS n_ws_tokens,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
             AS INTEGER) AS n_bpe_tokens
    FROM documents
"""

_STOP_IN = "'the', 'a', 'and', 'or', 'of', 'to', 'in', 'is'"
ORACLES["text_quality_score"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    f AS (
        SELECT doc_id,
            CAST(len(t) AS INTEGER) AS n_words,
            ROUND(CAST(len(list_filter(t, x -> x IN ({_STOP_IN}))) AS DOUBLE)
                  / len(t), 6) AS stopword_ratio,
            ROUND(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                  / len(t), 6) AS mean_word_len,
            ROUND(CAST(1.0 AS DOUBLE)
                  - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS dup_ratio
        FROM t
    )
    SELECT doc_id, n_words, stopword_ratio, mean_word_len, dup_ratio,
        ROUND(
            (CASE WHEN n_words BETWEEN 50 AND 200 THEN CAST(0.25 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END)
          + (CASE WHEN stopword_ratio >= 0.05 THEN CAST(0.25 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END)
          + (CASE WHEN mean_word_len BETWEEN 3.0 AND 8.0 THEN CAST(0.25 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END)
          + (CASE WHEN dup_ratio <= 0.6 THEN CAST(0.25 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END), 2) AS quality_score
    FROM f
"""

_MARKERS = {
    "en": "'the', 'and', 'of', 'to', 'is', 'a'",
    "es": "'el', 'la', 'de', 'los', 'y', 'que'",
    "de": "'der', 'die', 'das', 'und', 'nicht'",
    "fr": "'le', 'les', 'et', 'des', 'une'",
}
_SCORE_COLS = ",\n            ".join(
    f"len(list_filter(t, x -> x IN ({words}))) AS s_{lang}"
    for lang, words in _MARKERS.items()
)
ORACLES["text_lang_id"] = f"""
    WITH toks AS (
        SELECT doc_id, lang, {_TOKS.format(col='text')} AS t FROM documents
    ),
    s AS (
        SELECT doc_id, lang,
            {_SCORE_COLS}
        FROM toks
    )
    SELECT lang, pred_lang, COUNT(*) AS n
    FROM (
        SELECT lang,
            CASE
                WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0
                    THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                WHEN s_fr > 0 THEN 'fr'
                ELSE 'unknown'
            END AS pred_lang
        FROM s
    )
    GROUP BY lang, pred_lang
"""

ORACLES["text_profile_by_lang"] = """
    SELECT
        lang,
        COUNT(*) AS n_docs,
        ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
        COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
"""

ORACLES["doc_fingerprint_winnow"] = f"""
    WITH {_SHINGLE_CTE},
    sel AS (
        SELECT doc_id, md5(shingle) AS h FROM sh
        WHERE substr(md5(shingle), 1, 1) = '0'
    )
    SELECT doc_id, COUNT(*) AS n_fingerprints, MIN(h) AS min_fingerprint
    FROM sel GROUP BY doc_id
"""

# --- batch 4: streaming batch-equivalents ---

ORACLES["events_tumbling_daily"] = f"""
    SELECT
        CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        event_type,
        COUNT(*) AS n,
        CAST(SUM({_cents('value')}) AS DOUBLE) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
"""

ORACLES["events_sliding_2d"] = f"""
    SELECT
        CAST(date_trunc('day', ts) - o * INTERVAL 1 DAY AS TIMESTAMP) AS window_start,
        COUNT(*) AS n,
        CAST(SUM({_cents('value')}) AS DOUBLE) / 100.0 AS total_value
    FROM events, UNNEST([0, 1]) AS u(o)
    GROUP BY 1
"""

ORACLES["events_session_window"] = f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
            CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      > INTERVAL 30 MINUTE
                 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
            SUM(new_session) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS session_id
        FROM flagged
    )
    SELECT
        user_id,
        MIN(ts) AS session_start,
        MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        COUNT(*) AS n_events,
        CAST(SUM({_cents('value')}) AS DOUBLE) / 100.0 AS total_value
    FROM sessions
    GROUP BY user_id, session_id
"""

ORACLES["events_dedup_state"] = """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
    FROM events
    GROUP BY event_type
"""

# --- batch 5: multimodal ---

ORACLES["multimodal_metadata"] = """
    SELECT
        doc_id,
        'application/octet-stream' AS mime_type,
        CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        sha256(text) AS payload_sha256
    FROM documents
"""

ORACLES["multimodal_payload_stats"] = """
    SELECT
        source,
        COUNT(*) AS n_payloads,
        CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        CAST(MIN(octet_length(encode(text))) AS INTEGER) AS min_bytes,
        CAST(MAX(octet_length(encode(text))) AS INTEGER) AS max_bytes
    FROM documents
    GROUP BY source
"""

# multimodal_decode_stub: the fake decode kernel is a pure function
# of the payload bytes (operators/multimodal.py:decode_images), so
# DuckDB recomputes it from the blob — width = 1 + n_bytes % 64,
# height = 1 + first byte, features digest = md5 over the first 8
# byte values (the Spark side recovers them from the float32
# features via an exact round(f*255) round-trip).
ORACLES["multimodal_decode_stub"] = """
    WITH payloads AS (
        SELECT doc_id, encode(text) AS b, hex(encode(text)) AS h,
            octet_length(encode(text)) AS n
        FROM documents
    )
    SELECT doc_id,
        CAST(1 + n % 64 AS INTEGER) AS width,
        CAST(1 + COALESCE(TRY_CAST(('0x' || substr(h, 1, 2)) AS INTEGER), 0)
             AS INTEGER) AS height,
        CAST(3 AS INTEGER) AS channels,
        md5(array_to_string(
            list_transform(range(0, least(8, n)),
                i -> CAST(CAST(('0x' || substr(h, i * 2 + 1, 2)) AS INTEGER)
                          AS VARCHAR)),
            ',')) AS features_md5
    FROM payloads
"""

# --- batch 6: arrays / maps / drifting union / percentile / subquery ---

ORACLES["array_funcs"] = """
    SELECT
        vec_id,
        CAST(len(embedding) AS INTEGER) AS n_dims,
        list_sort(CAST(embedding AS DOUBLE[]), 'DESC')[1] AS c_max,
        list_sort(CAST(embedding AS DOUBLE[]), 'DESC')[2] AS c_2nd,
        list_sort(CAST(embedding AS DOUBLE[]), 'DESC')[3] AS c_3rd,
        ROUND(sqrt(list_aggregate(
            list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 6)
            AS l2_norm,
        CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive
    FROM embeddings
"""

ORACLES["map_funcs"] = """
    SELECT
        event_id,
        (m['k'])[1] AS k_from_map,
        CAST(cardinality(m) AS INTEGER) AS n_keys,
        array_to_string(list_sort(map_keys(m)), ',') AS keys_sorted
    FROM (
        SELECT event_id,
            MAP {'k': CAST(json_extract_string(props, '$.k') AS BIGINT),
                 'u': user_id} AS m
        FROM events
    )
"""

ORACLES["union_drifting_schema"] = f"""
    SELECT
        o_orderstatus,
        COUNT(*) AS n,
        COUNT(o_totalprice) AS n_with_price,
        CAST(SUM({_cents('o_totalprice')}) AS BIGINT) AS price_cents
    FROM (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderstatus = 'O'
        UNION ALL BY NAME
        SELECT o_orderkey, o_orderstatus
        FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY o_orderstatus
"""

ORACLES["agg_percentile"] = """
    SELECT
        l_returnflag,
        ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
"""

ORACLES["subquery_correlated"] = """
    SELECT o_orderstatus, count(*) AS n_above_avg
    FROM orders
    WHERE o_totalprice > (
        SELECT avg(o2.o_totalprice) FROM orders o2
        WHERE o2.o_orderstatus = orders.o_orderstatus
    )
    GROUP BY o_orderstatus
"""

# --- batch 7: pivot / generators / collect / gapfill / anomaly ---

_PIVOT_COLS = ",\n        ".join(
    f"CAST(COALESCE(SUM(CASE WHEN service = '{s}' THEN {_cents('cost')} END), 0) "
    f"AS DOUBLE) / 100.0 AS {s}"
    for s in ["click", "error", "purchase", "signup", "view"]
)
ORACLES["pivot_daily_services"] = f"""
    SELECT
        date,
        {_PIVOT_COLS}
    FROM ({EVENTS_COSTS}) costs
    GROUP BY date
"""

ORACLES["explode_top_tokens"] = f"""
    SELECT token, COUNT(*) AS n
    FROM (
        SELECT unnest({_TOKS.format(col='text')}) AS token FROM documents
    )
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
"""

ORACLES["agg_collect_sorted"] = """
    SELECT
        o_orderpriority,
        string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        COUNT(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    GROUP BY o_orderpriority
"""

ORACLES["timeseries_gapfill"] = f"""
    WITH costs AS ({EVENTS_COSTS}),
    focus AS (SELECT * FROM costs WHERE account_id IN ('1', '2', '3')),
    daily AS (
        SELECT account_id, date, CAST(SUM({_cents('cost')}) AS BIGINT) AS day_cents
        FROM focus GROUP BY 1, 2
    ),
    span AS (
        SELECT account_id, MIN(date) AS d0, MAX(date) AS d1 FROM focus GROUP BY 1
    ),
    calendar AS (
        SELECT account_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS date
        FROM span
    )
    SELECT
        c.account_id,
        c.date,
        CAST(COALESCE(d.day_cents, 0) AS DOUBLE) / 100.0 AS daily_cost
    FROM calendar c LEFT JOIN daily d
      ON c.account_id = d.account_id AND c.date = d.date
"""

ORACLES["anomaly_zscore"] = f"""
    WITH daily AS (
        SELECT date, CAST(SUM({_cents('cost')}) AS BIGINT) AS c
        FROM ({EVENTS_COSTS}) costs GROUP BY date
    ),
    stats AS (
        SELECT date, c,
            CAST(SUM(c) OVER w AS BIGINT) AS s,
            SUM(CAST(c AS HUGEINT) * c) OVER w AS ss,
            COUNT(*) OVER w AS n
        FROM daily
        WINDOW w AS (ORDER BY date ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT
        date,
        CAST(c AS DOUBLE) / 100.0 AS daily_cost,
        CASE WHEN n >= 7 THEN
            ROUND((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / n)
                  / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)), 4)
        END AS zscore,
        CASE WHEN n >= 7 THEN
            abs((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / n)
                / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))) > 2
        END AS is_anomaly
    FROM stats
"""

ORACLES["costs_by_service_currency"] = f"""
    SELECT service, currency, CAST(cost_cents AS DOUBLE) / 100.0 AS total_cost
    FROM (
        SELECT service, currency,
               CAST(SUM({_cents('cost')}) AS BIGINT) AS cost_cents
        FROM {COSTS_VIEW} costs
        GROUP BY service, currency
    )
    ORDER BY total_cost DESC, service, currency
"""

ORACLES["salted_group_sum"] = f"""
    SELECT
        event_type,
        CAST(SUM({_cents('value')}) AS DOUBLE) / 100.0 AS total_value,
        COUNT(*) AS n
    FROM events
    GROUP BY event_type
"""

ORACLES["two_phase_count_distinct"] = """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_user_id
    FROM events
    GROUP BY event_type
"""

ORACLES["region_restricted_filter"] = f"""
    SELECT
        account_id,
        region,
        CAST(SUM({_cents('cost')}) AS BIGINT) AS cost_cents,
        COUNT(*) AS n
    FROM ({ORDERS_COSTS}) costs
    WHERE account_id IN ('11', '29')
       OR (account_id = '54' AND region = 'O')
       OR (account_id = '77' AND region = 'F')
    GROUP BY account_id, region
"""

ORACLES["null_handling"] = """
    SELECT
        source_table,
        COALESCE(region, 'UNKNOWN') AS region_filled,
        COUNT(*) AS n,
        CAST(SUM(CASE WHEN region IS NULL THEN 0 ELSE 1 END) AS BIGINT)
            AS n_with_region,
        COUNT(NULLIF(currency, 'USD')) AS n_non_usd
    FROM {COSTS} costs
    GROUP BY source_table, COALESCE(region, 'UNKNOWN')
""".replace("{COSTS}", COSTS_VIEW)

ORACLES["cross_join_dims"] = """
    SELECT r_name, COUNT(*) AS n_pairs
    FROM region CROSS JOIN nation
    GROUP BY r_name
"""

ORACLES["having_filter"] = """
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
"""

ORACLES["window_distribution"] = """
    SELECT
        o_orderkey,
        CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
"""

ORACLES["regexp_extract_groups"] = """
    SELECT
        p_partkey,
        COALESCE(regexp_extract(p_type, '^(\\w+) (\\w+)', 1), '') AS type_class,
        COALESCE(regexp_extract(p_type, '^(\\w+) (\\w+)', 2), '') AS type_finish,
        CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INTEGER) AS brand_num
    FROM part
"""

ORACLES["q3_shipping_priority"] = f"""
    SELECT o_orderkey, order_date, CAST(rev_cents AS DOUBLE) / 100.0 AS revenue
    FROM (
        SELECT
            o_orderkey,
            CAST(o_orderdate AS DATE) AS order_date,
            CAST(SUM({_cents('l_extendedprice*(1-l_discount)')}) AS BIGINT) AS rev_cents
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey
          AND o_orderkey = l_orderkey
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
    )
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
"""

ORACLES["q5_regional_revenue"] = f"""
    SELECT
        r_name,
        CAST(SUM({_cents('l_extendedprice*(1-l_discount)')}) AS DOUBLE) / 100.0
            AS revenue,
        COUNT(*) AS n_items
    FROM region, nation, customer, orders, lineitem, supplier
    WHERE r_regionkey = n_regionkey
      AND n_nationkey = c_nationkey
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
    GROUP BY r_name
"""

ORACLES["agg_argminmax"] = """
    SELECT
        p_brand,
        arg_min(p_partkey, lpad(CAST(CAST(ROUND(p_retailprice * 100) AS BIGINT) AS VARCHAR), 18, '0')
                        || lpad(CAST(p_partkey AS VARCHAR), 18, '0')) AS cheapest_part,
        arg_max(p_partkey, lpad(CAST(CAST(ROUND(p_retailprice * 100) AS BIGINT) AS VARCHAR), 18, '0')
                        || lpad(CAST(p_partkey AS VARCHAR), 18, '0')) AS priciest_part,
        MIN(p_retailprice) AS min_price,
        MAX(p_retailprice) AS max_price
    FROM part
    GROUP BY p_brand
"""

ORACLES["unpivot_daily_services"] = f"""
    SELECT date, name AS service, v AS daily_cost
    FROM ({ORACLES['pivot_daily_services']})
    UNPIVOT INCLUDE NULLS (v FOR name IN (click, error, purchase, signup, view))
"""


# ---------------------------------------------------------------------------
# Training-data pipeline extensions, round 2
# ---------------------------------------------------------------------------

_UNIT = "CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8)) AS BIGINT)"

ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM (
            SELECT doc_a, doc_b,
                ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6)
                    AS jaccard
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
        )
        WHERE jaccard >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk AS (
        SELECT doc_id AS node, doc_id AS reach FROM documents
        UNION
        SELECT w.node, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a
    )
    SELECT node AS doc_id, MIN(reach) AS cluster_id, node = MIN(reach) AS keep
    FROM walk GROUP BY node
"""

_IVF_CENTS = """
        SELECT vec_id AS centroid_id, embedding AS centroid_vec
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 8
"""

_IVF_ASSIGN = """
        SELECT vec_id, embedding, centroid_id,
            ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY c_sim DESC, centroid_id ASC
            ) AS probe_rank
        FROM (
            SELECT v.vec_id, v.embedding, c.centroid_id,
                ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                             CAST(c.centroid_vec AS DOUBLE[])), 6)
                    AS c_sim
            FROM {src} v, {cents} c
        )
"""

# One Lloyd (k-means) refinement round, unrolled to SQL: assign every
# corpus vector to its nearest centroid (rank-1 of _IVF_ASSIGN), then
# recompute each centroid as its members' per-dimension mean through
# the SAME scaled-integer convention the Spark side uses
# (operators/similarity.py:ivf_centroids / operators/embeddings.py:
# round(val*1e6) exact integer sums, one final division, round to 6,
# cast to float) — so a sequential engine reproduces the distributed
# result bit-for-bit. Empty clusters keep their previous centroid
# (LEFT JOIN + COALESCE), exactly as the Spark operator does.
_IVF_LLOYD_ROUND = """
    assign{n} AS (
        SELECT vec_id, embedding, centroid_id
        FROM ({assign}) WHERE probe_rank = 1
    ),
    means{n} AS (
        SELECT centroid_id, CAST(i AS INTEGER) AS dim,
            ROUND(CAST(SUM(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1000000))
                       AS DOUBLE) / (COUNT(*) * 1000000), 6) AS m
        FROM assign{n}, UNNEST(range(len(embedding))) AS u(i)
        GROUP BY centroid_id, dim
    ),
    newvec{n} AS (
        SELECT centroid_id, list(CAST(m AS FLOAT) ORDER BY dim) AS new_vec
        FROM means{n} GROUP BY centroid_id
    ),
    cents{n} AS (
        SELECT c.centroid_id,
            COALESCE(n.new_vec, c.centroid_vec) AS centroid_vec
        FROM cents{prev} c LEFT JOIN newvec{n} n USING (centroid_id)
    )
"""

ORACLES["ann_ivf"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    lists AS (
        SELECT vec_id AS neighbor_id, embedding AS cv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='embeddings', cents='cents')}) WHERE probe_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS qv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='(SELECT * FROM embeddings WHERE vec_id < 5)', cents='cents')})
        WHERE probe_rank <= 2
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT query_id, neighbor_id, cos_sim,
            ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
            ) AS rank
        FROM (
            SELECT p.query_id, l.neighbor_id,
                ROUND(list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                                             CAST(l.cv AS DOUBLE[])), 6) AS cos_sim
            FROM lists l JOIN probes p USING (centroid_id)
            WHERE l.neighbor_id <> p.query_id
        )
    )
    WHERE rank <= 3
"""

# ann_ivf_refined: the 2 Lloyd iterations of
# operators/similarity.py:ivf_centroids(refine_iters=2) unrolled into
# finite CTE rounds — the scaled-integer mean convention exists
# precisely so this sequential replay is bit-identical to the
# distributed computation.
ORACLES["ann_ivf_refined"] = f"""
    WITH cents0 AS ({_IVF_CENTS}),
    {_IVF_LLOYD_ROUND.format(n=1, prev=0, assign=_IVF_ASSIGN.format(src='embeddings', cents='cents0'))},
    {_IVF_LLOYD_ROUND.format(n=2, prev=1, assign=_IVF_ASSIGN.format(src='embeddings', cents='cents1'))},
    lists AS (
        SELECT vec_id AS neighbor_id, embedding AS cv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='embeddings', cents='cents2')})
        WHERE probe_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS qv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='(SELECT * FROM embeddings WHERE vec_id < 5)', cents='cents2')})
        WHERE probe_rank <= 2
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT query_id, neighbor_id, cos_sim,
            ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
            ) AS rank
        FROM (
            SELECT p.query_id, l.neighbor_id,
                ROUND(list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                                             CAST(l.cv AS DOUBLE[])), 6) AS cos_sim
            FROM lists l JOIN probes p USING (centroid_id)
            WHERE l.neighbor_id <> p.query_id
        )
    )
    WHERE rank <= 3
"""

ORACLES["sample_deterministic"] = f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_UNIT.format(col='doc_id')} < 858993459
"""

ORACLES["sample_stratified"] = f"""
    SELECT lang, doc_id
    FROM (
        SELECT lang, doc_id,
            ROW_NUMBER() OVER (
                PARTITION BY lang
                ORDER BY {_UNIT.format(col='doc_id')}, doc_id
            ) AS rn
        FROM documents
    )
    WHERE rn <= 20
"""

ORACLES["pack_token_budget"] = f"""
    WITH tc AS (
        SELECT doc_id, len({_TOKS.format(col='text')}) AS n_tokens FROM documents
    ),
    sharded AS (
        SELECT doc_id, n_tokens,
            CAST({_UNIT.format(col='doc_id')} % 8 AS INTEGER) AS shard
        FROM tc
    )
    SELECT doc_id, shard, n_tokens,
        CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
            PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) / 2048.0) AS BIGINT) AS pack_id
    FROM sharded
"""

ORACLES["text_scrub_pii"] = r"""
    WITH dirty AS (
        SELECT doc_id,
            text || ' <b>contact</b> user' || CAST(doc_id AS VARCHAR)
                 || '@example.com via https://ex.co/' || CAST(doc_id AS VARCHAR)
                 || ' or 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                AS text
        FROM documents
    )
    SELECT doc_id,
        regexp_replace(
            regexp_replace(
                regexp_replace(
                    trim(regexp_replace(
                        regexp_replace(text, '<[^>]{1,200}>', ' ', 'g'),
                        '[ \t]+', ' ', 'g')),
                    'https?://[^ \t\n]+', '<URL>', 'g'),
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g') AS clean_text
    FROM dirty
"""

ORACLES["text_repetition_filters"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    words AS (SELECT doc_id, unnest(t) AS gram FROM toks),
    bigrams AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    wstats AS (
        SELECT doc_id, SUM(c) AS n_words,
            ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_words_frac
        FROM (SELECT doc_id, gram, COUNT(*) AS c FROM words GROUP BY 1, 2)
        GROUP BY doc_id
    ),
    bstats AS (
        SELECT doc_id, SUM(c) AS n_bigrams,
            ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigrams_frac
        FROM (SELECT doc_id, gram, COUNT(*) AS c FROM bigrams GROUP BY 1, 2)
        GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, top_words_frac,
        CAST(n_bigrams AS BIGINT) AS n_bigrams, top_bigrams_frac,
        (top_words_frac >= 0.1 OR top_bigrams_frac >= 0.1) AS flagged
    FROM wstats JOIN bstats USING (doc_id)
"""

ORACLES["decontaminate_benchmark"] = f"""
    WITH {_SHINGLE_CTE},
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    train_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM train_sh GROUP BY 1),
    ov AS (
        SELECT t.doc_id, COUNT(*) AS n_overlap
        FROM train_sh t JOIN bench b USING (shingle) GROUP BY 1
    )
    SELECT doc_id, n_sh, n_overlap, contamination
    FROM (
        SELECT o.doc_id, s.n_sh, o.n_overlap,
            ROUND(CAST(o.n_overlap AS DOUBLE) / s.n_sh, 6) AS contamination
        FROM ov o JOIN sizes s USING (doc_id)
    )
    WHERE contamination >= 0.05
"""

ORACLES["q10_returned_items"] = f"""
    SELECT c_custkey, c_name, n_name, CAST(rev_cents AS DOUBLE) / 100.0 AS revenue
    FROM (
        SELECT c_custkey, c_name, n_name,
            CAST(SUM({_cents('l_extendedprice*(1-l_discount)')}) AS BIGINT)
                AS rev_cents
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey
          AND o_orderkey = l_orderkey
          AND c_nationkey = n_nationkey
          AND l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
    )
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""

ORACLES["q18_large_orders"] = f"""
    SELECT c_custkey, c_name, o_orderkey, order_date, o_totalprice, total_qty
    FROM (
        SELECT c_custkey, c_name, o_orderkey,
            CAST(o_orderdate AS DATE) AS order_date, o_totalprice,
            CAST(qty_cents AS DOUBLE) / 100.0 AS total_qty
        FROM (
            SELECT l_orderkey AS big_orderkey,
                CAST(SUM({_cents('l_quantity')}) AS BIGINT) AS qty_cents
            FROM lineitem
            GROUP BY l_orderkey
            HAVING CAST(SUM({_cents('l_quantity')}) AS BIGINT) > 20000
        )
        JOIN orders ON big_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    )
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
"""

ORACLES["multimodal_frame_sample"] = """
    SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        CAST(LEAST(64, L - i * 64) AS INTEGER) AS frame_bytes
    FROM (SELECT doc_id, octet_length(encode(text)) AS L FROM documents),
        UNNEST(range(0, CAST(CEIL(L / 64.0) AS BIGINT), 4)) AS u(i)
"""

ORACLES["q4_priority_check"] = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

ORACLES["q12_priority_by_returnflag"] = """
    SELECT l_returnflag,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""

ORACLES["q14_promo_revenue"] = f"""
    SELECT
        ROUND(100.0 * CAST(promo AS DOUBLE) / total, 4) AS promo_revenue_pct,
        CAST(total AS DOUBLE) / 100.0 AS total_revenue
    FROM (
        SELECT
            CAST(SUM(CASE WHEN p_type = 'PROMO'
                          THEN {_cents('l_extendedprice*(1-l_discount)')}
                          ELSE 0 END) AS BIGINT) AS promo,
            CAST(SUM({_cents('l_extendedprice*(1-l_discount)')}) AS BIGINT) AS total
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
    )
"""

ORACLES["q19_disjunctive_join"] = f"""
    SELECT CAST(SUM({_cents('l_extendedprice*(1-l_discount)')}) AS DOUBLE) / 100.0
            AS revenue,
        COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 25 AND 50)
"""

ORACLES["q22_dormant_customers"] = f"""
    SELECT c_nationkey, COUNT(*) AS numcust,
        CAST(SUM({_cents('c_acctbal')}) AS DOUBLE) / 100.0 AS totacctbal
    FROM customer
    WHERE {_cents('c_acctbal')} > (
        SELECT SUM({_cents('c_acctbal')}) / COUNT(*)
        FROM customer WHERE c_acctbal > 0
    )
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
"""

ORACLES["embedding_label_centroids"] = """
    SELECT label, CAST(i AS INTEGER) AS dim,
        ROUND(CAST(SUM(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1000000)) AS DOUBLE)
              / (COUNT(*) * 1000000), 6) AS centroid
    FROM embeddings, UNNEST(range(len(embedding))) AS u(i)
    GROUP BY label, dim
"""

ORACLES["embedding_quantize_int8"] = """
    WITH dims AS (
        SELECT vec_id, CAST(i AS INTEGER) AS dim,
            CAST(embedding[i + 1] AS DOUBLE) AS val
        FROM embeddings, UNNEST(range(len(embedding))) AS u(i)
    ),
    stats AS (SELECT dim, MIN(val) AS lo, MAX(val) AS hi FROM dims GROUP BY dim)
    SELECT vec_id, dim,
        CAST(CASE WHEN hi = lo THEN 0
             ELSE ROUND((val - lo) / (hi - lo) * 254 - 127)
             END AS INTEGER) AS q
    FROM dims JOIN stats USING (dim)
"""

ORACLES["q6_forecast_revenue"] = f"""
    SELECT CAST(SUM({_cents('l_extendedprice*l_discount')}) AS DOUBLE) / 100.0
            AS revenue,
        COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""

ORACLES["q15_top_supplier"] = f"""
    WITH rev AS (
        SELECT l_suppkey,
            CAST(SUM({_cents('l_extendedprice*(1-l_discount)')}) AS BIGINT)
                AS rev_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(rev_cents AS DOUBLE) / 100.0 AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_cents = (SELECT MAX(rev_cents) FROM rev)
    ORDER BY s_suppkey
"""

ORACLES["q17_small_quantity_revenue"] = f"""
    WITH per_part AS (
        SELECT l_partkey AS pk,
            CAST(SUM({_cents('l_quantity')}) AS BIGINT) AS qc,
            COUNT(*) AS n
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM({_cents('l_extendedprice')}) AS DOUBLE) / 100.0
            AS small_qty_revenue,
        COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
    JOIN per_part ON l_partkey = pk
    WHERE CAST({_cents('l_quantity')} AS DOUBLE) < 0.2 * CAST(qc AS DOUBLE) / n
"""

ORACLES["q21_waiting_orders"] = """
    WITH lo AS (
        SELECT l_orderkey, l_suppkey, l_shipdate > o_orderdate AS late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
    ),
    per_order AS (
        SELECT l_orderkey,
            COUNT(DISTINCT l_suppkey) AS n_supp,
            COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
        FROM lo GROUP BY l_orderkey
    ),
    sole AS (
        SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
        FROM lo JOIN per_order USING (l_orderkey)
        WHERE lo.late AND n_supp > 1 AND n_late = 1
    )
    SELECT s_suppkey, s_name, COUNT(*) AS numwait
    FROM sole JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_suppkey, s_name
    ORDER BY numwait DESC, s_suppkey
    LIMIT 25
"""

ORACLES["dq_checks"] = """
    SELECT check_name, n_violations FROM (
        SELECT 'orders_pk_unique' AS check_name, COUNT(*) AS n_violations
        FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
        UNION ALL
        SELECT 'orders_date_not_null', COUNT(*) FROM orders WHERE o_orderdate IS NULL
        UNION ALL
        SELECT 'orders_custkey_fk', COUNT(*)
        FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        UNION ALL
        SELECT 'lineitem_orderkey_fk', COUNT(*)
        FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        UNION ALL
        SELECT 'customer_nationkey_fk', COUNT(*)
        FROM customer WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
        UNION ALL
        SELECT 'lineitem_quantity_positive', COUNT(*) FROM lineitem WHERE l_quantity <= 0
    )
    ORDER BY check_name
"""

ORACLES["sql_interface_report"] = """
    SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
            AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""

ORACLES["funnel_click_to_purchase"] = """
    SELECT user_id, first_click, first_purchase,
        epoch_us(CAST(first_purchase AS TIMESTAMP))
            - epoch_us(CAST(first_click AS TIMESTAMP)) AS delay_us
    FROM (
        SELECT user_id,
            MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
            MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY user_id
    )
    WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
      AND first_purchase > first_click
    ORDER BY user_id
"""

ORACLES["retention_cohorts"] = """
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week FROM events
    )
    SELECT cohort_week,
        CAST(date_diff('day', cohort_week, active_week) / 7 AS INTEGER)
            AS offset_weeks,
        COUNT(DISTINCT user_id) AS n_users
    FROM activity JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

ORACLES["text_char_entropy"] = """
    WITH chars AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch FROM documents
    ),
    counts AS (
        SELECT doc_id, ch, COUNT(*) AS c,
            SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS n
        FROM chars GROUP BY 1, 2
    ),
    per_doc AS (
        SELECT doc_id, MAX(n) AS n,
            SUM(CAST(ROUND(
                (CAST(c AS DOUBLE) / n)
                * log2(CAST(n AS DOUBLE) / c)
                * 1e12) AS BIGINT)) AS t
        FROM counts GROUP BY doc_id
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        ROUND(CAST(t AS DOUBLE) / 1e12, 6) AS char_entropy_bits
    FROM per_doc
"""

_MH_MATCH_SUM = " + ".join(
    f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)" for j in range(1, 9)
)
ORACLES["minhash_similarity_estimate"] = f"""
    WITH {_SHINGLE_CTE},
    mh AS (
        SELECT doc_id,
            {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_BAND_UNION}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
        ROUND(CAST(({_MH_MATCH_SUM}) AS DOUBLE) / 8, 6) AS est_jaccard
    FROM pairs p
    JOIN mh a ON p.doc_a = a.doc_id
    JOIN mh b ON p.doc_b = b.doc_id
"""

ORACLES["events_enrich_dim"] = """
    SELECT e.event_id, e.user_id, n.n_name
    FROM events e
    -- ((x % 25) + 25) % 25 mirrors Spark's pmod (always non-negative)
    -- so the two stay equivalent even for negative user_ids.
    LEFT JOIN nation n ON ((e.user_id % 25) + 25) % 25 = n.n_nationkey
"""

# --- TPC-H analog completion (round 3): q2/q7/q8/q9/q11/q13/q16/q20 ---

ORACLES["q2_min_cost_supplier"] = """
    WITH eur_supp AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    cost AS (
        SELECT l_partkey, l_suppkey,
            MIN(CAST(ROUND(l_extendedprice / l_quantity * 100) AS BIGINT))
                AS cost_cents
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 5)
          AND l_suppkey IN (SELECT s_suppkey FROM eur_supp)
        GROUP BY 1, 2
    ),
    min_cost AS (
        SELECT l_partkey AS pk, MIN(cost_cents) AS min_cents
        FROM cost GROUP BY 1
    )
    SELECT s_acctbal, s_name, n_name, p_partkey,
        CAST(cost_cents AS DOUBLE) / 100.0 AS supply_cost
    FROM cost
    JOIN min_cost ON l_partkey = pk AND cost_cents = min_cents
    JOIN eur_supp ON cost.l_suppkey = eur_supp.s_suppkey
    JOIN part ON l_partkey = p_partkey
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
"""

ORACLES["q7_volume_shipping"] = f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        CAST(year(l_shipdate) AS INTEGER) AS l_year,
        CAST(SUM({_cents('l_extendedprice*(1-l_discount)')}) AS DOUBLE) / 100.0
            AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""

ORACLES["q8_market_share"] = f"""
    WITH vol AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
            sn.n_name AS supp_nation,
            {_cents('l_extendedprice*(1-l_discount)')} AS v
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
          AND o_custkey IN (
              SELECT c_custkey FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA')
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
        ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN v ELSE 0 END)
                   AS DOUBLE) / SUM(v), 6) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
"""

ORACLES["q9_product_type_profit"] = f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        CAST(SUM({_cents('l_extendedprice*(1-l_discount)')}
               - {_cents('p_retailprice*l_quantity*0.1')}) AS DOUBLE) / 100.0
            AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
"""

ORACLES["q11_important_stock"] = f"""
    WITH value AS (
        SELECT l_partkey,
            CAST(SUM({_cents('l_extendedprice')}) AS BIGINT) AS value_cents
        FROM lineitem
        WHERE l_suppkey IN (
            SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3')
        GROUP BY 1
    )
    SELECT l_partkey, CAST(value_cents AS DOUBLE) / 100.0 AS value
    FROM value
    WHERE value_cents * 1000 > (SELECT SUM(value_cents) FROM value)
    ORDER BY value DESC, l_partkey
"""

ORACLES["q13_customer_distribution"] = """
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
            AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""

ORACLES["q16_supplier_part_counts"] = """
    SELECT p_brand, p_type, p_size,
        COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

ORACLES["q20_promotion_candidates"] = f"""
    WITH per_sp AS (
        SELECT l_suppkey, l_partkey,
            SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                     THEN {_cents('l_quantity')} ELSE 0 END) AS q97,
            SUM({_cents('l_quantity')}) AS qtot
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'SMALL')
          AND l_suppkey IN (
              SELECT s_suppkey FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_7')
        GROUP BY 1, 2
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM per_sp JOIN supplier ON l_suppkey = s_suppkey
    WHERE q97 * 2 > qtot
    ORDER BY s_name
"""

# ---------------------------------------------------------------------------
# Round-4: batch sessionization / time-weighted agg / window surface
# ---------------------------------------------------------------------------

ORACLES["events_sessionize_batch"] = """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), f AS (
        SELECT user_id, event_id, us,
            CASE WHEN lag(us) OVER w IS NULL
                      OR us - lag(us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS nf
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), s AS (
        SELECT user_id, us,
            CAST(SUM(nf) OVER (
                PARTITION BY user_id ORDER BY us, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM f
    )
    SELECT user_id, session_idx,
        COUNT(*) AS n_events,
        MIN(us) AS start_us,
        MAX(us) AS end_us,
        MAX(us) - MIN(us) AS duration_us
    FROM s
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
"""

ORACLES["timeweighted_avg_value"] = f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
            {_cents('value')} AS cents
        FROM events
    ), d AS (
        SELECT user_id, cents,
            lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
                AS dt_us
        FROM e
    )
    SELECT user_id,
        COUNT(*) AS n_intervals,
        ROUND(CAST(SUM(cents * dt_us) AS DOUBLE)
              / CAST(SUM(dt_us) AS DOUBLE) / 100.0, 6) AS twa_value
    FROM d
    WHERE dt_us IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
"""

ORACLES["window_share_of_total"] = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
            CAST(SUM({_cents('value')}) AS BIGINT) AS day_cents
        FROM events
        GROUP BY 1, 2
    )
    SELECT event_type, day, day_cents,
        ROUND(CAST(day_cents AS DOUBLE)
              / CAST(SUM(day_cents) OVER (PARTITION BY event_type) AS DOUBLE),
              6) AS share
    FROM daily
    ORDER BY event_type, day
"""

ORACLES["window_first_last"] = """
    SELECT user_id, first_type, second_type, last_type, n_events
    FROM (
        SELECT user_id,
            ROW_NUMBER() OVER w AS rn,
            first_value(event_type) OVER wf AS first_type,
            nth_value(event_type, 2) OVER wf AS second_type,
            last_value(event_type) OVER wf AS last_type,
            COUNT(*) OVER wf AS n_events
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               wf AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
    )
    WHERE rn = 1
    ORDER BY user_id
"""

ORACLES["window_ntile_quartiles"] = """
    WITH ranked AS (
        SELECT event_type, value,
            ntile(4) OVER w AS quartile,
            percent_rank() OVER w AS pr,
            cume_dist() OVER w AS cd
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    )
    SELECT event_type, quartile,
        COUNT(*) AS n,
        MIN(value) AS lo_value,
        MAX(value) AS hi_value,
        ROUND(MAX(pr), 6) AS max_percent_rank,
        ROUND(MAX(cd), 6) AS max_cume_dist
    FROM ranked
    GROUP BY event_type, quartile
    ORDER BY event_type, quartile
"""

ORACLES["grouping_sets_costs"] = f"""
    SELECT o_orderstatus, o_orderpriority,
        CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        COUNT(*) AS n,
        CAST(SUM({_cents('o_totalprice')}) AS BIGINT) AS price_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    ORDER BY gid, o_orderstatus, o_orderpriority
"""

ORACLES["agg_filtered_conditional"] = f"""
    SELECT o_orderpriority,
        COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        CAST(COALESCE(SUM({_cents('o_totalprice')})
                 FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT)
            AS open_cents,
        ROUND(CAST(COALESCE(SUM({_cents('o_totalprice')})
                       FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE)
              / CAST(NULLIF(COUNT(*) FILTER (WHERE o_orderstatus = 'O'), 0)
                     AS DOUBLE) / 100.0, 6) AS avg_open_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

ORACLES["agg_bool_bitwise"] = """
    SELECT event_type,
        bool_and(value > 0) AS all_positive,
        bool_or(value > 100) AS any_large,
        CAST(bit_and(user_id) AS BIGINT) AS uid_bit_and,
        CAST(bit_or(user_id) AS BIGINT) AS uid_bit_or,
        CAST(bit_xor(user_id) AS BIGINT) AS uid_bit_xor
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""

ORACLES["snapshot_diff_orders"] = f"""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus AS o_orderstatus_old,
            {_cents('o_totalprice')} AS price_cents_old,
            TRUE AS in_old
        FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
    ), new AS (
        SELECT o_orderkey, o_orderstatus AS o_orderstatus_new,
            CASE WHEN o_orderpriority = '1-URGENT'
                 THEN {_cents('o_totalprice * 1.1')}
                 ELSE {_cents('o_totalprice')} END AS price_cents_new,
            TRUE AS in_new
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND o_orderkey % 37 <> 0
    )
    SELECT o_orderkey, o_orderstatus_old, price_cents_old,
        o_orderstatus_new, price_cents_new,
        CASE WHEN in_old IS NULL THEN 'insert'
             WHEN in_new IS NULL THEN 'delete'
             WHEN o_orderstatus_old IS DISTINCT FROM o_orderstatus_new
                  OR price_cents_old IS DISTINCT FROM price_cents_new
             THEN 'update' END AS change_type
    FROM old FULL OUTER JOIN new USING (o_orderkey)
    WHERE CASE WHEN in_old IS NULL THEN 'insert'
               WHEN in_new IS NULL THEN 'delete'
               WHEN o_orderstatus_old IS DISTINCT FROM o_orderstatus_new
                    OR price_cents_old IS DISTINCT FROM price_cents_new
               THEN 'update' END IS NOT NULL
    ORDER BY o_orderkey
"""

ORACLES["upsert_latest_events"] = """
    SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
    FROM events
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type
        ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
    ORDER BY user_id, event_type
"""

# ---------------------------------------------------------------------------
# Round-4: corpus text analytics / chunking
# ---------------------------------------------------------------------------

ORACLES["tfidf_top_terms"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    tk AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
    docfreq AS (
        SELECT term, COUNT(*) AS df
        FROM (SELECT DISTINCT doc_id, term FROM tk) GROUP BY 1
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
            ROUND(CAST(tf.tf AS DOUBLE)
                  * ln(CAST(n.n_docs AS DOUBLE) / CAST(docfreq.df AS DOUBLE)),
                  6) AS tfidf
        FROM tf JOIN docfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, rank, term, tf, df, tfidf
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
        FROM scored
    )
    WHERE rank <= 3 AND doc_id < 100
    ORDER BY doc_id, rank
"""

ORACLES["token_bigram_counts"] = f"""
    WITH toks AS (SELECT {_TOKS.format(col='text')} AS t FROM documents),
    grams AS (
        SELECT t[i] || ' ' || t[i+1] AS gram
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
    )
    SELECT gram, COUNT(*) AS n
    FROM grams
    GROUP BY gram
    ORDER BY n DESC, gram ASC
    LIMIT 20
"""

ORACLES["token_zipf_fit"] = f"""
    WITH toks AS (SELECT {_TOKS.format(col='text')} AS t FROM documents),
    freqs AS (
        SELECT term, COUNT(*) AS freq
        FROM (SELECT unnest(t) AS term FROM toks)
        GROUP BY term
    ),
    ranked AS (
        SELECT freq,
            ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank
        FROM freqs
    )
    SELECT COUNT(*) AS n_terms,
        ROUND(regr_slope(ln(freq), ln(rank)), 6) AS slope,
        ROUND(regr_intercept(ln(freq), ln(rank)), 6) AS intercept
    FROM ranked
"""

ORACLES["doc_dup_shingle_fraction"] = f"""
    WITH {_SHINGLE_CTE},
    freq AS (SELECT shingle, COUNT(*) AS sdf FROM sh GROUP BY 1)
    SELECT doc_id,
        COUNT(*) AS n_shingles,
        CAST(SUM(CASE WHEN sdf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        ROUND(CAST(SUM(CASE WHEN sdf > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE), 6) AS dup_fraction
    FROM sh JOIN freq USING (shingle)
    GROUP BY doc_id
    ORDER BY doc_id
"""

ORACLES["chunk_documents_overlap"] = """
    SELECT doc_id,
        CAST((start - 1) // 60 AS BIGINT) AS chunk_idx,
        CAST(start AS BIGINT) AS start,
        CAST(length(substring(text, CAST(start AS INTEGER), 80)) AS INTEGER)
            AS chunk_len,
        md5(substring(text, CAST(start AS INTEGER), 80)) AS chunk_hash
    FROM documents,
        UNNEST(range(1, greatest(length(text), 1) + 1, 60)) AS u(start)
    ORDER BY doc_id, chunk_idx
"""

# ---------------------------------------------------------------------------
# Round-4: data-management operators
# ---------------------------------------------------------------------------

ORACLES["split_assign_train_eval"] = f"""
    WITH s AS (
        SELECT doc_id, n_chars,
            CASE WHEN {_UNIT.format(col='doc_id')} % 100 < 80 THEN 'train'
                 WHEN {_UNIT.format(col='doc_id')} % 100 < 90 THEN 'val'
                 ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        MIN(doc_id) AS min_doc_id,
        MAX(doc_id) AS max_doc_id
    FROM s GROUP BY split ORDER BY split
"""

ORACLES["doc_length_histogram"] = """
    WITH b AS (
        SELECT CAST((n_chars // 20) * 20 AS BIGINT) AS bucket_lo
        FROM documents
    ), t AS (SELECT COUNT(*) AS total FROM documents)
    SELECT bucket_lo, COUNT(*) AS n_docs,
        ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(t.total) AS DOUBLE), 6)
            AS share
    FROM b CROSS JOIN t
    GROUP BY bucket_lo
    ORDER BY bucket_lo
"""

ORACLES["key_skew_profile"] = """
    WITH t AS (SELECT COUNT(*) AS total FROM events)
    SELECT user_id, COUNT(*) AS n,
        ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(t.total) AS DOUBLE), 6)
            AS share
    FROM events CROSS JOIN t
    GROUP BY user_id
    ORDER BY n DESC, user_id ASC
    LIMIT 10
"""

ORACLES["embedding_bucket_dedup"] = """
    WITH tagged AS (
        SELECT vec_id,
            CAST(SUM((CASE WHEN embedding[i] >= 0 THEN 1 ELSE 0 END)
                     * (1::BIGINT << (16 - i))) AS BIGINT) AS bucket
        FROM embeddings, UNNEST(range(1, 17)) AS u(i)
        GROUP BY vec_id
    ), canon AS (
        SELECT bucket, MIN(vec_id) AS canonical_id FROM tagged GROUP BY bucket
    )
    SELECT vec_id, bucket, canonical_id, vec_id = canonical_id AS is_canonical
    FROM tagged JOIN canon USING (bucket)
    ORDER BY vec_id
"""

ORACLES["pipeline_quality_gate"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    f AS (
        SELECT doc_id,
            CAST(len(t) AS INTEGER) AS n_words,
            ROUND(CAST(len(list_filter(t, x -> x IN ({_STOP_IN}))) AS DOUBLE)
                  / len(t), 6) AS stopword_ratio,
            ROUND(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                  / len(t), 6) AS mean_word_len,
            ROUND(CAST(1.0 AS DOUBLE)
                  - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS dup_ratio
        FROM t
    ),
    q AS (
        SELECT doc_id,
            ROUND(
                (CASE WHEN n_words BETWEEN 50 AND 200 THEN CAST(0.25 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END)
              + (CASE WHEN stopword_ratio >= 0.05 THEN CAST(0.25 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END)
              + (CASE WHEN mean_word_len BETWEEN 3.0 AND 8.0
                      THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
              + (CASE WHEN dup_ratio <= 0.6 THEN CAST(0.25 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END), 2) AS quality_score
        FROM f
    ),
    flags AS (
        SELECT d.doc_id, d.lang, d.source, d.n_chars,
            (ROW_NUMBER() OVER (
                PARTITION BY md5(trim(regexp_replace(
                    regexp_replace(lower(d.text), '[^a-z0-9 ]', '', 'g'),
                    ' +', ' ', 'g')))
                ORDER BY d.doc_id) = 1
             AND q.quality_score >= 0.5) AS keep
        FROM documents d JOIN q USING (doc_id)
    )
    SELECT lang, source,
        COUNT(*) AS n_total,
        COUNT(*) FILTER (WHERE keep) AS n_kept,
        CAST(COALESCE(SUM(n_chars) FILTER (WHERE keep), 0) AS BIGINT)
            AS kept_chars
    FROM flags
    GROUP BY lang, source
    ORDER BY lang, source
"""


# --- round-4 time-series / warehouse family --------------------------------

# EWMA with decay 1/2 over an 8-row lookback: integer power-of-two
# weights (128, 64, ..., 1) make both the weighted sum and the weight
# normalizer exact BIGINT expressions — mirrors
# operators/timeseries.py:ewma term by term.
_EWMA_WSUM = " + ".join(
    f"COALESCE(LAG(day_cents, {off}) OVER w * {1 << (7 - off)}, 0)"
    for off in range(8)
)
_EWMA_WNORM = " + ".join(
    f"(CASE WHEN LAG(day_cents, {off}) OVER w IS NOT NULL"
    f" THEN {1 << (7 - off)} ELSE 0 END)"
    for off in range(8)
)

ORACLES["ewma_daily_costs"] = f"""
    WITH costs AS ({EVENTS_COSTS}),
    daily AS (
        SELECT service, date, CAST(SUM({_cents('cost')}) AS BIGINT) AS day_cents
        FROM costs GROUP BY 1, 2
    ),
    lagged AS (
        SELECT service, date, day_cents,
            {_EWMA_WSUM} AS wsum,
            {_EWMA_WNORM} AS wnorm
        FROM daily
        WINDOW w AS (PARTITION BY service ORDER BY date)
    )
    SELECT service, date,
        CAST(day_cents AS DOUBLE) / 100.0 AS daily_cost,
        ROUND(CAST(wsum AS DOUBLE) / CAST(wnorm AS DOUBLE) / 100.0, 6)
            AS ewma_cost
    FROM lagged
    ORDER BY service, date
"""

ORACLES["daily_active_users_rolling7"] = """
    WITH pairs AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day AS d FROM pairs)
    SELECT d AS day, COUNT(DISTINCT user_id) AS rolling7d_user_ids
    FROM days JOIN pairs
      ON pairs.day <= d AND pairs.day >= d - INTERVAL 6 DAY
    GROUP BY d
    ORDER BY day
"""

ORACLES["scd2_user_event_type"] = """
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        FROM events WHERE user_id < 50
    ),
    flagged AS (
        SELECT user_id, event_type, us, event_id,
            CASE WHEN LAG(event_type) OVER w IS NULL
                   OR event_type <> LAG(event_type) OVER w
                 THEN 1 ELSE 0 END AS chg
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    changes AS (SELECT * FROM flagged WHERE chg = 1)
    SELECT user_id, event_type,
        us AS valid_from_us,
        LEAD(us) OVER w2 AS valid_to_us,
        CAST(ROW_NUMBER() OVER w2 AS INTEGER) AS segment_idx
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)
    ORDER BY user_id, segment_idx
"""

ORACLES["forward_fill_daily_costs"] = f"""
    WITH costs AS ({EVENTS_COSTS}),
    focus AS (SELECT * FROM costs WHERE account_id IN ('1', '2', '3')),
    daily AS (
        SELECT account_id, date,
            CAST(SUM({_cents('cost')}) AS BIGINT) AS day_cents
        FROM focus GROUP BY 1, 2
    ),
    span AS (
        SELECT account_id, MIN(date) AS d0, MAX(date) AS d1 FROM focus GROUP BY 1
    ),
    calendar AS (
        SELECT account_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS date
        FROM span
    ),
    grid AS (
        SELECT c.account_id, c.date, d.day_cents
        FROM calendar c LEFT JOIN daily d USING (account_id, date)
    )
    SELECT account_id, date,
        CAST(LAST_VALUE(day_cents IGNORE NULLS) OVER (
            PARTITION BY account_id ORDER BY date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS DOUBLE) / 100.0 AS ffill_cost
    FROM grid
    ORDER BY account_id, date
"""

ORACLES["events_inter_arrival_stats"] = """
    WITH g AS (
        SELECT event_type,
            epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                PARTITION BY event_type ORDER BY epoch_us(ts), event_id
            ) AS gap_us
        FROM events
    )
    SELECT event_type,
        COUNT(*) AS n_gaps,
        MIN(gap_us) AS min_gap_us,
        MAX(gap_us) AS max_gap_us,
        ROUND(quantile_cont(gap_us, 0.5), 4) AS p50_gap_us,
        ROUND(quantile_cont(gap_us, 0.9), 4) AS p90_gap_us
    FROM g
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
"""

ORACLES["text_bigram_lm_score"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    grams AS (
        SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS gram
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    gc AS (SELECT gram, COUNT(*) AS cg FROM grams GROUP BY 1),
    uc AS (SELECT w1, COUNT(*) AS cu FROM grams GROUP BY 1),
    ps AS (
        SELECT g.doc_id,
            CAST(ROUND(CAST(gc.cg AS DOUBLE) * 1000000.0 / uc.cu) AS BIGINT) AS p
        FROM grams g JOIN gc USING (gram) JOIN uc USING (w1)
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
        CAST(CAST(SUM(p) AS BIGINT) // COUNT(*) AS DOUBLE) / 1000000.0
            AS avg_cond_prob
    FROM ps GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["split_balance_tvd"] = f"""
    WITH s AS (
        SELECT n_chars,
            CASE WHEN {_UNIT.format(col='doc_id')} % 100 < 80 THEN 'train'
                 WHEN {_UNIT.format(col='doc_id')} % 100 < 90 THEN 'val'
                 ELSE 'test' END AS split
        FROM documents
    ),
    c AS (
        SELECT split, LEAST(9, n_chars // 50) AS bucket, COUNT(*) AS n
        FROM s GROUP BY 1, 2
    ),
    t AS (SELECT split, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1),
    pairs(split_a, split_b) AS (
        VALUES ('train', 'val'), ('train', 'test'), ('val', 'test')
    ),
    grid AS (SELECT * FROM pairs, (SELECT DISTINCT bucket FROM c)),
    j AS (
        SELECT g.split_a, g.split_b, g.bucket,
            COALESCE(ca.n, 0) AS na, COALESCE(cb.n, 0) AS nb
        FROM grid g
        LEFT JOIN c ca ON ca.split = g.split_a AND ca.bucket = g.bucket
        LEFT JOIN c cb ON cb.split = g.split_b AND cb.bucket = g.bucket
    )
    SELECT j.split_a, j.split_b, ta.tot AS n_a, tb.tot AS n_b,
        CAST((1000000 * SUM(ABS(CAST(na AS HUGEINT) * tb.tot
                                - CAST(nb AS HUGEINT) * ta.tot)))
             // (2 * CAST(ta.tot AS HUGEINT) * tb.tot) AS DOUBLE)
            / 1000000.0 AS tvd
    FROM j
    JOIN t ta ON ta.split = j.split_a
    JOIN t tb ON tb.split = j.split_b
    GROUP BY j.split_a, j.split_b, ta.tot, tb.tot
    ORDER BY j.split_a, j.split_b
"""

ORACLES["embedding_norm_outliers"] = """
    WITH norms AS (
        SELECT label,
            ROUND(sqrt(list_aggregate(
                list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                'sum')), 6) AS nrm
        FROM embeddings
    ),
    stats AS (
        SELECT label,
            COUNT(*) AS n_vecs,
            CAST(SUM(CAST(ROUND(nrm * 1000000.0) AS BIGINT)) // COUNT(*)
                 AS DOUBLE) / 1000000.0 AS mean_norm,
            MIN(nrm) AS min_norm,
            MAX(nrm) AS max_norm
        FROM norms GROUP BY label
    )
    SELECT s.label, s.n_vecs, s.mean_norm, s.min_norm, s.max_norm,
        CAST(SUM(CASE WHEN n.nrm < (1.0 - 0.2) * s.mean_norm THEN 1 ELSE 0 END)
             AS BIGINT) AS n_low,
        CAST(SUM(CASE WHEN n.nrm > (1.0 + 0.2) * s.mean_norm THEN 1 ELSE 0 END)
             AS BIGINT) AS n_high
    FROM norms n JOIN stats s USING (label)
    GROUP BY s.label, s.n_vecs, s.mean_norm, s.min_norm, s.max_norm
    ORDER BY s.label
"""

ORACLES["ann_recall_eval"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    lists AS (
        SELECT vec_id AS neighbor_id, embedding AS cv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='embeddings', cents='cents')}) WHERE probe_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS qv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='(SELECT * FROM embeddings WHERE vec_id < 5)', cents='cents')})
        WHERE probe_rank <= 2
    ),
    ivf AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
                ) AS rank
            FROM (
                SELECT p.query_id, l.neighbor_id,
                    ROUND(list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                                                 CAST(l.cv AS DOUBLE[])), 6) AS cos_sim
                FROM lists l JOIN probes p USING (centroid_id)
                WHERE l.neighbor_id <> p.query_id
            )
        )
        WHERE rank <= 3
    ),
    bf AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
                ) AS rank
            FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                 CAST(q.embedding AS DOUBLE[])), 6)
                        AS cos_sim
                FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 5) q
                WHERE e.vec_id <> q.vec_id
            )
        )
        WHERE rank <= 3
    )
    SELECT bf.query_id,
        COUNT(*) AS k,
        CAST(SUM(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hit,
        CAST(SUM(CASE WHEN ivf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*) AS recall_at_k
    FROM bf
    LEFT JOIN ivf ON ivf.query_id = bf.query_id
                 AND ivf.neighbor_id = bf.neighbor_id
    GROUP BY bf.query_id
    ORDER BY bf.query_id
"""

ORACLES["dataset_fingerprint"] = """
    WITH d AS (
        SELECT CAST(('0x' || substr(md5(
            CAST(o_orderkey AS VARCHAR) || '|' ||
            CAST(o_custkey AS VARCHAR) || '|' ||
            o_orderstatus || '|' ||
            CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
            CAST(o_orderdate AS VARCHAR) || '|' ||
            o_orderpriority), 1, 15)) AS BIGINT) AS dg
        FROM orders
    )
    SELECT COUNT(*) AS n_rows,
        bit_xor(dg) AS xor_digest,
        MIN(dg) AS min_digest,
        MAX(dg) AS max_digest
    FROM d
"""

ORACLES["source_mixture_weights"] = """
    WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
    s AS (
        SELECT source, n_docs,
            CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS ws
        FROM c
    ),
    t AS (SELECT CAST(SUM(ws) AS BIGINT) AS wt FROM s)
    SELECT source, n_docs,
        CAST((1000000 * ws) // wt AS DOUBLE) / 1000000.0 AS weight,
        (10000 * ws) // wt AS n_sampled
    FROM s, t
    ORDER BY source
"""

# Funnel stage 4 wraps the full dedup_clusters recursive-CTE oracle as
# a subquery, so the two stay in lockstep by construction.
ORACLES["dedup_funnel"] = f"""
    SELECT '1_total' AS stage, COUNT(*) AS n_surviving FROM documents
    UNION ALL
    SELECT '2_exact', COUNT(DISTINCT text) FROM documents
    UNION ALL
    SELECT '3_fingerprint', COUNT(DISTINCT
        md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                ' +', ' ', 'g')))) FROM documents
    UNION ALL
    SELECT '4_near_dup_clusters', COUNT(DISTINCT cluster_id)
    FROM ({ORACLES['dedup_clusters']})
    ORDER BY stage
"""

# Canonical token list (the TOKENS_SQL twin): lower → strip
# non-alphanumerics → split on space runs → drop empties.
_TOKLIST = (
    "list_filter(string_split_regex(trim(regexp_replace(lower({col}),"
    " '[^a-z0-9 ]', '', 'g')), ' +'), x -> x <> '')"
)

# X21 chunking: 64-token windows, stride 48 (overlap 16). DuckDB list
# slicing is 1-based inclusive and clamps, matching Spark's
# slice(arr, start, length) on the same bounds.
ORACLES["doc_chunks"] = f"""
    WITH t AS (
        SELECT doc_id, {_TOKLIST.format(col='text')} AS tk FROM documents
    ),
    nz AS (SELECT * FROM t WHERE len(tk) > 0),
    starts AS (
        SELECT doc_id, tk,
            unnest(generate_series(0, len(tk) - 1, 48)) AS s
        FROM nz
    )
    SELECT doc_id,
        CAST(s // 48 AS BIGINT) AS chunk_id,
        CAST(s AS BIGINT) AS chunk_start,
        CAST(LEAST(64, len(tk) - s) AS BIGINT) AS n_tokens,
        array_to_string(tk[s + 1 : s + 64], ' ') AS chunk_text
    FROM starts
"""

# X22 vocabulary coverage curve; unk_ppm by exact integer division.
ORACLES["vocab_coverage"] = f"""
    WITH toks AS (
        SELECT unnest({_TOKLIST.format(col='text')}) AS tok FROM documents
    ),
    freq AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rank
        FROM freq
    ),
    ks(top_k) AS (VALUES (5), (15), (50))
    SELECT CAST(top_k AS BIGINT) AS top_k,
        COUNT(*) AS vocab_size,
        CAST(SUM(n) AS BIGINT) AS total_tokens,
        CAST(SUM(CASE WHEN rank <= top_k THEN n ELSE 0 END) AS BIGINT)
            AS covered_tokens,
        CAST((1000000 * (SUM(n) - SUM(CASE WHEN rank <= top_k THEN n ELSE 0 END)))
             // SUM(n) AS DOUBLE) / 1000000.0 AS unk_ppm
    FROM ks, ranked
    GROUP BY top_k
    ORDER BY top_k
"""

# X23 incremental (corpus-delta) dedup: canonical fingerprint probe of
# the 20% hash-threshold batch against the 80% corpus.
_CANON_FP = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g')))"
)
ORACLES["dedup_incremental"] = f"""
    WITH batch AS (
        SELECT doc_id, {_CANON_FP} AS fp FROM documents
        WHERE {_UNIT.format(col='doc_id')} >= 3435973836
    ),
    corpus AS (
        SELECT DISTINCT {_CANON_FP} AS fp FROM documents
        WHERE {_UNIT.format(col='doc_id')} < 3435973836
    ),
    ranked AS (
        SELECT b.doc_id, b.fp,
            (c.fp IS NOT NULL) AS in_corpus,
            ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
        FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
    )
    SELECT doc_id,
        CASE WHEN in_corpus THEN 'dup_corpus'
             WHEN rn > 1 THEN 'dup_batch'
             ELSE 'kept' END AS status
    FROM ranked
    ORDER BY doc_id
"""

# X25 template/boilerplate detection: first-3-token prefix clusters.
ORACLES["template_clusters"] = f"""
    WITH t AS (
        SELECT doc_id,
            md5(array_to_string(({_TOKLIST.format(col='text')})[1:3], ' '))
                AS template_fp
        FROM documents
    )
    SELECT template_fp, COUNT(*) AS n_docs,
        CAST(MIN(doc_id) AS BIGINT) AS exemplar_id
    FROM t
    GROUP BY template_fp
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, template_fp ASC
"""

# X24 per-doc shingle novelty (first-occurrence attribution by min
# doc id); novelty_ppm via exact integer division.
ORACLES["shingle_novelty"] = f"""
    WITH {_SHINGLE_CTE},
    first AS (SELECT shingle, MIN(doc_id) AS f FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
        COUNT(*) AS n_shingles,
        CAST(SUM(CASE WHEN first.f = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
            AS n_novel,
        CAST((1000000 * SUM(CASE WHEN first.f = sh.doc_id THEN 1 ELSE 0 END))
             // COUNT(*) AS DOUBLE) / 1000000.0 AS novelty_ppm
    FROM sh JOIN first USING (shingle)
    GROUP BY sh.doc_id
    ORDER BY novelty_ppm, sh.doc_id
"""

# X26 chunk-level dedup rate per source (wraps the doc_chunks oracle
# so the two stay in lockstep by construction).
ORACLES["chunk_dedup_rate"] = f"""
    WITH chunks AS ({ORACLES['doc_chunks']})
    SELECT d.source,
        COUNT(*) AS n_chunks,
        CAST(COUNT(DISTINCT md5(c.chunk_text)) AS BIGINT) AS n_distinct,
        CAST((1000000 * (COUNT(*) - COUNT(DISTINCT md5(c.chunk_text))))
             // COUNT(*) AS DOUBLE) / 1000000.0 AS dup_ppm
    FROM chunks c JOIN documents d USING (doc_id)
    GROUP BY d.source
    ORDER BY d.source
"""

# X27 inter-label centroid cosine separation: centroid ppm integers
# (the proven label-centroid mean, re-scaled exactly), order-free
# integer dot/norm sums, one final sqrt/division rounded to 6.
ORACLES["embedding_label_separation"] = """
    WITH cents AS (
        SELECT label, CAST(i AS INTEGER) AS dim,
            CAST(ROUND(ROUND(
                CAST(SUM(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1000000))
                     AS DOUBLE) / (COUNT(*) * 1000000), 6) * 1000000)
                 AS BIGINT) AS cppm
        FROM embeddings, UNNEST(range(len(embedding))) AS u(i)
        GROUP BY label, dim
    )
    SELECT a.label AS label_a, b.label AS label_b,
        ROUND(CAST(SUM(a.cppm * b.cppm) AS DOUBLE)
              / (sqrt(CAST(SUM(a.cppm * a.cppm) AS DOUBLE))
                 * sqrt(CAST(SUM(b.cppm * b.cppm) AS DOUBLE))), 6) AS cos_sim
    FROM cents a JOIN cents b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
    ORDER BY label_a, label_b
"""

# X28 SemDeDup: the same deterministic IVF centroid draw + rank-1
# assignment as ann_ivf, then an EXISTS over lower-id cluster-mates
# at rounded cosine >= 0.35 (operators/similarity.py:semantic_dedup;
# 0.35 exercises the decision boundary on the near-orthogonal
# fixture embeddings — the real-world default is 0.95).
ORACLES["semantic_dedup"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    assign AS (
        SELECT vec_id, embedding, centroid_id
        FROM ({_IVF_ASSIGN.format(src='embeddings', cents='cents')})
        WHERE probe_rank = 1
    )
    SELECT a.vec_id, a.centroid_id,
        EXISTS (
            SELECT 1 FROM assign b
            WHERE b.centroid_id = a.centroid_id AND b.vec_id < a.vec_id
              AND ROUND(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                               CAST(a.embedding AS DOUBLE[])), 6)
                  >= 0.35
        ) AS is_dup
    FROM assign a
    ORDER BY a.vec_id
"""

# X29 cross-source shingle-overlap matrix
# (operators/dedup.py:source_overlap).
ORACLES["source_overlap_matrix"] = f"""
    WITH toks AS (SELECT source, {_TOKS.format(col='text')} AS t FROM documents),
    ssh AS (
        SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    sizes AS (SELECT source, COUNT(*) AS n_sh FROM ssh GROUP BY source),
    inter AS (
        SELECT a.source AS grp_a, b.source AS grp_b, COUNT(*) AS n_common
        FROM ssh a JOIN ssh b USING (shingle)
        WHERE a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT sa.source AS grp_a, sb.source AS grp_b,
        sa.n_sh AS n_a, sb.n_sh AS n_b,
        COALESCE(i.n_common, 0) AS n_common,
        CAST((1000000 * COALESCE(i.n_common, 0))
             // (sa.n_sh + sb.n_sh - COALESCE(i.n_common, 0)) AS DOUBLE)
            / 1000000.0 AS jaccard_ppm
    FROM sizes sa
    JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN inter i ON i.grp_a = sa.source AND i.grp_b = sb.source
    ORDER BY grp_a, grp_b
"""

# X30 quality-gate ablation (operators/textstats.py:quality_ablation):
# same per-rule booleans as text_quality_score's components, collapsed
# to one aggregate row, unpivoted via UNION ALL.
ORACLES["quality_ablation"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    f AS (
        SELECT doc_id,
            CAST(len(t) AS INTEGER) AS n_words,
            ROUND(CAST(len(list_filter(t, x -> x IN ({_STOP_IN}))) AS DOUBLE)
                  / len(t), 6) AS stopword_ratio,
            ROUND(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                  / len(t), 6) AS mean_word_len,
            ROUND(CAST(1.0 AS DOUBLE)
                  - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS dup_ratio
        FROM t
    ),
    flags AS (
        SELECT
            NOT (n_words BETWEEN 50 AND 200) AS f_len,
            NOT (stopword_ratio >= 0.05) AS f_stop,
            NOT (mean_word_len BETWEEN 3.0 AND 8.0) AS f_mwl,
            NOT (dup_ratio <= 0.6) AS f_dup
        FROM f
    ),
    one AS (
        SELECT COUNT(*) AS n,
            COUNT(*) FILTER (f_len) AS fail_len,
            COUNT(*) FILTER (f_len AND NOT (f_stop OR f_mwl OR f_dup)) AS sole_len,
            COUNT(*) FILTER (f_stop) AS fail_stop,
            COUNT(*) FILTER (f_stop AND NOT (f_len OR f_mwl OR f_dup)) AS sole_stop,
            COUNT(*) FILTER (f_mwl) AS fail_mwl,
            COUNT(*) FILTER (f_mwl AND NOT (f_len OR f_stop OR f_dup)) AS sole_mwl,
            COUNT(*) FILTER (f_dup) AS fail_dup,
            COUNT(*) FILTER (f_dup AND NOT (f_len OR f_stop OR f_mwl)) AS sole_dup,
            COUNT(*) FILTER (f_len OR f_stop OR f_mwl OR f_dup) AS fail_any
        FROM flags
    ),
    stacked AS (
        SELECT 'length_band' AS rule, fail_len AS n_fail, sole_len AS n_sole_fail, n FROM one
        UNION ALL
        SELECT 'stopword_ratio', fail_stop, sole_stop, n FROM one
        UNION ALL
        SELECT 'mean_word_len', fail_mwl, sole_mwl, n FROM one
        UNION ALL
        SELECT 'dup_ratio', fail_dup, sole_dup, n FROM one
        UNION ALL
        SELECT 'ANY', fail_any, CAST(NULL AS BIGINT), n FROM one
    )
    SELECT rule, n_fail, n_sole_fail,
        CAST((1000000 * COALESCE(n_sole_fail, n_fail)) // n AS DOUBLE)
            / 1000000.0 AS removal_ppm
    FROM stacked
    ORDER BY rule
"""

# X31 leakage-safe split (operators/sampling.py:leakage_safe_split):
# the full dedup_clusters recursive-CTE oracle as the cluster input,
# the sample_deterministic unit-hash convention for both the cluster-
# keyed and the naive doc-keyed assignment.
ORACLES["split_leakage_safe"] = f"""
    WITH clusters AS (
        SELECT doc_id, cluster_id FROM ({ORACLES['dedup_clusters']})
    ),
    b AS (
        SELECT doc_id, cluster_id,
            CASE WHEN {_UNIT.format(col='cluster_id')} % 100 < 80 THEN 'train'
                 WHEN {_UNIT.format(col='cluster_id')} % 100 < 90 THEN 'val'
                 ELSE 'test' END AS split,
            CASE WHEN {_UNIT.format(col='doc_id')} % 100 < 80 THEN 'train'
                 WHEN {_UNIT.format(col='doc_id')} % 100 < 90 THEN 'val'
                 ELSE 'test' END AS naive
        FROM clusters
    )
    SELECT split,
        COUNT(*) AS n_docs,
        COUNT(DISTINCT cluster_id) AS n_clusters,
        COUNT(*) FILTER (split <> naive) AS n_leaked
    FROM b GROUP BY split ORDER BY split
"""

# X32 quality-aware survivorship (operators/dedup.py:best_of_cluster):
# dedup_clusters x text_quality_score, rank-1 per cluster by
# (quality DESC, doc_id ASC).
ORACLES["dedup_best_of_cluster"] = f"""
    WITH clusters AS (
        SELECT doc_id, cluster_id FROM ({ORACLES['dedup_clusters']})
    ),
    j AS (
        SELECT c.cluster_id, c.doc_id, q.quality_score
        FROM clusters c JOIN ({ORACLES['text_quality_score']}) q USING (doc_id)
    ),
    r AS (
        SELECT cluster_id, doc_id, quality_score,
            ROW_NUMBER() OVER (
                PARTITION BY cluster_id ORDER BY quality_score DESC, doc_id ASC
            ) AS rn,
            COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
        FROM j
    )
    SELECT cluster_id, n_docs, doc_id AS best_doc_id,
        quality_score AS best_score
    FROM r WHERE rn = 1 ORDER BY cluster_id
"""

# X33 DSIR-style hashed importance weights: md5 unit hash % 64
# buckets, add-one-smoothed ppm bucket probabilities, per-token
# ratio by integer division, truncating per-doc mean.
ORACLES["importance_weights_dsir"] = f"""
    WITH toks AS (
        SELECT doc_id, (lang = 'en') AS is_t,
            unnest({_TOKS.format(col='text')}) AS tok
        FROM documents
    ),
    b AS (
        SELECT doc_id, is_t,
            {_UNIT.format(col='tok')} % 64 AS bkt
        FROM toks
    ),
    bu AS (
        SELECT bkt, COUNT(*) AS rc,
            COUNT(*) FILTER (WHERE is_t) AS tc
        FROM b GROUP BY bkt
    ),
    tot AS (SELECT SUM(rc) AS rtot, SUM(tc) AS ttot FROM bu),
    ratio AS (
        SELECT bkt,
            (1000000 * CAST(ROUND((tc + 1) * 1000000.0 / (ttot + 64))
                            AS BIGINT))
            // CAST(ROUND((rc + 1) * 1000000.0 / (rtot + 64)) AS BIGINT)
            AS r
        FROM bu, tot
    ),
    pd AS (
        SELECT b.doc_id, COUNT(*) AS n_tokens, SUM(r) AS s
        FROM b JOIN ratio USING (bkt) GROUP BY b.doc_id
    )
    SELECT doc_id, n_tokens,
        CAST(CAST(s AS BIGINT) // n_tokens AS DOUBLE) / 1000000.0
            AS importance
    FROM pd ORDER BY importance DESC, doc_id
"""

# X34 pairwise source TVD over unigram ppm distributions; missing
# mass reconstructed from per-source ppm totals so only SHARED
# tokens are joined.
ORACLES["source_token_tvd"] = f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS.format(col='text')}) AS tok
        FROM documents
    ),
    cnt AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    tot AS (SELECT source, SUM(c) AS t FROM cnt GROUP BY 1),
    dist AS (
        SELECT cnt.source, tok, (1000000 * c) // t AS ppm
        FROM cnt JOIN tot USING (source)
    ),
    ptot AS (SELECT source, CAST(SUM(ppm) AS BIGINT) AS pt FROM dist GROUP BY 1),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
            CAST(SUM(ABS(a.ppm - b.ppm)) AS BIGINT) AS ds,
            CAST(SUM(a.ppm) AS BIGINT) AS sa,
            CAST(SUM(b.ppm) AS BIGINT) AS sb
        FROM dist a JOIN dist b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT pa.source AS source_a, pb.source AS source_b,
        CAST((COALESCE(ds, 0) + (pa.pt - COALESCE(sa, 0))
              + (pb.pt - COALESCE(sb, 0))) // 2 AS DOUBLE) / 1000000.0
            AS tvd
    FROM ptot pa
    JOIN ptot pb ON pa.source < pb.source
    LEFT JOIN shared ON shared.source_a = pa.source
                    AND shared.source_b = pb.source
    ORDER BY tvd DESC, source_a, source_b
"""

# X35 curriculum sampling: X15 bigram-LM score -> per-lang NTILE
# deciles -> hash-keep at decile/10 rate (exact integer threshold).
ORACLES["curriculum_sample"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    grams AS (
        SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS gram
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    gc AS (SELECT gram, COUNT(*) AS cg FROM grams GROUP BY 1),
    uc AS (SELECT w1, COUNT(*) AS cu FROM grams GROUP BY 1),
    ps AS (
        SELECT g.doc_id,
            CAST(ROUND(CAST(gc.cg AS DOUBLE) * 1000000.0 / uc.cu) AS BIGINT) AS p
        FROM grams g JOIN gc USING (gram) JOIN uc USING (w1)
    ),
    score AS (
        SELECT doc_id,
            CAST(CAST(SUM(p) AS BIGINT) // COUNT(*) AS DOUBLE) / 1000000.0
                AS avg_cond_prob
        FROM ps GROUP BY doc_id
    ),
    dec AS (
        SELECT s.doc_id, d.lang, s.avg_cond_prob,
            NTILE(10) OVER (
                PARTITION BY d.lang
                ORDER BY s.avg_cond_prob ASC, s.doc_id ASC
            ) AS decile
        FROM score s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, decile, avg_cond_prob
    FROM dec
    WHERE {_UNIT.format(col='doc_id')} < (decile * 4294967296) // 10
    ORDER BY lang, decile, doc_id
"""

# X36 tokenizer fertility per language: corpus-total counts, exact
# ppm integer-division ratios.
ORACLES["token_fertility"] = f"""
    SELECT lang,
        COUNT(*) AS n_docs,
        CAST(SUM(len({_TOKS.format(col='text')})) AS BIGINT) AS n_ws_tokens,
        CAST(SUM(len(regexp_extract_all(lower(text),
            '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS n_bpe_tokens,
        CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
        CAST((1000000 * CAST(SUM(len(regexp_extract_all(lower(text),
            '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT))
             // CAST(SUM(len({_TOKS.format(col='text')})) AS BIGINT)
             AS DOUBLE) / 1000000.0 AS bpe_per_word,
        CAST((1000000 * CAST(SUM(LENGTH(text)) AS BIGINT))
             // CAST(SUM(len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT)
             AS DOUBLE) / 1000000.0 AS chars_per_bpe
    FROM documents GROUP BY lang ORDER BY lang
"""

# X37 dedup-effective mixture weights: X2a canonical fingerprint,
# arg_min survivor attribution, ppm shares by integer division.
ORACLES["effective_mixture_weights"] = """
    WITH fps AS (
        SELECT doc_id, source,
            md5(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        FROM documents
    ),
    surv AS (SELECT arg_min(source, doc_id) AS source FROM fps GROUP BY fp),
    raw AS (SELECT source, COUNT(*) AS n_raw FROM fps GROUP BY 1),
    eff AS (SELECT source, COUNT(*) AS n_effective FROM surv GROUP BY 1),
    j AS (
        SELECT raw.source, n_raw, COALESCE(n_effective, 0) AS n_effective
        FROM raw LEFT JOIN eff USING (source)
    ),
    tot AS (SELECT CAST(SUM(n_effective) AS BIGINT) AS t FROM j)
    SELECT source, n_raw, n_effective,
        CAST((1000000 * n_effective) // n_raw AS DOUBLE) / 1000000.0
            AS distinct_share,
        CAST((1000000 * n_effective) // t AS DOUBLE) / 1000000.0 AS weight
    FROM j, tot ORDER BY source
"""

# X38 sequence-length planning (operators/textstats.py:seqlen_plan):
# histogram-based exact percentiles — value at position ceil(q * n)
# of the per-source sorted token-count list — plus 64-token
# truncation loss, all exact integers.
ORACLES["seqlen_truncation_plan"] = f"""
    WITH tc AS (
        SELECT source, len({_TOKS.format(col='text')}) AS n_tokens
        FROM documents
    ),
    hist AS (
        SELECT source, n_tokens, COUNT(*) AS c FROM tc GROUP BY 1, 2
    ),
    cum AS (
        SELECT source, n_tokens, c,
            SUM(c) OVER (
                PARTITION BY source ORDER BY n_tokens
            ) AS cumc,
            SUM(c) OVER (PARTITION BY source) AS tot
        FROM hist
    )
    SELECT source,
        CAST(SUM(c) AS BIGINT) AS n_docs,
        CAST(SUM(c * n_tokens) AS BIGINT) AS total_tokens,
        CAST(MIN(CASE WHEN cumc >= CEIL(tot * 0.5) THEN n_tokens END)
             AS INTEGER) AS p50,
        CAST(MIN(CASE WHEN cumc >= CEIL(tot * 0.9) THEN n_tokens END)
             AS INTEGER) AS p90,
        CAST(MIN(CASE WHEN cumc >= CEIL(tot * 0.99) THEN n_tokens END)
             AS INTEGER) AS p99,
        CAST(SUM(CASE WHEN n_tokens > 64 THEN c ELSE 0 END) AS BIGINT)
            AS docs_over,
        CAST(SUM(c * LEAST(n_tokens, 64)) AS BIGINT) AS tokens_kept,
        CAST((1000000 * (CAST(SUM(c * n_tokens) AS BIGINT)
                         - CAST(SUM(c * LEAST(n_tokens, 64)) AS BIGINT)))
             // CAST(SUM(c * n_tokens) AS BIGINT) AS DOUBLE) / 1000000.0
            AS trunc_loss_ppm
    FROM cum GROUP BY source ORDER BY source
"""

# X40 length-histogram drift (operators/textstats.py:
# length_drift_chi2): every term is an exact ppm integer, so the sum
# is order-free. greatest(q_ppm, 1) mirrors the Spark clamp — the
# ppm-truncated corpus share is 0 for sub-ppm buckets once the
# corpus exceeds 1e6 docs, and DuckDB // raises on 0 while Spark div
# returns NULL.
ORACLES["length_drift_by_source"] = """
    WITH b AS (
        SELECT source, CAST(n_chars AS BIGINT) // 50 AS bucket
        FROM documents
    ),
    gh AS (SELECT source, bucket, COUNT(*) AS gc FROM b GROUP BY 1, 2),
    gt AS (SELECT source, CAST(SUM(gc) AS BIGINT) AS gn FROM gh GROUP BY 1),
    ch AS (SELECT bucket, COUNT(*) AS cc FROM b GROUP BY 1),
    ct AS (SELECT CAST(SUM(cc) AS BIGINT) AS cn FROM ch),
    terms AS (
        SELECT gh.source,
            ((1000000 * gc) // gn - (1000000 * cc) // cn)
            * ((1000000 * gc) // gn - (1000000 * cc) // cn)
            // greatest((1000000 * cc) // cn, 1) AS term
        FROM gh JOIN gt USING (source) JOIN ch USING (bucket), ct
    )
    SELECT t.source, gt.gn AS n_docs,
        CAST(CAST(SUM(t.term) AS BIGINT) AS DOUBLE) / 1000000.0 AS chi2_ppm
    FROM terms t JOIN gt USING (source)
    GROUP BY t.source, gt.gn ORDER BY t.source
"""

# X41 hashed-feature linear classifier (operators/textstats.py:
# hashed_logit_scores). The mean division is sign-symmetric (abs then
# re-sign) because Spark div truncates while DuckDB // floors.
ORACLES["classifier_hashed_logit"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents
    ),
    tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    w AS (
        SELECT doc_id,
            ((CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64)
             * 2654435761) % 1024 - 512 AS wt
        FROM tk
    ),
    agg AS (
        SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS logit FROM w GROUP BY doc_id
    ),
    n AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
    SELECT n.doc_id, CAST(n.n_tokens AS INTEGER) AS n_tokens, agg.logit,
        CAST(CASE WHEN agg.logit < 0
             THEN -((1000000 * -agg.logit) // n.n_tokens)
             ELSE (1000000 * agg.logit) // n.n_tokens END AS DOUBLE)
            / 1000000.0 AS mean_weight,
        agg.logit > 0 AS pred_keep
    FROM n JOIN agg USING (doc_id) ORDER BY doc_id
"""

# X39 hard-negative mining (operators/similarity.py:hard_negatives):
# brute-force cosine with a cross-label filter before ranking.
ORACLES["hard_negative_mining"] = """
    SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim,
        CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim,
            ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
            ) AS rank
        FROM (
            SELECT q.vec_id AS query_id, q.label AS query_label,
                e.vec_id AS neighbor_id, e.label AS neighbor_label,
                ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                             CAST(e.embedding AS DOUBLE[])),
                      6) AS cos_sim
            FROM embeddings e
            JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
                ON e.label <> q.label
        )
    )
    WHERE rank <= 5
    ORDER BY query_id, rank
"""

# X42 product quantization (operators/embeddings.py:pq_encode):
# m=4 subspaces x 16 dims, ksub=8 codewords per subspace drawn by
# the md5(id) order (same seed-free draw as _IVF_CENTS); nearest
# codeword by squared L2 rounded to 6, code id tie-break.
ORACLES["embedding_pq_codes"] = """
    WITH sel AS (
        SELECT vec_id AS code_id, embedding
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 8
    ),
    cb AS (
        SELECT s.i AS subspace, sel.code_id,
            CAST(sel.embedding[s.i * 16 + 1 : s.i * 16 + 16] AS DOUBLE[])
                AS codeword
        FROM sel, (SELECT unnest(range(0, 4)) AS i) s
    ),
    scored AS (
        -- ordered left-fold of squared diffs, the exact shape of the
        -- Spark _L2SQ_SQL aggregate (a sqrt-then-square via
        -- list_distance can land on the other side of the 6-decimal
        -- rounding boundary and flip the argmin)
        SELECT e.vec_id, cb.subspace, cb.code_id,
            ROUND(list_reduce(list_transform(range(1, 17),
                i -> (CAST(e.embedding[cb.subspace * 16 + i] AS DOUBLE)
                      - cb.codeword[i])
                     * (CAST(e.embedding[cb.subspace * 16 + i] AS DOUBLE)
                        - cb.codeword[i])),
                (a, b) -> a + b), 6) AS dist_sq
        FROM embeddings e, cb
    )
    SELECT vec_id, CAST(subspace AS INTEGER) AS subspace, code_id, dist_sq
    FROM (
        SELECT vec_id, subspace, code_id, dist_sq,
            ROW_NUMBER() OVER (
                PARTITION BY vec_id, subspace
                ORDER BY dist_sq ASC, code_id ASC
            ) AS rn
        FROM scored
    )
    WHERE rn = 1
    ORDER BY vec_id, subspace
"""


# X43 token-budget mixture materialization (operators/sampling.py:
# mixture_budget_sample): sqrt-temperature budgets via the
# scaled-integer weight convention, unit-hash fill order, integer
# running-total cut.
ORACLES["mixture_token_sample"] = f"""
    WITH tc AS (
        SELECT doc_id, source, len({_TOKS.format(col='text')}) AS n_tokens
        FROM documents
    ),
    counts AS (SELECT source, COUNT(*) AS n FROM tc GROUP BY 1),
    scaled AS (
        SELECT source,
            CAST(ROUND(SQRT(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS ws
        FROM counts
    ),
    tot AS (SELECT CAST(SUM(ws) AS BIGINT) AS wt FROM scaled),
    budgets AS (
        SELECT source, (12000 * ws) // wt AS budget FROM scaled, tot
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
            SUM(n_tokens) OVER (
                PARTITION BY source
                ORDER BY {_UNIT.format(col='doc_id')}, doc_id
            ) AS cum_tokens
        FROM tc
    )
    SELECT c.doc_id, c.source, CAST(c.n_tokens AS INTEGER) AS n_tokens,
        CAST(c.cum_tokens AS BIGINT) AS cum_tokens
    FROM cum c JOIN budgets b USING (source)
    WHERE c.cum_tokens <= b.budget
    ORDER BY c.source, c.cum_tokens
"""

# X44 deterministic training-order shuffle (operators/sampling.py:
# training_order_shuffle), epoch=1, 8 shards.
ORACLES["training_order_shuffle"] = """
    WITH h AS (
        SELECT doc_id,
            CAST(('0x' || substr(md5('1|' || CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) AS hh
        FROM documents
    )
    SELECT doc_id, CAST(hh % 8 AS INTEGER) AS shard,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY hh % 8 ORDER BY hh, doc_id
        ) AS INTEGER) AS pos
    FROM h ORDER BY shard, pos
"""


# X28 scale form (operators/similarity.py:semantic_dedup_tree):
# two-level centroid tree, branching 4 — per level, the per-bucket
# seed-free draw (top-4 by md5(id), id) then nearest-of-4 descent
# with the rounded-cosine / centroid-id tie-break convention.
_TREE_DRAW = """
        SELECT bucket, vec_id AS cid, embedding AS cvec
        FROM (
            SELECT bucket, vec_id, embedding,
                ROW_NUMBER() OVER (
                    PARTITION BY bucket
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                ) AS rn
            FROM {src}
        ) WHERE rn <= 4
"""

_TREE_ASSIGN = """
        SELECT vec_id, embedding, cid AS bucket
        FROM (
            SELECT v.vec_id, v.embedding, c.cid,
                ROW_NUMBER() OVER (
                    PARTITION BY v.vec_id
                    ORDER BY ROUND(list_cosine_similarity(
                        CAST(v.embedding AS DOUBLE[]),
                        CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cid ASC
                ) AS pr
            FROM {src} v JOIN {cents} c ON v.bucket = c.bucket
        ) WHERE pr = 1
"""

ORACLES["semantic_dedup_tree"] = f"""
    WITH a0 AS (
        SELECT vec_id, embedding, CAST(-1 AS BIGINT) AS bucket
        FROM embeddings
    ),
    c1 AS ({_TREE_DRAW.format(src='a0')}),
    a1 AS ({_TREE_ASSIGN.format(src='a0', cents='c1')}),
    c2 AS ({_TREE_DRAW.format(src='a1')}),
    a2 AS ({_TREE_ASSIGN.format(src='a1', cents='c2')}),
    leaves AS (SELECT vec_id, embedding, bucket AS leaf_id FROM a2),
    dups AS (
        SELECT DISTINCT b.vec_id
        FROM leaves a JOIN leaves b
            ON a.leaf_id = b.leaf_id AND b.vec_id > a.vec_id
        WHERE ROUND(list_cosine_similarity(
                CAST(a.embedding AS DOUBLE[]),
                CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    )
    SELECT l.vec_id, l.leaf_id, (d.vec_id IS NOT NULL) AS is_dup
    FROM leaves l LEFT JOIN dups d USING (vec_id)
    ORDER BY l.vec_id
"""


# X45 LSH candidate recall/precision (operators/dedup.py:
# lsh_pair_recall): exact Jaccard >= 0.5 pairs as truth, the
# 8-sig/4-band MinHash candidates, and the intersection.
ORACLES["dedup_lsh_recall"] = f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ROUND(CAST(n_common AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5
    ),
    mh AS (
        SELECT doc_id,
            {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_BAND_UNION}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    ),
    hit AS (
        SELECT t.doc_a, t.doc_b FROM truth t
        JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    ),
    agg AS (
        SELECT
            (SELECT COUNT(*) FROM truth) AS n_true_pairs,
            (SELECT COUNT(*) FROM cand) AS n_candidates,
            (SELECT COUNT(*) FROM hit) AS n_hit
    )
    SELECT n_true_pairs, n_candidates, n_hit,
        CASE WHEN n_true_pairs = 0 THEN NULL ELSE
            CAST((1000000 * n_hit) // n_true_pairs AS DOUBLE) / 1000000.0 END
            AS recall_ppm,
        CASE WHEN n_candidates = 0 THEN NULL ELSE
            CAST((1000000 * n_hit) // n_candidates AS DOUBLE) / 1000000.0 END
            AS precision_ppm
    FROM agg
"""


# X46 JL signed random projection (operators/embeddings.py:
# random_projection): explicit list_reduce left fold (with Spark's
# 0.0 init prepended) so the double accumulation order is pinned to
# match Spark's aggregate() exactly — list_sum's accumulation order
# is an implementation detail and must not be relied on.
ORACLES["embedding_random_projection"] = """
    SELECT vec_id, CAST(j AS INTEGER) AS rp_dim,
        ROUND(list_reduce(list_concat(
            [CAST(0.0 AS DOUBLE)],
            list_transform(range(1, len(embedding) + 1),
                i -> CAST(embedding[i] AS DOUBLE)
                     * (CASE WHEN (((i - 1) * 2654435761 + j * 40503) // 128) % 2 = 0
                        THEN 1.0 ELSE -1.0 END))),
            (a, b) -> a + b)
            / 4.0, 6) AS val
    FROM embeddings, (SELECT unnest(range(0, 16)) AS j) js
    ORDER BY vec_id, rp_dim
"""


# X47 full curation pipeline (queries.curation_manifest): the
# composition of the X5 quality gate, X2a exact dedup, X2d+X7
# cluster survivorship, and the X43 budget fill — each stage's SQL
# is the same as its standalone oracle, chained on the filtered set.
ORACLES["curation_manifest"] = f"""
    WITH RECURSIVE
    tq AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    fq AS (
        SELECT doc_id,
            CAST(len(t) AS INTEGER) AS n_words,
            ROUND(CAST(len(list_filter(t, x -> x IN ({_STOP_IN}))) AS DOUBLE)
                  / len(t), 6) AS stopword_ratio,
            ROUND(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                  / len(t), 6) AS mean_word_len,
            ROUND(CAST(1.0 AS DOUBLE)
                  - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS dup_ratio
        FROM tq
    ),
    keptq AS (
        SELECT doc_id FROM fq
        WHERE ROUND(
            (CASE WHEN n_words BETWEEN 50 AND 200 THEN CAST(0.25 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END)
          + (CASE WHEN stopword_ratio >= 0.05 THEN CAST(0.25 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END)
          + (CASE WHEN mean_word_len BETWEEN 3.0 AND 8.0 THEN CAST(0.25 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END)
          + (CASE WHEN dup_ratio <= 0.6 THEN CAST(0.25 AS DOUBLE)
                  ELSE CAST(0.0 AS DOUBLE) END), 2) >= 0.5
    ),
    fp AS (
        SELECT MIN(d.doc_id) AS doc_id
        FROM documents d JOIN keptq USING (doc_id)
        GROUP BY md5(trim(regexp_replace(regexp_replace(lower(d.text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
    ),
    base AS (SELECT d.* FROM documents d JOIN fp USING (doc_id)),
    toksb AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM base),
    shb AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toksb, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shb GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shb a JOIN shb b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM (
            SELECT doc_a, doc_b,
                ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6)
                    AS jaccard
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
        )
        WHERE jaccard >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk AS (
        SELECT doc_id AS node, doc_id AS reach FROM base
        UNION
        SELECT w.node, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a
    ),
    surv AS (
        SELECT node AS doc_id FROM walk GROUP BY node HAVING node = MIN(reach)
    ),
    tc AS (
        SELECT b.doc_id, b.source, len(tb.t) AS n_tokens
        FROM base b JOIN surv USING (doc_id) JOIN toksb tb USING (doc_id)
    ),
    counts AS (SELECT source, COUNT(*) AS n FROM tc GROUP BY 1),
    scaled AS (
        SELECT source,
            CAST(ROUND(SQRT(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS ws
        FROM counts
    ),
    tot AS (SELECT CAST(SUM(ws) AS BIGINT) AS wt FROM scaled),
    budgets AS (
        SELECT source, (8000 * ws) // wt AS budget FROM scaled, tot
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
            SUM(n_tokens) OVER (
                PARTITION BY source
                ORDER BY {_UNIT.format(col='doc_id')}, doc_id
            ) AS cum_tokens
        FROM tc
    )
    SELECT c.doc_id, c.source, CAST(c.n_tokens AS INTEGER) AS n_tokens,
        CAST(c.cum_tokens AS BIGINT) AS cum_tokens
    FROM cum c JOIN budgets b USING (source)
    WHERE c.cum_tokens <= b.budget
    ORDER BY c.source, c.cum_tokens
"""


# ---------------------------------------------------------------- round 8

# X48 collocation lift (operators/textstats.py:collocation_lift).
# lift is ONE fixed double expression tree — identical
# parenthesization to the Spark column: ((c_xy*Nw)/c_x)*(Nw/c_y)/Nb,
# every step an IEEE correctly-rounded op on exact integer inputs, so
# the doubles are bit-identical with no accumulation-order issue.
ORACLES["collocation_lift"] = f"""
    WITH toks AS (SELECT {_TOKS.format(col='text')} AS t FROM documents),
    uni AS (
        SELECT u.x AS w, COUNT(*) AS c
        FROM toks, UNNEST(t) AS u(x) GROUP BY 1
    ),
    bi AS (
        SELECT t[i] AS w1, t[i+1] AS w2, COUNT(*) AS c
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS nw,
               (SELECT CAST(SUM(c) AS BIGINT) FROM bi) AS nb
    ),
    scored AS (
        SELECT b.w1, b.w2, b.c AS pair_count,
            ROUND(
                ((CAST(b.c AS DOUBLE) * nw) / u1.c)
                * (CAST(nw AS DOUBLE) / u2.c)
                / nb, 6) AS lift
        FROM bi b
        JOIN uni u1 ON b.w1 = u1.w
        JOIN uni u2 ON b.w2 = u2.w, tot
        WHERE b.c >= 5
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS INTEGER)
            AS rank,
        w1, w2, pair_count, lift
    FROM scored
    ORDER BY lift DESC, w1, w2
    LIMIT 20
"""

# X49 character-class profile (operators/textstats.py:
# charclass_profile): exact length arithmetic, ppm integer division.
ORACLES["charclass_by_source"] = """
    WITH per AS (
        SELECT source,
            length(text) AS n,
            length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS l,
            length(regexp_replace(text, '[^0-9]', '', 'g')) AS d,
            length(regexp_replace(text, '[^ ]', '', 'g')) AS s
        FROM documents
    ),
    agg AS (
        SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(n) AS BIGINT) AS cn, CAST(SUM(l) AS BIGINT) AS cl,
            CAST(SUM(d) AS BIGINT) AS cd, CAST(SUM(s) AS BIGINT) AS cs
        FROM per GROUP BY source
    )
    SELECT source, n_docs, cn AS chars_total,
        CAST((1000000 * cl) // cn AS DOUBLE) / 1000000.0 AS letter_share,
        CAST((1000000 * cd) // cn AS DOUBLE) / 1000000.0 AS digit_share,
        CAST((1000000 * cs) // cn AS DOUBLE) / 1000000.0 AS space_share,
        CAST((1000000 * (cn - cl - cd - cs)) // cn AS DOUBLE) / 1000000.0
            AS other_share
    FROM agg ORDER BY source
"""

# X51 lexical diversity (operators/textstats.py:lexical_diversity).
ORACLES["lexical_diversity"] = f"""
    WITH tk AS (
        SELECT source, u.x AS t
        FROM (SELECT source, {_TOKS.format(col='text')} AS ts FROM documents),
             UNNEST(ts) AS u(x)
    ),
    c AS (SELECT source, t, COUNT(*) AS c FROM tk GROUP BY 1, 2),
    a AS (
        SELECT source,
            CAST(SUM(c) AS BIGINT) AS total_tokens,
            COUNT(*) AS distinct_tokens,
            CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS hapax_tokens
        FROM c GROUP BY source
    )
    SELECT source, total_tokens, distinct_tokens, hapax_tokens,
        CAST((1000000 * distinct_tokens) // total_tokens AS DOUBLE)
            / 1000000.0 AS type_token_ratio,
        CAST((1000000 * hapax_tokens) // distinct_tokens AS DOUBLE)
            / 1000000.0 AS hapax_share
    FROM a ORDER BY source
"""

# X52 padding plan (operators/packing.py:padding_plan): pow2 ladder,
# ceil-div batch count, ppm waste.
ORACLES["padding_efficiency_plan"] = f"""
    WITH n AS (
        SELECT least(len({_TOKS.format(col='text')}), 4096) AS nt
        FROM documents
    ),
    b AS (
        SELECT nt,
            list_filter([16, 32, 64, 128, 256, 512, 1024, 2048, 4096],
                        c -> c >= nt)[1] AS cap
        FROM n
    ),
    a AS (
        SELECT cap, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS real_tokens
        FROM b GROUP BY cap
    ),
    p AS (
        SELECT cap, n_docs, (n_docs + 7) // 8 AS n_batches, real_tokens
        FROM a
    )
    SELECT CAST(cap AS INTEGER) AS cap, n_docs, n_batches, real_tokens,
        n_batches * 8 * cap AS slot_tokens,
        CAST((1000000 * (n_batches * 8 * cap - real_tokens))
             // (n_batches * 8 * cap) AS DOUBLE) / 1000000.0 AS waste_share
    FROM p ORDER BY cap
"""

# X50 per-dimension moments (operators/embeddings.py:
# dimension_moments): the proven ROUND(value*1e6) scaled-integer
# draw; DuckDB BIGINT sums promote to HUGEINT (128-bit, exact) just
# as the Spark side sums DECIMAL(38,0) — both convert to double only
# at the final division, with identical parenthesization.
ORACLES["embedding_dim_moments"] = """
    WITH d AS (
        SELECT CAST(i AS INTEGER) AS dim,
            CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
                AS v
        FROM embeddings, UNNEST(range(len(embedding))) AS u(i)
    ),
    a AS (
        SELECT dim, COUNT(*) AS n, SUM(v) AS sv, SUM(v * v) AS svv
        FROM d GROUP BY dim
    )
    SELECT dim, n,
        ROUND(CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6)
            AS mean,
        ROUND(CAST(n * svv - sv * sv AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                 * 1000000.0 * 1000000.0), 6) AS variance
    FROM a ORDER BY dim
"""

# X53 near-dup degree histogram (operators/dedup.py:
# neardup_degree_profile): same pair semantics as
# dedup_ngram_jaccard (min_df prunes only never-pairing shingles —
# it cannot change the pair set), degree-0 docs included.
ORACLES["neardup_degree_hist"] = f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM (
            SELECT doc_a, doc_b,
                ROUND(CAST(n_common AS DOUBLE)
                      / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
        )
        WHERE jaccard >= 0.5
    ),
    deg AS (
        SELECT id, COUNT(*) AS d
        FROM (SELECT doc_a AS id FROM pairs
              UNION ALL SELECT doc_b AS id FROM pairs)
        GROUP BY id
    )
    SELECT COALESCE(deg.d, 0) AS degree, COUNT(*) AS n_docs
    FROM documents LEFT JOIN deg ON documents.doc_id = deg.id
    GROUP BY 1 ORDER BY degree
"""


# X54 IVF-PQ ADC top-k (operators/embeddings.py:ivf_pq_topk): the
# X8 inverted-list CTEs + the X42 codebook/code CTEs + per-query
# distance tables whose cells are ordered squared-diff folds scaled
# to exact micro-integers, so the ADC sum is order-free.
ORACLES["ann_ivf_pq"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    lists AS (
        SELECT vec_id AS neighbor_id, centroid_id
        FROM ({_IVF_ASSIGN.format(src='embeddings', cents='cents')})
        WHERE probe_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, centroid_id
        FROM ({_IVF_ASSIGN.format(src='(SELECT * FROM embeddings WHERE vec_id < 5)', cents='cents')})
        WHERE probe_rank <= 2
    ),
    sel AS (
        SELECT vec_id AS code_id, embedding
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 8
    ),
    cb AS (
        SELECT s.i AS subspace, sel.code_id,
            CAST(sel.embedding[s.i * 16 + 1 : s.i * 16 + 16] AS DOUBLE[])
                AS codeword
        FROM sel, (SELECT unnest(range(0, 4)) AS i) s
    ),
    code_scored AS (
        SELECT e.vec_id, cb.subspace, cb.code_id,
            ROUND(list_reduce(list_transform(range(1, 17),
                i -> (CAST(e.embedding[cb.subspace * 16 + i] AS DOUBLE)
                      - cb.codeword[i])
                     * (CAST(e.embedding[cb.subspace * 16 + i] AS DOUBLE)
                        - cb.codeword[i])),
                (a, b) -> a + b), 6) AS dist_sq
        FROM embeddings e, cb
    ),
    codes AS (
        SELECT vec_id AS neighbor_id, subspace, code_id
        FROM (
            SELECT vec_id, subspace, code_id,
                ROW_NUMBER() OVER (
                    PARTITION BY vec_id, subspace
                    ORDER BY dist_sq ASC, code_id ASC
                ) AS rn
            FROM code_scored
        )
        WHERE rn = 1
    ),
    dtab AS (
        SELECT q.vec_id AS query_id, cb.subspace, cb.code_id,
            CAST(ROUND(list_reduce(list_transform(range(1, 17),
                i -> (CAST(q.embedding[cb.subspace * 16 + i] AS DOUBLE)
                      - cb.codeword[i])
                     * (CAST(q.embedding[cb.subspace * 16 + i] AS DOUBLE)
                        - cb.codeword[i])),
                (a, b) -> a + b) * 1000000) AS BIGINT) AS dq
        FROM (SELECT * FROM embeddings WHERE vec_id < 5) q, cb
    ),
    adc AS (
        SELECT p.query_id, l.neighbor_id, CAST(SUM(d.dq) AS BIGINT) AS adc_u
        FROM lists l
        JOIN probes p USING (centroid_id)
        JOIN codes c ON c.neighbor_id = l.neighbor_id
        JOIN dtab d ON d.query_id = p.query_id
                   AND d.subspace = c.subspace AND d.code_id = c.code_id
        WHERE l.neighbor_id <> p.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id,
        CAST(adc_u AS DOUBLE) / 1000000.0 AS adc_dist,
        CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT query_id, neighbor_id, adc_u,
            ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY adc_u ASC, neighbor_id ASC
            ) AS rank
        FROM adc
    )
    WHERE rank <= 5
"""

# X55 z-score standardization (operators/embeddings.py:
# standardize_dims): the X50 moments CTE joined back onto the long
# form; one fixed (x-mean)/sqrt(var) tree, variance-0 dims -> 0.
ORACLES["embedding_standardize"] = """
    WITH d AS (
        SELECT vec_id, CAST(i AS INTEGER) AS dim,
            CAST(embedding[i + 1] AS DOUBLE) AS val,
            CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
                AS v
        FROM embeddings, UNNEST(range(len(embedding))) AS u(i)
    ),
    a AS (
        SELECT dim, COUNT(*) AS n, SUM(v) AS sv, SUM(v * v) AS svv
        FROM d GROUP BY dim
    ),
    mo AS (
        SELECT dim,
            ROUND(CAST(sv AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6)
                AS mean,
            ROUND(CAST(n * svv - sv * sv AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * 1000000.0 * 1000000.0), 6) AS variance
        FROM a
    )
    SELECT d.vec_id, d.dim,
        CASE WHEN mo.variance = 0.0 THEN 0.0
             ELSE ROUND((d.val - mo.mean) / sqrt(mo.variance), 6) END AS zscore
    FROM d JOIN mo USING (dim)
"""

# X59 stupid-backoff trigram scoring (operators/textstats.py:
# trigram_backoff_scores): min_count=3 pruned trigram model, 0.4
# backoff as the exact 400000-ppm integer weight.
ORACLES["text_trigram_backoff"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    tri AS (
        SELECT doc_id,
            t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g3,
            t[i] || ' ' || t[i+1] AS g12,
            t[i+1] || ' ' || t[i+2] AS g23,
            t[i+1] AS w2
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    bi AS (
        SELECT t[i] || ' ' || t[i+1] AS g12
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    uni AS (SELECT u.x AS w FROM toks, UNNEST(t) AS u(x)),
    c3 AS (SELECT g3, COUNT(*) AS c FROM tri GROUP BY 1 HAVING COUNT(*) >= 3),
    cbn AS (SELECT g12, COUNT(*) AS c FROM bi GROUP BY 1),
    cu AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
    s AS (
        SELECT t.doc_id,
            CASE WHEN c3.c IS NOT NULL THEN (1000000 * c3.c) // cb.c
                 ELSE (400000 * cb23.c) // cu.c END AS s,
            CASE WHEN c3.c IS NULL THEN 1 ELSE 0 END AS bo
        FROM tri t
        LEFT JOIN c3 USING (g3)
        JOIN cbn cb ON t.g12 = cb.g12
        JOIN cbn cb23 ON t.g23 = cb23.g12
        JOIN cu ON t.w2 = cu.w
    )
    SELECT doc_id, COUNT(*) AS n_trigrams,
        CAST(SUM(bo) AS BIGINT) AS n_backoff,
        CAST(CAST(SUM(s) AS BIGINT) // COUNT(*) AS DOUBLE) / 1000000.0
            AS avg_score
    FROM s GROUP BY doc_id
"""

# X56 BM25 retrieval (operators/textstats.py:bm25_topk).  Rational
# idf variant — no libm log in the scoring path.  The per-term
# contribution is ONE fixed double expression tree on exact integers
# (identical parenthesization to the Spark column), floored to a ppm
# INTEGER so the per-(query, doc) sum is order-free.  The VALUES list
# mirrors queries.BM25_PROBES exactly.
ORACLES["bm25_retrieval"] = f"""
    WITH probes(query_id, term) AS (
        VALUES ('q1', 'spark'), ('q1', 'window'), ('q1', 'agg'),
               ('q2', 'hash'), ('q2', 'join'), ('q2', 'table'),
               ('q3', 'stream'), ('q3', 'batch'), ('q3', 'merge')
    ),
    toks AS (
        SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(len(t)) AS BIGINT) AS sumdl
        FROM toks
    ),
    tf AS (
        SELECT doc_id, u.x AS term, COUNT(*) AS tf
        FROM toks, UNNEST(t) AS u(x)
        WHERE u.x IN ('spark', 'window', 'agg', 'hash', 'join',
                      'table', 'stream', 'batch', 'merge')
        GROUP BY 1, 2
    ),
    dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    contrib AS (
        SELECT p.query_id, tf.doc_id,
            CAST(floor(1000000 * (
                ((CAST(n AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
                * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                / (tf + 1.2 * (1.0 - 0.75 + 0.75
                    * (CAST(dl.dl AS DOUBLE) * n) / sumdl))
            )) AS BIGINT) AS c
        FROM tf
        JOIN probes p USING (term)
        JOIN dfreq USING (term)
        JOIN dl ON tf.doc_id = dl.doc_id, tot
    ),
    scored AS (
        SELECT query_id, doc_id,
            CAST(SUM(c) AS BIGINT) AS ppm, COUNT(*) AS n_terms_hit
        FROM contrib GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id,
            CAST(ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY ppm DESC, doc_id
            ) AS INTEGER) AS rank,
            doc_id, n_terms_hit,
            CAST(ppm AS DOUBLE) / 1000000.0 AS score
        FROM scored
    )
    SELECT query_id, rank, doc_id, n_terms_hit, score
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
"""

# X57 BPE merge-pair induction (operators/textstats.py:
# bpe_merge_candidates): pure integer counting — word frequencies,
# then vocab-bounded adjacent-char pair explode weighted by word
# count.  range(1, length(w)) is end-exclusive (i = 1..len-1), the
# same positions Spark's sequence(1, length(w) - 1) yields.
ORACLES["bpe_merge_candidates"] = f"""
    WITH words AS (
        SELECT u.x AS w, COUNT(*) AS wc
        FROM (SELECT {_TOKS.format(col='text')} AS t FROM documents),
             UNNEST(t) AS u(x)
        GROUP BY 1
    ),
    pairs AS (
        SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wc
        FROM words, UNNEST(range(1, length(w))) AS u(i)
    ),
    counts AS (
        SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count
        FROM pairs GROUP BY 1
        HAVING CAST(SUM(wc) AS BIGINT) >= 5
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair)
            AS INTEGER) AS rank,
        pair, pair_count
    FROM counts
    ORDER BY pair_count DESC, pair
    LIMIT 20
"""

# X58 compressibility proxy (operators/textstats.py:
# compressibility_profile): per-doc distinct-bigram share, ppm
# integer divisions on exact counts; list comprehension over
# range(1, length(text)) builds the same adjacent-char 2-gram list
# Spark's transform(sequence(...)) does.
ORACLES["doc_compressibility"] = """
    WITH per AS (
        SELECT doc_id, length(text) AS n_chars,
            CASE WHEN length(text) >= 2 THEN
                [substr(text, CAST(i AS INTEGER), 2)
                 FOR i IN range(1, length(text))]
            ELSE [] END AS b
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_chars,
            CAST(len(b) AS INTEGER) AS n_bigrams,
            CAST(len(list_distinct(b)) AS INTEGER) AS distinct_bigrams
        FROM per
    )
    SELECT doc_id, n_chars, n_bigrams, distinct_bigrams,
        CAST((1000000 * distinct_bigrams) // greatest(n_bigrams, 1)
            AS DOUBLE) / 1000000.0 AS bigram_ttr,
        CAST(CASE WHEN n_bigrams = 0 THEN 0
            ELSE 1000000 - ((1000000 * distinct_bigrams)
                // greatest(n_bigrams, 1)) END
            AS DOUBLE) / 1000000.0 AS repeat_share
    FROM c ORDER BY doc_id
"""

# X60 top principal component (operators/embeddings.py:
# top_principal_component).  Same pinned computation: exact HUGEINT
# Gram sums (Spark uses DECIMAL(38,0) — both exact integers), one
# cast to double per Gram entry, then 8 power-iteration steps whose
# matvec is an index-ordered left fold (list_reduce with a prepended
# 0.0, the X46 convention) and whose normalization divides by the
# first max-|w| element.  The iteration CTEs are generated by the
# loop below so both engines run literally the same recurrence.
_PC_D = 64


def _pc_iter_cte(k: int) -> str:
    return f"""
    w{k} AS (
        SELECT j, list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
            list_transform(range(1, {_PC_D} + 1),
                i -> row[CAST(i AS INTEGER)] * u[CAST(i AS INTEGER)])),
            (a, b) -> a + b) AS w
        FROM gj, u{k - 1}
    ),
    a{k} AS (
        SELECT warr, list_transform(warr, y -> abs(y)) AS absarr
        FROM (SELECT list(w ORDER BY j) AS warr FROM w{k})
    ),
    u{k} AS (
        SELECT list_transform(warr, x -> x / warr[
            list_position(absarr, list_aggregate(absarr, 'max'))]) AS u
        FROM a{k}
    )"""


ORACLES["embedding_top_pc"] = f"""
    WITH q AS (
        SELECT list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
        FROM embeddings
    ),
    pr AS (
        SELECT CAST(ii.i AS INTEGER) - 1 AS i, CAST(jj.j AS INTEGER) - 1 AS j,
            CAST(a[CAST(ii.i AS INTEGER)] AS HUGEINT)
                * a[CAST(jj.j AS INTEGER)] AS p
        FROM q,
            UNNEST(range(1, {_PC_D} + 1)) AS ii(i),
            UNNEST(range(1, {_PC_D} + 1)) AS jj(j)
    ),
    gram AS (SELECT i, j, SUM(p) AS g FROM pr GROUP BY 1, 2),
    gj AS (
        SELECT j, list(CAST(g AS DOUBLE) / 1000000000000.0 ORDER BY i) AS row
        FROM gram GROUP BY j
    ),
    u0 AS (
        SELECT list_transform(range(1, {_PC_D} + 1),
            x -> CAST(1.0 AS DOUBLE)) AS u
    ),{",".join(_pc_iter_cte(k) for k in range(1, 9))}
    SELECT CAST(t.i AS INTEGER) - 1 AS dim,
        ROUND(u[CAST(t.i AS INTEGER)], 6) AS loading
    FROM u8, UNNEST(range(1, {_PC_D} + 1)) AS t(i)
    ORDER BY dim
"""

# X61 characteristic terms (operators/textstats.py:
# characteristic_terms): conditional lift (c_gt*T)/(Tg*f_t) as ONE
# pinned double tree on exact integer counts, rank per group with
# term-text tie-break.
ORACLES["characteristic_terms"] = f"""
    WITH tk AS (
        SELECT source AS grp, u.x AS t
        FROM (SELECT source, {_TOKS.format(col='text')} AS ts FROM documents),
             UNNEST(ts) AS u(x)
    ),
    counts AS (SELECT grp, t, COUNT(*) AS c FROM tk GROUP BY 1, 2),
    ft AS (
        SELECT t, CAST(SUM(c) AS BIGINT) AS ft FROM counts GROUP BY 1
        HAVING CAST(SUM(c) AS BIGINT) >= 10
    ),
    tg AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS tg FROM counts GROUP BY 1),
    tt AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM counts),
    scored AS (
        SELECT c.grp, c.t, c.c AS term_count,
            ROUND((CAST(c.c AS DOUBLE) * tt) / (CAST(tg.tg AS DOUBLE) * ft.ft), 6)
                AS lift
        FROM counts c JOIN ft USING (t) JOIN tg USING (grp), tt
    ),
    ranked AS (
        SELECT grp AS source,
            CAST(ROW_NUMBER() OVER (PARTITION BY grp
                ORDER BY lift DESC, t) AS INTEGER) AS rank,
            t AS term, term_count, lift
        FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 5 ORDER BY source, rank
"""

# X62 KMV distinct sketch (operators/textstats.py:
# kmv_distinct_estimate): pure-integer estimator on md5 unit hashes
# (the _UNIT convention) — (k-1)*2^32 // h_k, exact-count fallback
# when the group has fewer than k distinct hashes.
ORACLES["vocab_kmv_estimate"] = f"""
    WITH tk AS (
        SELECT DISTINCT source AS grp,
            {_UNIT.format(col='u.x')} AS h
        FROM (SELECT source, {_TOKS.format(col='text')} AS ts FROM documents),
             UNNEST(ts) AS u(x)
    ),
    kept AS (
        SELECT grp, h,
            ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS r
        FROM tk
    ),
    agg AS (
        SELECT grp, COUNT(*) AS sketch_size, CAST(MAX(h) AS BIGINT) AS kth_hash
        FROM kept WHERE r <= 64 GROUP BY grp
    )
    SELECT grp AS source, sketch_size, kth_hash,
        CAST(CASE WHEN sketch_size < 64 THEN sketch_size
            ELSE (CAST(63 AS BIGINT) * 4294967296) // kth_hash END
            AS BIGINT) AS est_distinct
    FROM agg ORDER BY source
"""

# X63 source datacard (operators/textstats.py:source_datacard):
# per-source datasheet panel — all ratios ppm integer divisions;
# quality mean via integer quarters of the X5 gate score; dominant
# language ties break on the language code.
ORACLES["source_datacard"] = f"""
    WITH q AS (
        SELECT doc_id, CAST(round(quality_score * 4) AS BIGINT) AS q4
        FROM ({ORACLES['text_quality_score']})
    ),
    base AS (
        SELECT d.source AS grp,
            md5(trim(regexp_replace(regexp_replace(lower(d.text),
                '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
            CAST(len({_TOKS.format(col='d.text')}) AS BIGINT) AS nt,
            q.q4
        FROM documents d JOIN q USING (doc_id)
    ),
    a AS (
        SELECT grp, COUNT(*) AS n_docs,
            CAST(SUM(nt) AS BIGINT) AS total_tokens,
            COUNT(DISTINCT fp) AS dfp,
            CAST(SUM(q4) AS BIGINT) AS sq4
        FROM base GROUP BY grp
    ),
    lc AS (SELECT source AS grp, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
    ls AS (SELECT grp, COUNT(*) AS n_langs FROM lc GROUP BY grp),
    tl AS (
        SELECT grp, lang AS top_lang, c AS tlc
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
                ORDER BY c DESC, lang) AS r FROM lc)
        WHERE r = 1
    )
    SELECT a.grp AS source, n_docs, total_tokens,
        CAST((1000000 * total_tokens) // n_docs AS DOUBLE) / 1000000.0
            AS mean_doc_tokens,
        CAST((1000000 * (n_docs - dfp)) // n_docs AS DOUBLE) / 1000000.0
            AS exact_dup_share,
        CAST((1000000 * sq4) // (4 * n_docs) AS DOUBLE) / 1000000.0
            AS mean_quality,
        n_langs, top_lang,
        CAST((1000000 * tlc) // n_docs AS DOUBLE) / 1000000.0
            AS top_lang_share
    FROM a JOIN ls USING (grp) JOIN tl USING (grp)
    ORDER BY source
"""

# X64 near-dup probe retrieval (operators/dedup.py:
# neardup_probe_retrieval): banded-MinHash candidate generation
# (the X2b/X2c fragments) + exact-Jaccard verification, top-5 per
# probe with cand-id tie-break. Probes mirror the query: doc_id %
# 7 = 0 (the residue is chosen so fixture near-dup clusters are
# actually probed — % 101 hit none at sf0.01).
ORACLES["neardup_probe_retrieval"] = f"""
    WITH {_SHINGLE_CTE},
    mh AS (
        SELECT doc_id,
            {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_BAND_UNION}
    ),
    probes AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0),
    cands AS (
        SELECT DISTINCT pb.doc_id AS probe_id, cb.doc_id AS cand_id
        FROM bands pb
        JOIN probes p ON pb.doc_id = p.doc_id
        JOIN bands cb ON cb.band_idx = pb.band_idx
                     AND cb.band_val = pb.band_val
                     AND cb.doc_id <> pb.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.probe_id, c.cand_id, COUNT(*) AS n_common
        FROM cands c
        JOIN sh a ON a.doc_id = c.cand_id
        JOIN sh p ON p.doc_id = c.probe_id AND p.shingle = a.shingle
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.probe_id, c.cand_id,
            CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common_shingles,
            ROUND(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                / (sp.n + sc.n - COALESCE(i.n_common, 0)), 6) AS jaccard
        FROM cands c
        LEFT JOIN inter i USING (probe_id, cand_id)
        JOIN sizes sp ON c.probe_id = sp.doc_id
        JOIN sizes sc ON c.cand_id = sc.doc_id
    ),
    ranked AS (
        SELECT probe_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
                ORDER BY jaccard DESC, cand_id) AS INTEGER) AS rank,
            cand_id AS doc_id, n_common_shingles, jaccard
        FROM scored
    )
    SELECT * FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank
"""

# X65 vocabulary growth curve (operators/textstats.py:
# vocab_growth_curve): 3-gram shingle -> first (min) doc id,
# equal-width integer id buckets, cumulative window over the
# <= n_buckets rows. Shingle unit, matching the registered query
# (unigrams saturate in the first decile on this fixture).
ORACLES["vocab_growth_curve"] = f"""
    WITH {_SHINGLE_CTE},
    first AS (
        SELECT shingle, MIN(doc_id) AS fid FROM sh GROUP BY 1
    ),
    rng AS (
        SELECT CAST(MIN(doc_id) AS BIGINT) AS lo,
               CAST(MAX(doc_id) AS BIGINT) AS hi
        FROM documents
    ),
    per AS (
        SELECT CAST(((fid - lo) * 10) // (hi - lo + 1) AS INTEGER) AS bucket,
            CAST(COUNT(*) AS BIGINT) AS new_tokens
        FROM first, rng GROUP BY 1
    ),
    cum AS (
        SELECT bucket, new_tokens,
            CAST(SUM(new_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
            CAST(SUM(new_tokens) OVER () AS BIGINT) AS alltok
        FROM per
    )
    SELECT bucket, new_tokens, cum_tokens,
        CAST((1000000 * cum_tokens) // alltok AS DOUBLE) / 1000000.0
            AS cum_share
    FROM cum ORDER BY bucket
"""

# X66 exact-substring duplication coverage (operators/dedup.py:
# substring_dup_coverage): per-(doc, 3-gram) position counts, corpus
# count via join (same value as Spark's gram-partitioned window),
# positions whose gram occurs >= 2 times anywhere, ppm share.
# Occurrence CTE deliberately NOT the DISTINCT _SHINGLE_CTE: every
# position counts, including within-doc repeats.
ORACLES["substring_dup_coverage"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents
    ),
    occ AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    pdg AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS m
        FROM occ GROUP BY 1, 2
    ),
    cg AS (SELECT g, SUM(m) AS c FROM pdg GROUP BY 1),
    dup AS (
        SELECT doc_id, CAST(SUM(m) AS BIGINT) AS dup_positions
        FROM pdg JOIN cg USING (g) WHERE c >= 2 GROUP BY 1
    ),
    tot AS (
        SELECT doc_id,
            CAST(CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END
                 AS BIGINT) AS n_positions
        FROM toks
    )
    SELECT t.doc_id, n_positions,
        COALESCE(dup_positions, CAST(0 AS BIGINT)) AS dup_positions,
        CAST((1000000 * COALESCE(dup_positions, CAST(0 AS BIGINT)))
             // GREATEST(n_positions, 1) AS DOUBLE) / 1000000.0
            AS dup_share
    FROM tot t LEFT JOIN dup USING (doc_id)
    ORDER BY t.doc_id
"""

# X67 Bloom-filter dedup gate + FP eval (operators/dedup.py:
# bloom_gate_eval): history fingerprints -> 4 md5-keyed bit
# positions mod 2048 -> distinct bit-set; incoming docs probe all 4
# positions; exact fingerprint membership grades the maybe-dups.
# Same canonical fingerprint as dedup_fingerprint (X2a).
ORACLES["dedup_bloom_gate"] = """
    WITH fp AS (
        SELECT doc_id,
            md5(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS f
        FROM documents
    ),
    hist AS (SELECT f FROM fp WHERE doc_id % 3 <> 0),
    inc AS (SELECT doc_id, f FROM fp WHERE doc_id % 2 = 0),
    bloom AS (
        SELECT DISTINCT
            CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || f), 1, 8))
                 AS BIGINT) % 2048 AS pos
        FROM hist, UNNEST([0, 1, 2, 3]) AS u(j)
    ),
    probes AS (
        SELECT doc_id,
            CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || f), 1, 8))
                 AS BIGINT) % 2048 AS pos
        FROM inc, UNNEST([0, 1, 2, 3]) AS u(j)
    ),
    hits AS (
        SELECT p.doc_id,
            CAST(SUM(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END)
                 AS INTEGER) AS bloom_hits
        FROM probes p LEFT JOIN bloom b USING (pos)
        GROUP BY 1
    ),
    exact AS (
        SELECT i.doc_id,
            (EXISTS (SELECT 1 FROM hist h WHERE h.f = i.f)) AS exact_dup
        FROM inc i
    )
    SELECT h.doc_id, bloom_hits,
        bloom_hits = 4 AS bloom_maybe_dup,
        exact_dup,
        (bloom_hits = 4 AND NOT exact_dup) AS false_positive
    FROM hits h JOIN exact USING (doc_id)
    ORDER BY h.doc_id
"""

# X68 all-but-the-top deflation (operators/embeddings.py:
# remove_top_pc): the X60 recurrence verbatim on the vec_id % 5 = 0
# subset, loadings rounded to 6 (the X60 output contract), then
# coef = round(v.u / u.u, 6) with index-ordered list_reduce folds
# and per-component round(v_i - coef*u_i, 6).
ORACLES["embedding_remove_top_pc"] = f"""
    WITH q AS (
        SELECT list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
        FROM embeddings WHERE vec_id % 5 = 0
    ),
    pr AS (
        SELECT CAST(ii.i AS INTEGER) - 1 AS i, CAST(jj.j AS INTEGER) - 1 AS j,
            CAST(a[CAST(ii.i AS INTEGER)] AS HUGEINT)
                * a[CAST(jj.j AS INTEGER)] AS p
        FROM q,
            UNNEST(range(1, {_PC_D} + 1)) AS ii(i),
            UNNEST(range(1, {_PC_D} + 1)) AS jj(j)
    ),
    gram AS (SELECT i, j, SUM(p) AS g FROM pr GROUP BY 1, 2),
    gj AS (
        SELECT j, list(CAST(g AS DOUBLE) / 1000000000000.0 ORDER BY i) AS row
        FROM gram GROUP BY j
    ),
    u0 AS (
        SELECT list_transform(range(1, {_PC_D} + 1),
            x -> CAST(1.0 AS DOUBLE)) AS u
    ),{",".join(_pc_iter_cte(k) for k in range(1, 9))},
    uro AS (
        SELECT list_transform(u, x -> ROUND(x, 6)) AS u FROM u8
    ),
    uun AS (
        SELECT u, list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
            list_transform(u, x -> x * x)), (a, b) -> a + b) AS uu
        FROM uro
    ),
    vec AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id % 5 = 0
    ),
    co AS (
        SELECT vec_id, v, u,
            ROUND(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
                list_transform(range(1, {_PC_D} + 1),
                    i -> v[CAST(i AS INTEGER)] * u[CAST(i AS INTEGER)])),
                (a, b) -> a + b) / uu, 6) AS coef
        FROM vec, uun
    )
    SELECT vec_id, CAST(t.i AS INTEGER) - 1 AS dim,
        ROUND(v[CAST(t.i AS INTEGER)] - coef * u[CAST(t.i AS INTEGER)], 6)
            AS deflated
    FROM co, UNNEST(range(1, {_PC_D} + 1)) AS t(i)
    ORDER BY vec_id, dim
"""

# X69 containment pairs (operators/dedup.py: containment_pairs):
# exact distinct-shingle intersections over pairs sharing >= 1
# shingle, containment = |A&B|/min(|A|,|B|), jaccard alongside.
ORACLES["dedup_containment"] = f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT doc_a, doc_b, n_common,
            ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
                AS jaccard,
            ROUND(CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n), 6)
                AS containment
        FROM pairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
    )
    SELECT * FROM scored WHERE containment >= 0.8
    ORDER BY doc_a, doc_b
"""

# X70 snapshot diff (operators/dedup.py: snapshot_diff): id-keyed
# full outer join of the two snapshots' X2a fingerprints, then
# fp-membership probes against the other side (added/changed probe
# new-content-in-old, removed probes old-content-in-new; unchanged
# is pinned false).
ORACLES["snapshot_diff"] = """
    WITH canon AS (
        SELECT doc_id, text,
            md5(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS f
        FROM documents
    ),
    old AS (SELECT doc_id, f FROM canon WHERE doc_id % 7 <> 0),
    base_new AS (
        SELECT doc_id,
            CASE WHEN doc_id % 11 = 0 THEN
                md5(trim(regexp_replace(regexp_replace(lower(text || ' rev2'),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
            ELSE f END AS f
        FROM canon WHERE doc_id % 5 <> 0
    ),
    moved AS (
        SELECT doc_id + 1000000 AS doc_id, f FROM canon
        WHERE doc_id % 13 = 0 AND doc_id % 7 <> 0
    ),
    new AS (SELECT * FROM base_new UNION ALL SELECT * FROM moved),
    both_side AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
            o.f AS fo, n.f AS fn,
            CASE WHEN o.f IS NULL THEN 'added'
                 WHEN n.f IS NULL THEN 'removed'
                 WHEN o.f = n.f THEN 'unchanged'
                 ELSE 'changed' END AS status,
            COALESCE(n.f, o.f) AS probe
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT b.doc_id, b.status,
        CASE WHEN b.status = 'removed' THEN
            EXISTS (SELECT 1 FROM new x WHERE x.f = b.probe)
        ELSE
            EXISTS (SELECT 1 FROM old x WHERE x.f = b.probe)
            AND b.status <> 'unchanged'
        END AS content_elsewhere
    FROM both_side b
    ORDER BY b.doc_id
"""

# X72 IVF serving-shard plan (operators/similarity.py:
# index_shard_plan): _IVF_CENTS/_IVF_ASSIGN list sizes, rank by
# (size DESC, centroid_id), snake deal onto 3 shards, per-shard
# totals via window.
ORACLES["ann_index_shard_plan"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    lists AS (
        SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM ({_IVF_ASSIGN.format(src='embeddings', cents='cents')})
        WHERE probe_rank = 1
        GROUP BY 1
    ),
    ranked AS (
        SELECT centroid_id, n_vectors,
            CAST(ROW_NUMBER() OVER (
                ORDER BY n_vectors DESC, centroid_id) - 1 AS INTEGER)
                AS rank
        FROM lists
    ),
    dealt AS (
        SELECT centroid_id, n_vectors, rank,
            CAST(CASE WHEN (rank // 3) % 2 = 0 THEN rank % 3
                 ELSE 2 - (rank % 3) END AS INTEGER) AS shard
        FROM ranked
    )
    SELECT centroid_id, n_vectors, rank, shard,
        CAST(SUM(n_vectors) OVER (PARTITION BY shard) AS BIGINT)
            AS shard_total_vectors
    FROM dealt ORDER BY rank
"""

# X73 MRR eval (operators/similarity.py: retrieval_mrr_eval): exact
# NN via brute force (rank 1), IVF@5 nprobe=1 found-rank, reciprocal
# rank and corpus MRR as ppm integer divisions (order-free).
ORACLES["ann_mrr_eval"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    lists AS (
        SELECT vec_id AS neighbor_id, embedding AS cv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='embeddings', cents='cents')})
        WHERE probe_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS qv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='(SELECT * FROM embeddings WHERE vec_id < 12)', cents='cents')})
        WHERE probe_rank <= 1
    ),
    ivf AS (
        SELECT query_id, neighbor_id, rank
        FROM (
            SELECT query_id, neighbor_id,
                CAST(ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
                ) AS INTEGER) AS rank
            FROM (
                SELECT p.query_id, l.neighbor_id,
                    ROUND(list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                                                 CAST(l.cv AS DOUBLE[])), 6)
                        AS cos_sim
                FROM lists l JOIN probes p USING (centroid_id)
                WHERE l.neighbor_id <> p.query_id
            )
        )
        WHERE rank <= 5
    ),
    bf1 AS (
        SELECT query_id, neighbor_id AS true_neighbor
        FROM (
            SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
                ) AS rank
            FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                 CAST(q.embedding AS DOUBLE[])), 6)
                        AS cos_sim
                FROM embeddings e,
                     (SELECT * FROM embeddings WHERE vec_id < 12) q
                WHERE e.vec_id <> q.vec_id
            )
        )
        WHERE rank = 1
    ),
    per AS (
        SELECT b.query_id, b.true_neighbor,
            CAST(COALESCE(i.rank, 0) AS INTEGER) AS found_rank,
            CASE WHEN i.rank IS NULL THEN CAST(0 AS BIGINT)
                 ELSE 1000000 // i.rank END AS rr_ppm
        FROM bf1 b
        LEFT JOIN ivf i ON i.query_id = b.query_id
                       AND i.neighbor_id = b.true_neighbor
    )
    SELECT query_id, true_neighbor, found_rank,
        CAST(rr_ppm AS DOUBLE) / 1000000.0 AS reciprocal_rank,
        CAST((SELECT SUM(rr_ppm) // COUNT(*) FROM per) AS DOUBLE)
            / 1000000.0 AS mrr
    FROM per ORDER BY query_id
"""

# X74 b-bit minwise eval (operators/dedup.py: bbit_minhash_eval):
# per-doc k=24 MinHash components (the X2b seed family), low-2-bit
# compression from the last hex char, collision count via an ordered
# fold, estimator (c*4 - 24)*1e6 // 72 clamped at 0, exact Jaccard
# alongside from the same pair CTE as dedup_containment.
_BBIT_K = 24
_BBIT_MHS = ", ".join(
    f"MIN(md5('{j}|' || shingle)) AS mh{j}" for j in range(1, _BBIT_K + 1)
)
_BBIT_ARR = ", ".join(
    f"CAST(('0x' || substr(mh{j}, 32, 1)) AS INTEGER) % 4"
    for j in range(1, _BBIT_K + 1)
)
ORACLES["dedup_bbit_minhash"] = f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sig AS (SELECT doc_id, {_BBIT_MHS} FROM sh GROUP BY doc_id),
    bits AS (SELECT doc_id, [{_BBIT_ARR}] AS barr FROM sig),
    coll AS (
        SELECT p.doc_a, p.doc_b, p.n_common, sa.n AS na, sb.n AS nb,
            list_reduce(list_concat([CAST(0 AS BIGINT)],
                list_transform(range(1, {_BBIT_K} + 1),
                    i -> CASE WHEN ba.barr[CAST(i AS INTEGER)]
                              = bb.barr[CAST(i AS INTEGER)]
                         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
                (a, e) -> a + e) AS c
        FROM pairs p
        JOIN bits ba ON p.doc_a = ba.doc_id
        JOIN bits bb ON p.doc_b = bb.doc_id
        JOIN sizes sa ON p.doc_a = sa.doc_id
        JOIN sizes sb ON p.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, CAST(c AS INTEGER) AS n_collisions,
        ROUND(CAST(n_common AS DOUBLE) / (na + nb - n_common), 6) AS jaccard,
        CAST(GREATEST(CAST(0 AS BIGINT),
            ((c * 4 - {_BBIT_K}) * 1000000) // ({_BBIT_K} * 3))
            AS DOUBLE) / 1000000.0 AS est_jaccard
    FROM coll ORDER BY doc_a, doc_b
"""

# X75 SimHash hamming pairs (operators/dedup.py:
# simhash_hamming_pairs): the dedup_simhash fingerprint CTE, 4-bit
# block bucketing (pigeonhole recall for hamming <= 3), exact
# bit_count(xor) filter. Same tokenizer + vote convention.
ORACLES["dedup_simhash_pairs"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    hs AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) AS h FROM tk),
    v AS (
        SELECT doc_id,
            {_V_COLS}
        FROM hs GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, CAST({_SIM_SUM} AS INTEGER) AS simhash FROM v),
    blocks AS (
        SELECT doc_id, simhash, b.i AS block_idx,
            (simhash // CAST(pow(2, 4 * b.i) AS INTEGER)) % 16 AS block_val
        FROM fp, UNNEST([0, 1, 2, 3]) AS b(i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
            a.simhash AS fa, b.simhash AS fb
        FROM blocks a JOIN blocks b
            ON a.block_idx = b.block_idx AND a.block_val = b.block_val
        WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
        CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(fa, fb)) <= 1
    ORDER BY doc_a, doc_b
"""

# X76 magic-byte sniffing (operators/multimodal.py:
# sniff_payload_format): same deterministic magic-prefixed payloads,
# classification via hex-prefix compare (DuckDB cannot slice BLOBs;
# both engines hex identically).
ORACLES["multimodal_sniff_format"] = """
    WITH pay AS (
        SELECT doc_id,
            (CASE doc_id % 4
                WHEN 0 THEN from_hex('89504E470D0A1A0A')
                WHEN 1 THEN from_hex('FFD8FFE0')
                WHEN 2 THEN from_hex('52494646')
                ELSE from_hex('') END) || encode(text) AS payload
        FROM documents
    )
    SELECT doc_id,
        CASE
            WHEN starts_with(upper(hex(payload)), '89504E47')
                THEN 'image/png'
            WHEN starts_with(upper(hex(payload)), 'FFD8FF')
                THEN 'image/jpeg'
            WHEN starts_with(upper(hex(payload)), '52494646')
                THEN 'audio/x-riff'
            ELSE 'application/octet-stream'
        END AS mime_sniffed,
        CAST(octet_length(payload) AS BIGINT) AS n_bytes
    FROM pay ORDER BY doc_id
"""

# X77 LSH parameter plan (operators/dedup.py: lsh_parameter_plan):
# the X74 estimate CTE feeds per-split S-curve survival
# 1-(1-j^r)^b as EXPLICIT multiplication chains (identical text to
# the Spark expression; no libm pow), ppm-rounded per pair before
# the integer mean.


def _x77_chain(expr, n):
    out = expr
    for _ in range(n - 1):
        out = f"({out} * {expr})"
    return out


def _x77_split(bands, rows):
    jr = _x77_chain("j", rows)
    surv = f"(1.0 - {_x77_chain(f'(1.0 - {jr})', bands)})"
    return f"""
    SELECT bands, rows_per_band, n_dup_pairs, n_noise_pairs,
        CAST(CASE WHEN n_dup_pairs = 0 THEN 0
             ELSE ds // n_dup_pairs END AS DOUBLE) / 1000000.0
            AS dup_recall,
        CAST(CASE WHEN n_noise_pairs = 0 THEN 0
             ELSE ns // n_noise_pairs END AS DOUBLE) / 1000000.0
            AS noise_passrate
    FROM (
        SELECT CAST({bands} AS INTEGER) AS bands,
            CAST({rows} AS INTEGER) AS rows_per_band,
            CAST(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_dup_pairs,
            CAST(SUM(CASE WHEN j < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_noise_pairs,
            CAST(SUM(CASE WHEN j >= 0.5 THEN
                CAST(round(1000000 * {surv}) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS ds,
            CAST(SUM(CASE WHEN j < 0.5 THEN
                CAST(round(1000000 * {surv}) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS ns
        FROM est
    )"""


ORACLES["dedup_lsh_plan"] = (
    "WITH est AS (SELECT est_jaccard AS j FROM ("
    + ORACLES["dedup_bbit_minhash"].replace("ORDER BY doc_a, doc_b", "")
    + "))\n"
    + "\nUNION ALL\n".join(
        _x77_split(b, 24 // b) for b in range(1, 25) if 24 % b == 0
    )
    + "\nORDER BY bands"
)

# X78 integer-ppm PageRank (operators/graph.py: pagerank_ppm):
# symmetrized X2d jaccard>=0.5 edges, 8 unrolled damped rounds of
# the exact integer recurrence 150000 + (85 * SUM(p // deg)) // 100
# (order-free integer sums — no float accumulation in either
# engine).


def _x78_round(k):
    return f"""
    p{k} AS (
        SELECT dst AS node,
            CAST(150000 + (85 * SUM(p // deg)) // 100 AS BIGINT) AS p
        FROM sym JOIN p{k - 1} ON sym.src = p{k - 1}.node
        JOIN deg USING (src)
        GROUP BY dst
    )"""


ORACLES["neardup_pagerank"] = (
    "WITH ej AS (SELECT doc_a, doc_b FROM ("
    + ORACLES["dedup_ngram_jaccard"]
    + """)),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM ej
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM ej
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
    p0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS p FROM deg),"""
    + ",".join(_x78_round(k) for k in range(1, 9))
    + """
    SELECT node, CAST(p AS DOUBLE) / 1000000.0 AS pagerank
    FROM p8 ORDER BY node
"""
)

# X79 license propagation (operators/dedup.py: license_propagation):
# dedup_clusters labels + deterministic doc_id%4 tags, integer
# strictness rank (proprietary=0 < cc-by=1 < apache-2.0=2 < mit=3),
# per-cluster MIN rank inverted back to the license name.
ORACLES["license_propagation"] = (
    "WITH clusters AS (SELECT doc_id, cluster_id FROM ("
    + ORACLES["dedup_clusters"]
    + """)),
    lic AS (
        SELECT doc_id,
            CASE doc_id % 4 WHEN 0 THEN 'proprietary'
                WHEN 1 THEN 'cc-by' WHEN 2 THEN 'mit'
                ELSE 'apache-2.0' END AS license
        FROM documents
    ),
    tagged AS (
        SELECT c.doc_id, c.cluster_id, l.license,
            CASE l.license WHEN 'proprietary' THEN 0 WHEN 'cc-by' THEN 1
                WHEN 'apache-2.0' THEN 2 WHEN 'mit' THEN 3
                ELSE -1 END AS r
        FROM clusters c JOIN lic l USING (doc_id)
    ),
    strict AS (
        SELECT cluster_id, CAST(MIN(r) AS INTEGER) AS minrank
        FROM tagged GROUP BY 1
    )
    SELECT t.doc_id, t.cluster_id, t.license,
        CASE s.minrank WHEN 0 THEN 'proprietary' WHEN 1 THEN 'cc-by'
            WHEN 2 THEN 'apache-2.0' WHEN 3 THEN 'mit'
            ELSE 'unknown' END AS effective_license,
        t.r > s.minrank AS escalated
    FROM tagged t JOIN strict s USING (cluster_id)
    ORDER BY t.doc_id
"""
)

# X80 embedding health audit (operators/embeddings.py:
# embedding_health_audit): same deterministic corruption (NaN dim 0
# of vec 0, truncation of vec 1, zeroed vec 2), counters + exact
# quantized norm stats over clean rows.
ORACLES["embedding_health_audit"] = """
    WITH corrupted AS (
        SELECT vec_id,
            CASE WHEN vec_id = 0 THEN
                list_concat([CAST('NaN' AS FLOAT)], embedding[2:])
            WHEN vec_id = 1 THEN embedding[1:3]
            WHEN vec_id = 2 THEN
                list_transform(embedding, x -> CAST(0.0 AS FLOAT))
            ELSE embedding END AS v
        FROM embeddings
    ),
    checks AS (
        SELECT
            len(v) <> 64 AS mis,
            len(list_filter(v, x -> isnan(CAST(x AS DOUBLE)))) > 0 AS nn,
            len(list_filter(v, x -> isinf(CAST(x AS DOUBLE)))) > 0 AS inf,
            len(list_filter(v, x -> CAST(x AS DOUBLE) <> 0.0)) = 0 AS zer,
            -- DuckDB raises on CAST(NaN AS BIGINT) where Spark nulls,
            -- so quantize only rows that pass the NaN/Inf checks
            CASE WHEN nn OR inf THEN NULL ELSE
                list_reduce(list_concat([CAST(0 AS BIGINT)],
                    list_transform(v, x ->
                        CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))),
                    (a, q) -> a + q * q) END AS nsq
        FROM corrupted
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        CAST(SUM(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dim_mismatch,
        CAST(SUM(CASE WHEN nn THEN 1 ELSE 0 END) AS BIGINT) AS n_with_nan,
        CAST(SUM(CASE WHEN inf THEN 1 ELSE 0 END) AS BIGINT) AS n_with_inf,
        CAST(SUM(CASE WHEN zer THEN 1 ELSE 0 END) AS BIGINT)
            AS n_zero_vectors,
        MIN(CASE WHEN NOT mis AND NOT nn AND NOT inf THEN nsq END)
            AS min_norm_sq_q,
        MAX(CASE WHEN NOT mis AND NOT nn AND NOT inf THEN nsq END)
            AS max_norm_sq_q,
        -- r8 post-mortem: SUM(BIGINT) is HUGEINT in DuckDB, and the
        -- driver's pandas materialization degrades HUGEINT to
        -- float64 (997991955456 -> 997991955456.0), flipping the
        -- canonical string vs Spark's int.  CAST back to BIGINT so
        -- the hashed surface stays in the proven-portable type set.
        CAST(CASE WHEN COUNT(CASE WHEN NOT mis AND NOT nn AND NOT inf
                        THEN 1 END) = 0 THEN NULL
            ELSE SUM(CASE WHEN NOT mis AND NOT nn AND NOT inf
                     THEN nsq END)
                 // COUNT(CASE WHEN NOT mis AND NOT nn AND NOT inf
                          THEN 1 END) END AS BIGINT) AS mean_norm_sq_q
    FROM checks
"""

# X81 exact-integer PR curve (operators/textstats.py: pr_curve):
# X41 mean_weight scores vs the lang='en' pseudo-label, 1/1000
# threshold lattice, cumulative-from-top integer counts, ppm ratios.
ORACLES["classifier_pr_curve"] = (
    "WITH scored AS (SELECT doc_id, mean_weight FROM ("
    + ORACLES["classifier_hashed_logit"].replace("ORDER BY doc_id", "")
    + """)),
    lab AS (
        SELECT doc_id, CAST(lang = 'en' AS INTEGER) AS y FROM documents
    ),
    b AS (
        SELECT CAST(round(mean_weight * 1000) AS BIGINT) AS bucket, y
        FROM scored JOIN lab USING (doc_id)
    ),
    agg AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(y) AS BIGINT) AS n_pos
        FROM b GROUP BY 1
    ),
    cur AS (
        SELECT bucket,
            CAST(SUM(n) OVER (ORDER BY bucket DESC) AS BIGINT) AS n_kept,
            CAST(SUM(n_pos) OVER (ORDER BY bucket DESC) AS BIGINT)
                AS n_true_pos,
            CAST(SUM(n_pos) OVER () AS BIGINT) AS all_pos
        FROM agg
    )
    SELECT CAST(bucket AS DOUBLE) / 1000 AS threshold, n_kept, n_true_pos,
        CAST((1000000 * n_true_pos) // n_kept AS DOUBLE) / 1000000.0
            AS precision,
        CAST(CASE WHEN all_pos = 0 THEN 0
             ELSE (1000000 * n_true_pos) // all_pos END AS DOUBLE)
            / 1000000.0 AS recall
    FROM cur ORDER BY threshold DESC
"""
)

# X82 cluster density audit (operators/dedup.py:
# cluster_density_audit): dedup_clusters labels + dedup_ngram_jaccard
# edges, per-cluster edge counts vs n(n-1)/2.
ORACLES["dedup_cluster_density"] = (
    "WITH clusters AS (SELECT doc_id, cluster_id FROM ("
    + ORACLES["dedup_clusters"]
    + ")), ej AS (SELECT doc_a FROM ("
    + ORACLES["dedup_ngram_jaccard"]
    + """)),
    sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM clusters GROUP BY 1 HAVING COUNT(*) >= 2
    ),
    ecount AS (
        SELECT c.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_edges
        FROM ej JOIN clusters c ON ej.doc_a = c.doc_id
        GROUP BY 1
    )
    SELECT s.cluster_id, s.n_members,
        COALESCE(e.n_edges, CAST(0 AS BIGINT)) AS n_edges,
        CAST((1000000 * 2 * COALESCE(e.n_edges, 0))
             // (s.n_members * (s.n_members - 1)) AS DOUBLE)
            / 1000000.0 AS density,
        COALESCE(e.n_edges, 0)
            = (s.n_members * (s.n_members - 1)) // 2 AS is_clique
    FROM sizes s LEFT JOIN ecount e USING (cluster_id)
    ORDER BY s.cluster_id
"""
)

# X83 Count-Min heavy hitters (operators/textstats.py:
# cms_heavy_hitters_eval): 3x256 sketch from the same md5 bucket
# family, min-over-rows estimates for the top-50 exact tokens.
ORACLES["cms_heavy_hitters"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents
    ),
    occ AS (SELECT unnest(t) AS tok FROM toks),
    sk AS (
        SELECT u.j,
            CAST(('0x' || substr(md5(CAST(u.j AS VARCHAR) || '|' || tok),
                1, 8)) AS BIGINT) % 256 AS bucket,
            CAST(COUNT(*) AS BIGINT) AS c
        FROM occ, UNNEST([1, 2, 3]) AS u(j)
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS ec FROM occ GROUP BY 1
    ),
    probes AS (
        SELECT tok, ec FROM (
            SELECT tok, ec,
                ROW_NUMBER() OVER (ORDER BY ec DESC, tok) AS r
            FROM exact
        ) WHERE r <= 50
    )
    SELECT p.tok, p.ec AS exact_count,
        CAST(MIN(s.c) AS BIGINT) AS cms_estimate,
        CAST(MIN(s.c) - p.ec AS BIGINT) AS overcount
    FROM probes p
    CROSS JOIN UNNEST([1, 2, 3]) AS u(j)
    JOIN sk s ON s.j = u.j AND s.bucket =
        CAST(('0x' || substr(md5(CAST(u.j AS VARCHAR) || '|' || p.tok),
            1, 8)) AS BIGINT) % 256
    GROUP BY 1, 2
    ORDER BY p.tok
"""

# X84 sorted-neighborhood pairs (operators/dedup.py:
# sorted_neighborhood_pairs): canonical-key sort order, lead(1..3)
# neighbors, exact distinct-3-gram Jaccard via list_intersect;
# empty-shingle docs join with empty lists (jaccard 0).
ORACLES["dedup_sorted_neighborhood"] = f"""
    WITH keyed AS (
        SELECT doc_id,
            trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS k
        FROM documents
    ),
    leads AS (
        SELECT doc_id,
            lead(doc_id, 1) OVER (ORDER BY k, doc_id) AS n1,
            lead(doc_id, 2) OVER (ORDER BY k, doc_id) AS n2,
            lead(doc_id, 3) OVER (ORDER BY k, doc_id) AS n3
        FROM keyed
    ),
    pairs AS (
        SELECT LEAST(doc_id, n1) AS doc_a, GREATEST(doc_id, n1) AS doc_b,
            CAST(1 AS INTEGER) AS sort_gap FROM leads WHERE n1 IS NOT NULL
        UNION ALL
        SELECT LEAST(doc_id, n2), GREATEST(doc_id, n2), 2
        FROM leads WHERE n2 IS NOT NULL
        UNION ALL
        SELECT LEAST(doc_id, n3), GREATEST(doc_id, n3), 3
        FROM leads WHERE n3 IS NOT NULL
    ),
    toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    shl AS (
        SELECT t.doc_id,
            COALESCE(s.lst, []) AS lst
        FROM toks t LEFT JOIN (
            SELECT doc_id, list(DISTINCT shingle) AS lst
            FROM (
                SELECT doc_id,
                    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
            ) GROUP BY doc_id
        ) s USING (doc_id)
    )
    SELECT p.doc_a, p.doc_b, p.sort_gap,
        CASE WHEN len(sa.lst) + len(sb.lst) > 0 THEN
            ROUND(CAST(len(list_intersect(sa.lst, sb.lst)) AS DOUBLE)
                / (len(sa.lst) + len(sb.lst)
                   - len(list_intersect(sa.lst, sb.lst))), 6)
        ELSE 0.0 END AS jaccard
    FROM pairs p
    JOIN shl sa ON p.doc_a = sa.doc_id
    JOIN shl sb ON p.doc_b = sb.doc_id
    ORDER BY p.doc_a, p.doc_b, p.sort_gap
"""

# X85 PR-AUC (operators/textstats.py: pr_auc): exact-integer
# trapezoid over the X81 curve in (recall, precision) ppm order;
# zero-width segments (recall ties) contribute nothing, the flat
# anchor extends the strictest point to recall 0.
ORACLES["classifier_pr_auc"] = (
    "WITH curve AS (SELECT recall, precision FROM ("
    + ORACLES["classifier_pr_curve"].replace(
        "ORDER BY threshold DESC", ""
    )
    + """)),
    pts AS (
        SELECT CAST(round(recall * 1000000) AS BIGINT) AS r,
            CAST(round(precision * 1000000) AS BIGINT) AS p
        FROM curve
    ),
    seg AS (
        SELECT (r - lag(r, 1, CAST(0 AS BIGINT))
                OVER (ORDER BY r, p DESC))
            * (COALESCE(lag(p, 1) OVER (ORDER BY r, p DESC), p) + p)
            AS term
        FROM pts
    )
    SELECT CAST(SUM(term) AS DOUBLE) / 2000000000000.0 AS pr_auc
    FROM seg
"""
)

# X86 prefix-filtered join (operators/dedup.py:
# prefix_filter_jaccard_join): by the prefix-filter THEOREM the
# result set equals the any-shared-shingle join at the same
# threshold (the Spark-side unit test pins the algorithmic
# equivalence; tests/test_round8b_ops.py::
# test_prefix_filter_equals_full_blocking), so the oracle is the
# X2d jaccard SQL — the ground truth both algorithms must produce.
ORACLES["dedup_prefix_filter_join"] = (
    "SELECT doc_a, doc_b, jaccard FROM ("
    + ORACLES["dedup_ngram_jaccard"]
    + ") ORDER BY doc_a, doc_b"
)

# X87 canary leak scan (operators/textstats.py: canary_scan):
# exact-substring occurrence accounting via the length-difference
# identity; zero-hit canaries keep their row (clean-audit artifact).
ORACLES["canary_leak_scan"] = """
    WITH cans AS (
        SELECT * FROM (VALUES ('table table'), ('fast key'),
                              ('zzz-canary-7f3a')) t(canary)
    ),
    hits AS (
        SELECT c.canary, d.doc_id,
            (length(d.text) - length(replace(d.text, c.canary, '')))
                // length(c.canary) AS occ
        FROM documents d, cans c
    )
    SELECT canary,
        CAST(SUM(CASE WHEN occ > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
        CAST(SUM(occ) AS BIGINT) AS n_occurrences,
        MIN(CASE WHEN occ > 0 THEN doc_id END) AS first_doc_id
    FROM hits GROUP BY canary ORDER BY canary
"""

# X88 priority sampling (operators/sampling.py: priority_sample):
# q = (w * 2^32) // (h+1) exact integers; (q desc, doc_id asc) total
# order; threshold = (k+1)-th priority (0 when the corpus fits);
# HT estimate = max(w, threshold).
ORACLES["priority_sample_docs"] = f"""
    WITH keyed AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
            (CAST(n_chars AS BIGINT) * 4294967296)
                // ({_UNIT.format(col='doc_id')} + 1) AS priority
        FROM documents
    ),
    top_k1 AS (
        SELECT * FROM keyed ORDER BY priority DESC, doc_id ASC LIMIT 33
    ),
    tau AS (
        SELECT CAST(CASE WHEN COUNT(*) = 33 THEN MIN(priority)
                    ELSE 0 END AS BIGINT) AS threshold
        FROM top_k1
    )
    SELECT doc_id, weight, priority, threshold,
        GREATEST(weight, threshold) AS est_weight
    FROM (SELECT * FROM keyed ORDER BY priority DESC, doc_id ASC LIMIT 32),
        tau
    ORDER BY doc_id
"""

# X89 pairless LSH-bucket clustering (operators/graph.py:
# hyperedge_components): the oracle walks the CLIQUE edges of the
# same band buckets (components of star expansion == components of
# clique expansion — the operator-side test pins the algorithmic
# equivalence; here the ground truth is the component structure
# itself, reachability labels via recursive walk).
ORACLES["dedup_lsh_clusters_star"] = f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    mh AS (
        SELECT doc_id,
            {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_BAND_UNION}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk AS (
        SELECT doc_id AS node, doc_id AS reach FROM documents
        UNION
        SELECT w.node, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a
    )
    SELECT node AS doc_id, MIN(reach) AS cluster_id,
        node = MIN(reach) AS keep
    FROM walk GROUP BY node ORDER BY node
"""

# X90 k-anonymity audit (operators/scrub.py: k_anonymity_audit):
# one hash aggregate over the quasi-identifier combo; anonymous =
# combo count >= k (k=10 in the registered query).
ORACLES["events_k_anonymity"] = """
    SELECT event_type,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        COUNT(*) >= 10 AS anonymous
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, prop_k
"""

# X91 Cohen's kappa agreement (operators/textstats.py:
# agreement_kappa): kappa = (N*trace - pe_num)/(N^2 - pe_num) from
# exact confusion-cell BIGINTs; one double division rounded 1e-6.
ORACLES["classifier_agreement_kappa"] = (
    """
    WITH scored AS (SELECT * FROM ("""
    + ORACLES["classifier_hashed_logit"].replace("ORDER BY doc_id", "")
    + """)),
    pl AS (
        SELECT CAST(s.pred_keep AS INTEGER) AS p,
            CAST(d.lang = 'en' AS INTEGER) AS l
        FROM scored s JOIN documents d USING (doc_id)
    ),
    cells AS (
        SELECT CAST(p AS VARCHAR) AS p, CAST(l AS VARCHAR) AS l,
            CAST(COUNT(*) AS BIGINT) AS c
        FROM pl GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN p = l THEN c ELSE 0 END) AS BIGINT) AS trace
        FROM cells
    ),
    mr AS (SELECT p, CAST(SUM(c) AS BIGINT) AS r FROM cells GROUP BY p),
    mc AS (SELECT l, CAST(SUM(c) AS BIGINT) AS cc FROM cells GROUP BY l),
    pe AS (
        SELECT CAST(COALESCE(SUM(r * cc), 0) AS BIGINT) AS pe_num
        FROM mr JOIN mc ON mr.p = mc.l
    ),
    ncl AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_classes
        FROM (SELECT p AS cls FROM cells UNION SELECT l FROM cells)
    )
    SELECT n, n_classes,
        (1000000 * trace) // n AS accuracy_ppm,
        (1000000 * pe_num) // (n * n) AS chance_ppm,
        CASE WHEN n * n - pe_num != 0
             THEN ROUND(CAST(n * trace - pe_num AS DOUBLE)
                        / CAST(n * n - pe_num AS DOUBLE), 6)
        END AS kappa
    FROM tot, pe, ncl
"""
)

# X92 UniMax allocation (operators/sampling.py: unimax_allocation):
# exact integer water-filling in (capacity asc, source) order —
# saturated iff cap_i*(n-i+1)+pfx_i <= B (saturated sources are a
# prefix of the order by monotonicity); unsaturated sources split
# the remainder evenly, +1 apiece for the first (left mod m).
ORACLES["unimax_budget_allocation"] = f"""
    WITH per_doc AS (
        SELECT source, len({_TOKS.format(col='text')}) AS n_toks
        FROM documents
    ),
    sizes AS (
        SELECT source, CAST(SUM(n_toks) AS BIGINT) AS tokens
        FROM per_doc GROUP BY source
    ),
    capped AS (
        SELECT source, tokens, CAST(4 * tokens AS BIGINT) AS capacity
        FROM sizes
    ),
    ranked AS (
        SELECT source, tokens, capacity,
            ROW_NUMBER() OVER (ORDER BY capacity, source) AS i,
            CAST(COALESCE(SUM(capacity) OVER (
                ORDER BY capacity, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0) AS BIGINT) AS pfx,
            CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM capped
    ),
    marked AS (
        SELECT *, capacity * (n - i + 1) + pfx <= 100000 AS saturated
        FROM ranked
    ),
    sat AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN saturated THEN capacity END), 0)
                    AS BIGINT) AS sat_total,
            CAST(COALESCE(SUM(CASE WHEN saturated THEN 1 END), 0)
                    AS BIGINT) AS sat_n
        FROM marked
    )
    SELECT source, tokens, capacity,
        CAST(CASE WHEN saturated THEN capacity
             ELSE (100000 - sat_total) // (n - sat_n)
                  + CASE WHEN i - sat_n <= (100000 - sat_total) % (n - sat_n)
                         THEN 1 ELSE 0 END
        END AS BIGINT) AS allocation,
        saturated,
        CAST(1000000 * (CASE WHEN saturated THEN capacity
             ELSE (100000 - sat_total) // (n - sat_n)
                  + CASE WHEN i - sat_n <= (100000 - sat_total) % (n - sat_n)
                         THEN 1 ELSE 0 END
        END) // tokens AS BIGINT) AS epochs_ppm
    FROM marked, sat
    ORDER BY source
"""

# X93 cluster label purity (operators/embeddings.py:
# cluster_label_purity): majority = (count desc, label string asc)
# tie-break; purity = 1e6 * majority_n // n exact integer.
ORACLES["ivf_cluster_purity"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    assigned AS (
        SELECT a.vec_id, a.centroid_id, e.label
        FROM ({_IVF_ASSIGN.format(src='embeddings', cents='cents')}) a
        JOIN embeddings e USING (vec_id)
        WHERE a.probe_rank = 1
    ),
    cells AS (
        SELECT centroid_id AS cluster, CAST(label AS VARCHAR) AS lab,
            CAST(COUNT(*) AS BIGINT) AS c
        FROM assigned GROUP BY 1, 2
    ),
    tot AS (
        SELECT cluster, CAST(SUM(c) AS BIGINT) AS n_members,
            CAST(COUNT(*) AS BIGINT) AS n_labels
        FROM cells GROUP BY cluster
    ),
    maj AS (
        SELECT cluster, lab AS majority_label, c AS majority_n
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY cluster ORDER BY c DESC, lab ASC
            ) AS rk
            FROM cells
        ) WHERE rk = 1
    )
    SELECT cluster, n_members, n_labels, majority_label, majority_n,
        (1000000 * majority_n) // n_members AS purity_ppm
    FROM tot JOIN maj USING (cluster)
    ORDER BY cluster
"""

# X94 cluster radius audit (operators/graph.py: cluster_hops): BFS
# level via a depth-tracked recursive walk (bounded depth; min depth
# per (node, reach) pair is the shortest path), root = min reachable
# id; per-cluster radius/mean over clusters with >= 2 members.
ORACLES["dedup_cluster_radius"] = f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM (
            SELECT doc_a, doc_b,
                ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6)
                    AS jaccard
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
        )
        WHERE jaccard >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk AS (
        SELECT doc_id AS node, doc_id AS reach, 0 AS d FROM documents
        UNION
        SELECT w.node, e.b AS reach, w.d + 1 AS d
        FROM walk w JOIN edges e ON w.reach = e.a
        WHERE w.d < 20
    ),
    roots AS (
        SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY node
    ),
    hops AS (
        SELECT r.node, r.cluster_id, MIN(w.d) AS hops
        FROM roots r
        JOIN walk w ON w.node = r.node AND w.reach = r.cluster_id
        GROUP BY r.node, r.cluster_id
    )
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
        CAST(MAX(hops) AS BIGINT) AS radius,
        (1000000 * CAST(SUM(hops) AS BIGINT)) // COUNT(*) AS mean_hops_ppm
    FROM hops GROUP BY cluster_id HAVING COUNT(*) > 1
    ORDER BY cluster_id
"""

# X95 robust outlier gate (operators/textstats.py:
# robust_outlier_panel): lower median at rank (n+1)//2 in
# (value, id) order; MAD = lower median of |x - med|; outlier iff
# 10000*|x - med| > 44478*MAD.
ORACLES["length_outliers_robust"] = """
    WITH base AS (
        SELECT source AS grp, CAST(n_chars AS BIGINT) AS v, doc_id AS rid
        FROM documents
    ),
    med AS (
        SELECT grp, v AS median
        FROM (
            SELECT grp, v,
                ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, rid) AS rk,
                COUNT(*) OVER (PARTITION BY grp) AS n
            FROM base
        ) WHERE rk = (n + 1) // 2
    ),
    dev AS (
        SELECT b.grp, b.v, b.rid, m.median, ABS(b.v - m.median) AS ad
        FROM base b JOIN med m USING (grp)
    ),
    mad AS (
        SELECT grp, ad AS mad
        FROM (
            SELECT grp, ad,
                ROW_NUMBER() OVER (PARTITION BY grp ORDER BY ad, rid) AS rk,
                COUNT(*) OVER (PARTITION BY grp) AS n
            FROM dev
        ) WHERE rk = (n + 1) // 2
    )
    SELECT d.grp AS source, d.median, x.mad,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN 10000 * d.ad > 44478 * x.mad
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        (1000000 * CAST(SUM(CASE WHEN 10000 * d.ad > 44478 * x.mad
                        THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*)
            AS outlier_ppm
    FROM dev d JOIN mad x USING (grp)
    GROUP BY d.grp, d.median, x.mad
    ORDER BY d.grp
"""

# X96 within-doc block dedup (operators/dedup.py:
# within_doc_block_dedup): 8-token non-overlapping blocks (empty
# tokens filtered, short tail kept), first occurrence of each block
# value survives in place.  Keep-first is MIN(position) per value +
# ordered string_agg — the relational twin of Spark's indexed
# array_position filter.
ORACLES["dedup_within_doc_blocks"] = f"""
    WITH toks AS (
        SELECT doc_id,
            list_filter({_TOKS.format(col='text')}, __x -> __x <> '') AS t
        FROM documents
    ),
    blk AS (
        SELECT doc_id, j,
            array_to_string(list_slice(t, (j - 1) * 8 + 1, j * 8), ' ') AS b
        FROM toks, UNNEST(range(1, ((len(t) + 7) // 8) + 1)) AS u(j)
    ),
    firsts AS (
        SELECT doc_id, b, MIN(j) AS fj FROM blk GROUP BY doc_id, b
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_blocks FROM blk GROUP BY doc_id),
    kept AS (
        SELECT doc_id, COUNT(*) AS n_kept,
            string_agg(b, ' ' ORDER BY fj) AS dedup_text
        FROM firsts GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_blocks, k.n_kept, k.dedup_text,
        (1000000 * (t.n_blocks - k.n_kept)) // t.n_blocks AS removed_ppm
    FROM tot t JOIN kept k USING (doc_id) ORDER BY doc_id
"""

# X97 corpus block dedup (operators/dedup.py: corpus_block_dedup):
# same 8-token blocks corpus-wide; an occurrence survives iff its
# value is unique (freq <= 1) or it is the minimal (doc_id, j)
# occurrence of the value.  Documents losing every block keep an
# empty dedup_text ('' — string_agg over kept-only via FILTER
# returns NULL, coalesced to match Spark's array_join of an empty
# array).
ORACLES["dedup_corpus_blocks"] = f"""
    WITH toks AS (
        SELECT doc_id,
            list_filter({_TOKS.format(col='text')}, __x -> __x <> '') AS t
        FROM documents
    ),
    blk AS (
        SELECT doc_id, j,
            array_to_string(list_slice(t, (j - 1) * 8 + 1, j * 8), ' ') AS b
        FROM toks, UNNEST(range(1, ((len(t) + 7) // 8) + 1)) AS u(j)
    ),
    stats AS (
        SELECT b, COUNT(*) AS freq,
            MIN(ROW(doc_id, j)) AS canon
        FROM blk GROUP BY b
    ),
    tagged AS (
        SELECT k.doc_id, k.j, k.b,
            (s.freq <= 1 OR ROW(k.doc_id, k.j) = s.canon) AS keep
        FROM blk k JOIN stats s USING (b)
    )
    SELECT doc_id,
        COUNT(*) AS n_blocks,
        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        (1000000 * CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT))
            // COUNT(*) AS kept_ppm,
        COALESCE(string_agg(b, ' ' ORDER BY j) FILTER (WHERE keep), '')
            AS dedup_text
    FROM tagged GROUP BY doc_id ORDER BY doc_id
"""

# X98 encoding artifacts (operators/textstats.py:
# encoding_artifact_panel): same literal regexes, same
# length-difference identity; DuckDB regexp_replace needs the 'g'
# flag to mirror Spark's replace-all default.
ORACLES["encoding_artifacts"] = r"""
    WITH per AS (
        SELECT source AS grp,
            CAST(length(text) AS BIGINT) AS n,
            CAST(length(text)
                - length(regexp_replace(text, '\x{FFFD}', '', 'g'))
                AS BIGINT) AS repl,
            CAST(length(text)
                - length(regexp_replace(text, '[\x01-\x08\x0b\x0c\x0e-\x1f]', '', 'g'))
                AS BIGINT) AS ctrl,
            CAST(length(text)
                - length(regexp_replace(text, '[ÃÂ]', '', 'g'))
                AS BIGINT) AS moji,
            CAST(length(text)
                - length(regexp_replace(text, '[^\x00-\x7f]', '', 'g'))
                AS BIGINT) AS na
        FROM documents
    )
    SELECT grp AS source,
        COUNT(*) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS n_chars,
        CAST(SUM(repl) AS BIGINT) AS replacement_chars,
        CAST(SUM(ctrl) AS BIGINT) AS control_chars,
        CAST(SUM(moji) AS BIGINT) AS mojibake_chars,
        CAST(SUM(na) AS BIGINT) AS non_ascii_chars,
        CAST(SUM(CASE WHEN repl + ctrl + moji > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS artifact_docs,
        CAST(CASE WHEN SUM(n) = 0 THEN 0
            ELSE (1000000 * SUM(repl + ctrl + moji)) // SUM(n) END AS BIGINT)
            AS artifact_ppm,
        CAST(CASE WHEN SUM(n) = 0 THEN 0
            ELSE (1000000 * SUM(na)) // SUM(n) END AS BIGINT) AS non_ascii_ppm
    FROM per GROUP BY grp ORDER BY grp
"""

# X99 distinct-n diversity (operators/textstats.py:
# distinct_ngram_diversity): position CTE with NULL-padded
# bigram/trigram tails; entropy via the scaled-integer convention
# H_e6 = round(1e6*ln N) - (sum c*round(1e6*ln c)) // N.
ORACLES["distinct_ngram_diversity"] = f"""
    WITH toks AS (
        SELECT source AS grp,
            list_filter({_TOKS.format(col='text')}, __x -> __x <> '') AS t
        FROM documents
    ),
    pos AS (
        SELECT grp, t[i] AS w1,
            CASE WHEN i + 1 <= len(t)
                THEN t[i] || ' ' || t[i + 1] END AS bg,
            CASE WHEN i + 2 <= len(t)
                THEN t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] END AS tg
        FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    ),
    panel AS (
        SELECT grp,
            COUNT(w1) AS n_tokens,
            COUNT(bg) AS n_bigrams,
            COUNT(tg) AS n_trigrams,
            COUNT(DISTINCT w1) AS distinct_unigrams,
            COUNT(DISTINCT bg) AS distinct_bigrams,
            COUNT(DISTINCT tg) AS distinct_trigrams
        FROM pos GROUP BY grp
    ),
    cnt AS (
        SELECT grp, w1, COUNT(*) AS c FROM pos GROUP BY grp, w1
    ),
    ent AS (
        SELECT grp,
            CAST(SUM(c) AS BIGINT) AS n,
            CAST(SUM(c * CAST(round(1000000 * ln(c)) AS BIGINT)) AS BIGINT)
                AS s
        FROM cnt GROUP BY grp
    )
    SELECT p.grp AS source,
        p.n_tokens, p.n_bigrams, p.n_trigrams,
        p.distinct_unigrams, p.distinct_bigrams, p.distinct_trigrams,
        CASE WHEN p.n_tokens = 0 THEN 0
            ELSE (1000000 * p.distinct_unigrams) // p.n_tokens END
            AS distinct1_ppm,
        CASE WHEN p.n_bigrams = 0 THEN 0
            ELSE (1000000 * p.distinct_bigrams) // p.n_bigrams END
            AS distinct2_ppm,
        CASE WHEN p.n_trigrams = 0 THEN 0
            ELSE (1000000 * p.distinct_trigrams) // p.n_trigrams END
            AS distinct3_ppm,
        CAST(round(1000000 * ln(e.n)) AS BIGINT) - (e.s // e.n)
            AS unigram_entropy_nats_e6
    FROM panel p JOIN ent e USING (grp)
    ORDER BY p.grp
"""

# X100 KMV source overlap (operators/dedup.py: kmv_source_overlap):
# per-group k-smallest distinct unit hashes of the 3-shingle set,
# merged-k intersection count per pair — all-integer estimator.
ORACLES["source_overlap_kmv"] = f"""
    WITH toks AS (
        SELECT source AS grp, {_TOKS.format(col='text')} AS t FROM documents
    ),
    hs AS (
        SELECT DISTINCT grp,
            {_UNIT.format(col="t[i] || ' ' || t[i+1] || ' ' || t[i+2]")} AS h
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    sk AS (
        SELECT grp, h FROM (
            SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS r
            FROM hs
        ) WHERE r <= 64
    ),
    sizes AS (SELECT grp, COUNT(*) AS n_sk FROM sk GROUP BY grp),
    grid AS (
        SELECT a.grp AS grp_a, b.grp AS grp_b,
            a.n_sk AS sketch_a, b.n_sk AS sketch_b
        FROM sizes a, sizes b WHERE a.grp < b.grp
    ),
    merged AS (
        SELECT g.grp_a, g.grp_b, s.h,
            CASE WHEN COUNT(*) = 2 THEN 1 ELSE 0 END AS in_both
        FROM grid g
        JOIN sk s ON s.grp = g.grp_a OR s.grp = g.grp_b
        GROUP BY g.grp_a, g.grp_b, s.h
    ),
    topk AS (
        SELECT grp_a, grp_b, h, in_both FROM (
            SELECT grp_a, grp_b, h, in_both,
                ROW_NUMBER() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS r
            FROM merged
        ) WHERE r <= 64
    ),
    est AS (
        SELECT grp_a, grp_b, COUNT(*) AS merged_k,
            CAST(SUM(in_both) AS BIGINT) AS n_both
        FROM topk GROUP BY grp_a, grp_b
    )
    SELECT g.grp_a, g.grp_b, g.sketch_a, g.sketch_b,
        COALESCE(e.merged_k, 0) AS merged_k,
        COALESCE(e.n_both, 0) AS n_both,
        CASE WHEN COALESCE(e.merged_k, 0) = 0 THEN 0
            ELSE (1000000 * COALESCE(e.n_both, 0)) // e.merged_k END
            AS jaccard_est_ppm
    FROM grid g LEFT JOIN est e USING (grp_a, grp_b)
    ORDER BY g.grp_a, g.grp_b
"""

# X101 Good-Turing missing mass (operators/textstats.py:
# good_turing_panel): frequency-of-frequencies from one
# (group, token) count; r1* is NULL when the group has no hapax.
ORACLES["good_turing_missing_mass"] = f"""
    WITH tok AS (
        SELECT source AS grp, u.x AS t
        FROM (SELECT source, {_TOKS.format(col='text')} AS ts FROM documents),
             UNNEST(ts) AS u(x)
        WHERE u.x <> ''
    ),
    cnt AS (SELECT grp, t, COUNT(*) AS c FROM tok GROUP BY grp, t),
    agg AS (
        SELECT grp,
            CAST(SUM(c) AS BIGINT) AS n_tokens,
            COUNT(*) AS vocab,
            CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
            CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS dis_legomena
        FROM cnt GROUP BY grp
    )
    SELECT grp AS source, n_tokens, vocab, hapax, dis_legomena,
        (1000000 * hapax) // n_tokens AS missing_mass_ppm,
        1000000 - (1000000 * hapax) // n_tokens AS coverage_ppm,
        CASE WHEN hapax = 0 THEN NULL
            ELSE (2000000 * dis_legomena) // hapax END AS r1_star_e6
    FROM agg ORDER BY grp
"""

# X102 Borda rank fusion (operators/textstats.py: rank_fusion_topk):
# per-signal ROW_NUMBER (value desc, doc_id asc), integer borda sum,
# fused top-3 per source with (borda, doc_id) tie-break.
ORACLES["quality_rank_fusion"] = f"""
    WITH sig AS (
        SELECT source, doc_id,
            CAST(len(t) AS BIGINT) AS sig_tokens,
            (1000000 * len(list_distinct(t)))
                // greatest(len(t), 1) AS sig_distinct_ppm,
            (100 * length(array_to_string(t, '')))
                // greatest(len(t), 1) AS sig_toklen_e2
        FROM (
            SELECT source, doc_id,
                list_filter({_TOKS.format(col='text')}, __x -> __x <> '') AS t
            FROM documents
        )
    ),
    ranked AS (
        SELECT source, doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY sig_tokens DESC, doc_id ASC) AS BIGINT)
                AS rank_sig_tokens,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY sig_distinct_ppm DESC, doc_id ASC) AS BIGINT)
                AS rank_sig_distinct_ppm,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY sig_toklen_e2 DESC, doc_id ASC) AS BIGINT)
                AS rank_sig_toklen_e2
        FROM sig
    ),
    fused AS (
        SELECT source, doc_id,
            rank_sig_tokens, rank_sig_distinct_ppm, rank_sig_toklen_e2,
            rank_sig_tokens + rank_sig_distinct_ppm + rank_sig_toklen_e2
                AS borda_sum,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY rank_sig_tokens + rank_sig_distinct_ppm
                    + rank_sig_toklen_e2 ASC, doc_id ASC) AS BIGINT)
                AS fused_rank
        FROM ranked
    )
    SELECT * FROM fused WHERE fused_rank <= 3
    ORDER BY source, fused_rank
"""


# X103 LM gate ablation (operators/textstats.py: lm_gate_ablation):
# composes the X5-extension bigram LM oracle; unscorable docs (< 2
# tokens) count as dropped; survivor mean is an integer division,
# NULL when nothing survives.
ORACLES["lm_gate_ablation"] = f"""
    WITH sc AS ({ORACLES['text_bigram_lm_score']}),
    base AS (
        SELECT doc_id, source AS grp,
            CAST(len(list_filter({_TOKS.format(col='text')},
                __x -> __x <> '')) AS BIGINT) AS nt
        FROM documents
    ),
    j AS (
        SELECT b.grp, b.nt,
            CAST(round(s.avg_cond_prob * 1000000) AS BIGINT) AS sp
        FROM base b LEFT JOIN sc s USING (doc_id)
    ),
    k AS (
        SELECT grp, nt, sp,
            (sp IS NOT NULL AND sp >= 20000) AS keep
        FROM j
    )
    SELECT grp AS source,
        COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        CAST(SUM(nt) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT) AS kept_tokens,
        (1000000 * CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT))
            // COUNT(*) AS kept_doc_ppm,
        CASE WHEN SUM(nt) = 0 THEN 0
            ELSE CAST((1000000 * SUM(CASE WHEN keep THEN nt ELSE 0 END))
                // SUM(nt) AS BIGINT) END AS kept_token_ppm,
        CASE WHEN SUM(CASE WHEN keep THEN 1 ELSE 0 END) = 0 THEN NULL
            ELSE CAST(SUM(CASE WHEN keep THEN sp ELSE 0 END)
                // SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) END
            AS mean_kept_score_ppm
    FROM k GROUP BY grp ORDER BY grp
"""

# X104 Neyman allocation (operators/sampling.py: neyman_allocation):
# weight = round(sqrt(N*Sx2 - Sx^2)) in HUGEINT-exact arithmetic,
# floor shares + Hamilton largest-remainder with (rem desc, grp asc)
# pinned rank.
ORACLES["neyman_audit_allocation"] = """
    WITH per AS (
        SELECT source AS grp,
            COUNT(*) AS n_rows,
            CAST(SUM(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sv,
            CAST(SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
                AS HUGEINT) AS sv2
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT grp, n_rows,
            CAST(round(sqrt(CAST(CAST(n_rows AS HUGEINT) * sv2 - sv * sv
                AS DOUBLE))) AS BIGINT) AS neyman_w
        FROM per
    ),
    tot AS (SELECT CAST(SUM(neyman_w) AS BIGINT) AS wt FROM w),
    j AS (
        SELECT w.grp, w.n_rows, w.neyman_w,
            CASE WHEN t.wt = 0 THEN 0
                ELSE (1000 * w.neyman_w) // t.wt END AS alloc_floor,
            CASE WHEN t.wt = 0 THEN 0
                ELSE (1000 * w.neyman_w) % t.wt END AS rem,
            t.wt
        FROM w, tot t
    ),
    fl AS (SELECT CAST(SUM(alloc_floor) AS BIGINT) AS floor_sum FROM j),
    rk AS (
        SELECT j.*, f.floor_sum,
            ROW_NUMBER() OVER (ORDER BY j.rem DESC, j.grp ASC) AS r
        FROM j, fl f
    )
    SELECT grp AS source, n_rows, neyman_w,
        CAST(alloc_floor AS BIGINT) AS alloc_floor,
        CAST(CASE WHEN wt = 0 THEN 0
            WHEN r <= 1000 - floor_sum THEN 1 ELSE 0 END AS BIGINT) AS extra,
        CAST(alloc_floor + CASE WHEN wt = 0 THEN 0
            WHEN r <= 1000 - floor_sum THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
    FROM rk ORDER BY grp
"""

# X105 Hill tail index (operators/textstats.py: hill_tail_index):
# top-(k+1) order statistics in pinned (value desc, id asc) order,
# per-value round(1e6*ln x) then exact integer arithmetic;
# alpha NULL when the kept logs are all equal.
ORACLES["length_tail_hill"] = """
    WITH pos AS (
        SELECT source AS grp, n_chars AS x, doc_id AS rid
        FROM documents WHERE n_chars > 0
    ),
    top AS (
        SELECT grp, r, CAST(round(1000000 * ln(x)) AS BIGINT) AS l
        FROM (
            SELECT grp, x, rid,
                ROW_NUMBER() OVER (PARTITION BY grp
                    ORDER BY x DESC, rid ASC) AS r
            FROM pos
        ) WHERE r <= 21
    ),
    sums AS (
        SELECT grp, COUNT(*) AS m,
            CAST(SUM(l) AS BIGINT) AS lsum,
            CAST(MAX_BY(l, r) AS BIGINT) AS lk1
        FROM top GROUP BY grp HAVING COUNT(*) >= 2
    )
    SELECT grp AS source,
        CAST(m - 1 AS BIGINT) AS k_used,
        (lsum - m * lk1) // (m - 1) AS inv_alpha_e6,
        CASE WHEN (lsum - m * lk1) // (m - 1) <= 0 THEN NULL
            ELSE 1000000000000 // ((lsum - m * lk1) // (m - 1)) END
            AS alpha_e6
    FROM sums ORDER BY grp
"""

# X106 skew audit (operators/aggregates.py: skew_audit): exact key
# counts, pinned (count desc, key asc) hot-key ranks, X99 entropy
# convention, pure-integer ceil-div salt factor.
ORACLES["shuffle_key_skew_audit"] = """
    WITH counts AS (
        SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, k ASC) AS r FROM counts
    ),
    tops AS (
        SELECT
            MAX(CASE WHEN r = 1 THEN c END) AS max_count,
            CAST(SUM(CASE WHEN r <= 1 THEN c ELSE 0 END) AS BIGINT) AS t1,
            CAST(SUM(CASE WHEN r <= 16 THEN c ELSE 0 END) AS BIGINT) AS t16,
            CAST(SUM(c) AS BIGINT) AS tk
        FROM ranked WHERE r <= 256
    ),
    base AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
            COUNT(*) AS n_keys,
            CAST(SUM(c * CAST(round(1000000 * ln(c)) AS BIGINT)) AS BIGINT)
                AS s
        FROM counts
    )
    SELECT b.n_rows, b.n_keys, t.max_count,
        (1000000 * t.t1) // b.n_rows AS top1_ppm,
        (1000000 * t.t16) // b.n_rows AS top16_ppm,
        (1000000 * t.tk) // b.n_rows AS top256_ppm,
        CAST(round(1000000 * ln(b.n_rows)) AS BIGINT) - (b.s // b.n_rows)
            AS key_entropy_nats_e6,
        (t.max_count + (b.n_rows + 31) // 32 - 1)
            // ((b.n_rows + 31) // 32) AS salt_factor
    FROM base b, tops t
"""

# X107 range-partition plan (operators/aggregates.py:
# range_partition_plan): boundary i = smallest value whose
# cumulative count reaches ceil(i*n/N); realized counts from the
# cumulative diffs; all integer arithmetic.
ORACLES["range_partition_plan"] = """
    WITH vc AS (
        SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY n_chars
    ),
    cum AS (
        SELECT v, c,
            CAST(SUM(c) OVER (ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM vc
    ),
    cum2 AS (SELECT v, c, cum, cum - c AS prev_cum FROM cum),
    tot AS (SELECT MAX(cum) AS n_rows FROM cum2),
    targets AS (
        SELECT t.n_rows, u.i AS pidx,
            (u.i * t.n_rows + 7) // 8 AS tgt
        FROM tot t, UNNEST(range(1, 9)) AS u(i)
    ),
    bounds AS (
        SELECT tg.pidx, tg.n_rows, c2.v AS boundary_value,
            c2.cum AS cum_rows
        FROM targets tg JOIN cum2 c2
            ON tg.tgt > c2.prev_cum AND tg.tgt <= c2.cum
    )
    SELECT pidx, boundary_value, cum_rows,
        cum_rows - COALESCE(LAG(cum_rows) OVER (ORDER BY pidx), 0)
            AS realized_rows,
        (1000000 * (cum_rows - COALESCE(LAG(cum_rows)
            OVER (ORDER BY pidx), 0)) * 8) // n_rows AS balance_x_ppm
    FROM bounds ORDER BY pidx
"""

# X108 Benford audit (operators/aggregates.py: benford_audit):
# first digit from the decimal string of integer cents (never
# floor(log10)); hardcoded expected ppm so no engine evaluates a
# log; zero-count digits still report.
ORACLES["benford_value_audit"] = """
    WITH obs AS (
        SELECT CAST(substr(CAST(abs(CAST(round(value * 100) AS BIGINT))
                AS VARCHAR), 1, 1) AS INTEGER) AS digit,
            COUNT(*) AS n
        FROM events
        WHERE abs(CAST(round(value * 100) AS BIGINT)) > 0
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM obs),
    grid(digit, benford_ppm) AS (
        VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
               (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)
    )
    SELECT g.digit,
        CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
        (1000000 * COALESCE(o.n, 0)) // t.nt AS observed_ppm,
        CAST(g.benford_ppm AS BIGINT) AS benford_ppm,
        (1000000 * COALESCE(o.n, 0)) // t.nt - g.benford_ppm AS delta_ppm
    FROM grid g LEFT JOIN obs o USING (digit), tot t
    ORDER BY g.digit
"""

# X109 image header dims (operators/multimodal.py:
# image_header_dims): same synthesized headers; parsing runs on the
# HEX STRING of the payload (byte i = hex chars 2(i-1)+1..2i), with
# little-endian values folded per byte and the BMP int32 height's
# two's complement folded for negatives.
ORACLES["multimodal_image_dims"] = """
    WITH pay AS (
        SELECT doc_id,
            hex(CASE CAST(doc_id % 4 AS INT)
                WHEN 0 THEN from_hex('89504E470D0A1A0A')
                    || from_hex('0000000D') || from_hex('49484452')
                    || from_hex(lpad(to_hex(16 + doc_id % 1000), 8, '0'))
                    || from_hex(lpad(to_hex(16 + (doc_id * 7) % 1000), 8, '0'))
                WHEN 1 THEN from_hex('474946383961')
                    || from_hex(lpad(to_hex((16 + doc_id % 1000) % 256), 2, '0')
                        || lpad(to_hex((16 + doc_id % 1000) // 256), 2, '0'))
                    || from_hex(lpad(to_hex((16 + (doc_id * 7) % 1000) % 256), 2, '0')
                        || lpad(to_hex((16 + (doc_id * 7) % 1000) // 256), 2, '0'))
                WHEN 2 THEN from_hex('424D') || from_hex('46000000')
                    || from_hex('00000000') || from_hex('36000000')
                    || from_hex('28000000')
                    || from_hex(lpad(to_hex((16 + doc_id % 1000) % 256), 2, '0')
                        || lpad(to_hex((16 + doc_id % 1000) // 256), 2, '0')
                        || '0000')
                    || from_hex(lpad(to_hex((16 + (doc_id * 7) % 1000) % 256), 2, '0')
                        || lpad(to_hex((16 + (doc_id * 7) % 1000) // 256), 2, '0')
                        || '0000')
                    || from_hex('0100180000000000')
                ELSE encode(text) END) AS hx
        FROM documents
    ),
    parsed AS (
        SELECT doc_id, hx,
            length(hx) // 2 AS n_bytes,
            CASE
                WHEN starts_with(hx, '89504E47') AND length(hx) >= 48
                    THEN 'png'
                WHEN starts_with(hx, '47494638') AND length(hx) >= 20
                    THEN 'gif'
                WHEN starts_with(hx, '424D') AND length(hx) >= 52
                    THEN 'bmp'
                ELSE 'unknown' END AS format
        FROM pay
    )
    SELECT doc_id, format,
        CAST(CASE format
            WHEN 'png' THEN CAST('0x' || substr(hx, 33, 8) AS BIGINT)
            WHEN 'gif' THEN CAST('0x' || substr(hx, 13, 2) AS BIGINT)
                + 256 * CAST('0x' || substr(hx, 15, 2) AS BIGINT)
            WHEN 'bmp' THEN CAST('0x' || substr(hx, 37, 2) AS BIGINT)
                + 256 * CAST('0x' || substr(hx, 39, 2) AS BIGINT)
                + 65536 * CAST('0x' || substr(hx, 41, 2) AS BIGINT)
                + 16777216 * CAST('0x' || substr(hx, 43, 2) AS BIGINT)
            END AS BIGINT) AS width,
        CAST(CASE format
            WHEN 'png' THEN CAST('0x' || substr(hx, 41, 8) AS BIGINT)
            WHEN 'gif' THEN CAST('0x' || substr(hx, 17, 2) AS BIGINT)
                + 256 * CAST('0x' || substr(hx, 19, 2) AS BIGINT)
            WHEN 'bmp' THEN
                CASE WHEN CAST('0x' || substr(hx, 45, 2) AS BIGINT)
                    + 256 * CAST('0x' || substr(hx, 47, 2) AS BIGINT)
                    + 65536 * CAST('0x' || substr(hx, 49, 2) AS BIGINT)
                    + 16777216 * CAST('0x' || substr(hx, 51, 2) AS BIGINT)
                    >= 2147483648
                THEN 4294967296 - (CAST('0x' || substr(hx, 45, 2) AS BIGINT)
                    + 256 * CAST('0x' || substr(hx, 47, 2) AS BIGINT)
                    + 65536 * CAST('0x' || substr(hx, 49, 2) AS BIGINT)
                    + 16777216 * CAST('0x' || substr(hx, 51, 2) AS BIGINT))
                ELSE CAST('0x' || substr(hx, 45, 2) AS BIGINT)
                    + 256 * CAST('0x' || substr(hx, 47, 2) AS BIGINT)
                    + 65536 * CAST('0x' || substr(hx, 49, 2) AS BIGINT)
                    + 16777216 * CAST('0x' || substr(hx, 51, 2) AS BIGINT)
                END
            END AS BIGINT) AS height,
        CAST(n_bytes AS BIGINT) AS n_bytes
    FROM parsed ORDER BY doc_id
"""

# X110 Levenshtein block join (operators/dedup.py:
# levenshtein_block_join): same canonical 40-char prefixes, same
# (first token, n_tokens // 16) blocking, DuckDB's levenshtein is
# the same textbook DP.
ORACLES["dedup_levenshtein_block"] = f"""
    WITH b AS (
        SELECT doc_id AS id,
            substr(array_to_string(t, ' '), 1, 40) AS pfx,
            len(t) AS nt,
            t[1] || '|' || CAST(len(t) // 16 AS VARCHAR) AS blk
        FROM (
            SELECT doc_id,
                list_filter({_TOKS.format(col='text')}, __x -> __x <> '') AS t
            FROM documents
        ) WHERE len(t) > 0
    )
    SELECT a.id AS id_a, c.id AS id_b,
        CAST(levenshtein(a.pfx, c.pfx) AS INTEGER) AS edit_distance,
        CAST(a.nt AS BIGINT) AS n_tokens_a,
        CAST(c.nt AS BIGINT) AS n_tokens_b
    FROM b a JOIN b c ON a.blk = c.blk AND a.id < c.id
    WHERE levenshtein(a.pfx, c.pfx) <= 8
    ORDER BY id_a, id_b
"""

# X111 Pearson signal matrix (operators/aggregates.py:
# signal_correlation_matrix): HUGEINT-exact accumulators, one IEEE
# division rounded to r_e6, NULL on zero variance.
_X111_SIG = f"""
        SELECT CAST(n_chars AS HUGEINT) AS sig_chars,
            CAST(len(t) AS HUGEINT) AS sig_tokens,
            CAST((1000000 * len(list_distinct(t)))
                // greatest(len(t), 1) AS HUGEINT) AS sig_distinct_ppm,
            CAST((100 * length(array_to_string(t, '')))
                // greatest(len(t), 1) AS HUGEINT) AS sig_toklen_e2
        FROM (
            SELECT n_chars,
                list_filter({_TOKS.format(col='text')}, __x -> __x <> '') AS t
            FROM documents
        )
"""


def _x111_pair(a: str, b: str) -> str:
    num = f"(n * p_{a}_{b} - s_{a} * s_{b})"
    d1 = f"(n * q_{a} - s_{a} * s_{a})"
    d2 = f"(n * q_{b} - s_{b} * s_{b})"
    return (
        f"SELECT CAST(n AS BIGINT) AS n_rows, "
        f"'sig_{a}' AS sig_a, 'sig_{b}' AS sig_b, "
        f"CASE WHEN {d1} = 0 OR {d2} = 0 THEN NULL "
        f"ELSE CAST(round(1000000 * CAST({num} AS DOUBLE) / "
        f"sqrt(CAST({d1} AS DOUBLE) * CAST({d2} AS DOUBLE))) AS BIGINT) END "
        "AS r_e6 FROM acc"
    )


_X111_NAMES = ["chars", "tokens", "distinct_ppm", "toklen_e2"]
ORACLES["signal_correlation_matrix"] = (
    "WITH sig AS (" + _X111_SIG + "), acc AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, "
    + ", ".join(
        f"CAST(SUM(sig_{c}) AS HUGEINT) AS s_{c}, "
        f"CAST(SUM(sig_{c} * sig_{c}) AS HUGEINT) AS q_{c}"
        for c in _X111_NAMES
    )
    + ", "
    + ", ".join(
        f"CAST(SUM(sig_{a} * sig_{b}) AS HUGEINT) AS p_{a}_{b}"
        for i, a in enumerate(_X111_NAMES)
        for b in _X111_NAMES[i + 1 :]
    )
    + " FROM sig) "
    + " UNION ALL ".join(
        _x111_pair(a, b)
        for i, a in enumerate(_X111_NAMES)
        for b in _X111_NAMES[i + 1 :]
    )
    + " ORDER BY sig_a, sig_b"
)

# X112 Spearman per source (operators/aggregates.py:
# spearman_rank_correlation): doubled average ranks
# 2*RANK() + ties - 1 keep tie handling integer-exact; then the
# X111 Pearson machinery on the doubled ranks.
ORACLES["signal_spearman_by_source"] = f"""
    WITH sig AS (
        SELECT source AS grp,
            CAST(n_chars AS BIGINT) AS x,
            CAST((1000000 * len(list_distinct(t)))
                // greatest(len(t), 1) AS BIGINT) AS y
        FROM (
            SELECT source, n_chars,
                list_filter({_TOKS.format(col='text')}, __x -> __x <> '') AS t
            FROM documents
        )
    ),
    r AS (
        SELECT grp,
            CAST(2 * RANK() OVER (PARTITION BY grp ORDER BY x)
                + COUNT(*) OVER (PARTITION BY grp, x) - 1 AS HUGEINT) AS rx,
            CAST(2 * RANK() OVER (PARTITION BY grp ORDER BY y)
                + COUNT(*) OVER (PARTITION BY grp, y) - 1 AS HUGEINT) AS ry
        FROM sig
    ),
    acc AS (
        SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n,
            CAST(SUM(rx) AS HUGEINT) AS sx, CAST(SUM(ry) AS HUGEINT) AS sy,
            CAST(SUM(rx * ry) AS HUGEINT) AS sxy,
            CAST(SUM(rx * rx) AS HUGEINT) AS sxx,
            CAST(SUM(ry * ry) AS HUGEINT) AS syy
        FROM r GROUP BY grp
    )
    SELECT grp AS source, CAST(n AS BIGINT) AS n_rows,
        CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN NULL
            ELSE CAST(round(1000000 * CAST(n * sxy - sx * sy AS DOUBLE) /
                sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT) END
            AS rho_e6
    FROM acc ORDER BY grp
"""

# X113 join size estimate (operators/aggregates.py:
# join_size_estimate): |A join B| = sum cA*cB over matched keys,
# HUGEINT products, exact integers throughout.
ORACLES["join_size_estimate"] = """
    WITH ca AS (SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1),
    cb AS (SELECT c_custkey AS k, COUNT(*) AS c FROM customer GROUP BY 1),
    sa AS (SELECT CAST(SUM(c) AS BIGINT) AS rows_a, COUNT(*) AS keys_a FROM ca),
    sb AS (SELECT CAST(SUM(c) AS BIGINT) AS rows_b, COUNT(*) AS keys_b FROM cb),
    j AS (
        SELECT COUNT(*) AS matched_keys,
            CAST(COALESCE(SUM(CAST(ca.c AS HUGEINT) * cb.c), 0) AS BIGINT)
                AS est_join_rows,
            CAST(COALESCE(MAX(CAST(ca.c AS HUGEINT) * cb.c), 0) AS BIGINT)
                AS max_key_fanout
        FROM ca JOIN cb USING (k)
    )
    SELECT sa.rows_a, sa.keys_a, sb.rows_b, sb.keys_b,
        j.matched_keys, j.est_join_rows, j.max_key_fanout,
        CASE WHEN sb.rows_b <= 2000 THEN 'broadcast_b'
             WHEN sa.rows_a <= 2000 THEN 'broadcast_a'
             ELSE 'shuffle' END AS strategy
    FROM j, sa, sb
"""

# X114 similarity profile (operators/similarity.py:
# similarity_profile): unit-hash bucket pairing (two smallest
# (hash, id) per bucket), list_cosine_similarity rounded to 6 (the
# X8 convention), fixed 20-bin grid with empty bins reported.
ORACLES["embedding_similarity_profile"] = f"""
    WITH nb AS (
        SELECT greatest(COUNT(*) // 2, 1) AS b FROM embeddings
    ),
    h AS (
        SELECT vec_id, embedding,
            {_UNIT.format(col='vec_id')} % (SELECT b FROM nb) AS bkt,
            {_UNIT.format(col='vec_id')} AS hh
        FROM embeddings
    ),
    two AS (
        SELECT bkt, vec_id, embedding, r FROM (
            SELECT bkt, vec_id, embedding,
                ROW_NUMBER() OVER (PARTITION BY bkt ORDER BY hh, vec_id) AS r
            FROM h
        ) WHERE r <= 2
    ),
    pairs AS (
        SELECT round(list_cosine_similarity(
                CAST(a.embedding AS DOUBLE[]),
                CAST(b.embedding AS DOUBLE[])), 6) AS cos
        FROM two a JOIN two b ON a.bkt = b.bkt AND a.r = 1 AND b.r = 2
    ),
    binned AS (
        SELECT CAST(least(19, greatest(0,
            floor((cos + 1.0) / 2.0 * 20))) AS BIGINT) AS bin, cos
        FROM pairs
    ),
    agg AS (
        SELECT bin, COUNT(*) AS n_pairs,
            CAST(SUM(CAST(round(cos * 1000000) AS BIGINT)) AS BIGINT) AS s
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS np FROM agg),
    grid AS (SELECT unnest(range(20)) AS bin)
    SELECT g.bin,
        -1000000 + g.bin * (2000000 // 20) AS bin_lo_e6,
        CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
        CASE WHEN t.np = 0 THEN 0
            ELSE (1000000 * COALESCE(a.n_pairs, 0)) // t.np END AS share_ppm,
        CASE WHEN COALESCE(a.n_pairs, 0) = 0 THEN NULL
            ELSE a.s // a.n_pairs END AS mean_cos_e6
    FROM grid g LEFT JOIN agg a USING (bin), tot t
    ORDER BY g.bin
"""

# X115 constraint suite (operators/aggregates.py: constraint_suite):
# every metric from ONE aggregate pass; ppm divisions clamped with
# greatest(n, 1); verdicts are pure integer comparisons with NULL
# bounds unbounded and NULL metrics passing vacuous bound checks.
ORACLES["documents_constraint_suite"] = """
    WITH m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m0,
            (1000000 * COUNT(text)) // greatest(COUNT(*), 1) AS m1,
            (1000000 * COUNT(DISTINCT doc_id)) // greatest(COUNT(*), 1) AS m2,
            (1000000 * COUNT(CASE WHEN regexp_matches(lang,
                '^[a-z][a-z]$') THEN 1 END)) // greatest(COUNT(lang), 1) AS m3,
            (1000000 * COUNT(CASE WHEN lang IN ('en', 'de', 'fr', 'es')
                THEN 1 END)) // greatest(COUNT(lang), 1) AS m4,
            CAST(MIN(n_chars) AS BIGINT) AS m5,
            CAST(MAX(n_chars) AS BIGINT) AS m6
        FROM documents
    ),
    grid("check", kind, mi, lo, hi) AS (
        VALUES ('chk01_rows', 'row_count', 0, 1, NULL),
               ('chk02_text_complete', 'completeness', 1, 1000000, NULL),
               ('chk03_docid_unique', 'distinctness', 2, 1000000, NULL),
               ('chk04_lang_iso2', 'match', 3, 1000000, NULL),
               ('chk05_lang_allowed', 'in_set', 4, 1000000, NULL),
               ('chk06_nchars_min', 'min', 5, 1, NULL),
               ('chk07_nchars_max', 'max', 6, NULL, 1000000)
    ),
    v AS (
        SELECT g."check", g.kind,
            CASE g.mi WHEN 0 THEN m.m0 WHEN 1 THEN m.m1
                WHEN 2 THEN m.m2 WHEN 3 THEN m.m3 WHEN 4 THEN m.m4
                WHEN 5 THEN m.m5 ELSE m.m6 END AS metric,
            CAST(g.lo AS BIGINT) AS lo, CAST(g.hi AS BIGINT) AS hi
        FROM grid g, m
    )
    SELECT "check", kind, metric, lo, hi,
        CASE WHEN (lo IS NULL OR COALESCE(metric, lo) >= lo)
            AND (hi IS NULL OR COALESCE(metric, hi) <= hi)
            THEN 'pass' ELSE 'fail' END AS status
    FROM v ORDER BY "check"
"""

# X116 Poisson bootstrap CI (operators/sampling.py:
# poisson_bootstrap_ci): per-(row, replicate) Poisson(1) weights
# from the md5 unit hash of 'doc_id|b' inverted through the SAME
# hardcoded CDF thresholds; replicate means are exact integer
# divisions (HUGEINT scale multiply); CI bounds are exact order
# statistics at the ceil positions.  The oracle materializes the
# replicate dimension as a bounded cross join (n x 32 at sf0.01);
# the Spark operator keeps it in aggregate columns.
_POIS1_CASE = (
    "CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1 "
    "WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3 "
    "WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5 "
    "WHEN u < 4294609777 THEN 6 WHEN u < 4294923276 THEN 7 "
    "WHEN u < 4294962463 THEN 8 ELSE 9 END"
)
ORACLES["source_mean_bootstrap_ci"] = f"""
    WITH hv AS (
        SELECT d.source, t.b, d.n_chars,
            CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|' ||
                CAST(t.b AS VARCHAR)), 1, 8)) AS BIGINT) AS u
        FROM documents d, range(32) t(b)
    ),
    w AS (SELECT source, b, n_chars, {_POIS1_CASE} AS w FROM hv),
    rb AS (
        SELECT source, b,
            CASE WHEN SUM(w) > 0 THEN CAST((1000000::HUGEINT *
                SUM(w * n_chars)) // SUM(w) AS BIGINT) END AS rep
        FROM w GROUP BY 1, 2
    ),
    arr AS (
        SELECT source,
            list_sort(list(rep) FILTER (WHERE rep IS NOT NULL)) AS a
        FROM rb GROUP BY 1
    ),
    base AS (
        SELECT source, COUNT(*) AS n,
            CAST((1000000::HUGEINT * SUM(n_chars)) // COUNT(*)
                AS BIGINT) AS mean_e6
        FROM documents GROUP BY 1
    )
    SELECT b.source AS grp, b.n, b.mean_e6,
        CASE WHEN len(a.a) > 0 THEN
            a.a[CAST((25 * len(a.a) + 999) // 1000 AS INT)] END
            AS boot_lo_e6,
        CASE WHEN len(a.a) > 0 THEN
            a.a[CAST((975 * len(a.a) + 999) // 1000 AS INT)] END
            AS boot_hi_e6,
        CAST(len(a.a) AS BIGINT) AS reps_valid
    FROM base b JOIN arr a ON b.source = a.source
    ORDER BY grp
"""

# X117 Heaps-law fit (operators/textstats.py: heaps_law_fit):
# per-doc DISTINCT shingles (the _SHINGLE_CTE set), 16 equal-width
# id buckets, cumulative (instances, vocab) checkpoints, fit points
# round(1e6*ln), exact HUGEINT fit accumulators, floating only in
# the three final divisions (identical IEEE op order as Spark).
ORACLES["heaps_law_fit"] = f"""
    WITH {_SHINGLE_CTE},
    rng AS (
        SELECT CAST(MIN(doc_id) AS BIGINT) AS lo,
               CAST(MAX(doc_id) AS BIGINT) AS hi
        FROM documents
    ),
    occ AS (
        SELECT CAST(((doc_id - lo) * 16) // (hi - lo + 1) AS INTEGER)
            AS bucket, CAST(COUNT(*) AS BIGINT) AS occ
        FROM sh, rng GROUP BY 1
    ),
    firsts AS (SELECT shingle, MIN(doc_id) AS fid FROM sh GROUP BY 1),
    newv AS (
        SELECT CAST(((fid - lo) * 16) // (hi - lo + 1) AS INTEGER)
            AS bucket, CAST(COUNT(*) AS BIGINT) AS newv
        FROM firsts, rng GROUP BY 1
    ),
    pts AS (
        SELECT o.bucket,
            CAST(SUM(o.occ) OVER (ORDER BY o.bucket) AS BIGINT) AS cum_n,
            CAST(SUM(COALESCE(v.newv, 0)) OVER (ORDER BY o.bucket)
                AS BIGINT) AS cum_v
        FROM occ o LEFT JOIN newv v ON o.bucket = v.bucket
    ),
    xy AS (
        SELECT cum_n, cum_v,
            CAST(round(ln(cum_n) * 1000000) AS BIGINT) AS x,
            CAST(round(ln(cum_v) * 1000000) AS BIGINT) AS y
        FROM pts WHERE cum_n > 0 AND cum_v > 0
    ),
    s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m,
            CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
            CAST(SUM(x::HUGEINT * y) AS HUGEINT) AS sxy,
            CAST(SUM(x::HUGEINT * x) AS HUGEINT) AS sxx,
            CAST(SUM(y::HUGEINT * y) AS HUGEINT) AS syy,
            CAST(MAX(cum_n) AS BIGINT) AS n_units,
            CAST(MAX(cum_v) AS BIGINT) AS vocab
        FROM xy
    )
    SELECT CAST(m AS BIGINT) AS m_points, n_units, vocab,
        CASE WHEN m >= 2 AND m * sxx - sx * sx > 0 THEN
            CAST(round(1000000 * CAST(m * sxy - sx * sy AS DOUBLE) /
                CAST(m * sxx - sx * sx AS DOUBLE)) AS BIGINT) END
            AS beta_e6,
        CASE WHEN m >= 2 AND m * sxx - sx * sx > 0 THEN
            CAST(round((CAST(sy AS DOUBLE) -
                CAST(m * sxy - sx * sy AS DOUBLE) /
                CAST(m * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
                CAST(m AS DOUBLE)) AS BIGINT) END
            AS lnk_e6,
        CASE WHEN m >= 2 AND m * sxx - sx * sx > 0
            AND m * syy - sy * sy > 0 THEN
            CAST(round(1000000 *
                CAST((m * sxy - sx * sy) * (m * sxy - sx * sy) AS DOUBLE) /
                (CAST(m * sxx - sx * sx AS DOUBLE) *
                 CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT) END
            AS r2_e6
    FROM s
"""

# X118 Mann-Whitney U (operators/aggregates.py: mann_whitney_u):
# value-keyed counts, doubled-average-rank identity 2L + t + 1,
# HUGEINT-exact U2 / AUC / tie-corrected variance pieces, floating
# only in the final sqrt + division (same IEEE order as Spark).
ORACLES["length_rank_test_en_zh"] = """
    WITH v AS (
        SELECT n_chars AS v,
            COUNT(CASE WHEN lang = 'en' THEN 1 END) AS ca,
            COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS cb
        FROM documents WHERE lang IN ('en', 'zh') GROUP BY 1
    ),
    r AS (
        SELECT ca, cb, ca + cb AS t,
            COALESCE(SUM(ca + cb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS lss
        FROM v
    ),
    s AS (
        SELECT CAST(SUM(ca) AS HUGEINT) AS na,
            CAST(SUM(cb) AS HUGEINT) AS nb,
            CAST(SUM(ca * (2 * lss + t + 1)) AS HUGEINT) AS r2a,
            CAST(SUM(t::HUGEINT * t * t - t) AS HUGEINT) AS ties3
        FROM r
    ),
    u AS (SELECT na, nb, ties3, r2a - na * (na + 1) AS u2a FROM s)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        CAST(u2a AS BIGINT) AS u2_a,
        CAST(2 * na * nb - u2a AS BIGINT) AS u2_b,
        CASE WHEN na > 0 AND nb > 0 THEN
            CAST((1000000 * u2a) // (2 * na * nb) AS BIGINT) END
            AS auc_ppm,
        CASE WHEN na > 0 AND nb > 0 AND
            na * nb * ((na + nb + 1) * (na + nb) * (na + nb - 1) - ties3)
            > 0 THEN
            CAST(round(1000000 * CAST(u2a - na * nb AS DOUBLE) /
                (2 * sqrt(CAST(na * nb * ((na + nb + 1) * (na + nb) *
                (na + nb - 1) - ties3) AS DOUBLE) /
                CAST(12 * (na + nb) * (na + nb - 1) AS DOUBLE))))
                AS BIGINT) END
            AS z_e6
    FROM u
"""

# X119 two-sample KS (operators/aggregates.py: ks_two_sample):
# cumulative lattice counts, D kept as the exact cross-multiplied
# integer max |cum_a*n_b - cum_b*n_a|, argmax at the smallest value
# (deterministic tie-break), floating only in lambda.
ORACLES["length_ks_test_en_zh"] = """
    WITH v AS (
        SELECT n_chars AS v,
            COUNT(CASE WHEN lang = 'en' THEN 1 END) AS ca,
            COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS cb
        FROM documents WHERE lang IN ('en', 'zh') GROUP BY 1
    ),
    cum AS (
        SELECT v,
            SUM(ca) OVER (ORDER BY v) AS cuma,
            SUM(cb) OVER (ORDER BY v) AS cumb,
            SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
        FROM v
    ),
    d AS (
        SELECT v, na, nb, cuma * nb - cumb * na AS diff FROM cum
    ),
    mx AS (SELECT MAX(abs(diff)) AS d_num FROM d),
    at AS (
        SELECT d.na, d.nb, m.d_num,
            MIN(d.v) AS d_at_value,
            CAST(sign(min_by(d.diff, d.v)) AS INTEGER) AS d_sign
        FROM d, mx m WHERE abs(d.diff) = m.d_num
        GROUP BY d.na, d.nb, m.d_num
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        CAST(d_num AS BIGINT) AS d_num,
        CASE WHEN na > 0 AND nb > 0 THEN
            CAST((1000000 * d_num) // (na * nb) AS BIGINT) END AS d_ppm,
        d_at_value,
        d_sign,
        CASE WHEN na > 0 AND nb > 0 THEN
            CAST(round(1000000 * CAST(d_num AS DOUBLE) /
                CAST(na * nb AS DOUBLE) *
                sqrt(CAST(na * nb AS DOUBLE) / CAST(na + nb AS DOUBLE)))
                AS BIGINT) END AS lambda_e6
    FROM at
"""

# X121 WAV header info (operators/multimodal.py: wav_header_info):
# the oracle does NOT re-parse bytes — it derives every expected
# value independently from the same doc_id formulas the query packs
# into the header, so an error in Spark's byte packing OR parsing
# mismatches (stronger than a mirrored parse).
ORACLES["multimodal_wav_info"] = """
    SELECT doc_id,
        doc_id % 4 != 3 AS is_wav,
        doc_id % 4 != 3 AS is_canonical_wav,
        CASE WHEN doc_id % 4 != 3 THEN
            CAST(1 + doc_id % 2 AS BIGINT) END AS channels,
        CASE WHEN doc_id % 4 != 3 THEN
            CAST(8000 + (doc_id % 5) * 2000 AS BIGINT) END
            AS sample_rate_hz,
        CASE WHEN doc_id % 4 != 3 THEN
            CAST(8 * (1 + doc_id % 3) AS BIGINT) END AS bits_per_sample,
        CASE WHEN doc_id % 4 != 3 THEN
            CAST((8 * (800 + (doc_id * 13) % 4000)) //
                ((1 + doc_id % 2) * 8 * (1 + doc_id % 3)) AS BIGINT) END
            AS n_frames,
        CASE WHEN doc_id % 4 != 3 THEN
            CAST((8000 * (800 + (doc_id * 13) % 4000)) //
                ((8000 + (doc_id % 5) * 2000) * (1 + doc_id % 2) *
                 (8 * (1 + doc_id % 3))) AS BIGINT) END AS duration_ms
    FROM documents ORDER BY doc_id
"""

# X122 span merge (operators/scrub.py: merge_spans): same
# deterministic span generation, textbook gaps-and-islands — new
# island iff s > gap + running max(e) over earlier (s, e)-ordered
# spans, island id = cumulative opener count.
ORACLES["doc_span_merge"] = """
    WITH spans AS (
        SELECT doc_id,
            (doc_id * 7 + j * 13) % n_chars AS s,
            (doc_id * 7 + j * 13) % n_chars + 5 + doc_id % 11 AS e
        FROM documents, UNNEST(range(0, doc_id % 4 + 1)) AS u(j)
    ),
    flagged AS (
        SELECT doc_id, s, e,
            CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND
                1 PRECEDING), -4611686018427387904) + 2
                THEN 1 ELSE 0 END AS nw
        FROM spans WHERE e > s
    ),
    isl AS (
        SELECT doc_id, s, e,
            SUM(nw) OVER (PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS island
        FROM flagged
    )
    SELECT doc_id AS id, CAST(MIN(s) AS BIGINT) AS span_start,
        CAST(MAX(e) AS BIGINT) AS span_end,
        CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM isl GROUP BY doc_id, island
    ORDER BY id, span_start
"""


# X120 MMR selection (operators/similarity.py: mmr_select): the
# greedy rounds are UNROLLED into a CTE chain generated by the same
# loop shape as the Spark plan construction — round-6 cosine scaled
# to e6, score kept x10 (no division: Spark div truncates, DuckDB
# // floors; negative diversity-penalized scores would diverge).
def _mmr_oracle(k: int = 6, shortlist: int = 24, lam: int = 7) -> str:
    sim = (
        "CAST(round(ROUND(list_cosine_similarity(CAST(c.vec AS DOUBLE[]), "
        "CAST(s.vec AS DOUBLE[])), 6) * 1000000) AS BIGINT)"
    )
    parts = [
        f"""probe AS (
        SELECT embedding AS pv FROM embeddings ORDER BY vec_id LIMIT 1
    ),
    scored AS (
        SELECT vec_id AS id, embedding AS vec,
            CAST(round(ROUND(list_cosine_similarity(
                CAST(embedding AS DOUBLE[]), CAST(p.pv AS DOUBLE[])), 6)
                * 1000000) AS BIGINT) AS rel_e6
        FROM embeddings, probe p WHERE vec_id > 0
    ),
    cand1 AS (
        SELECT id, vec, rel_e6, CAST(NULL AS BIGINT) AS maxsim_e6
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rel_e6 DESC, id ASC)
              AS r FROM scored) t WHERE r <= {shortlist}
    )"""
    ]
    score = (
        f"CASE WHEN maxsim_e6 IS NULL THEN 10 * rel_e6 "
        f"ELSE {lam} * rel_e6 - {10 - lam} * maxsim_e6 END"
    )
    for i in range(1, k + 1):
        parts.append(
            f"""sel{i} AS (
        SELECT {i} AS "rank", id, vec, rel_e6, maxsim_e6,
            {score} AS score_x10_e6
        FROM cand{i} ORDER BY score_x10_e6 DESC, id ASC LIMIT 1
    )"""
        )
        if i < k:
            parts.append(
                f"""cand{i + 1} AS (
        SELECT c.id, c.vec, c.rel_e6,
            greatest(coalesce(c.maxsim_e6, {sim}), {sim}) AS maxsim_e6
        FROM cand{i} c, sel{i} s WHERE c.id != s.id
    )"""
            )
    union = " UNION ALL ".join(
        f'SELECT "rank", id, rel_e6, maxsim_e6, score_x10_e6 FROM sel{i}'
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(parts) + f' {union} ORDER BY "rank"'


ORACLES["embedding_mmr_select"] = _mmr_oracle()

# X123 conformal threshold (operators/aggregates.py:
# conformal_threshold): pure-integer ceil rank, exact order
# statistic as the smallest value whose cumulative count reaches
# it, realized coverage re-reported; NULL when the guarantee is
# finite-sample impossible.
ORACLES["conformal_value_bound"] = """
    WITH vc AS (
        SELECT event_type AS grp, value AS v, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    cum AS (
        SELECT grp, v,
            SUM(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
            SUM(c) OVER (PARTITION BY grp) AS n
        FROM vc
    ),
    rk AS (
        SELECT grp, v, cum, n,
            ((n + 1) * 900000 + 999999) // 1000000 AS rank_needed
        FROM cum
    )
    SELECT grp, CAST(n AS BIGINT) AS n,
        CAST(rank_needed AS BIGINT) AS rank_needed,
        MIN(CASE WHEN cum >= rank_needed THEN v END) AS q_hat,
        -- CAST: the window SUM makes cum/n HUGEINT, which pandas
        -- degrades to float64 (the r8 red-row mechanism); keep the
        -- hashed surface BIGINT.
        CAST((1000000 * MIN(CASE WHEN cum >= rank_needed THEN cum END)) // n
            AS BIGINT) AS achieved_ppm,
        CAST(900000 AS BIGINT) AS target_ppm
    FROM rk GROUP BY grp, n, rank_needed
    ORDER BY grp
"""

# X124 modularity (operators/graph.py: modularity): same cluster +
# edge CTE composition as X82; HUGEINT-exact counts, two exact
# non-negative ppm divisions, modularity as their difference (the
# no-negative-division convention).
ORACLES["dedup_modularity"] = (
    "WITH clusters AS (SELECT doc_id, cluster_id FROM ("
    + ORACLES["dedup_clusters"]
    + ")), ed AS (SELECT doc_a, doc_b FROM ("
    + ORACLES["dedup_ngram_jaccard"]
    + """)),
    e2 AS (
        SELECT ca.cluster_id AS cca, cb.cluster_id AS ccb
        FROM ed
        JOIN clusters ca ON ed.doc_a = ca.doc_id
        JOIN clusters cb ON ed.doc_b = cb.doc_id
    ),
    within AS (
        SELECT cca AS cluster_id, CAST(COUNT(*) AS HUGEINT) AS ec
        FROM e2 WHERE cca = ccb GROUP BY 1
    ),
    deg AS (
        SELECT id, CAST(COUNT(*) AS HUGEINT) AS d FROM (
            SELECT doc_a AS id FROM ed
            UNION ALL SELECT doc_b AS id FROM ed
        ) GROUP BY 1
    ),
    dc AS (
        SELECT c.cluster_id, CAST(SUM(g.d) AS HUGEINT) AS dcs
        FROM deg g JOIN clusters c ON g.id = c.doc_id GROUP BY 1
    ),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM ed),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
            CAST(SUM(COALESCE(w.ec, 0)) AS HUGEINT) AS sum_ec,
            CAST(SUM(dc.dcs * dc.dcs) AS HUGEINT) AS sum_dc2
        FROM dc LEFT JOIN within w USING (cluster_id)
    )
    SELECT CAST(m.m AS BIGINT) AS n_edges, s.n_clusters,
        CASE WHEN m.m > 0 THEN
            CAST((1000000 * s.sum_ec) // m.m AS BIGINT) END
            AS obs_within_ppm,
        CASE WHEN m.m > 0 THEN
            CAST((1000000 * s.sum_dc2) // (4 * m.m * m.m) AS BIGINT) END
            AS exp_within_ppm,
        CASE WHEN m.m > 0 THEN
            CAST((1000000 * s.sum_ec) // m.m -
                 (1000000 * s.sum_dc2) // (4 * m.m * m.m) AS BIGINT) END
            AS modularity_ppm
    FROM s, m
"""
)

# X125 nDCG@5 retrieval eval (operators/similarity.py:
# retrieval_ndcg_eval): exact top-5 defines graded relevance
# rel = 6 - true_rank; the IVF list's positions pay the 1/log2(r+1)
# discount via an integer-ppm LUT computed here INDEPENDENTLY from
# the same closed form the operator uses (round(1e6/log2(r+1)) —
# python round; no transcendental runs inside either engine).
# Per-query ideal DCG folds the truth side under its own ranks.
import math as _math

_NDCG_DISC = {
    r: round(1_000_000 / _math.log2(r + 1)) for r in range(1, 6)
}
_NDCG_CASE = (
    "CASE {col} "
    + " ".join(f"WHEN {r} THEN {d}" for r, d in _NDCG_DISC.items())
    + " ELSE 0 END"
)

ORACLES["ann_ndcg_eval"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    lists AS (
        SELECT vec_id AS neighbor_id, embedding AS cv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='embeddings', cents='cents')})
        WHERE probe_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS qv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='(SELECT * FROM embeddings WHERE vec_id < 12)', cents='cents')})
        WHERE probe_rank <= 1
    ),
    ivf AS (
        SELECT query_id, neighbor_id, rank
        FROM (
            SELECT query_id, neighbor_id,
                CAST(ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
                ) AS INTEGER) AS rank
            FROM (
                SELECT p.query_id, l.neighbor_id,
                    ROUND(list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                                                 CAST(l.cv AS DOUBLE[])), 6)
                        AS cos_sim
                FROM lists l JOIN probes p USING (centroid_id)
                WHERE l.neighbor_id <> p.query_id
            )
        )
        WHERE rank <= 5
    ),
    bf AS (
        SELECT query_id, neighbor_id,
            CAST(6 - rank AS BIGINT) AS rel,
            CAST({_NDCG_CASE.format(col='rank')} AS BIGINT) AS ideal_disc
        FROM (
            SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
                ) AS rank
            FROM (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                    ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                 CAST(q.embedding AS DOUBLE[])), 6)
                        AS cos_sim
                FROM embeddings e,
                     (SELECT * FROM embeddings WHERE vec_id < 12) q
                WHERE e.vec_id <> q.vec_id
            )
        )
        WHERE rank <= 5
    ),
    dcg AS (
        SELECT i.query_id,
            CAST(SUM(COALESCE(b.rel, 0)
                     * CAST({_NDCG_CASE.format(col='i.rank')} AS BIGINT))
                 AS BIGINT) AS dcg_ppm
        FROM ivf i
        LEFT JOIN bf b ON b.query_id = i.query_id
                      AND b.neighbor_id = i.neighbor_id
        GROUP BY i.query_id
    ),
    idcg AS (
        SELECT query_id, CAST(SUM(rel * ideal_disc) AS BIGINT) AS idcg_ppm,
            COUNT(*) AS n_true
        FROM bf GROUP BY query_id
    ),
    per AS (
        SELECT x.query_id, x.n_true,
            COALESCE(d.dcg_ppm, 0) AS dcg_ppm, x.idcg_ppm,
            (1000000 * COALESCE(d.dcg_ppm, 0)) // x.idcg_ppm AS ndcg_ppm
        FROM idcg x LEFT JOIN dcg d USING (query_id)
    )
    SELECT query_id, n_true,
        CAST(dcg_ppm AS DOUBLE) / 1000000.0 AS dcg,
        CAST(ndcg_ppm AS DOUBLE) / 1000000.0 AS ndcg,
        CAST((SELECT SUM(ndcg_ppm) // COUNT(*) FROM per) AS DOUBLE)
            / 1000000.0 AS mean_ndcg
    FROM per ORDER BY query_id
"""

# X126 reliability curve + Brier/ECE (operators/textstats.py:
# calibration_brier): the X41 logit oracle as the scored input,
# lang=='en' label, fixed affine clamp p_ppm = clamp(500000 +
# sign-symmetric (1000*|logit|) // n, 0, 1e6), 10 p-deciles,
# exact HUGEINT squared-error sums, one final // per display value.
ORACLES["classifier_calibration"] = f"""
    WITH scored AS (
        SELECT s.doc_id, s.n_tokens, s.logit,
            CAST(d.lang = 'en' AS BIGINT) AS y
        FROM ({ORACLES['classifier_hashed_logit'].replace("ORDER BY doc_id", "")}) s
        JOIN documents d USING (doc_id)
    ),
    p AS (
        SELECT y,
            LEAST(1000000, GREATEST(0, 500000 +
                CASE WHEN logit < 0 THEN -((1000 * -logit) // n_tokens)
                     ELSE (1000 * logit) // n_tokens END)) AS p_ppm
        FROM scored
    ),
    rows_b AS (
        SELECT p_ppm, y, LEAST(p_ppm, 999999) // 100000 AS bin,
            CAST((p_ppm - 1000000 * y) * (p_ppm - 1000000 * y)
                 AS HUGEINT) AS sq
        FROM p
    ),
    per_bin AS (
        SELECT bin, COUNT(*) AS n_docs,
            SUM(p_ppm) // COUNT(*) AS mean_p_ppm,
            (1000000 * SUM(y)) // COUNT(*) AS pos_ppm,
            CAST(SUM(sq) AS HUGEINT) AS sum_sq
        FROM rows_b GROUP BY bin
    ),
    g AS (
        SELECT bin, n_docs, mean_p_ppm, pos_ppm,
            ABS(mean_p_ppm - pos_ppm) AS gap_ppm, sum_sq
        FROM per_bin
    ),
    tot AS (
        SELECT CAST(SUM(sum_sq) // (CAST(SUM(n_docs) AS HUGEINT) * 1000000)
                    AS BIGINT) AS brier_ppm,
            CAST(SUM(n_docs * gap_ppm) // SUM(n_docs) AS BIGINT) AS ece_ppm
        FROM g
    )
    SELECT g.bin, g.n_docs,
        CAST(g.mean_p_ppm AS DOUBLE) / 1000000.0 AS mean_pred,
        CAST(g.pos_ppm AS DOUBLE) / 1000000.0 AS frac_pos,
        CAST(g.gap_ppm AS DOUBLE) / 1000000.0 AS gap,
        CAST(tot.brier_ppm AS DOUBLE) / 1000000.0 AS brier,
        CAST(tot.ece_ppm AS DOUBLE) / 1000000.0 AS ece
    FROM g, tot ORDER BY g.bin
"""

# X127 leakage-safe k-fold plan (operators/sampling.py:
# group_kfold_plan): the dedup_clusters oracle as the group input,
# the unit-hash convention for both the cluster-keyed fold and the
# naive doc-keyed fold, k=5.
ORACLES["split_kfold_grouped"] = f"""
    WITH clusters AS (
        SELECT doc_id, cluster_id FROM ({ORACLES['dedup_clusters']})
    ),
    b AS (
        SELECT doc_id, cluster_id,
            {_UNIT.format(col='cluster_id')} % 5 AS fold,
            {_UNIT.format(col='doc_id')} % 5 AS naive
        FROM clusters
    ),
    per AS (
        SELECT fold, COUNT(*) AS n_docs,
            COUNT(DISTINCT cluster_id) AS n_clusters,
            COUNT(*) FILTER (fold <> naive) AS n_leaked_naive
        FROM b GROUP BY fold
    )
    SELECT fold, n_docs, n_clusters, n_leaked_naive,
        CAST((1000000 * n_docs) // (SELECT SUM(n_docs) FROM per) AS DOUBLE)
            / 1000000.0 AS docs_share
    FROM per ORDER BY fold
"""

# --- round-9 batch 1 (X128/X134/X135/X136/X145) ---

# X128 term burstiness (operators/textstats.py: term_burstiness):
# per-(term, doc) counts -> per-term tf/df/max_doc_tf, integer
# burstiness_e3 / conc_ppm, deterministic top-20 by (df DESC, term).
ORACLES["term_burstiness"] = f"""
    WITH toks AS (
        SELECT doc_id,
            list_filter({_TOKS.format(col='text')}, __x -> __x <> '') AS t
        FROM documents
    ),
    per_doc AS (
        SELECT doc_id, u.term, COUNT(*) AS c
        FROM toks, UNNEST(t) AS u(term)
        GROUP BY doc_id, u.term
    ),
    per_term AS (
        SELECT term,
            CAST(COUNT(*) AS BIGINT) AS df,
            CAST(SUM(c) AS BIGINT) AS tf,
            CAST(MAX(c) AS BIGINT) AS max_doc_tf
        FROM per_doc GROUP BY term
    )
    SELECT term, df, tf, max_doc_tf,
        CAST((1000 * tf) // df AS BIGINT) AS burstiness_e3,
        CAST((1000000 * max_doc_tf) // tf AS BIGINT) AS conc_ppm
    FROM per_term
    ORDER BY df DESC, term ASC
    LIMIT 20
"""

# X134 winsorized per-source length stats (operators/textstats.py:
# winsorized_panel): exact rank-based P1/P99 (value at rank
# ceil(k*n/100) in (v, doc_id) order), integer winsorized mean,
# clipped mass.
ORACLES["winsorized_length_stats"] = """
    WITH base AS (
        SELECT source AS grp, n_chars AS v, doc_id AS rid FROM documents
    ),
    ranked AS (
        SELECT grp, v,
            ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, rid) AS rk,
            COUNT(*) OVER (PARTITION BY grp) AS n
        FROM base
    ),
    bounds AS (
        SELECT grp,
            MIN(CASE WHEN rk = (1 * n + 99) // 100 THEN v END) AS p_lo,
            MIN(CASE WHEN rk = (99 * n + 99) // 100 THEN v END) AS p_hi
        FROM ranked
        WHERE rk = (1 * n + 99) // 100 OR rk = (99 * n + 99) // 100
        GROUP BY grp
    ),
    clamped AS (
        SELECT b.grp, bo.p_lo, bo.p_hi,
            GREATEST(bo.p_lo, LEAST(bo.p_hi, b.v)) AS w,
            b.v < bo.p_lo AS clo,
            b.v > bo.p_hi AS chi
        FROM base b JOIN bounds bo ON b.grp = bo.grp
    ),
    agg AS (
        SELECT grp, p_lo, p_hi,
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(SUM(w) // COUNT(*) AS BIGINT) AS win_mean,
            CAST(SUM(CASE WHEN clo THEN 1 ELSE 0 END) AS BIGINT)
                AS n_clipped_low,
            CAST(SUM(CASE WHEN chi THEN 1 ELSE 0 END) AS BIGINT)
                AS n_clipped_high
        FROM clamped GROUP BY grp, p_lo, p_hi
    )
    SELECT grp AS source, n_rows, p_lo, p_hi, win_mean,
        n_clipped_low, n_clipped_high,
        CAST((1000000 * (n_clipped_low + n_clipped_high)) // n_rows
            AS BIGINT) AS clipped_ppm
    FROM agg ORDER BY source
"""

# X135 output-file sizing plan (operators/aggregates.py:
# output_file_plan): exact byte sums (strlen = octet length in
# DuckDB), ceil-division file counts, 64 KiB demo budget.
ORACLES["output_file_plan"] = """
    WITH agg AS (
        SELECT source AS grp,
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
            CAST(MAX(strlen(text)) AS BIGINT) AS max_row_bytes,
            CAST(SUM(CASE WHEN strlen(text) > 65536 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oversize_rows
        FROM documents GROUP BY source
    )
    SELECT grp AS source, n_rows, total_bytes,
        CAST((total_bytes + 65535) // 65536 AS BIGINT) AS n_files,
        CAST(total_bytes // ((total_bytes + 65535) // 65536) AS BIGINT)
            AS avg_file_bytes,
        CAST((n_rows + (total_bytes + 65535) // 65536 - 1)
            // ((total_bytes + 65535) // 65536) AS BIGINT) AS rows_per_file,
        max_row_bytes, n_oversize_rows
    FROM agg ORDER BY source
"""

# X136 Z-order locality eval (operators/aggregates.py:
# zorder_locality): 4-bit grid quantization over exact global
# min/max, div/mod Morton interleave, per-Z-range envelopes +
# coverage ppm.
_Z_INTERLEAVE = " + ".join(
    f"((c1 // {1 << i}) % 2) * {1 << (2 * i + 1)} + "
    f"((c2 // {1 << i}) % 2) * {1 << (2 * i)}"
    for i in range(4)
)
ORACLES["zorder_locality"] = f"""
    WITH mm AS (
        SELECT CAST(MIN(n_chars) AS BIGINT) AS mn1,
            CAST(MAX(n_chars) AS BIGINT) AS mx1,
            CAST(MIN(doc_id) AS BIGINT) AS mn2,
            CAST(MAX(doc_id) AS BIGINT) AS mx2
        FROM documents
    ),
    cells AS (
        SELECT ((d.n_chars - mm.mn1) * 16) // (mm.mx1 - mm.mn1 + 1) AS c1,
            ((d.doc_id - mm.mn2) * 16) // (mm.mx2 - mm.mn2 + 1) AS c2,
            CAST(d.n_chars AS BIGINT) AS v1,
            CAST(d.doc_id AS BIGINT) AS v2,
            mm.mn1, mm.mx1, mm.mn2, mm.mx2
        FROM documents d, mm
    ),
    keyed AS (
        SELECT CAST({_Z_INTERLEAVE} AS BIGINT) // 16 AS zrange,
            v1, v2, mn1, mx1, mn2, mx2
        FROM cells
    )
    SELECT zrange,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        MIN(v1) AS min_d1, MAX(v1) AS max_d1,
        MIN(v2) AS min_d2, MAX(v2) AS max_d2,
        CAST((1000000 * (MAX(v1) - MIN(v1) + 1)) //
            (ANY_VALUE(mx1) - ANY_VALUE(mn1) + 1) AS BIGINT)
            AS d1_coverage_ppm,
        CAST((1000000 * (MAX(v2) - MIN(v2) + 1)) //
            (ANY_VALUE(mx2) - ANY_VALUE(mn2) + 1) AS BIGINT)
            AS d2_coverage_ppm
    FROM keyed GROUP BY zrange ORDER BY zrange
"""

# X145 freshness decay (operators/aggregates.py:
# freshness_decay_weights): age from the corpus max event DATE,
# power-of-2 staircase weights (exact; >= 20 half-lives -> 0),
# integer cents.
ORACLES["freshness_decay_weights"] = f"""
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    aged AS (
        SELECT e.event_type AS grp,
            datediff('day', CAST(e.ts AS DATE), CAST(mx.m AS DATE)) AS age,
            {_cents('e.value')} AS c
        FROM events e, mx
    ),
    weighted AS (
        SELECT grp, c,
            CASE WHEN age // 30 >= 20 THEN 0
                ELSE 1000000 // CAST(pow(2, age // 30) AS BIGINT)
            END AS w
        FROM aged
    )
    SELECT grp AS event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(w) AS BIGINT) AS weight_sum_ppm,
        CAST(SUM(w) // COUNT(*) AS BIGINT) AS mean_weight_ppm,
        CAST(SUM(CASE WHEN c < 0 THEN -(((-c) * w) // 1000000)
                 ELSE (c * w) // 1000000 END) AS BIGINT)
            AS weighted_cents,
        CAST(SUM(c) AS BIGINT) AS raw_cents
    FROM weighted GROUP BY grp ORDER BY event_type
"""

# --- round-9 batch 2 (X130/X132/X133/X137/X144) ---

# Shared: cosine of a corpus vector against every centroid with the
# round-6 + rank discipline of _IVF_ASSIGN, keeping c_sim.
_CENT_SIMS = """
        SELECT v.vec_id, c.centroid_id,
            ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                         CAST(c.centroid_vec AS DOUBLE[])), 6)
                AS c_sim,
            ROW_NUMBER() OVER (
                PARTITION BY v.vec_id
                ORDER BY ROUND(list_cosine_similarity(
                    CAST(v.embedding AS DOUBLE[]),
                    CAST(c.centroid_vec AS DOUBLE[])), 6) DESC,
                    c.centroid_id ASC
            ) AS rk
        FROM embeddings v, {cents} c
"""

# X130 centroid silhouette (operators/embeddings.py:
# centroid_silhouette): top-2 centroid sims -> ppm distances a/b,
# s = ((b-a)*1e6)//max(a,b), per-own-centroid panel.
ORACLES["ivf_cluster_silhouette"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    scored AS ({_CENT_SIMS.format(cents='cents')}),
    pivoted AS (
        SELECT vec_id,
            MIN(CASE WHEN rk = 1 THEN centroid_id END) AS cid,
            1000000 - CAST(ROUND(
                MIN(CASE WHEN rk = 1 THEN c_sim END) * 1000000) AS BIGINT)
                AS a,
            1000000 - CAST(ROUND(
                MIN(CASE WHEN rk = 2 THEN c_sim END) * 1000000) AS BIGINT)
                AS b
        FROM scored WHERE rk <= 2 GROUP BY vec_id
    ),
    s AS (
        SELECT cid,
            CASE WHEN GREATEST(a, b) = 0 THEN 0
                ELSE ((b - a) * 1000000) // GREATEST(a, b) END AS sil
        FROM pivoted
    )
    SELECT cid AS centroid_id,
        CAST(COUNT(*) AS BIGINT) AS n_vectors,
        CAST(SUM(sil) // COUNT(*) AS BIGINT) AS mean_sil_ppm,
        CAST(MIN(sil) AS BIGINT) AS min_sil_ppm,
        CAST((1000000 * SUM(CASE WHEN sil < 500000 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS ambiguous_ppm
    FROM s GROUP BY cid ORDER BY cid
"""

# X144 one-Lloyd-step diagnostics (operators/embeddings.py:
# lloyd_step_diagnostics): cents0 -> one _IVF_LLOYD_ROUND -> cents1;
# per-centroid membership + mean round-6-ppm assignment sim under
# each, and old->new centroid cosine.
ORACLES["kmeans_lloyd_step"] = f"""
    WITH cents0 AS ({_IVF_CENTS}),
    {_IVF_LLOYD_ROUND.format(n=1, prev=0, assign=_IVF_ASSIGN.format(src='embeddings', cents='cents0'))},
    b_sims AS ({_CENT_SIMS.format(cents='cents0')}),
    before AS (
        SELECT centroid_id,
            CAST(COUNT(*) AS BIGINT) AS n_before,
            CAST(SUM(CAST(ROUND(c_sim * 1000000) AS BIGINT)) // COUNT(*)
                AS BIGINT) AS mean_sim_before_e6
        FROM b_sims WHERE rk = 1 GROUP BY centroid_id
    ),
    a_sims AS ({_CENT_SIMS.format(cents='cents1')}),
    after AS (
        SELECT centroid_id,
            CAST(COUNT(*) AS BIGINT) AS n_after,
            CAST(SUM(CAST(ROUND(c_sim * 1000000) AS BIGINT)) // COUNT(*)
                AS BIGINT) AS mean_sim_after_e6
        FROM a_sims WHERE rk = 1 GROUP BY centroid_id
    ),
    move AS (
        SELECT c0.centroid_id,
            CAST(ROUND(ROUND(list_cosine_similarity(
                CAST(c0.centroid_vec AS DOUBLE[]),
                CAST(c1.centroid_vec AS DOUBLE[])), 6) * 1000000) AS BIGINT)
                AS cos_move_e6
        FROM cents0 c0 JOIN cents1 c1 USING (centroid_id)
    )
    SELECT centroid_id,
        CAST(COALESCE(b.n_before, 0) AS BIGINT) AS n_before,
        b.mean_sim_before_e6,
        CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
        a.mean_sim_after_e6, m.cos_move_e6
    FROM before b
    FULL JOIN after a USING (centroid_id)
    LEFT JOIN move m USING (centroid_id)
    ORDER BY centroid_id
"""

# X137 cosine-threshold calibration (operators/similarity.py:
# cosine_threshold_calibration): rank-1 centroid buckets, within-
# bucket pairs, round-6-then-x1e6 ppm cosine, label-agreement truth,
# one explode over the candidate thresholds.
ORACLES["semantic_threshold_calibration"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    assigned AS (
        SELECT s.vec_id, e.embedding, e.label, s.centroid_id
        FROM ({_CENT_SIMS.format(cents='cents')}) s
        JOIN embeddings e ON s.vec_id = e.vec_id
        WHERE s.rk = 1
    ),
    pairs AS (
        SELECT CAST(ROUND(ROUND(list_cosine_similarity(
                CAST(x.embedding AS DOUBLE[]),
                CAST(y.embedding AS DOUBLE[])), 6) * 1000000) AS BIGINT)
                AS cos_e6,
            x.label = y.label AS same
        FROM assigned x JOIN assigned y
            ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
    ),
    thr(thr_ppm) AS (
        VALUES (200000), (400000), (600000), (800000), (950000)
    ),
    agg AS (
        SELECT t.thr_ppm,
            CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(SUM(CASE WHEN p.same THEN 1 ELSE 0 END) AS BIGINT)
                AS n_pos,
            CAST(SUM(CASE WHEN p.cos_e6 >= t.thr_ppm THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pred,
            CAST(SUM(CASE WHEN p.same AND p.cos_e6 >= t.thr_ppm
                THEN 1 ELSE 0 END) AS BIGINT) AS n_tp
        FROM thr t, pairs p GROUP BY t.thr_ppm
    )
    SELECT CAST(thr_ppm AS BIGINT) AS thr_ppm, n_pairs, n_pos, n_pred, n_tp,
        CAST(CASE WHEN n_pred = 0 THEN NULL
            ELSE (1000000 * n_tp) // n_pred END AS BIGINT) AS precision_ppm,
        CAST(CASE WHEN n_pos = 0 THEN NULL
            ELSE (1000000 * n_tp) // n_pos END AS BIGINT) AS recall_ppm
    FROM agg ORDER BY thr_ppm
"""

# X132 CCNet per-language perplexity terciles (operators/textstats.py:
# perplexity_buckets): the X15 integer score, per-language
# (score DESC, doc_id) rank, tercile (3*(rk-1))//n.
ORACLES["ccnet_perplexity_buckets"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(col='text')} AS t FROM documents),
    grams AS (
        SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS gram
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ),
    gc AS (SELECT gram, COUNT(*) AS cg FROM grams GROUP BY 1),
    uc AS (SELECT w1, COUNT(*) AS cu FROM grams GROUP BY 1),
    ps AS (
        SELECT g.doc_id,
            CAST(ROUND(CAST(gc.cg AS DOUBLE) * 1000000.0 / uc.cu) AS BIGINT)
                AS p
        FROM grams g JOIN gc USING (gram) JOIN uc USING (w1)
    ),
    scores AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
            CAST(SUM(p) AS BIGINT) // COUNT(*) AS score_ppm
        FROM ps GROUP BY doc_id
    ),
    ranked AS (
        SELECT d.lang, s.n_bigrams, s.score_ppm,
            ROW_NUMBER() OVER (
                PARTITION BY d.lang ORDER BY s.score_ppm DESC, s.doc_id ASC
            ) AS rk,
            COUNT(*) OVER (PARTITION BY d.lang) AS n
        FROM scores s JOIN documents d USING (doc_id)
    )
    SELECT lang,
        CASE (3 * (rk - 1)) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
        CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
        CAST(MIN(score_ppm) AS BIGINT) AS min_score_ppm,
        CAST(MAX(score_ppm) AS BIGINT) AS max_score_ppm
    FROM ranked
    GROUP BY lang, (3 * (rk - 1)) // n
    ORDER BY lang, bucket
"""

# X133 language-mixture panel (operators/textstats.py:
# lang_mixture_panel): non-overlapping 64-token chunks, X5b marker
# vote per chunk, per-doc distinct non-unknown predictions.
_CHUNK_SCORE_COLS = ",\n            ".join(
    f"len(list_filter(ck, x -> x IN ({words}))) AS s_{lang}"
    for lang, words in _MARKERS.items()
)
ORACLES["doc_lang_mixture"] = f"""
    WITH t AS (
        SELECT doc_id, source, {_TOKLIST.format(col='text')} AS tk
        FROM documents
    ),
    nz AS (SELECT * FROM t WHERE len(tk) > 0),
    chunks AS (
        SELECT doc_id, source, tk[s + 1 : s + 64] AS ck
        FROM (
            SELECT doc_id, source, tk,
                unnest(generate_series(0, len(tk) - 1, 64)) AS s
            FROM nz
        )
    ),
    scored AS (
        SELECT doc_id, source,
            {_CHUNK_SCORE_COLS}
        FROM chunks
    ),
    preds AS (
        SELECT doc_id, source,
            CASE
                WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                    AND s_en > 0 THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                WHEN s_fr > 0 THEN 'fr'
                ELSE 'unknown'
            END AS p
        FROM scored
    ),
    per_doc AS (
        SELECT doc_id, source,
            COUNT(*) AS n_chunks,
            COUNT(DISTINCT CASE WHEN p <> 'unknown' THEN p END) AS n_langs
        FROM preds GROUP BY doc_id, source
    )
    SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
        CAST(SUM(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_mixed_docs,
        CAST(SUM(CASE WHEN n_langs = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_unknown_docs,
        CAST((1000000 * SUM(CASE WHEN n_langs > 1 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS mixed_ppm
    FROM per_doc GROUP BY source ORDER BY source
"""

# --- round-9 batch 3a (X138/X140/X141/X142/X143) ---

# X138 domain-rule tagging (operators/textstats.py:
# domain_tag_mixture): token-set marker counts, code > news > legal
# > general precedence, 4-row mixture panel.
_DOMAIN_MARKERS = {
    "code": "'def', 'class', 'function', 'return', 'import', 'var'",
    "news": "'said', 'report', 'today', 'announced', 'according'",
    "legal": "'shall', 'pursuant', 'herein', 'thereof', 'whereas'",
}
_DOMAIN_SCORE_COLS = ",\n            ".join(
    f"len(list_filter(t, x -> x IN ({words}))) AS d_{name}"
    for name, words in _DOMAIN_MARKERS.items()
)
ORACLES["domain_tag_mixture"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKLIST.format(col='text')} AS t FROM documents
    ),
    s AS (
        SELECT doc_id, len(t) AS n_tok,
            {_DOMAIN_SCORE_COLS}
        FROM toks
    ),
    tagged AS (
        SELECT n_tok,
            CASE
                WHEN d_code >= d_news AND d_code >= d_legal AND d_code > 0
                    THEN 'code'
                WHEN d_news >= d_legal AND d_news > 0 THEN 'news'
                WHEN d_legal > 0 THEN 'legal'
                ELSE 'general'
            END AS domain
        FROM s
    ),
    tot AS (SELECT COUNT(*) AS total FROM tagged)
    SELECT domain,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST((1000000 * COUNT(*)) // ANY_VALUE(tot.total) AS BIGINT)
            AS doc_share_ppm,
        CAST(SUM(n_tok) AS BIGINT) AS token_mass,
        CAST(SUM(n_tok) // COUNT(*) AS BIGINT) AS mean_tokens
    FROM tagged, tot GROUP BY domain ORDER BY domain
"""

# X143 markup census (operators/textstats.py: markup_density): raw-
# text regex counts (len(regexp_extract_all) = Spark regexp_count),
# per-source aggregate.
ORACLES["markup_density"] = """
    WITH per AS (
        SELECT source,
            length(text) AS chars,
            len(regexp_extract_all(text, '<[a-zA-Z]')) AS tagc,
            len(regexp_extract_all(text, 'https?://')) AS linkc,
            len(regexp_extract_all(text, '[.!?]')) AS sentc
        FROM documents
    )
    SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(chars) AS BIGINT) AS n_chars,
        CAST(SUM(tagc) AS BIGINT) AS tag_count,
        CAST(SUM(linkc) AS BIGINT) AS link_count,
        CAST(SUM(sentc) AS BIGINT) AS sentence_punct,
        CAST(SUM(CASE WHEN tagc > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS docs_with_markup,
        CAST(SUM(CASE WHEN sentc = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS docs_no_punct,
        CAST((1000000 * SUM(sentc)) // SUM(chars) AS BIGINT)
            AS punct_per_mchar
    FROM per GROUP BY source ORDER BY source
"""

# X140 unique token mass (operators/dedup.py: unique_token_mass):
# the X24 shingle->min(doc) attribution aggregated per source.
ORACLES["unique_token_mass"] = f"""
    WITH {_SHINGLE_CTE},
    first AS (SELECT shingle, MIN(doc_id) AS f FROM sh GROUP BY shingle)
    SELECT d.source,
        CAST(COUNT(*) AS BIGINT) AS n_instances,
        CAST(COUNT(DISTINCT s.shingle) AS BIGINT) AS n_distinct_shingles,
        CAST(SUM(CASE WHEN fi.f = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
            AS n_novel_instances,
        CAST((1000000 * SUM(CASE WHEN fi.f = s.doc_id THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS novel_ppm
    FROM sh s
    JOIN first fi USING (shingle)
    JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
"""

# X142 boundary-overlap chains (operators/dedup.py:
# boundary_overlap_chains): head/tail 3-shingles, df-capped head
# join, per-source-pair census.
ORACLES["boundary_overlap_chains"] = f"""
    WITH t AS (
        SELECT doc_id, source, {_TOKLIST.format(col='text')} AS tk
        FROM documents
    ),
    nz AS (SELECT * FROM t WHERE len(tk) >= 3),
    heads AS (
        SELECT doc_id AS hb, source AS hg,
            tk[1] || ' ' || tk[2] || ' ' || tk[3] AS b
        FROM nz
    ),
    tails AS (
        SELECT doc_id AS ta, source AS tg,
            tk[-3] || ' ' || tk[-2] || ' ' || tk[-1] AS b
        FROM nz
    ),
    hdf AS (SELECT b, COUNT(*) AS c FROM heads GROUP BY b),
    okh AS (
        SELECT h.* FROM heads h JOIN hdf ON h.b = hdf.b WHERE hdf.c <= 256
    ),
    edges AS (
        SELECT t2.tg, h.hg, h.b, t2.ta, h.hb
        FROM okh h JOIN tails t2 ON h.b = t2.b
        WHERE t2.ta <> h.hb
    )
    SELECT tg AS source_from, hg AS source_to,
        CAST(COUNT(*) AS BIGINT) AS n_edges,
        CAST(COUNT(DISTINCT b) AS BIGINT) AS n_boundaries,
        CAST(COUNT(DISTINCT ta) AS BIGINT) AS n_from_docs,
        CAST(COUNT(DISTINCT hb) AS BIGINT) AS n_to_docs
    FROM edges GROUP BY tg, hg ORDER BY source_from, source_to
"""

# X141 sampled-quantile rank error (operators/aggregates.py:
# quantile_sample_error): distinct-value lattice cumulative counts,
# exact rank targets, 1/16 unit-hash sample estimates.
ORACLES["quantile_sample_error"] = f"""
    WITH full_c AS (
        SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY 1
    ),
    full_l AS (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
            SUM(c) OVER () AS n
        FROM full_c
    ),
    samp_c AS (
        SELECT n_chars AS v, COUNT(*) AS c FROM documents
        WHERE {_UNIT.format(col='doc_id')} % 16 = 0
        GROUP BY 1
    ),
    samp_l AS (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
            SUM(c) OVER () AS sn
        FROM samp_c
    ),
    pcts(pct) AS (VALUES (25), (50), (75), (90), (99)),
    tgt AS (
        SELECT p.pct, f.n, (p.pct * f.n + 99) // 100 AS tr
        FROM pcts p, (SELECT DISTINCT n FROM full_l) f
    ),
    ex AS (
        SELECT t.pct, t.n, t.tr, MIN(f.v) AS exact_value
        FROM tgt t JOIN full_l f ON f.cum >= t.tr
        GROUP BY t.pct, t.n, t.tr
    ),
    stgt AS (
        SELECT p.pct, (p.pct * s.sn + 99) // 100 AS str
        FROM pcts p, (SELECT DISTINCT sn FROM samp_l) s
    ),
    est AS (
        SELECT t.pct, MIN(s.v) AS est_value
        FROM stgt t JOIN samp_l s ON s.cum >= t.str
        GROUP BY t.pct
    ),
    ach AS (
        SELECT e.pct, e.est_value,
            COALESCE(MAX(f.cum), 0) AS a
        FROM est e LEFT JOIN full_l f ON f.v <= e.est_value
        GROUP BY e.pct, e.est_value
    )
    SELECT CAST(ex.pct AS BIGINT) AS pct,
        CAST(ex.n AS BIGINT) AS n_rows,
        ex.exact_value, ach.est_value,
        CAST(ach.a AS BIGINT) AS achieved_rank,
        CAST(ex.tr AS BIGINT) AS target_rank,
        CAST((1000000 * abs(ach.a - ex.tr)) // ex.n AS BIGINT)
            AS rank_err_ppm
    FROM ex LEFT JOIN ach ON ex.pct = ach.pct
    ORDER BY pct
"""

# --- round-9 batch 3b (X129/X131/X139/X146/X147) ---

# X129 margin-kNN mining (operators/similarity.py: margin_knn_pairs):
# label-parity groups, rank-1 centroid buckets, top-4 neighborhood
# means with sign-symmetric division, margin DESC NULLS LAST top-20.
ORACLES["bitext_margin_mining"] = f"""
    WITH cents AS ({_IVF_CENTS}),
    asn AS (
        SELECT s.vec_id, e.embedding, e.label % 2 AS g, s.centroid_id
        FROM ({_CENT_SIMS.format(cents='cents')}) s
        JOIN embeddings e ON s.vec_id = e.vec_id
        WHERE s.rk = 1
    ),
    pairs AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b,
            CAST(ROUND(ROUND(list_cosine_similarity(
                CAST(x.embedding AS DOUBLE[]),
                CAST(y.embedding AS DOUBLE[])), 6) * 1000000) AS BIGINT)
                AS cos_e6
        FROM asn x JOIN asn y ON x.centroid_id = y.centroid_id
        WHERE x.g = 0 AND y.g = 1
    ),
    ka AS (
        SELECT id_a,
            CASE WHEN SUM(cos_e6) < 0
                THEN -((-SUM(cos_e6)) // COUNT(*))
                ELSE SUM(cos_e6) // COUNT(*) END AS ax
        FROM (
            SELECT id_a, cos_e6, ROW_NUMBER() OVER (
                PARTITION BY id_a ORDER BY cos_e6 DESC, id_b ASC) AS r
            FROM pairs
        ) WHERE r <= 4 GROUP BY id_a
    ),
    kb AS (
        SELECT id_b,
            CASE WHEN SUM(cos_e6) < 0
                THEN -((-SUM(cos_e6)) // COUNT(*))
                ELSE SUM(cos_e6) // COUNT(*) END AS ay
        FROM (
            SELECT id_b, cos_e6, ROW_NUMBER() OVER (
                PARTITION BY id_b ORDER BY cos_e6 DESC, id_a ASC) AS r
            FROM pairs
        ) WHERE r <= 4 GROUP BY id_b
    )
    SELECT p.id_a, p.id_b, p.cos_e6,
        CAST(CASE WHEN ka.ax + kb.ay <= 0 THEN NULL
            WHEN p.cos_e6 < 0
                THEN -((2000000 * -p.cos_e6) // (ka.ax + kb.ay))
            ELSE (2000000 * p.cos_e6) // (ka.ax + kb.ay) END AS BIGINT)
            AS margin_ppm
    FROM pairs p JOIN ka USING (id_a) JOIN kb USING (id_b)
    ORDER BY margin_ppm DESC NULLS LAST, id_a ASC, id_b ASC
    LIMIT 20
"""

# X131 greedy source coverage (operators/sampling.py:
# greedy_source_coverage): 4 unrolled max-coverage rounds over the
# distinct (source, shingle) table; ties to ascending source.
ORACLES["source_coverage_greedy"] = f"""
    WITH {_SHINGLE_CTE},
    ssrc AS (
        SELECT DISTINCT d.source AS g, s.shingle
        FROM sh s JOIN documents d USING (doc_id)
    ),
    w1 AS (
        SELECT 1 AS step, g, CAST(COUNT(*) AS BIGINT) AS gain
        FROM ssrc GROUP BY g ORDER BY gain DESC, g ASC LIMIT 1
    ),
    c1 AS (SELECT DISTINCT s.shingle FROM ssrc s JOIN w1 USING (g)),
    r2 AS (
        SELECT s.g, s.shingle FROM ssrc s
        LEFT JOIN c1 ON s.shingle = c1.shingle WHERE c1.shingle IS NULL
    ),
    w2 AS (
        SELECT 2 AS step, g, CAST(COUNT(*) AS BIGINT) AS gain
        FROM r2 GROUP BY g ORDER BY gain DESC, g ASC LIMIT 1
    ),
    c2 AS (
        SELECT shingle FROM c1
        UNION SELECT s.shingle FROM r2 s JOIN w2 USING (g)
    ),
    r3 AS (
        SELECT s.g, s.shingle FROM ssrc s
        LEFT JOIN c2 ON s.shingle = c2.shingle WHERE c2.shingle IS NULL
    ),
    w3 AS (
        SELECT 3 AS step, g, CAST(COUNT(*) AS BIGINT) AS gain
        FROM r3 GROUP BY g ORDER BY gain DESC, g ASC LIMIT 1
    ),
    c3 AS (
        SELECT shingle FROM c2
        UNION SELECT s.shingle FROM r3 s JOIN w3 USING (g)
    ),
    r4 AS (
        SELECT s.g, s.shingle FROM ssrc s
        LEFT JOIN c3 ON s.shingle = c3.shingle WHERE c3.shingle IS NULL
    ),
    w4 AS (
        SELECT 4 AS step, g, CAST(COUNT(*) AS BIGINT) AS gain
        FROM r4 GROUP BY g ORDER BY gain DESC, g ASC LIMIT 1
    ),
    allw AS (
        SELECT * FROM w1 UNION ALL SELECT * FROM w2
        UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4
    )
    SELECT CAST(step AS BIGINT) AS step, g AS source, gain,
        CAST(SUM(gain) OVER (ORDER BY step) AS BIGINT) AS covered_total
    FROM allw ORDER BY step
"""

# X139 contrastive pair plan (operators/packing.py:
# contrastive_pairs_plan): stride-64 chunks, adjacent-chunk pairs,
# unit-hash batches, exact in-batch negative availability.
ORACLES["contrastive_pairs_plan"] = f"""
    WITH t AS (
        SELECT doc_id, {_TOKLIST.format(col='text')} AS tk FROM documents
    ),
    nz AS (SELECT * FROM t WHERE len(tk) > 0),
    chunks AS (
        SELECT doc_id, s // 64 AS chunk_id,
            LEAST(64, len(tk) - s) AS n_tokens
        FROM (
            SELECT doc_id, tk,
                unnest(generate_series(0, len(tk) - 1, 64)) AS s
            FROM nz
        )
    ),
    pairs AS (
        SELECT a.doc_id,
            {_UNIT.format(col='a.doc_id')} % 8 AS batch_id,
            b.n_tokens AS pos_tokens
        FROM chunks a JOIN chunks b
            ON a.doc_id = b.doc_id AND b.chunk_id = a.chunk_id + 1
    ),
    per_doc AS (
        SELECT batch_id, doc_id, COUNT(*) AS p, SUM(pos_tokens) AS pt
        FROM pairs GROUP BY batch_id, doc_id
    )
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(p) AS BIGINT) AS n_pairs,
        CAST(SUM(p) - MAX(p) AS BIGINT) AS min_neg_per_pair,
        CAST((1000 * (SUM(p) * SUM(p) - SUM(p * p))) // SUM(p) AS BIGINT)
            AS mean_neg_per_pair_e3,
        CAST(SUM(pt) // SUM(p) AS BIGINT) AS mean_pos_tokens
    FROM per_doc GROUP BY batch_id ORDER BY batch_id
"""

# X146 survivor-bias audit (operators/dedup.py: survivor_bias_panel):
# X7 clusters x X5 quality e2 scores, three retention policies via
# UNION ALL, exact means.
ORACLES["dedup_survivor_bias"] = f"""
    WITH clusters AS (
        SELECT doc_id, cluster_id FROM ({ORACLES['dedup_clusters']})
    ),
    scores AS (
        SELECT doc_id, CAST(ROUND(quality_score * 100) AS BIGINT) AS s
        FROM ({ORACLES['text_quality_score']})
    ),
    j AS (
        SELECT c.cluster_id, c.doc_id, s.s,
            ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                ORDER BY s.s DESC, c.doc_id ASC) AS rb,
            ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                ORDER BY c.doc_id ASC) AS rm
        FROM clusters c JOIN scores s USING (doc_id)
    ),
    panel AS (
        SELECT 'corpus' AS policy, s FROM j
        UNION ALL SELECT 'min_id' AS policy, s FROM j WHERE rm = 1
        UNION ALL SELECT 'best_score' AS policy, s FROM j WHERE rb = 1
    )
    SELECT policy,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(s) // COUNT(*) AS BIGINT) AS mean_score_e2,
        CAST(MIN(s) AS BIGINT) AS min_score_e2,
        CAST(MAX(s) AS BIGINT) AS max_score_e2
    FROM panel GROUP BY policy ORDER BY policy
"""

# X147 variance explained (operators/embeddings.py:
# pc_variance_explained): the X60 Gram + 8-iteration power vector
# (ROUNDED loadings), then index-ordered folds for trace, u'u and
# u'Gu — all double accumulation orders pinned.
ORACLES["pc_variance_explained"] = f"""
    WITH q AS (
        SELECT list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
        FROM embeddings
    ),
    pr AS (
        SELECT CAST(ii.i AS INTEGER) - 1 AS i, CAST(jj.j AS INTEGER) - 1 AS j,
            CAST(a[CAST(ii.i AS INTEGER)] AS HUGEINT)
                * a[CAST(jj.j AS INTEGER)] AS p
        FROM q,
            UNNEST(range(1, {_PC_D} + 1)) AS ii(i),
            UNNEST(range(1, {_PC_D} + 1)) AS jj(j)
    ),
    gram AS (SELECT i, j, SUM(p) AS g FROM pr GROUP BY 1, 2),
    gj AS (
        SELECT j, list(CAST(g AS DOUBLE) / 1000000000000.0 ORDER BY i) AS row
        FROM gram GROUP BY j
    ),
    u0 AS (
        SELECT list_transform(range(1, {_PC_D} + 1),
            x -> CAST(1.0 AS DOUBLE)) AS u
    ),{",".join(_pc_iter_cte(k) for k in range(1, 9))},
    uload AS (
        SELECT list_transform(u, x -> ROUND(x, 6)) AS u FROM u8
    ),
    wv AS (
        SELECT j,
            list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
                list_transform(range(1, {_PC_D} + 1),
                    i -> row[CAST(i AS INTEGER)] * u[CAST(i AS INTEGER)])),
                (a, b) -> a + b) AS w,
            row[CAST(j + 1 AS INTEGER)] AS diag,
            u[CAST(j + 1 AS INTEGER)] AS uj
        FROM gj, uload
    ),
    arrs AS (
        SELECT list(w * uj ORDER BY j) AS wu,
            list(diag ORDER BY j) AS dg,
            list(uj * uj ORDER BY j) AS uu2
        FROM wv
    ),
    folds AS (
        SELECT
            list_reduce(list_concat([CAST(0.0 AS DOUBLE)], wu),
                (a, b) -> a + b) AS ugu,
            list_reduce(list_concat([CAST(0.0 AS DOUBLE)], dg),
                (a, b) -> a + b) AS tr,
            list_reduce(list_concat([CAST(0.0 AS DOUBLE)], uu2),
                (a, b) -> a + b) AS uu
        FROM arrs
    )
    SELECT CAST({_PC_D} AS BIGINT) AS dim,
        ROUND(tr, 6) AS trace_total,
        ROUND(ugu / uu, 6) AS pc_variance,
        CAST(ROUND(1000000 * ugu / (uu * tr)) AS BIGINT) AS explained_ppm
    FROM folds
"""


ORACLES["pii_cooccurrence_audit"] = r"""
    WITH flags AS (
        SELECT source,
            regexp_matches(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS e,
            regexp_matches(text, 'https?://[^ \t\n]+') AS u,
            regexp_matches(text, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}') AS p
        FROM documents
    ), agg AS (
        SELECT source,
            CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
            CAST(SUM(CASE WHEN u THEN 1 ELSE 0 END) AS BIGINT) AS n_url,
            CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
            CAST(SUM(CASE WHEN e AND p THEN 1 ELSE 0 END) AS BIGINT)
                AS n_email_phone,
            CAST(SUM(CASE WHEN e AND u THEN 1 ELSE 0 END) AS BIGINT)
                AS n_email_url,
            CAST(SUM(CASE WHEN u AND p THEN 1 ELSE 0 END) AS BIGINT)
                AS n_url_phone,
            CAST(SUM(CASE WHEN e OR u OR p THEN 1 ELSE 0 END) AS BIGINT)
                AS n_any_pii,
            CAST(SUM(CASE WHEN
                (CASE WHEN e THEN 1 ELSE 0 END
                 + CASE WHEN u THEN 1 ELSE 0 END
                 + CASE WHEN p THEN 1 ELSE 0 END) >= 2
                THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_pii
        FROM flags GROUP BY source
    )
    SELECT *, CAST((1000000 * n_multi_pii) // n_docs AS BIGINT)
        AS multi_pii_ppm
    FROM agg ORDER BY source
"""

ORACLES["uniform_group_sample"] = """
    SELECT source, doc_id, draw_rank FROM (
        SELECT source, doc_id,
            CAST(ROW_NUMBER() OVER (
                PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ) AS BIGINT) AS draw_rank
        FROM documents
    ) WHERE draw_rank <= 5
    ORDER BY source, draw_rank
"""

ORACLES["dedup_survival_by_source"] = """
    WITH RECURSIVE
    toks AS (SELECT doc_id, string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')), ' +') AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM (
            SELECT doc_a, doc_b,
                ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6)
                    AS jaccard
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
        )
        WHERE jaccard >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk AS (
        SELECT doc_id AS node, doc_id AS reach FROM documents
        UNION
        SELECT w.node, e.b AS reach FROM walk w JOIN edges e ON w.reach = e.a
    ),
    cl_surv AS (
        SELECT node AS doc_id FROM walk GROUP BY node HAVING node = MIN(reach)
    ),
    totals AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total
        FROM documents GROUP BY source
    ),
    ex_surv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
    fp_surv AS (
        SELECT MIN(doc_id) AS doc_id FROM documents
        GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
    ),
    src AS (SELECT doc_id, source FROM documents),
    stages AS (
        SELECT source, '1_total' AS stage, n_total AS n_surviving FROM totals
        UNION ALL
        SELECT s.source, '2_exact', COUNT(*)
        FROM ex_surv e JOIN src s USING (doc_id) GROUP BY s.source
        UNION ALL
        SELECT s.source, '3_fingerprint', COUNT(*)
        FROM fp_surv f JOIN src s USING (doc_id) GROUP BY s.source
        UNION ALL
        SELECT s.source, '4_near_dup_clusters', COUNT(*)
        FROM cl_surv c JOIN src s USING (doc_id) GROUP BY s.source
    )
    SELECT st.source, st.stage,
        CAST(st.n_surviving AS BIGINT) AS n_surviving,
        CAST((1000000 * st.n_surviving) // t.n_total AS BIGINT)
            AS survival_ppm
    FROM stages st JOIN totals t ON st.source = t.source
    ORDER BY st.source, st.stage
"""

ORACLES["lm_heldout_eval"] = """
    WITH toks AS (
        SELECT doc_id, source,
            string_split_regex(trim(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g')), ' +') AS t,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 5 = 0 AS held
        FROM documents),
    tri AS (
        SELECT doc_id,
            t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g3,
            t[i] || ' ' || t[i+1] AS g12,
            t[i+1] || ' ' || t[i+2] AS g23,
            t[i+1] AS w2
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE held
    ),
    tri_m AS (
        SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g3
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE NOT held
    ),
    bi AS (
        SELECT t[i] || ' ' || t[i+1] AS g12
        FROM toks, UNNEST(range(1, len(t))) AS u(i) WHERE NOT held
    ),
    uni AS (SELECT u.x AS w FROM toks, UNNEST(t) AS u(x) WHERE NOT held),
    c3 AS (SELECT g3, COUNT(*) AS c FROM tri_m GROUP BY 1 HAVING COUNT(*) >= 3),
    cbn AS (SELECT g12, COUNT(*) AS c FROM bi GROUP BY 1),
    cu AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
    s AS (
        SELECT t.doc_id,
            CASE WHEN c3.c IS NOT NULL THEN (1000000 * c3.c) // cb.c
                 ELSE (400000 * cb23.c) // cu.c END AS s,
            CASE WHEN c3.c IS NULL THEN 1 ELSE 0 END AS bo
        FROM tri t
        LEFT JOIN c3 USING (g3)
        JOIN cbn cb ON t.g12 = cb.g12
        JOIN cbn cb23 ON t.g23 = cb23.g12
        JOIN cu ON t.w2 = cu.w
    ),
    perdoc AS (
        SELECT doc_id, COUNT(*) AS nt, SUM(bo) AS nb,
            CAST(SUM(s) AS BIGINT) // COUNT(*) AS sp
        FROM s GROUP BY doc_id
    )
    SELECT d.source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS n_positions,
        CAST((1000000 * SUM(nb)) // SUM(nt) AS BIGINT) AS backoff_ppm,
        CAST(SUM(sp) // COUNT(*) AS BIGINT) AS mean_score_ppm
    FROM perdoc p JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
"""

ORACLES["exact_substring_cut_spans"] = """
    WITH toks AS (SELECT doc_id, string_split_regex(trim(regexp_replace(
            lower(text), '[^a-z0-9 ]', '', 'g')), ' +') AS t FROM documents),
    pos AS (
        SELECT doc_id, i AS s, i + 3 AS e,
            t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    cnt AS (SELECT g, COUNT(*) AS c FROM pos GROUP BY g HAVING COUNT(*) >= 2),
    dup AS (SELECT doc_id, s, e FROM pos JOIN cnt USING (g)),
    flagged AS (
        SELECT doc_id, s, e,
            CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -4611686018427387904)
                THEN 1 ELSE 0 END AS nw
        FROM dup
    ),
    islands AS (
        SELECT doc_id, s, e, SUM(nw) OVER (
            PARTITION BY doc_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        FROM flagged
    )
    SELECT doc_id,
        CAST(MIN(s) AS BIGINT) AS span_start,
        CAST(MAX(e) AS BIGINT) AS span_end,
        CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM islands GROUP BY doc_id, isl
    ORDER BY doc_id, span_start
"""

ORACLES["exact_substring_rewrite"] = """
    WITH toks AS (SELECT doc_id, string_split_regex(trim(regexp_replace(
            lower(text), '[^a-z0-9 ]', '', 'g')), ' +') AS t FROM documents),
    pos AS (
        SELECT doc_id, i AS s, i + 3 AS e,
            t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    cnt AS (SELECT g, COUNT(*) AS c FROM pos GROUP BY g HAVING COUNT(*) >= 2),
    dup AS (SELECT doc_id, s, e FROM pos JOIN cnt USING (g)),
    flagged AS (
        SELECT doc_id, s, e,
            CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -4611686018427387904)
                THEN 1 ELSE 0 END AS nw
        FROM dup
    ),
    islands AS (
        SELECT doc_id, s, e, SUM(nw) OVER (
            PARTITION BY doc_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
        FROM islands GROUP BY doc_id, isl
    ),
    tokpos AS (
        SELECT doc_id, t[p] AS w, CAST(p AS BIGINT) AS p
        FROM toks, UNNEST(range(1, len(t) + 1)) AS u(p)
    ),
    kept AS (
        SELECT tp.doc_id, tp.w, tp.p,
            NOT EXISTS (SELECT 1 FROM spans sp
                WHERE sp.doc_id = tp.doc_id
                  AND tp.p >= sp.span_start AND tp.p < sp.span_end) AS keep
        FROM tokpos tp
    )
    SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
            AS n_tokens_kept,
        CAST((1000000 * SUM(CASE WHEN keep THEN 1 ELSE 0 END))
            // GREATEST(COUNT(*), 1) AS BIGINT) AS kept_ppm,
        COALESCE(string_agg(CASE WHEN keep THEN w END, ' ' ORDER BY p), '')
            AS text_rewritten
    FROM kept GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["langid_source_agreement"] = """
    WITH toks AS (
        SELECT doc_id, lang, source, string_split_regex(trim(regexp_replace(
            lower(text), '[^a-z0-9 ]', '', 'g')), ' +') AS t FROM documents
    ),
    s AS (
        SELECT doc_id, lang, source,
            len(list_filter(t, x -> x IN ('the', 'and', 'of', 'to', 'is', 'a'))) AS s_en,
            len(list_filter(t, x -> x IN ('el', 'la', 'de', 'los', 'y', 'que'))) AS s_es,
            len(list_filter(t, x -> x IN ('der', 'die', 'das', 'und', 'nicht'))) AS s_de,
            len(list_filter(t, x -> x IN ('le', 'les', 'et', 'des', 'une'))) AS s_fr
        FROM toks
    ),
    pred AS (
        SELECT source, lang AS l,
            CASE
                WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0
                    THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
                WHEN s_fr > 0 THEN 'fr'
                ELSE 'unknown'
            END AS p
        FROM s
    ),
    cells AS (
        SELECT source, p, l, CAST(COUNT(*) AS BIGINT) AS c
        FROM pred GROUP BY source, p, l
    ),
    totals AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN p = l THEN c ELSE 0 END) AS BIGINT) AS trace
        FROM cells GROUP BY source
    ),
    marg_r AS (SELECT source, p, CAST(SUM(c) AS BIGINT) AS r
        FROM cells GROUP BY source, p),
    marg_c AS (SELECT source, l, CAST(SUM(c) AS BIGINT) AS cc
        FROM cells GROUP BY source, l),
    pe AS (
        -- HUGEINT accumulation: pe_num is bounded by n², which wraps
        -- BIGINT past ~3e9 docs and 1e6·pe_num past ~3e6 (r9 ADVICE
        -- item 5) — mirrors the Spark side's DECIMAL(38,0) route.
        SELECT mr.source,
            CAST(COALESCE(SUM(CAST(mr.r AS HUGEINT) * mc.cc), 0)
                AS HUGEINT) AS pe_num
        FROM marg_r mr JOIN marg_c mc
            ON mr.source = mc.source AND mr.p = mc.l
        GROUP BY mr.source
    )
    SELECT t.source, t.n AS n_docs,
        CAST((1000000 * t.trace) // t.n AS BIGINT) AS accuracy_ppm,
        CAST((CAST(1000000 AS HUGEINT) * COALESCE(pe.pe_num, 0))
            // (CAST(t.n AS HUGEINT) * t.n) AS BIGINT) AS chance_ppm,
        CASE WHEN CAST(t.n AS HUGEINT) * t.n != COALESCE(pe.pe_num, 0) THEN
            ROUND(CAST(CAST(t.n AS HUGEINT) * t.trace
                    - COALESCE(pe.pe_num, 0) AS DOUBLE)
                / CAST(CAST(t.n AS HUGEINT) * t.n
                    - COALESCE(pe.pe_num, 0) AS DOUBLE), 6)
        END AS kappa
    FROM totals t LEFT JOIN pe ON t.source = pe.source
    ORDER BY t.source
"""

ORACLES["embedding_participation_ratio"] = """
    WITH q AS (
        SELECT list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS a
        FROM embeddings
    ),
    pr AS (
        SELECT CAST(ii.i AS INTEGER) - 1 AS i, CAST(jj.j AS INTEGER) - 1 AS j,
            CAST(a[CAST(ii.i AS INTEGER)] AS HUGEINT)
                * a[CAST(jj.j AS INTEGER)] AS p
        FROM q,
            UNNEST(range(1, 64 + 1)) AS ii(i),
            UNNEST(range(1, 64 + 1)) AS jj(j)
    ),
    gram AS (SELECT i, j, SUM(p) AS g FROM pr GROUP BY 1, 2),
    ents AS (
        SELECT list(CAST(g AS DOUBLE) / 1000000000000.0 ORDER BY i, j)
            AS gs,
        list(CASE WHEN i = j THEN CAST(g AS DOUBLE) / 1000000000000.0 END
            ORDER BY i, j) FILTER (i = j) AS ds
        FROM gram
    ),
    folds AS (
        SELECT
            list_reduce(list_concat([CAST(0.0 AS DOUBLE)], ds),
                (acc, x) -> acc + x) AS tr,
            list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
                list_transform(gs, x -> x * x)),
                (acc, x) -> acc + x) AS fr
        FROM ents
    )
    SELECT CAST(64 AS BIGINT) AS dim,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
        ROUND(tr, 6) AS trace_total,
        ROUND(fr, 6) AS frob_sq,
        CASE WHEN fr != 0.0 THEN ROUND(tr * tr / fr, 6) END
            AS participation_ratio
    FROM folds
"""


# X156 (operators/dedup.py: tfidf_cosine_pairs): exact-integer tf·idf
# weights over the df<=100-capped vocabulary, HUGEINT norm²/dot, one
# final double sqrt·sqrt division, round-6.
ORACLES["tfidf_cosine_pairs"] = f"""
    WITH tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest({_TOKS.format(col='text')}) AS term
              FROM documents)
        WHERE term != '' GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
    w AS (
        SELECT t.doc_id, t.term,
            CAST(t.tf * (1000000 // d.df) AS BIGINT) AS w
        FROM tf t JOIN dfq d USING (term) WHERE d.df <= 100
    ),
    norms AS (
        SELECT doc_id, SUM(CAST(w AS HUGEINT) * w) AS s
        FROM w GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            SUM(CAST(a.w AS HUGEINT) * b.w) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, cosine
    FROM (
        SELECT p.doc_a, p.doc_b,
            ROUND(CAST(p.dot AS DOUBLE)
                / (sqrt(CAST(na.s AS DOUBLE)) * sqrt(CAST(nb.s AS DOUBLE))),
                6) AS cosine
        FROM pairs p
        JOIN norms na ON na.doc_id = p.doc_a
        JOIN norms nb ON nb.doc_id = p.doc_b
    )
    WHERE cosine >= 0.3
    ORDER BY doc_a, doc_b
"""

# X157 (operators/dedup.py: bag_jaccard_pairs): multiset Jaccard in
# pure integer arithmetic over the same capped vocabulary.
ORACLES["bag_jaccard_pairs"] = f"""
    WITH tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest({_TOKS.format(col='text')}) AS term
              FROM documents)
        WHERE term != '' GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
    w AS (
        SELECT t.doc_id, t.term, t.tf AS w
        FROM tf t JOIN dfq d USING (term) WHERE d.df <= 100
    ),
    mass AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS s
             FROM w GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(SUM(LEAST(a.w, b.w)) AS BIGINT) AS m
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, w_common, jaccard_w_ppm
    FROM (
        SELECT p.doc_a, p.doc_b, p.m AS w_common,
            CAST((1000000 * p.m) // (ma.s + mb.s - p.m) AS BIGINT)
                AS jaccard_w_ppm
        FROM pairs p
        JOIN mass ma ON ma.doc_id = p.doc_a
        JOIN mass mb ON mb.doc_id = p.doc_b
    )
    WHERE jaccard_w_ppm >= 300000
    ORDER BY doc_a, doc_b
"""

# X158 (operators/packing.py: cdc_chunk_stats): content-defined
# chunk boundaries (unit hash of the token ≡ 0 mod 8), per-source
# chunk-duplication census.
ORACLES["cdc_chunk_stats"] = f"""
    WITH base AS (
        SELECT doc_id, source,
            list_filter({_TOKS.format(col='text')}, x -> x != '') AS arr
        FROM documents
    ),
    toks AS (
        SELECT doc_id, source,
            arr[CAST(i AS INTEGER)] AS w, CAST(i AS BIGINT) AS p
        FROM base, UNNEST(range(1, len(arr) + 1)) AS u(i)
    ),
    flagged AS (
        SELECT doc_id, source, w, p,
            CASE WHEN {_UNIT.format(col='w')} % 8 = 0 THEN 1 ELSE 0 END
                AS b
        FROM toks
    ),
    seg AS (
        SELECT doc_id, source, w, p,
            COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS chunk_idx
        FROM flagged
    ),
    chunks AS (
        SELECT doc_id, ANY_VALUE(source) AS source, chunk_idx,
            CAST(COUNT(*) AS BIGINT) AS n_tokens,
            md5(string_agg(w, ' ' ORDER BY p)) AS chunk_hash
        FROM seg GROUP BY doc_id, chunk_idx
    ),
    tot AS (
        SELECT chunk_hash, CAST(COUNT(*) AS BIGINT) AS c
        FROM chunks GROUP BY chunk_hash
    )
    SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_chunks,
        CAST(SUM(CASE WHEN t.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dup_instances,
        CAST((1000000 * SUM(CASE WHEN t.c >= 2 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS dup_ppm,
        CAST(SUM(n_tokens) // COUNT(*) AS BIGINT) AS mean_chunk_tokens
    FROM chunks ch JOIN tot t USING (chunk_hash)
    GROUP BY source ORDER BY source
"""

# X159 (operators/embeddings.py: embedding_drift_by_label): id-parity
# halves, exact integer sum vectors, HUGEINT dot/norms², one double
# expression at the end.
ORACLES["embedding_drift_by_label"] = """
    WITH dims AS (
        SELECT label, vec_id % 2 AS half,
            CAST(i AS INTEGER) - 1 AS dim,
            CAST(round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                * 1000000) AS BIGINT) AS q
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    ),
    sums AS (
        -- conditional half-sums per (label, dim): a dim observed in
        -- only one half contributes 0 on the other side, so both
        -- engines aggregate the same dim support even on ragged
        -- embeddings (a dim-keyed join silently dropped such dims).
        SELECT label, dim,
            CAST(SUM(CASE WHEN half = 0 THEN q ELSE 0 END) AS BIGINT)
                AS sa,
            CAST(SUM(CASE WHEN half = 1 THEN q ELSE 0 END) AS BIGINT)
                AS sb
        FROM dims GROUP BY 1, 2
    ),
    counts AS (
        SELECT label, vec_id % 2 AS half, CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings GROUP BY 1, 2
    ),
    dots AS (
        SELECT label,
            SUM(CAST(sa AS HUGEINT) * sb) AS dot,
            SUM(CAST(sa AS HUGEINT) * sa) AS qa,
            SUM(CAST(sb AS HUGEINT) * sb) AS qb
        FROM sums GROUP BY label
    )
    SELECT d.label,
        ca.n AS n_a, cb.n AS n_b,
        CASE WHEN d.qa != 0 AND d.qb != 0 THEN
            ROUND(CAST(d.dot AS DOUBLE)
                / (sqrt(CAST(d.qa AS DOUBLE)) * sqrt(CAST(d.qb AS DOUBLE))),
                6) END AS mean_cos,
        CAST(round(sqrt(CAST(d.qa AS DOUBLE)) / CAST(ca.n AS DOUBLE))
            AS BIGINT) AS mean_norm_a_e6,
        CAST(round(sqrt(CAST(d.qb AS DOUBLE)) / CAST(cb.n AS DOUBLE))
            AS BIGINT) AS mean_norm_b_e6
    FROM dots d
    JOIN counts ca ON ca.label = d.label AND ca.half = 0
    JOIN counts cb ON cb.label = d.label AND cb.half = 1
    ORDER BY d.label
"""

# X160 (operators/dedup.py: duplication_gini): exact Gini over the
# multiplicity lattice, HUGEINT rank-sum accumulation.
ORACLES["duplication_gini"] = """
    WITH sizes AS (
        SELECT source, text, CAST(COUNT(*) AS BIGINT) AS v
        FROM documents GROUP BY 1, 2
    ),
    lat AS (
        SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM sizes GROUP BY 1, 2
    ),
    rk AS (
        SELECT source, v, c,
            COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS o
        FROM lat
    ),
    per AS (
        SELECT source,
            CAST(SUM(c) AS BIGINT) AS n_groups,
            CAST(SUM(v * c) AS BIGINT) AS n_docs,
            SUM(CAST(v AS HUGEINT) * (2 * CAST(c AS HUGEINT) * o
                + CAST(c AS HUGEINT) * (c + 1))) AS t2
        FROM rk GROUP BY source
    )
    SELECT source, n_groups, n_docs,
        CASE WHEN n_groups > 1 THEN
            CAST((1000000 * (t2 - CAST(n_groups + 1 AS HUGEINT)
                * n_docs)) // (CAST(n_groups AS HUGEINT) * n_docs)
                AS BIGINT) END AS gini_ppm
    FROM per ORDER BY source
"""

# X161 (operators/dedup.py: line_dedup_by_source): CCNet-style
# sentence/line duplication census per source.
ORACLES["line_dedup_by_source"] = r"""
    WITH lines AS (
        SELECT source, md5(trim(l)) AS h
        FROM (SELECT source,
                  unnest(string_split_regex(lower(text), '[.!?]+\s+'))
                      AS l
              FROM documents)
        WHERE length(trim(l)) >= 20
    ),
    persh AS (
        SELECT source, h, CAST(COUNT(*) AS BIGINT) AS k
        FROM lines GROUP BY 1, 2
    ),
    tot AS (SELECT h, CAST(SUM(k) AS BIGINT) AS c FROM persh GROUP BY h)
    SELECT source,
        CAST(SUM(k) AS BIGINT) AS n_lines,
        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        CAST(SUM(CASE WHEN c >= 2 THEN k ELSE 0 END) AS BIGINT)
            AS n_dup_instances,
        CAST((1000000 * SUM(CASE WHEN c >= 2 THEN k ELSE 0 END))
            // SUM(k) AS BIGINT) AS dup_ppm
    FROM persh JOIN tot USING (h)
    GROUP BY source ORDER BY source
"""

# X162 (operators/dedup.py: cluster_dilution_audit): recursive-CC
# clusters at J>=0.5, star-edge direct Jaccard (integer ppm),
# per-size-bucket dilution panel.
ORACLES["cluster_dilution_audit"] = f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle
            AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM (
            SELECT doc_a, doc_b,
                ROUND(CAST(n_common AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
        )
        WHERE jaccard >= 0.5
    ),
    edges0 AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk AS (
        SELECT doc_id AS node, doc_id AS reach FROM documents
        UNION
        SELECT w.node, e.b AS reach FROM walk w JOIN edges0 e
            ON w.reach = e.a
    ),
    cc AS (
        SELECT node AS doc_id, MIN(reach) AS cluster_id
        FROM walk GROUP BY node
    ),
    csize AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM cc GROUP BY cluster_id
    ),
    star AS (
        SELECT cc.doc_id AS m, cc.cluster_id AS s, cs.n
        FROM cc JOIN csize cs USING (cluster_id)
        WHERE cc.doc_id != cc.cluster_id
    ),
    scored AS (
        -- LEFT join + COALESCE: a zero-overlap member->survivor edge
        -- (the maximally diluted case this audit exists to count) has
        -- no shared-shingle row at all. j is the ppm of the ROUND-6
        -- Jaccard — the same arithmetic that admitted the cluster
        -- edges, so an edge the clustering accepted can never be
        -- flagged diluted by floor-rounding alone.
        SELECT st.n,
            CAST(ROUND(ROUND(CAST(COALESCE(cm.n_common, 0) AS DOUBLE)
                / (sa.n_sh + sb.n_sh - COALESCE(cm.n_common, 0)), 6)
                * 1000000) AS BIGINT) AS j
        FROM star st
        LEFT JOIN (
            SELECT a.doc_id AS x, b.doc_id AS y,
                CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle
            GROUP BY 1, 2
        ) cm ON cm.x = st.m AND cm.y = st.s
        JOIN sizes sa ON sa.doc_id = st.m
        JOIN sizes sb ON sb.doc_id = st.s
    )
    SELECT
        CASE WHEN n <= 2 THEN '2' WHEN n <= 4 THEN '3-4'
             WHEN n <= 8 THEN '5-8' ELSE '9+' END AS cluster_size_bucket,
        CAST(COUNT(*) AS BIGINT) AS n_edges,
        CAST(SUM(CASE WHEN j < 500000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_diluted,
        CAST((1000000 * SUM(CASE WHEN j < 500000 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS diluted_ppm,
        CAST(SUM(j) // COUNT(*) AS BIGINT) AS mean_jaccard_ppm
    FROM scored
    GROUP BY 1 ORDER BY 1
"""

# X163 (operators/dedup.py: minhash_calibration): exact-Jaccard
# deciles vs empirical matched-minhash fraction, k=8 signatures.
ORACLES["minhash_calibration"] = f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle
            AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jp AS (
        SELECT doc_a, doc_b,
            CAST((1000000 * n_common)
                // (sa.n_sh + sb.n_sh - n_common) AS BIGINT) AS j
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
    ),
    mh AS (
        SELECT doc_id,
            {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    scored AS (
        SELECT LEAST(9, jp.j // 100000) AS j_decile, jp.j,
            CAST(({" + ".join(
                f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END"
                for j in range(1, 9)
            )}) * 125000 AS BIGINT) AS mp
        FROM jp
        JOIN mh a ON a.doc_id = jp.doc_a
        JOIN mh b ON b.doc_id = jp.doc_b
    )
    SELECT CAST(j_decile AS BIGINT) AS j_decile,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(j) // COUNT(*) AS BIGINT) AS mean_j_ppm,
        CAST(SUM(mp) // COUNT(*) AS BIGINT) AS mean_match_ppm
    FROM scored GROUP BY 1 ORDER BY 1
"""


# X164 (operators/dedup.py: winnow_fingerprint_census): Schleimer
# 2003 winnowing over the 3-gram 60-bit md5 hash stream, rightmost
# minimum of every w=4 window (LEAST + rightmost-CASE == the Spark
# side's struct-min over (h, -pos)), distinct selected positions,
# per-source shared-fingerprint census.
ORACLES["winnow_fingerprints"] = f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS.format(col='text')} AS t
                  FROM documents),
    grams AS (
        SELECT doc_id, source, CAST(i AS BIGINT) AS p,
            CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                                 1, 15)) AS BIGINT) AS h
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    win AS (
        SELECT doc_id, source, p, h,
            lead(h, 1) OVER w AS h1,
            lead(h, 2) OVER w AS h2,
            lead(h, 3) OVER w AS h3
        FROM grams WINDOW w AS (PARTITION BY doc_id ORDER BY p)
    ),
    sel AS (
        SELECT DISTINCT doc_id, source,
            LEAST(h, h1, h2, h3) AS selh,
            CASE WHEN h3 = LEAST(h, h1, h2, h3) THEN p + 3
                 WHEN h2 = LEAST(h, h1, h2, h3) THEN p + 2
                 WHEN h1 = LEAST(h, h1, h2, h3) THEN p + 1
                 ELSE p END AS selp
        FROM win WHERE h3 IS NOT NULL
    ),
    dph AS (SELECT selh, COUNT(DISTINCT doc_id) AS docs
            FROM sel GROUP BY selh)
    SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
        CAST(COUNT(DISTINCT selh) AS BIGINT) AS n_distinct,
        CAST(SUM(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_shared,
        CAST((1000000 * SUM(CASE WHEN docs >= 2 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS shared_ppm
    FROM sel JOIN dph USING (selh)
    GROUP BY source ORDER BY source
"""

# X165 (operators/dedup.py: source_containment_direction): X69's
# containment pairs with the smaller-side doc as the contained
# direction, integer-ppm containment, per directed source-pair cell.
ORACLES["source_containment_direction"] = f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT
            CASE WHEN sa.n < sb.n THEN doc_a ELSE doc_b END AS small_id,
            CASE WHEN sa.n < sb.n THEN doc_b ELSE doc_a END AS large_id,
            CAST((1000000 * n_common) // LEAST(sa.n, sb.n) AS BIGINT)
                AS c_ppm
        FROM pairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE sa.n != sb.n
    )
    SELECT ds.source AS source_contained, dl.source AS source_container,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(c_ppm) // COUNT(*) AS BIGINT) AS mean_containment_ppm
    FROM scored
    JOIN documents ds ON small_id = ds.doc_id
    JOIN documents dl ON large_id = dl.doc_id
    WHERE c_ppm >= 500000
    GROUP BY 1, 2 ORDER BY 1, 2
"""

# X166 (operators/dedup.py: dup_span_position_profile): the X148 cut
# spans projected onto 1-based half-open position deciles
# [1 + (d*n)//10, 1 + ((d+1)*n)//10), exact integer interval overlap,
# per (source, decile) dup-token mass over the decile's true mass.
ORACLES["dup_span_position_profile"] = """
    WITH toks AS (SELECT doc_id, source, string_split_regex(trim(
            regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')), ' +') AS t
            FROM documents),
    pos AS (
        SELECT doc_id, i AS s, i + 3 AS e,
            t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
    ),
    cnt AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
    dup AS (SELECT doc_id, s, e FROM pos JOIN cnt USING (g)),
    flagged AS (
        SELECT doc_id, s, e,
            CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -4611686018427387904)
                THEN 1 ELSE 0 END AS nw
        FROM dup
    ),
    islands AS (
        SELECT doc_id, s, e, SUM(nw) OVER (
            PARTITION BY doc_id ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
        FROM islands GROUP BY doc_id, isl
    ),
    sized AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n
              FROM toks),
    totals AS (
        SELECT source, d AS decile,
            SUM((1 + ((d + 1) * n) // 10) - (1 + (d * n) // 10))
                AS n_tokens
        FROM sized, UNNEST(range(0, 10)) AS u(d)
        GROUP BY 1, 2
    ),
    dups AS (
        SELECT source, d AS decile,
            SUM(GREATEST(0,
                LEAST(span_end, 1 + ((d + 1) * n) // 10)
                - GREATEST(span_start, 1 + (d * n) // 10))) AS nd
        FROM spans JOIN sized USING (doc_id), UNNEST(range(0, 10)) AS u(d)
        GROUP BY 1, 2
    )
    SELECT source, CAST(decile AS BIGINT) AS decile,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(COALESCE(nd, 0) AS BIGINT) AS n_dup_tokens,
        CAST(CASE WHEN n_tokens = 0 THEN 0
             ELSE (1000000 * COALESCE(nd, 0)) // n_tokens END AS BIGINT)
            AS dup_ppm
    FROM totals LEFT JOIN dups USING (source, decile)
    ORDER BY source, decile
"""

# X167 (operators/similarity.py: semantic_decontamination): IVF
# bucketed cross-set cosine flags — candidate side rank-1, benchmark
# side nprobe=2, round-6 cosine >= 0.3 against the deterministic
# pseudo-benchmark vec_id % 97 = 0 (threshold measured against the
# fixture geometry: in-bucket cross-set cosines top out ~0.41 with
# p99 ~0.31, so 0.3 flags a real, bounded set instead of zero rows).
# k ∝ N (round 12): the Spark default derives n_centroids =
# max(8, ceil(N / 64)); the oracle computes the SAME k from COUNT(*)
# and takes the first k md5-ordered vectors — identical to _IVF_CENTS
# when the corpus is small enough that k = 8 (sf0.001/0.01: N = 500).
# The oracle models the FLAT regime (k <= 32, i.e. through sf0.1);
# the tree regime above it is probe-verified, not oracle-run.
ORACLES["semantic_decontamination"] = f"""
    WITH kp AS (
        SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) AS k
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS centroid_id, embedding AS centroid_vec
        FROM (
            SELECT vec_id, embedding, ROW_NUMBER() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM embeddings
        ) WHERE rn <= (SELECT k FROM kp)
    ),
    cand AS (
        SELECT vec_id, embedding AS cv, centroid_id
        FROM ({_IVF_ASSIGN.format(
            src="(SELECT * FROM embeddings WHERE vec_id % 97 != 0)",
            cents="cents")})
        WHERE probe_rank = 1
    ),
    bench AS (
        SELECT vec_id AS bid, embedding AS bv, centroid_id
        FROM ({_IVF_ASSIGN.format(
            src="(SELECT * FROM embeddings WHERE vec_id % 97 = 0)",
            cents="cents")})
        WHERE probe_rank <= 2
    ),
    scored AS (
        SELECT c.vec_id, b.bid,
            ROUND(list_cosine_similarity(CAST(c.cv AS DOUBLE[]),
                                         CAST(b.bv AS DOUBLE[])), 6) AS cs
        FROM cand c JOIN bench b USING (centroid_id)
    )
    SELECT vec_id,
        CAST(COUNT(DISTINCT bid) AS BIGINT) AS n_bench_hits,
        MAX(cs) AS max_cos
    FROM scored WHERE cs >= 0.3
    GROUP BY vec_id ORDER BY vec_id
"""

# X168 (operators/similarity.py: ivf_nprobe_recall_curve): exact
# recall@5 of the IVF candidate ranking vs brute force, swept over
# nprobe in (1, 2, 4); the same (round-6 cosine DESC, id ASC)
# comparator on both sides.  Round 12: the query set is the FIXED-
# SIZE bottom-64 draw by (md5('q#'||id), id) — salted so it never
# coincides with the centroid seed draw — and n_centroids is the
# adaptive k ∝ N (flat regime modeled here, k <= 32 through sf0.1;
# the tree regime is probe-verified).  The original % 101 query set
# grew ∝ N and made BOTH truth and candidate volume quadratic
# (33.9× at 10×, BENCH_SF1_r12).
ORACLES["ivf_nprobe_recall_curve"] = f"""
    WITH kp AS (
        SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) AS k
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS centroid_id, embedding AS centroid_vec
        FROM (
            SELECT vec_id, embedding, ROW_NUMBER() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM embeddings
        ) WHERE rn <= (SELECT k FROM kp)
    ),
    q AS (
        SELECT vec_id, embedding FROM (
            SELECT vec_id, embedding, ROW_NUMBER() OVER (
                ORDER BY md5('q#' || CAST(vec_id AS VARCHAR)), vec_id
            ) AS rn
            FROM embeddings
        ) WHERE rn <= 64
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                    ROUND(list_cosine_similarity(
                        CAST(q.embedding AS DOUBLE[]),
                        CAST(e.embedding AS DOUBLE[])), 6) DESC,
                    e.vec_id ASC) AS r
            FROM q, embeddings e WHERE e.vec_id != q.vec_id
        ) WHERE r <= 5
    ),
    lists AS (
        SELECT vec_id AS neighbor_id, embedding AS cv, centroid_id
        FROM ({_IVF_ASSIGN.format(src='embeddings', cents='cents')})
        WHERE probe_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS qv, centroid_id,
            probe_rank
        FROM ({_IVF_ASSIGN.format(src='(SELECT * FROM q)', cents='cents')})
        WHERE probe_rank <= 4
    ),
    np AS (SELECT unnest([1, 2, 4]) AS nprobe),
    cand AS (
        SELECT nprobe, query_id, neighbor_id,
            ROW_NUMBER() OVER (PARTITION BY nprobe, query_id ORDER BY
                ROUND(list_cosine_similarity(CAST(qv AS DOUBLE[]),
                                             CAST(cv AS DOUBLE[])), 6)
                    DESC, neighbor_id ASC) AS r
        FROM probes p JOIN lists l USING (centroid_id), np
        WHERE p.probe_rank <= np.nprobe AND l.neighbor_id != p.query_id
    ),
    hits AS (
        SELECT nprobe, query_id, COUNT(*) AS h
        FROM cand JOIN truth USING (query_id, neighbor_id)
        WHERE r <= 5 GROUP BY 1, 2
    ),
    base AS (SELECT np.nprobe, q.vec_id AS query_id FROM q, np)
    SELECT CAST(nprobe AS BIGINT) AS nprobe,
        CAST(COUNT(*) AS BIGINT) AS n_queries,
        CAST(SUM((1000000 * COALESCE(h, 0)) // 5) // COUNT(*) AS BIGINT)
            AS mean_recall_ppm
    FROM base LEFT JOIN hits USING (nprobe, query_id)
    GROUP BY 1 ORDER BY 1
"""

# X169 (operators/textstats.py: source_crossentropy_matrix): add-one
# smoothed unigram cross-entropy per ordered source pair in the X99
# scaled-integer-ln convention; HUGEINT numerator matches the Spark
# side's DECIMAL(38,0).
ORACLES["source_crossentropy_matrix"] = f"""
    WITH cnt AS (
        SELECT s, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT source AS s,
                  unnest({_TOKS.format(col='text')}) AS w
              FROM documents)
        WHERE w != '' GROUP BY 1, 2
    ),
    totals AS (SELECT s, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
    vocab AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM cnt),
    matched AS (
        SELECT a.s AS source_a, b.s AS source_b,
            CAST(COUNT(*) AS BIGINT) AS m,
            SUM(a.c * CAST(ROUND(1000000 * ln(b.c + 1)) AS BIGINT)) AS sm
        FROM cnt a JOIN cnt b USING (w) GROUP BY 1, 2
    ),
    grid AS (
        SELECT ta.s AS source_a, tb.s AS source_b, ta.n AS na, tb.n AS nb
        FROM totals ta, totals tb
    )
    SELECT source_a, source_b,
        CAST(COALESCE(m, 0) AS BIGINT) AS n_terms_matched,
        CAST(CAST(ROUND(1000000 * ln(nb + v)) AS BIGINT)
             - (COALESCE(sm, 0) // na) AS BIGINT) AS crossentropy_nats_e6
    FROM grid LEFT JOIN matched USING (source_a, source_b), vocab
    ORDER BY source_a, source_b
"""

# X170 (operators/sampling.py: mixture_epoch_plan): X19's
# rounded-before-sum sqrt weights, exact integer allocation over a
# 2e6-token budget, epochs_e6 with the 4-epoch cap and the deficit.
ORACLES["mixture_epoch_plan"] = f"""
    WITH counts AS (
        SELECT source, CAST(SUM(len({_TOKS.format(col='text')})) AS BIGINT)
            AS n_tokens
        FROM documents GROUP BY 1
    ),
    scaled AS (
        SELECT source, n_tokens,
            CAST(ROUND(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE)))
                AS BIGINT) AS ws
        FROM counts
    ),
    tot AS (SELECT SUM(ws) AS wt FROM scaled),
    alloc AS (
        SELECT source, n_tokens,
            CAST((1000000 * ws) // CAST(wt AS BIGINT) AS BIGINT)
                AS weight_ppm,
            CAST((2000000 * ws) // wt AS BIGINT) AS alloc_tokens
        FROM scaled, tot
    ),
    ep AS (
        SELECT source, n_tokens, weight_ppm, alloc_tokens,
            CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE (1000000 * alloc_tokens) // n_tokens END AS BIGINT)
                AS epochs_e6
        FROM alloc
    )
    SELECT source, n_tokens, weight_ppm, alloc_tokens, epochs_e6,
        CAST(LEAST(epochs_e6, 4000000) AS BIGINT) AS capped_epochs_e6,
        CAST(CASE WHEN epochs_e6 <= 4000000 THEN 0
             ELSE alloc_tokens - (4000000 * n_tokens) // 1000000 END
            AS BIGINT) AS deficit_tokens
    FROM ep ORDER BY source
"""

# X171 (operators/dedup.py: line_dedup_rewrite): global
# first-occurrence line survivorship (min (doc_id, pos) per
# duplicated canonical line; short lines always kept), document
# rebuild with '. '.
ORACLES["line_dedup_rewrite"] = r"""
    WITH raw AS (
        SELECT doc_id, string_split_regex(text, '[.!?]+\s+') AS ls
        FROM documents
    ),
    lines AS (
        SELECT doc_id, CAST(p AS BIGINT) AS p, trim(ls[p]) AS l
        FROM raw, UNNEST(range(1, len(ls) + 1)) AS u(p)
        WHERE length(trim(ls[p])) > 0
    ),
    hashed AS (
        SELECT doc_id, p, l,
            CASE WHEN length(l) >= 20 THEN md5(lower(l)) END AS h
        FROM lines
    ),
    st AS (
        SELECT doc_id, p, l,
            COUNT(*) OVER (PARTITION BY h) AS c,
            ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
        FROM hashed WHERE h IS NOT NULL
    ),
    kept AS (
        SELECT doc_id, p, l, TRUE AS keep FROM hashed WHERE h IS NULL
        UNION ALL
        SELECT doc_id, p, l, (c = 1 OR rn = 1) AS keep FROM st
    )
    SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
            AS n_lines_kept,
        CAST((1000000 * SUM(CASE WHEN keep THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS kept_ppm,
        COALESCE(string_agg(CASE WHEN keep THEN l END, '. ' ORDER BY p),
                 '') AS text_rewritten
    FROM kept GROUP BY doc_id ORDER BY doc_id
"""


# X172 (operators/behavior.py: markov_transitions): first-order
# event-type transition census per user, (epoch micros, event_id)
# order, exact ppm integer divisions.
ORACLES["events_markov_transitions"] = """
    WITH seq AS (
        SELECT user_id, event_type AS to_type,
            LAG(event_type) OVER (
                PARTITION BY user_id ORDER BY epoch_us(ts), event_id
            ) AS from_type
        FROM events
    ),
    cells AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
    ),
    rt AS (SELECT from_type, SUM(n_transitions) AS row_n FROM cells GROUP BY 1),
    g AS (SELECT SUM(n_transitions) AS n FROM cells)
    SELECT from_type, to_type, n_transitions,
        CAST((1000000 * n_transitions) // row_n AS BIGINT) AS row_ppm,
        CAST((1000000 * n_transitions) // n AS BIGINT) AS share_ppm
    FROM cells JOIN rt USING (from_type) CROSS JOIN g
    ORDER BY from_type, to_type
"""

# X173 (operators/behavior.py: purchase_attribution): last-touch
# revenue attribution — two IGNORE NULLS last_value windows carry the
# candidate touch; 24h lookback; integer cents; ppm shares.
ORACLES["purchase_attribution_last_touch"] = """
    WITH base AS (
        SELECT event_type AS t, epoch_us(ts) AS us,
            CAST(ROUND(value * 100) AS BIGINT) AS cents,
            last_value(CASE WHEN event_type <> 'purchase'
                            THEN epoch_us(ts) END IGNORE NULLS)
                OVER w AS touch_us,
            last_value(CASE WHEN event_type <> 'purchase'
                            THEN event_type END IGNORE NULLS)
                OVER w AS touch_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    attributed AS (
        SELECT CASE WHEN touch_us IS NOT NULL
                         AND us - touch_us <= 86400000000
                    THEN touch_type ELSE '(none)' END AS attributed_type,
               cents
        FROM base WHERE t = 'purchase'
    ),
    tot AS (SELECT SUM(cents) AS total_cents FROM attributed)
    SELECT attributed_type, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue,
        CAST((1000000 * SUM(cents)) // total_cents AS BIGINT)
            AS revenue_share_ppm
    FROM attributed CROSS JOIN tot
    GROUP BY attributed_type, total_cents
    ORDER BY attributed_type
"""

# X174 (operators/behavior.py: seasonality_chi2): hour-of-day panel
# with the exact closed-form chi-square (24*sum(O^2) - N^2)/N; peak
# hour ties to the earliest hour.
ORACLES["events_seasonality_chi2"] = """
    WITH cells AS (
        SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
            CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    panel AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_events,
            CAST(COUNT(*) AS BIGINT) AS n_hours_active,
            SUM(c * c) AS ss
        FROM cells GROUP BY 1
    ),
    sel AS (
        SELECT event_type, hour AS peak_hour, c AS peak_count,
            ROW_NUMBER() OVER (
                PARTITION BY event_type ORDER BY c DESC, hour ASC
            ) AS rn
        FROM cells
    )
    SELECT p.event_type, n_events, n_hours_active,
        peak_hour, peak_count,
        CAST((1000000 * (24 * ss - n_events * n_events)) // n_events
            AS BIGINT) AS chi2_uniform_e6
    FROM panel p JOIN sel s ON p.event_type = s.event_type AND s.rn = 1
    ORDER BY p.event_type
"""

# X179 (operators/behavior.py: rfm_segments): RFM segmentation with
# exact value-lattice quartile thresholds (cum >= ceil(q*N/4)).
ORACLES["events_rfm_segments"] = """
    WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS d FROM events),
    pu AS (
        SELECT user_id,
            date_diff('day', MAX(CAST(ts AS DATE)), (SELECT d FROM anchor))
                AS recency_days,
            CAST(COUNT(*) AS BIGINT) AS frequency,
            CAST(SUM(CASE WHEN event_type = 'purchase'
                          THEN CAST(ROUND(value * 100) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS monetary_cents
        FROM events GROUP BY user_id
    ),
    rl AS (SELECT recency_days AS v, COUNT(*) AS c FROM pu GROUP BY 1),
    rc AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM rl),
    rt AS (SELECT MIN(CASE WHEN cum >= (1*n+3)//4 THEN v END) AS t1,
                  MIN(CASE WHEN cum >= (2*n+3)//4 THEN v END) AS t2,
                  MIN(CASE WHEN cum >= (3*n+3)//4 THEN v END) AS t3 FROM rc),
    fl AS (SELECT frequency AS v, COUNT(*) AS c FROM pu GROUP BY 1),
    fc AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM fl),
    ft AS (SELECT MIN(CASE WHEN cum >= (1*n+3)//4 THEN v END) AS t1,
                  MIN(CASE WHEN cum >= (2*n+3)//4 THEN v END) AS t2,
                  MIN(CASE WHEN cum >= (3*n+3)//4 THEN v END) AS t3 FROM fc),
    ml AS (SELECT monetary_cents AS v, COUNT(*) AS c FROM pu GROUP BY 1),
    mc AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM ml),
    mt AS (SELECT MIN(CASE WHEN cum >= (1*n+3)//4 THEN v END) AS t1,
                  MIN(CASE WHEN cum >= (2*n+3)//4 THEN v END) AS t2,
                  MIN(CASE WHEN cum >= (3*n+3)//4 THEN v END) AS t3 FROM mc),
    seg AS (
        SELECT 'R' || CAST(1 + CAST(recency_days > rt.t1 AS INT)
                             + CAST(recency_days > rt.t2 AS INT)
                             + CAST(recency_days > rt.t3 AS INT) AS VARCHAR)
            || 'F' || CAST(1 + CAST(frequency > ft.t1 AS INT)
                             + CAST(frequency > ft.t2 AS INT)
                             + CAST(frequency > ft.t3 AS INT) AS VARCHAR)
            || 'M' || CAST(1 + CAST(monetary_cents > mt.t1 AS INT)
                             + CAST(monetary_cents > mt.t2 AS INT)
                             + CAST(monetary_cents > mt.t3 AS INT) AS VARCHAR)
                AS segment,
            frequency, monetary_cents
        FROM pu, rt, ft, mt
    )
    SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(frequency) AS BIGINT) AS total_events,
        CAST(SUM(monetary_cents) AS DOUBLE) / 100.0 AS total_revenue
    FROM seg GROUP BY 1 ORDER BY 1
"""

# X175 (operators/textstats.py: hll_register_estimate): register-level
# HLL, m=64, md5 bucket/value split, integer harmonic sum S in
# HUGEINT (DECIMAL(38,0) on the Spark side), pure-integer alpha =
# 709/1000 estimator, X99 scaled-ln linear-counting branch.
ORACLES["vocab_hll_estimate"] = f"""
    WITH toks AS (
        SELECT source, UNNEST({_TOKS.format(col='text')}) AS t FROM documents
    ),
    tok AS (SELECT source, t FROM toks WHERE t != ''),
    hashed AS (
        SELECT source, t,
            CAST(('0x' || substr(md5(t), 1, 2)) AS BIGINT) % 64 AS b,
            CAST(('0x' || substr(md5(t), 3, 15)) AS BIGINT) AS w
        FROM tok
    ),
    regs AS (
        SELECT source, b,
            MAX(CASE WHEN w = 0 THEN 61 ELSE 61 - length(bin(w)) END) AS m
        FROM hashed GROUP BY 1, 2
    ),
    panel AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS registers_used,
            SUM(CAST(1 AS BIGINT) << (61 - m)) AS s_used
        FROM regs GROUP BY 1
    ),
    exact AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
            CAST(COUNT(DISTINCT t) AS BIGINT) AS exact_distinct
        FROM tok GROUP BY 1
    ),
    calc AS (
        SELECT source, n_tokens, exact_distinct, registers_used,
            s_used + CAST(64 - registers_used AS HUGEINT)
                * CAST(2305843009213693952 AS HUGEINT) AS s
        FROM exact JOIN panel USING (source)
    ),
    scored AS (
        SELECT *, CAST((CAST(709 AS HUGEINT) * 4096 * 2305843009213693952)
            // (1000 * s) AS BIGINT) AS raw
        FROM calc
    ),
    final AS (
        SELECT source, n_tokens, exact_distinct, registers_used,
            CAST(CASE WHEN raw <= 160 AND registers_used < 64 THEN
                (64 * CAST(ROUND(LN(64.0 / (64 - registers_used)) * 1000000)
                    AS BIGINT)) // 1000000
                ELSE raw END AS BIGINT) AS hll_estimate
        FROM scored
    )
    SELECT source, n_tokens, exact_distinct, registers_used, hll_estimate,
        CAST(CASE WHEN hll_estimate >= exact_distinct THEN
            ((hll_estimate - exact_distinct) * 1000000) // exact_distinct
            ELSE -(((exact_distinct - hll_estimate) * 1000000)
                // exact_distinct) END AS BIGINT) AS err_ppm
    FROM final
    ORDER BY source
"""

# X176 (operators/textstats.py: vocab_richness_estimators): Chao1
# (bias-corrected) + first-order jackknife, pure integer.
ORACLES["vocab_chao1_richness"] = f"""
    WITH toks AS (
        SELECT source, UNNEST({_TOKS.format(col='text')}) AS t FROM documents
    ),
    counts AS (
        SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE t != '' GROUP BY 1, 2
    )
    SELECT source,
        CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS observed_distinct,
        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS f1_singletons,
        CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS f2_doubletons,
        CAST(1000000 * COUNT(*) +
            (1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1))
            // (2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))
            AS BIGINT) AS chao1_e6,
        CAST(COUNT(*) + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS jackknife1
    FROM counts
    GROUP BY source ORDER BY source
"""

# X177 (operators/similarity.py: knn_hubness_audit): k-occurrence +
# reciprocity panel over the exact (round-6 cosine, id tie-break)
# kNN graph, k=5, hub dial 2k.
ORACLES["knn_hubness_audit"] = """
    WITH scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
            ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                         CAST(q.embedding AS DOUBLE[])), 6)
                AS cos_sim
        FROM embeddings e, embeddings q
        WHERE e.vec_id <> q.vec_id
    ),
    edges AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC
                ) AS rank
            FROM scored
        ) WHERE rank <= 5
    ),
    kocc AS (
        SELECT v.vec_id, v.label, COALESCE(c.k, 0) AS kocc
        FROM embeddings v LEFT JOIN (
            SELECT neighbor_id, COUNT(*) AS k FROM edges GROUP BY 1
        ) c ON v.vec_id = c.neighbor_id
    ),
    occ AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
            CAST(SUM(CASE WHEN kocc = 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_antihubs,
            CAST(SUM(CASE WHEN kocc >= 10 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_hubs,
            CAST(MAX(kocc) AS BIGINT) AS max_kocc,
            CAST((1000000 * SUM(kocc)) // COUNT(*) AS BIGINT)
                AS mean_kocc_e6
        FROM kocc GROUP BY 1
    ),
    recip AS (
        SELECT v.label,
            CAST((1000000 * SUM(CASE WHEN r.query_id IS NOT NULL
                                     THEN 1 ELSE 0 END)) // COUNT(*)
                AS BIGINT) AS reciprocity_ppm
        FROM edges e
        JOIN embeddings v ON e.query_id = v.vec_id
        LEFT JOIN edges r
          ON r.query_id = e.neighbor_id AND r.neighbor_id = e.query_id
        GROUP BY 1
    )
    SELECT occ.label, n_vecs, n_antihubs, n_hubs, max_kocc,
        mean_kocc_e6, reciprocity_ppm
    FROM occ JOIN recip USING (label) ORDER BY label
"""

# X178 (operators/dedup.py: paradigm_agreement): MinHash-LSH vs
# tf-idf-cosine candidate sets, union re-scored by exact set Jaccard.
ORACLES["neardup_paradigm_agreement"] = f"""
    WITH {_SHINGLE_CTE},
    mh AS (
        SELECT doc_id,
            {_MH_COLS}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_BAND_UNION}
    ),
    lsh AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest({_TOKS.format(col='text')}) AS term
              FROM documents)
        WHERE term != '' GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
    w AS (
        SELECT t.doc_id, t.term,
            CAST(t.tf * (1000000 // d.df) AS BIGINT) AS w
        FROM tf t JOIN dfq d USING (term) WHERE d.df <= 100
    ),
    norms AS (
        SELECT doc_id, SUM(CAST(w AS HUGEINT) * w) AS s
        FROM w GROUP BY doc_id
    ),
    tpairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            SUM(CAST(a.w AS HUGEINT) * b.w) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    cos AS (
        SELECT doc_a, doc_b FROM (
            SELECT p.doc_a, p.doc_b,
                ROUND(CAST(p.dot AS DOUBLE)
                    / (sqrt(CAST(na.s AS DOUBLE))
                       * sqrt(CAST(nb.s AS DOUBLE))), 6) AS cosine
            FROM tpairs p
            JOIN norms na ON na.doc_id = p.doc_a
            JOIN norms nb ON nb.doc_id = p.doc_b
        ) WHERE cosine >= 0.3
    ),
    up AS (
        SELECT COALESCE(l.doc_a, c.doc_a) AS doc_a,
               COALESCE(l.doc_b, c.doc_b) AS doc_b,
            CASE WHEN l.doc_a IS NOT NULL AND c.doc_a IS NOT NULL
                 THEN 'both'
                 WHEN l.doc_a IS NOT NULL THEN 'lsh_only'
                 ELSE 'cosine_only' END AS paradigm
        FROM lsh l
        FULL OUTER JOIN cos c
          ON l.doc_a = c.doc_a AND l.doc_b = c.doc_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jscored AS (
        SELECT paradigm,
            CASE WHEN COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                      - COALESCE(nc, 0) = 0 THEN 0
                 ELSE (1000000 * COALESCE(nc, 0))
                      // (COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                          - COALESCE(nc, 0)) END AS j
        FROM up
        LEFT JOIN common USING (doc_a, doc_b)
        LEFT JOIN sizes sa ON up.doc_a = sa.doc_id
        LEFT JOIN sizes sb ON up.doc_b = sb.doc_id
    )
    SELECT paradigm, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(j) // COUNT(*) AS BIGINT) AS mean_jaccard_ppm,
        CAST(MIN(j) AS BIGINT) AS min_jaccard_ppm,
        CAST(MAX(j) AS BIGINT) AS max_jaccard_ppm
    FROM jscored GROUP BY 1 ORDER BY 1
"""


# X180 (operators/behavior.py: session_path_trigrams): session-bounded
# event-type trigram census, 30-min gap sessions, top-20.
# X181 (operators/behavior.py: cohort_ltv_curves): cumulative cohort
# revenue curves, integer cents, cents-per-user LTV.
# X182 (operators/textstats.py: encoding_artifact_rewrite): the action
# half of X98 — strip U+FFFD/C0, flag (never strip) mojibake.
# X185 (operators/sampling.py: mixture_design_effect): Kish n_eff /
# deff of the X19 temperature weights over an alpha grid.
# X183 (operators/similarity.py: srp_cosine_calibration): SRP sign-bit
# match vs 1 - theta/pi per cosine band, IVF-bucketed pairs.
# X186 (operators/embeddings.py: pq_distortion_by_label): X42 codes
# re-aggregated per (label, subspace) with dead-codeword census.
# X187 (operators/similarity.py: mutual_knn_clusters): CC over
# reciprocal top-k edges, per-size census with label purity.
# X184 (operators/textstats.py: source_overlap_hll): max-merged HLL
# registers per source pair, union/intersection estimates vs exact.
ORACLES["session_path_trigrams"] = """
    WITH base AS (
        SELECT user_id, event_type AS t, epoch_us(ts) AS us, event_id,
            CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                         > 1800000000
                 THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
        SELECT user_id, t, us, event_id,
            SUM(new_s) OVER (
                PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS s
        FROM base
    ),
    tri AS (
        SELECT t || '>' || LEAD(t, 1) OVER w2 || '>' || LEAD(t, 2) OVER w2
                AS path,
            s, LEAD(s, 1) OVER w2 AS s1, LEAD(s, 2) OVER w2 AS s2,
            LEAD(t, 2) OVER w2 AS t2
        FROM sess
        WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    counts AS (
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM tri WHERE t2 IS NOT NULL AND s1 = s AND s2 = s GROUP BY 1
    ),
    tot AS (SELECT SUM(n_paths) AS n FROM counts)
    SELECT path, n_paths,
        CAST((1000000 * n_paths) // n AS BIGINT) AS share_ppm
    FROM counts CROSS JOIN tot
    ORDER BY n_paths DESC, path ASC LIMIT 20
"""

ORACLES["cohort_ltv_curves"] = """
    WITH cohorts AS (
        SELECT user_id,
            CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY 1
    ),
    sized AS (
        SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM cohorts GROUP BY 1
    ),
    spend AS (
        SELECT c.cohort_week,
            CAST(date_diff('day', c.cohort_week,
                CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INT)
                AS offset_weeks,
            SUM(CASE WHEN e.event_type = 'purchase'
                     THEN CAST(ROUND(e.value * 100) AS BIGINT)
                     ELSE 0 END) AS week_cents
        FROM events e JOIN cohorts c USING (user_id)
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_week, offset_weeks, week_cents,
            SUM(week_cents) OVER (
                PARTITION BY cohort_week ORDER BY offset_weeks
            ) AS cum_cents
        FROM spend
    )
    SELECT cohort_week, offset_weeks, cohort_size,
        CAST(week_cents AS DOUBLE) / 100.0 AS week_revenue,
        CAST(cum_cents AS DOUBLE) / 100.0 AS cum_revenue,
        CAST(cum_cents // cohort_size AS BIGINT) AS cum_ltv_cents_per_user
    FROM cum JOIN sized USING (cohort_week)
    ORDER BY cohort_week, offset_weeks
"""

ORACLES["encoding_artifact_rewrite"] = r"""
    WITH cleaned AS (
        SELECT doc_id,
            CAST(length(text)
                - length(regexp_replace(text, '\x{FFFD}', '', 'g'))
                AS BIGINT) AS n_replacement_removed,
            CAST(length(text)
                - length(regexp_replace(text,
                    '[\x01-\x08\x0b\x0c\x0e-\x1f]', '', 'g'))
                AS BIGINT) AS n_ctrl_removed,
            CAST(length(text)
                - length(regexp_replace(text, '[ÃÂ]', '', 'g'))
                AS BIGINT) AS n_mojibake_flagged,
            trim(regexp_replace(regexp_replace(regexp_replace(text,
                '\x{FFFD}', '', 'g'),
                '[\x01-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
                ' +', ' ', 'g')) AS text_clean,
            CAST(length(text) AS BIGINT) AS n
        FROM documents
    )
    SELECT doc_id, n_replacement_removed, n_ctrl_removed,
        n_mojibake_flagged, text_clean,
        length(text_clean) != n AS changed
    FROM cleaned ORDER BY doc_id
"""

ORACLES["mixture_design_effect"] = """
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1
    ),
    grid AS (
        SELECT source, n, a.alpha_e2
        FROM counts, (SELECT unnest([30, 50, 70, 100]) AS alpha_e2) a
    ),
    w AS (
        SELECT alpha_e2, n,
            CAST(ROUND(POW(CAST(n AS DOUBLE), alpha_e2 / 100.0 - 1.0)
                * 1000000000000) AS BIGINT) AS w
        FROM grid
    )
    SELECT alpha_e2, CAST(SUM(n) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_sources,
        CAST(SUM(CAST(n AS HUGEINT) * w) AS DOUBLE)
            * CAST(SUM(CAST(n AS HUGEINT) * w) AS DOUBLE)
            / CAST(SUM(CAST(n AS HUGEINT) * w * w) AS DOUBLE) AS n_eff,
        CAST(SUM(n) AS DOUBLE) * CAST(SUM(CAST(n AS HUGEINT) * w * w) AS DOUBLE)
            / (CAST(SUM(CAST(n AS HUGEINT) * w) AS DOUBLE)
               * CAST(SUM(CAST(n AS HUGEINT) * w) AS DOUBLE))
            AS deff
    FROM w GROUP BY 1 ORDER BY 1
"""

# k ∝ N (round 12, VERDICT r11 task 3): the Spark default derives
# n_centroids = max(8, ceil(N / 64)) so bucket pair volume stays
# linear; the oracle computes the SAME k from COUNT(*) and takes the
# first k md5-ordered vectors — identical to _IVF_CENTS when the
# corpus is small enough that k = 8 (sf0.001/sf0.01: N = 500 -> 8).
ORACLES["srp_cosine_calibration"] = f"""
    WITH kp AS (
        SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) AS k
        FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS centroid_id, embedding AS centroid_vec
        FROM (
            SELECT vec_id, embedding, ROW_NUMBER() OVER (
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM embeddings
        ) WHERE rn <= (SELECT k FROM kp)
    ),
    assigned AS (
        SELECT s.vec_id, e.embedding, s.centroid_id
        FROM ({_CENT_SIMS.format(cents='cents')}) s
        JOIN embeddings e ON s.vec_id = e.vec_id
        WHERE s.rk = 1
    ),
    bits AS (
        SELECT vec_id, list_transform(range(0, 16), j ->
            CASE WHEN list_reduce(list_concat(
                [CAST(0.0 AS DOUBLE)],
                list_transform(range(1, len(embedding) + 1),
                    i -> CAST(embedding[i] AS DOUBLE)
                         * (CASE WHEN (((i - 1) * 2654435761 + j * 40503)
                                       // 128) % 2 = 0
                            THEN 1.0 ELSE -1.0 END))),
                (a, b) -> a + b) > 0 THEN 1 ELSE 0 END) AS b
        FROM embeddings
    ),
    pairs AS (
        SELECT ROUND(list_cosine_similarity(
                CAST(x.embedding AS DOUBLE[]),
                CAST(y.embedding AS DOUBLE[])), 6) AS cos,
            CAST(list_sum(list_transform(range(1, 17),
                i -> CASE WHEN bx.b[i] = bb.b[i] THEN 1 ELSE 0 END))
                AS BIGINT) AS match
        FROM assigned x
        JOIN assigned y
          ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
        JOIN bits bx ON bx.vec_id = x.vec_id
        JOIN bits bb ON bb.vec_id = y.vec_id
    ),
    scored AS (
        SELECT CAST(FLOOR(cos * 10) AS INT) AS cos_band, match,
            CAST(ROUND((1.0 - ACOS(GREATEST(-1.0, LEAST(1.0, cos)))
                / PI()) * 1000000) AS BIGINT) AS exp_ppm
        FROM pairs
    )
    SELECT cos_band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(SUM(exp_ppm) // COUNT(*) AS BIGINT) AS expected_match_ppm,
        CAST((1000000 * SUM(match)) // (16 * COUNT(*)) AS BIGINT)
            AS empirical_match_ppm,
        CAST((1000000 * SUM(match)) // (16 * COUNT(*))
            - SUM(exp_ppm) // COUNT(*) AS BIGINT) AS gap_ppm
    FROM scored GROUP BY 1 ORDER BY 1
"""

ORACLES["pq_distortion_by_label"] = """
    WITH sel AS (
        SELECT vec_id AS code_id, embedding
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 8
    ),
    cb AS (
        SELECT s.i AS subspace, sel.code_id,
            CAST(sel.embedding[s.i * 16 + 1 : s.i * 16 + 16] AS DOUBLE[])
                AS codeword
        FROM sel, (SELECT unnest(range(0, 4)) AS i) s
    ),
    scored AS (
        SELECT e.vec_id, cb.subspace, cb.code_id,
            ROUND(list_reduce(list_transform(range(1, 17),
                i -> (CAST(e.embedding[cb.subspace * 16 + i] AS DOUBLE)
                      - cb.codeword[i])
                     * (CAST(e.embedding[cb.subspace * 16 + i] AS DOUBLE)
                        - cb.codeword[i])),
                (a, b) -> a + b), 6) AS dist_sq
        FROM embeddings e, cb
    ),
    codes AS (
        SELECT vec_id, subspace, code_id, dist_sq
        FROM (
            SELECT vec_id, subspace, code_id, dist_sq,
                ROW_NUMBER() OVER (
                    PARTITION BY vec_id, subspace
                    ORDER BY dist_sq ASC, code_id ASC
                ) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT v.label, CAST(c.subspace AS INTEGER) AS subspace,
        CAST(COUNT(*) AS BIGINT) AS n_vecs,
        CAST(COUNT(DISTINCT c.code_id) AS BIGINT) AS codes_used,
        CAST(SUM(CAST(ROUND(c.dist_sq * 1000000) AS BIGINT)) // COUNT(*)
            AS BIGINT) AS mean_dist_sq_e6,
        CAST(MAX(CAST(ROUND(c.dist_sq * 1000000) AS BIGINT)) AS BIGINT)
            AS max_dist_sq_e6
    FROM codes c JOIN embeddings v USING (vec_id)
    GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["mutual_knn_clusters"] = """
    WITH RECURSIVE scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
            ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                         CAST(q.embedding AS DOUBLE[])), 6)
                AS cos_sim
        FROM embeddings e, embeddings q
        WHERE e.vec_id <> q.vec_id
    ),
    edges AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC
                ) AS rank
            FROM scored
        ) WHERE rank <= 5
    ),
    mutual AS (
        SELECT e.query_id AS a, e.neighbor_id AS b
        FROM edges e
        JOIN edges r
          ON r.query_id = e.neighbor_id AND r.neighbor_id = e.query_id
        WHERE e.query_id < e.neighbor_id
    ),
    sym AS (
        SELECT a, b FROM mutual UNION ALL SELECT b AS a, a AS b FROM mutual
    ),
    walk AS (
        SELECT vec_id AS node, vec_id AS reach FROM embeddings
        UNION
        SELECT w.node, s.b AS reach FROM walk w JOIN sym s ON w.reach = s.a
    ),
    cc AS (SELECT node, MIN(reach) AS cluster_id FROM walk GROUP BY 1),
    pc AS (
        SELECT cc.cluster_id, v.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM cc JOIN embeddings v ON cc.node = v.vec_id
        GROUP BY 1, 2
    ),
    dom AS (
        SELECT cluster_id, c AS dom_c,
            ROW_NUMBER() OVER (
                PARTITION BY cluster_id ORDER BY c DESC, label ASC
            ) AS rn
        FROM pc
    ),
    per AS (
        SELECT p.cluster_id, SUM(p.c) AS size, MAX(d.dom_c) AS dom_c
        FROM pc p JOIN dom d ON p.cluster_id = d.cluster_id AND d.rn = 1
        GROUP BY 1
    ),
    scored_cl AS (
        SELECT cluster_id, size, (1000000 * dom_c) // size AS purity
        FROM per
    )
    SELECT CAST(size AS BIGINT) AS cluster_size,
        CAST(COUNT(*) AS BIGINT) AS n_clusters,
        CAST(SUM(size) AS BIGINT) AS n_vecs,
        CAST(SUM(purity) // COUNT(*) AS BIGINT) AS mean_purity_ppm
    FROM scored_cl GROUP BY 1 ORDER BY 1
"""

ORACLES["source_overlap_hll"] = f"""
    WITH toks AS (
        SELECT source, UNNEST({_TOKS.format(col='text')}) AS t FROM documents
    ),
    tok AS (SELECT source, t FROM toks WHERE t != ''),
    regs AS (
        SELECT source, CAST(('0x' || substr(md5(t), 1, 2)) AS BIGINT) % 64
                AS b,
            MAX(CASE WHEN CAST(('0x' || substr(md5(t), 3, 15)) AS BIGINT) = 0
                     THEN 61
                     ELSE 61 - length(bin(CAST(('0x' || substr(md5(t), 3, 15))
                          AS BIGINT))) END) AS m
        FROM tok GROUP BY 1, 2
    ),
    grps AS (SELECT DISTINCT source FROM regs),
    prs AS (
        SELECT a.source AS ga, b.source AS gb
        FROM grps a, grps b WHERE a.source < b.source
    ),
    cells AS (
        SELECT p.ga, p.gb, r.b,
            MAX(CASE WHEN r.source = p.ga THEN r.m ELSE 0 END) AS ma,
            MAX(CASE WHEN r.source = p.gb THEN r.m ELSE 0 END) AS mb
        FROM prs p JOIN regs r ON r.source IN (p.ga, p.gb)
        GROUP BY 1, 2, 3
    ),
    upanel AS (
        SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS used,
            SUM(CAST(1 AS BIGINT) << (61 - GREATEST(ma, mb))) AS s_used
        FROM cells GROUP BY 1, 2
    ),
    uest AS (
        SELECT ga, gb, used,
            CAST((CAST(709 AS HUGEINT) * 4096 * 2305843009213693952)
                // (1000 * (s_used + CAST(64 - used AS HUGEINT)
                    * CAST(2305843009213693952 AS HUGEINT))) AS BIGINT)
                AS raw
        FROM upanel
    ),
    ufinal AS (
        SELECT ga, gb,
            CAST(CASE WHEN raw <= 160 AND used < 64 THEN
                (64 * CAST(ROUND(LN(64.0 / (64 - used)) * 1000000)
                    AS BIGINT)) // 1000000
                ELSE raw END AS BIGINT) AS est_u
        FROM uest
    ),
    spanel AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS used1,
            SUM(CAST(1 AS BIGINT) << (61 - m)) AS s_used1
        FROM regs GROUP BY 1
    ),
    sest AS (
        SELECT source, used1,
            CAST((CAST(709 AS HUGEINT) * 4096 * 2305843009213693952)
                // (1000 * (s_used1 + CAST(64 - used1 AS HUGEINT)
                    * CAST(2305843009213693952 AS HUGEINT))) AS BIGINT)
                AS raw1
        FROM spanel
    ),
    sfinal AS (
        SELECT source,
            CAST(CASE WHEN raw1 <= 160 AND used1 < 64 THEN
                (64 * CAST(ROUND(LN(64.0 / (64 - used1)) * 1000000)
                    AS BIGINT)) // 1000000
                ELSE raw1 END AS BIGINT) AS est1
        FROM sest
    ),
    d AS (SELECT DISTINCT source, t FROM tok),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd FROM d GROUP BY 1),
    inter AS (
        SELECT a.source AS ga, b.source AS gb, CAST(COUNT(*) AS BIGINT) AS ni
        FROM d a JOIN d b ON a.t = b.t AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT u.ga AS source_a, u.gb AS source_b,
        CAST(sa.nd + sb.nd - COALESCE(i.ni, 0) AS BIGINT) AS exact_union,
        CAST(COALESCE(i.ni, 0) AS BIGINT) AS exact_inter,
        u.est_u AS hll_union_estimate,
        CAST(ea.est1 + eb.est1 - u.est_u AS BIGINT) AS hll_inter_estimate,
        CAST(CASE WHEN u.est_u >= sa.nd + sb.nd - COALESCE(i.ni, 0) THEN
            ((u.est_u - (sa.nd + sb.nd - COALESCE(i.ni, 0))) * 1000000)
                // (sa.nd + sb.nd - COALESCE(i.ni, 0))
            ELSE -(((sa.nd + sb.nd - COALESCE(i.ni, 0)) - u.est_u) * 1000000)
                // (sa.nd + sb.nd - COALESCE(i.ni, 0)) END AS BIGINT)
            AS union_err_ppm
    FROM ufinal u
    LEFT JOIN inter i ON u.ga = i.ga AND u.gb = i.gb
    JOIN sizes sa ON u.ga = sa.source
    JOIN sizes sb ON u.gb = sb.source
    JOIN sfinal ea ON u.ga = ea.source
    JOIN sfinal eb ON u.gb = eb.source
    ORDER BY source_a, source_b
"""

