"""DuckDB oracle SQL — one ANSI-SQL mirror per SQL-expressible query.

Each statement runs against the pre-registered views (region nation
customer supplier part orders lineitem events documents embeddings) and
must produce the same column names, row count, and values as the Spark
implementation in ``queries.py``. Float aggregates are rounded on both
sides; md5-based hashes are engine-agnostic by construction.

Image-pipeline queries (image_features, image_asof_features,
phash_neardup_images) are intentionally absent: their input is the
synthesized image table, which the oracle cannot see — the driver records
the weaker rows-only check and pytest covers them against the pandas
golden oracle instead.
"""

from query_cost_feature_engineering_spark.functions.hashing import (
    MH_A,
    MH_B,
    MH_P,
)

_MINHASH_K = 8
_HEX_THR = "cccccccc"  # first 8 hex digits of 0.8 * 16^8 (hash_split)

_SIG_EXPRS = ",\n  ".join(
    f"list_min([({MH_A[k]} * h + {MH_B[k]}) % {MH_P} for h in hb]) AS sig_{k}"
    for k in range(_MINHASH_K)
)

_SHINGLES_CTE = """
sh AS (
  SELECT doc_id, lang,
         list_distinct([text[i:i+2] for i in
                        generate_series(1, greatest(len(text)-2, 1))]) AS sh
  FROM documents
)
"""

_SIGS_CTE = f"""
WITH {_SHINGLES_CTE},
shh AS (
  SELECT doc_id,
         [CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) for s in sh] AS hb
  FROM sh
),
sigs AS (
  SELECT doc_id, {_SIG_EXPRS} FROM shh
)
"""

_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN 2 * len(list_filter(th, h -> (h & {1 << j}) <> 0)) >= len(th) "
    f"THEN {1 << j} ELSE 0 END)"
    for j in range(16)
)

_COS = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y) / "
    "(sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y)) * "
    "sqrt(list_reduce(list_transform({b}, x -> x * x), (x, y) -> x + y)))"
)

ORACLES: dict[str, str] = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity) + 1e-9, 4)      AS sum_qty,
               round(sum(l_extendedprice) + 1e-9, 4) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS sum_disc_price,
               round(avg(l_quantity) + 1e-9, 4)      AS avg_qty,
               round(avg(l_discount) + 1e-9, 4)      AS avg_disc,
               count(*)                       AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT o.o_orderkey, o.o_orderdate,
               round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 4) AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-06-01'
          AND l.l_shipdate  > TIMESTAMP '1998-06-01'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
    """,
    "q5_local_supplier_volume": """
        SELECT n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 4) AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n.n_name
    """,
    "q4_semi_orders": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05)
        GROUP BY o_orderpriority
    """,
    "customers_no_orders": """
        SELECT c_custkey, c_name, c_nationkey
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1997-01-01'
                            AND o.o_orderdate <  TIMESTAMP '1998-01-01')
    """,
    "rollup_revenue": """
        SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
               coalesce(l_linestatus, 'ALL') AS l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS revenue,
               count(*) AS n_items
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "cube_revenue": """
        SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
               coalesce(l_linestatus, 'ALL') AS l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS revenue,
               count(*) AS n_items
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "range_join_promos": """
        SELECT o_orderkey AS promo_id,
               o_orderdate AS promo_start,
               count(*) AS n_items,
               round(sum(l_quantity) + 1e-9, 4) AS sum_qty
        FROM orders
        JOIN lineitem
          ON l_shipdate BETWEEN o_orderdate
                            AND o_orderdate + INTERVAL 10 DAY
        WHERE o_orderkey % 500 = 0
        GROUP BY 1, 2
    """,
    "predicate_scan_parts": """
        SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
        FROM part
        WHERE p_size BETWEEN 10 AND 30
          AND p_type LIKE 'ECO%'
          AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3', 'Brand#17')
          AND p_retailprice >= 500.0
    """,
    "set_ops_nations": """
        SELECT 'both' AS tag, nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey FROM supplier
        )
        UNION ALL
        SELECT 'cust_only' AS tag, nationkey FROM (
            SELECT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT s_nationkey FROM supplier
        )
    """,
    "topk_orders_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    "agg_events_daily": """
        SELECT date_trunc('day', ts) AS day, event_type,
               count(*) AS n_events,
               round(sum(value) + 1e-9, 4) AS sum_value,
               round(avg(value) + 1e-9, 4) AS avg_value
        FROM events
        GROUP BY 1, 2
    """,
    "deciles_orders": """
        WITH t AS (
            SELECT o_totalprice,
                   ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
            FROM orders
        )
        SELECT decile, count(*) AS n,
               round(min(o_totalprice) + 1e-9, 4) AS lo,
               round(max(o_totalprice) + 1e-9, 4) AS hi,
               round(avg(o_totalprice) + 1e-9, 4) AS mean
        FROM t GROUP BY decile
    """,
    "dedup_events_exact": """
        SELECT user_id, ts, event_type,
               min(event_id) AS keep_event_id,
               count(*) AS n_dups
        FROM events
        GROUP BY user_id, ts, event_type
    """,
    "pivot_user_event_counts": """
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS n_click,
               count(*) FILTER (WHERE event_type = 'view')     AS n_view,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
               count(*) FILTER (WHERE event_type = 'error')    AS n_error
        FROM events GROUP BY user_id
    """,
    "unpivot_user_event_counts": """
        SELECT user_id, event_type, count(*) AS n
        FROM events
        WHERE event_type IN ('click', 'view', 'purchase', 'signup', 'error')
        GROUP BY user_id, event_type
    """,
    "json_props_events": """
        WITH t AS (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        )
        SELECT event_type, CAST(floor(k / 10) AS BIGINT) AS k_bucket,
               count(*) AS n, min(k) AS k_min, max(k) AS k_max,
               round(avg(k) + 1e-9, 4) AS k_avg
        FROM t GROUP BY 1, 2
    """,
    "window_lag_lead_events": """
        SELECT event_id, user_id, value,
               lag(value)  OVER w AS lag1_value,
               lead(value) OVER w AS lead1_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "window_backfill_events": """
        SELECT event_id, user_id,
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS ffill_purchase_value
        FROM events
    """,
    "sessionize_events": """
        -- CAST: DuckDB's windowed sum(int) is HUGEINT; Spark emits BIGINT
        -- and the driver hash is type-sensitive even when values agree.
        SELECT event_id, user_id,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT)
                 AS session_id
        FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER (
                               PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        )
    """,
    "rolling_mean_events": """
        SELECT event_id, user_id,
               round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) + 1e-9, 4)
                 AS roll3_value
        FROM events
    """,
    "rolling_time_events": """
        SELECT event_id, user_id,
               round(sum(value) OVER w + 1e-9, 4) AS sum_1h,
               count(value) OVER w AS cnt_1h,
               round(avg(value) OVER w + 1e-9, 4) AS avg_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    "asof_strict_purchases": """
        WITH spine AS (
            SELECT event_id AS probe_id, user_id,
                   ts + INTERVAL 60 SECOND AS ts
            FROM events WHERE event_id % 5 = 0
        ),
        purch AS (
            SELECT user_id, ts, max(value) AS purchase_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, ts
        )
        SELECT s.probe_id, s.user_id, p.purchase_value, p.ts AS asof_ts
        FROM spine s
        ASOF LEFT JOIN purch p
          ON s.user_id = p.user_id AND s.ts > p.ts
    """,
    "stream_sessionize_events": """
        WITH s AS (
            SELECT user_id, ts, value,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS session_id
            FROM (
                SELECT event_id, user_id, ts, value,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id) IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER (
                                   PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                            THEN 1 ELSE 0 END AS is_new
                FROM events
            )
        ),
        sess AS (
            SELECT user_id, min(ts) AS session_start,
                   count(*) AS n_events,
                   round(sum(value) + 1e-9, 4) AS sum_value,
                   max(ts) AS last_ts
            FROM s GROUP BY user_id, session_id
        )
        -- Spark's append-mode eviction emits a window when window.end <=
        -- watermark (here: session end = last_ts + gap, watermark =
        -- max event time - 7200s) — the tumbling oracle uses the same
        -- boundary, and test_streaming.py pins a boundary-exact fixture.
        SELECT user_id, session_start, n_events, sum_value, last_ts
        FROM sess
        WHERE epoch(last_ts) + 1800 <= (SELECT max(epoch(ts)) FROM events) - 7200
    """,
    "stream_tumbling_events": """
        SELECT date_trunc('day', ts) AS day, event_type,
               count(*) AS n_events,
               round(sum(value) + 1e-9, 4) AS sum_value
        FROM events
        GROUP BY 1, 2
        HAVING date_trunc('day', max(ts)) + INTERVAL 1 DAY
               <= (SELECT max(ts) FROM events) - INTERVAL 7200 SECOND
    """,
    "stream_interval_join_events": """
        SELECT p.event_id AS purchase_id,
               c.event_id AS click_id,
               p.user_id,
               p.ts AS purchase_ts,
               round(p.value + 1e-9, 4) AS purchase_value
        FROM events p
        JOIN events c
          ON p.user_id = c.user_id
         AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    "stream_enrich_events": """
        WITH dim AS (
            SELECT user_id, count(*) AS n_events_total, min(ts) AS first_seen
            FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id,
               round(e.value + 1e-9, 4) AS value,
               d.n_events_total, d.first_seen
        FROM events e JOIN dim d USING (user_id)
        WHERE e.event_type = 'purchase'
    """,
    "asof_purchases_window": """
        WITH spine AS (
            SELECT event_id AS probe_id, user_id,
                   ts + INTERVAL 60 SECOND AS ts
            FROM events WHERE event_id % 5 = 0
        ),
        purch AS (
            SELECT user_id, ts, max(value) AS purchase_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, ts
        )
        SELECT s.probe_id, s.user_id, p.purchase_value, p.ts AS asof_ts
        FROM spine s
        ASOF LEFT JOIN purch p
          ON s.user_id = p.user_id AND s.ts >= p.ts
    """,
    "snapshot_linear_fit": """
        SELECT l_returnflag,
               round(regr_slope(l_extendedprice, l_quantity) + 1e-9, 4)     AS slope,
               round(regr_intercept(l_extendedprice, l_quantity) + 1e-9, 4) AS intercept,
               count(*) AS n_samples
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "snapshot_template_sample": """
        WITH samp AS (
            SELECT * FROM lineitem
            WHERE substr(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 8)
                  < '33333333'
        ),
        per_group AS (
            SELECT l_partkey,
                   CASE WHEN count(*) >= 3 AND var_pop(l_quantity) > 0
                        THEN covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity)
                        ELSE 0.0 END AS slope,
                   CASE WHEN count(*) >= 3 AND var_pop(l_quantity) > 0
                        THEN avg(l_extendedprice)
                             - covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity)
                               * avg(l_quantity)
                        ELSE avg(l_extendedprice) END AS intercept,
                   count(*) AS n_samples
            FROM samp GROUP BY l_partkey
        ),
        wl AS (
            SELECT covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity) AS wl_slope,
                   avg(l_extendedprice)
                   - covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity)
                     * avg(l_quantity) AS wl_intercept
            FROM lineitem
        )
        SELECT l_partkey,
               round(CASE WHEN n_samples >= 3 THEN slope ELSE wl_slope END + 1e-9, 4)
                 AS slope,
               round(CASE WHEN n_samples >= 3 THEN intercept ELSE wl_intercept END + 1e-9, 4)
                 AS intercept,
               CASE WHEN n_samples >= 3 THEN 'sample' ELSE 'workload' END AS source,
               n_samples
        FROM per_group, wl
    """,
    "normalize_quantity": """
        SELECT l_orderkey, l_linenumber,
               round((l_quantity - avg(l_quantity) OVER (PARTITION BY l_returnflag))
                     / (max(abs(l_quantity)) OVER (PARTITION BY l_returnflag)
                        + 1e-9) + 1e-11, 6) AS qty_norm
        FROM lineitem
    """,
    "label_normalize_orders": """
        SELECT o_orderkey,
               round((ln(o_totalprice) - (SELECT min(ln(o_totalprice)) FROM orders))
                     / ((SELECT max(ln(o_totalprice)) FROM orders)
                        - (SELECT min(ln(o_totalprice)) FROM orders)) + 1e-11, 6)
                 AS label_norm
        FROM orders
    """,
    "qerror_snapshot_fit": """
        WITH fit AS (
            SELECT l_returnflag,
                   CASE WHEN count(*) >= 3 AND var_pop(l_quantity) > 0
                        THEN covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity)
                        ELSE 0.0 END AS slope,
                   CASE WHEN count(*) >= 3 AND var_pop(l_quantity) > 0
                        THEN avg(l_extendedprice)
                             - covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity)
                               * avg(l_quantity)
                        ELSE avg(l_extendedprice) END AS intercept
            FROM lineitem GROUP BY l_returnflag
        ),
        q AS (
            SELECT l.l_returnflag,
                   greatest(greatest(f.slope * l.l_quantity + f.intercept, 1e-3)
                              / greatest(l.l_extendedprice, 1e-3),
                            greatest(l.l_extendedprice, 1e-3)
                              / greatest(f.slope * l.l_quantity + f.intercept, 1e-3))
                     AS qerr
            FROM lineitem l JOIN fit f USING (l_returnflag)
        )
        SELECT l_returnflag,
               round(quantile_cont(qerr, 0.5) + 1e-9, 4)  AS q50,
               round(quantile_cont(qerr, 0.9) + 1e-9, 4)  AS q90,
               round(quantile_cont(qerr, 0.99) + 1e-9, 4) AS q99,
               round(avg(qerr) + 1e-9, 4)                 AS q_mean,
               round(max(qerr) + 1e-9, 4)                 AS q_max,
               count(*) AS n
        FROM q GROUP BY l_returnflag
    """,
    "hash_split_customers": f"""
        SELECT c_custkey,
               CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)
                         < '{_HEX_THR}'
                    THEN 'train' ELSE 'test' END AS split
        FROM customer
    """,
    # thresholds: first 8 hex digits of frac * 16^8 (0.1 -> 19999999,
    # 0.5 -> 80000000) — same formula as operators/split._hex_threshold
    "stratified_sample_events": f"""
        SELECT event_id, user_id, event_type
        FROM events
        WHERE (event_type = 'view'
               AND substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                   < '{format(int(0.1 * 16**8), "08x")}')
           OR (event_type = 'click'
               AND substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                   < '{format(int(0.5 * 16**8), "08x")}')
           OR event_type NOT IN ('view', 'click')
    """,
    "profile_orders": """
        SELECT 'o_orderkey' AS col_name, count(*) AS n,
               CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               count(DISTINCT o_orderkey) AS n_distinct,
               round(min(o_orderkey) + 1e-9, 4) AS min_v,
               round(max(o_orderkey) + 1e-9, 4) AS max_v,
               round(avg(o_orderkey) + 1e-9, 4) AS mean_v
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(*),
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_custkey),
               round(min(o_custkey) + 1e-9, 4),
               round(max(o_custkey) + 1e-9, 4),
               round(avg(o_custkey) + 1e-9, 4)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*),
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_totalprice),
               round(min(o_totalprice) + 1e-9, 4),
               round(max(o_totalprice) + 1e-9, 4),
               round(avg(o_totalprice) + 1e-9, 4)
        FROM orders
    """,
    "hist_orders_totalprice": """
        WITH mm AS (
            SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
        )
        SELECT CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 10.0)), 9)
                    AS BIGINT) AS bucket,
               count(*) AS n,
               round(min(o_totalprice) + 1e-9, 4) AS lo,
               round(max(o_totalprice) + 1e-9, 4) AS hi,
               round(sum(o_totalprice) + 1e-9, 4) AS sum_v
        FROM orders, mm
        GROUP BY 1
    """,
    "tfidf_top_terms": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks WHERE term <> '' GROUP BY 1, 2
        ),
        s AS (
            SELECT count(DISTINCT doc_id) AS n, sum(tf) AS tot FROM tf
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        dl AS (
            SELECT doc_id, term, tf,
                   sum(tf) OVER (PARTITION BY doc_id) AS dl
            FROM tf
        ),
        scored AS (
            SELECT dl.doc_id, dl.term,
                   round(dl.tf * (ln((s.n + 1.0) / (dfreq.df + 1.0)) + 1.0)
                         + 1e-9, 4) AS tfidf,
                   round(ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                         * (dl.tf * 2.2)
                         / (dl.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (s.tot / (s.n * 1.0)))))
                         + 1e-9, 4) AS bm25
            FROM dl CROSS JOIN s JOIN dfreq ON dl.term = dfreq.term
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term
            ) AS rk
            FROM scored
        )
        SELECT doc_id, term, tfidf, bm25, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 3
    """,
    "label_centroid_embeddings": """
        SELECT label, pos,
               round(avg(val) + 1e-9, 4) AS centroid_v,
               count(*) AS n_vecs
        FROM (
            SELECT label,
                   unnest(CAST(embedding AS DOUBLE[])) AS val,
                   unnest(range(len(embedding))) AS pos
            FROM embeddings
        )
        GROUP BY label, pos
    """,
    "salted_join_events": """
        SELECT c_nationkey,
               count(*) AS n_events,
               round(sum(value) + 1e-9, 4) AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1
    """,
    "funnel_users": """
        WITH m AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY 1
        )
        SELECT user_id,
               CAST(CASE
                   WHEN t_signup IS NULL THEN 0
                   WHEN t_view IS NULL OR t_view <= t_signup THEN 1
                   WHEN t_click IS NULL OR t_click <= t_view THEN 2
                   WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 3
                   ELSE 4
               END AS BIGINT) AS funnel_stage
        FROM m
    """,
    "chunk_documents": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '') AS tk
            FROM documents
        ),
        t2 AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
        c AS (
            SELECT doc_id, tk, n,
                   unnest(generate_series(
                       0,
                       CAST(greatest(ceil((n - 32) / 24.0), 0) AS BIGINT),
                       1
                   )) AS chunk_idx
            FROM t2
        )
        SELECT doc_id, chunk_idx,
               least(n - chunk_idx * 24, 32) AS n_tokens,
               array_to_string(
                   tk[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' '
               ) AS chunk_text
        FROM c
    """,
    "structural_grouping_users": """
        WITH seqs AS (
            SELECT user_id,
                   md5(string_agg(event_type, '|' ORDER BY ts, event_id))
                     AS structure_key
            FROM events GROUP BY user_id
        )
        SELECT user_id, structure_key,
               CAST(count(*) OVER (PARTITION BY structure_key) AS BIGINT)
                 AS group_size
        FROM seqs
    """,
    "dedup_exact_docs": """
        SELECT md5(text) AS text_hash,
               min(doc_id) AS keep_id,
               count(*)    AS n_dups
        FROM documents
        GROUP BY 1
    """,
    "minhash_signatures": _SIGS_CTE
    + """
        SELECT * FROM sigs
    """,
    "minhash_band_pairs": _SIGS_CTE
    + """
        , bands AS (
            SELECT doc_id, 0 AS band,
                   CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR) || '_' ||
                   CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR) AS key FROM sigs
            UNION ALL
            SELECT doc_id, 1,
                   CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR) || '_' ||
                   CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR) FROM sigs
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
    "dedup_clusters_docs": _SIGS_CTE
    + """
        , bands AS (
            SELECT doc_id, 0 AS band,
                   CAST(sig_0 AS VARCHAR) || '_' || CAST(sig_1 AS VARCHAR) || '_' ||
                   CAST(sig_2 AS VARCHAR) || '_' || CAST(sig_3 AS VARCHAR) AS key FROM sigs
            UNION ALL
            SELECT doc_id, 1,
                   CAST(sig_4 AS VARCHAR) || '_' || CAST(sig_5 AS VARCHAR) || '_' ||
                   CAST(sig_6 AS VARCHAR) || '_' || CAST(sig_7 AS VARCHAR) FROM sigs
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ),
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        walk(node, comp) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
        )
        SELECT node AS doc_id, min(comp) AS cluster_id,
               (node = min(comp)) AS is_survivor
        FROM walk GROUP BY node
    """,
    "ngram_jaccard_pairs": f"""
        WITH {_SHINGLES_CTE}
        SELECT doc_a, doc_b, round(jac + 1e-9, 4) AS jaccard FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jac
            FROM sh a JOIN sh b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
        ) WHERE jac >= 0.5
    """,
    "simhash_docs": f"""
        WITH t AS (
            SELECT doc_id,
                   [CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT)
                    for tok in regexp_split_to_array(text, '\\s+')] AS th
            FROM documents
        )
        SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash16 FROM t
    """,
    "embedding_cosine_topk": f"""
        WITH q AS (SELECT vec_id AS target_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        j AS (SELECT target_id, neighbor_id,
                     {_COS.format(a="qv", b="cv")} AS cos
              FROM q, c WHERE target_id <> neighbor_id),
        r AS (SELECT target_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY target_id
                                        ORDER BY cos DESC, neighbor_id) AS rnk
              FROM j)
        SELECT target_id, neighbor_id, round(cos + 1e-9, 4) AS cos, rnk
        FROM r WHERE rnk <= 3
    """,
    # embedding_neardup_pairs is generated below (_neardup_oracle): the
    # Spark side routes through SRP-LSH candidates, so the oracle mirrors
    # the identical bucket keys instead of the O(N²) self-join.
    # stream_dedup_events: dropDuplicatesWithinWatermark over a bounded
    # single-batch stream = first arrival per key, keys only — exactly
    # the batch DISTINCT of the key columns.
    "stream_dedup_events": """
        SELECT DISTINCT user_id, ts, event_type FROM events
    """,
    # stream_stateful_user_stats: one availableNow micro-batch ⇒ the
    # final per-user state emission = the batch aggregate.
    "stream_stateful_user_stats": """
        SELECT user_id,
               count(*) AS n_events,
               round(sum(value) + 1e-9, 4) AS sum_value,
               max(ts) AS last_ts
        FROM events
        GROUP BY user_id
    """,
    "repetition_docs": """
        WITH base AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\n'),
                               s -> len(s) > 0) AS lines,
                   list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
                               s -> len(s) > 0) AS words
            FROM documents
        )
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(words) AS BIGINT) AS n_words,
               round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
                     / greatest(CAST(len(lines) AS DOUBLE), 1.0) + 1e-9, 4)
                 AS dup_line_frac,
               round(1.0 - CAST(len(list_distinct(words)) AS DOUBLE)
                     / greatest(CAST(len(words) AS DOUBLE), 1.0) + 1e-9, 4)
                 AS dup_word_frac
        FROM base
    """,
    "text_analysis_docs": """
        WITH base AS (
            SELECT doc_id, text,
                   len(list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
                       t -> list_contains(['the','and','of','to','in','is','that','it','for','was'], t))) AS hits_en,
                   len(list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
                       t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf','von'], t))) AS hits_de,
                   len(list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
                       t -> list_contains(['le','la','les','et','est','pas','une','des','dans','pour'], t))) AS hits_fr,
                   len(list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
                       t -> list_contains(['el','la','los','que','es','una','por','con','para','del'], t))) AS hits_es,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
                   CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                     / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
                   CAST(length(text) AS DOUBLE) AS n_chars_m
            FROM documents
        ),
        scored AS (
            SELECT *,
                   greatest(hits_en, hits_de, hits_fr, hits_es) AS best,
                   hits_en / greatest(CAST(ws_tokens AS DOUBLE), 1.0) AS stop_ratio
            FROM base
        )
        SELECT doc_id,
               CASE WHEN hits_en = best AND best > 0 THEN 'en'
                    WHEN hits_de = best AND best > 0 THEN 'de'
                    WHEN hits_fr = best AND best > 0 THEN 'fr'
                    WHEN hits_es = best AND best > 0 THEN 'es'
                    ELSE 'unknown' END AS lang_pred,
               CAST(ws_tokens AS BIGINT) AS ws_tokens,
               CAST(hits_en AS BIGINT) AS hits_en,
               round(punct_ratio + 1e-9, 4) AS punct_ratio,
               round(least(n_chars_m / 200.0, 1.0) * 0.4
                     + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3
                     + least(stop_ratio * 3.0, 1.0) * 0.3 + 1e-9, 4) AS quality_score,
               list_reduce([CAST(ascii(ch) AS BIGINT)
                            for ch in [text[i:i] for i in
                                       generate_series(1, least(len(text), 64))]],
                           (acc, x) -> (acc * 31 + x) % 2147483647) AS fingerprint
        FROM scored
    """,
}

# asof_purchases_pandas shares the union-window oracle (same semantics,
# different physical strategy on the Spark side).
ORACLES["asof_purchases_pandas"] = ORACLES["asof_purchases_window"]
# the streaming as-of drains to exactly the batch as-of result (pinned by
# tests/test_streaming_asof.py), so it shares the batch oracle verbatim
ORACLES["stream_asof_purchases"] = ORACLES["asof_purchases_window"]

# feature-store export: two independent ASOF joins + a spine-side lag —
# DuckDB's native ASOF LEFT JOIN twice over, then the window
ORACLES["feature_store_export"] = """
    WITH spine AS (
        SELECT event_id AS probe_id, user_id,
               ts + INTERVAL 60 SECOND AS ts
        FROM events WHERE event_id % 5 = 0
    ),
    purch AS (
        SELECT user_id, ts, max(value) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    vw AS (
        SELECT user_id, ts, max(value) AS view_value
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT s.probe_id, s.user_id,
           round(p.purchase_value + 1e-8, 3) AS purchase_value,
           round(v.view_value + 1e-8, 3) AS view_value,
           lag(s.ts) OVER (PARTITION BY s.user_id
                           ORDER BY s.ts, s.probe_id) AS prev_probe_ts
    FROM spine s
    ASOF LEFT JOIN purch p ON s.user_id = p.user_id AND s.ts >= p.ts
    ASOF LEFT JOIN vw v ON s.user_id = v.user_id AND s.ts >= v.ts
"""

# the connected-components walk needs the RECURSIVE marker on the WITH list
ORACLES["dedup_clusters_docs"] = ORACLES["dedup_clusters_docs"].replace(
    "WITH", "WITH RECURSIVE", 1
)


def _ann_oracle() -> str:
    """DuckDB mirror of operators/ann.ann_topk — the IDENTICAL LSH
    algorithm (same md5-derived hyperplanes, same fold order), so results
    hash-match exactly."""
    from query_cost_feature_engineering_spark.operators.ann import (
        ANN_TABLES,
        duck_bucket_key,
    )

    joins = "\n            UNION ALL\n".join(
        f"            SELECT q.target_id, c.neighbor_id FROM q JOIN c "
        f"ON {duck_bucket_key('q.qv', t)} = {duck_bucket_key('c.cv', t)}"
        for t in range(ANN_TABLES)
    )
    return f"""
        WITH q AS (SELECT vec_id AS target_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        cand AS (
            SELECT DISTINCT target_id, neighbor_id FROM (
{joins}
            ) WHERE target_id <> neighbor_id
        ),
        scored AS (
            SELECT cand.target_id, cand.neighbor_id,
                   {_COS.format(a="q.qv", b="c.cv")} AS cos
            FROM cand
            JOIN q ON q.target_id = cand.target_id
            JOIN c ON c.neighbor_id = cand.neighbor_id
        ),
        r AS (SELECT target_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY target_id
                                        ORDER BY cos DESC, neighbor_id) AS rnk
              FROM scored)
        SELECT target_id, neighbor_id, round(cos + 1e-9, 4) AS cos, rnk
        FROM r WHERE rnk <= 3
    """


ORACLES["ann_lsh_topk"] = _ann_oracle()


def _ann_ivf_fixed_oracle() -> str:
    """DuckDB mirror of operators/ann.ivf_fixed_topk: md5-ranked anchor
    selection, anchor-cosine quantized argmax (ties -> smallest anchor
    rank, matching Spark's array_position first-index), n_probe cell
    probing, exact rescore + top-k. The _COS fold order matches Spark's
    F.aggregate left fold, so cells and scores agree bit-for-bit after
    the documented quantization."""
    from query_cost_feature_engineering_spark.operators.ann import (
        CELL_COS_DECIMALS,
        IVF_FIXED_CELLS,
        IVF_FIXED_PROBE,
    )

    return f"""
        WITH q AS (SELECT vec_id AS target_id,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 20),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings),
        anchors AS (
            SELECT cv AS av,
                   row_number() OVER (
                       ORDER BY md5(CAST(neighbor_id AS VARCHAR))
                   ) AS rk
            FROM c
            QUALIFY rk <= {IVF_FIXED_CELLS}
        ),
        ccell AS (
            SELECT neighbor_id, cv, rk AS cell FROM (
                SELECT x.neighbor_id, x.cv, a.rk,
                       round({_COS.format(a="x.cv", b="a.av")},
                             {CELL_COS_DECIMALS}) AS s
                FROM c x CROSS JOIN anchors a
            )
            QUALIFY row_number() OVER (
                PARTITION BY neighbor_id ORDER BY s DESC, rk
            ) = 1
        ),
        qcell AS (
            SELECT target_id, qv, rk AS cell FROM (
                SELECT x.target_id, x.qv, a.rk,
                       round({_COS.format(a="x.qv", b="a.av")},
                             {CELL_COS_DECIMALS}) AS s
                FROM q x CROSS JOIN anchors a
            )
            QUALIFY row_number() OVER (
                PARTITION BY target_id ORDER BY s DESC, rk
            ) <= {IVF_FIXED_PROBE}
        ),
        scored AS (
            SELECT qcell.target_id, ccell.neighbor_id,
                   {_COS.format(a="qcell.qv", b="ccell.cv")} AS cos
            FROM qcell JOIN ccell ON qcell.cell = ccell.cell
            WHERE qcell.target_id <> ccell.neighbor_id
        ),
        r AS (SELECT target_id, neighbor_id, cos,
                     row_number() OVER (PARTITION BY target_id
                                        ORDER BY cos DESC, neighbor_id) AS rnk
              FROM scored)
        SELECT target_id, neighbor_id, round(cos + 1e-9, 4) AS cos, rnk
        FROM r WHERE rnk <= 3
    """


ORACLES["ann_ivf_fixed_topk"] = _ann_ivf_fixed_oracle()


def _neardup_oracle(bits: int | None = None) -> str:
    """DuckDB mirror of operators/neardup.srp_candidate_pairs: identical
    SRP buckets (quantized projections) generate candidates, exact cosine
    verifies — same rows as Spark by construction."""
    from query_cost_feature_engineering_spark.operators.ann import (
        ANN_BITS,
        ANN_TABLES,
        duck_bucket_key,
    )

    if bits is None:
        bits = ANN_BITS

    joins = "\n            UNION ALL\n".join(
        f"            SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM e a "
        f"JOIN e b ON {duck_bucket_key('a.v', t, bits=bits)} = "
        f"{duck_bucket_key('b.v', t, bits=bits)} "
        f"AND a.vec_id < b.vec_id"
        for t in range(ANN_TABLES)
    )
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cand AS (
            SELECT DISTINCT id_a, id_b FROM (
{joins}
            )
        )
        SELECT id_a, id_b, round(cos + 1e-9, 4) AS cos FROM (
            SELECT cand.id_a, cand.id_b,
                   {_COS.format(a="a.v", b="b.v")} AS cos
            FROM cand
            JOIN e a ON a.vec_id = cand.id_a
            JOIN e b ON b.vec_id = cand.id_b
        ) WHERE cos >= 0.35
    """


ORACLES["embedding_neardup_pairs"] = _neardup_oracle()


_LI_FIXEDPOINT_CTE = """
li AS (
    SELECT l_returnflag,
           CAST(round(l_quantity * 100) AS BIGINT)      AS q100,
           CAST(round(l_discount * 100) AS BIGINT)      AS d100,
           CAST(round(l_tax * 100) AS BIGINT)           AS t100,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS y100,
           CAST(ceil(l_quantity * ln(l_quantity)) AS BIGINT) AS nlq,
           CAST(round(l_quantity * 100) AS BIGINT)
             * CAST(round(l_discount * 100) AS BIGINT)  AS qd,
           CAST(1 AS BIGINT) AS one,
           substr(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 8)
             < 'cccccccc' AS is_train
    FROM lineitem
)
"""


def _fit_dispatch_oracle() -> str:
    """Mirror of snapshot_fit_dispatch: same integer Gram sums (HUGEINT,
    exact), same generated Cramer solve (operators/mls.py) — identical
    coefficient doubles by construction."""
    from query_cost_feature_engineering_spark.operators.mls import (
        gram_sql_exprs,
        solve_sql,
    )
    from query_cost_feature_engineering_spark.queries import FIT_SPECS

    parts = []
    for flag, (kind, regs) in FIT_SPECS.items():
        n = len(regs)
        grams = ",\n               ".join(gram_sql_exprs(regs, "y100"))
        coeffs = solve_sql(n)
        csel = ",\n               ".join(
            f"{coeffs[k] if k < n else '0.0'} AS c{k}" for k in range(4)
        )
        pred = " + ".join(
            f"f.c{k} * CAST(t.{r} AS DOUBLE)" for k, r in enumerate(regs)
        )
        parts.append(f"""
        SELECT t.l_returnflag, '{kind}' AS kind,
               round(f.c0 + 1e-11, 6) AS c0, round(f.c1 + 1e-11, 6) AS c1,
               round(f.c2 + 1e-11, 6) AS c2, round(f.c3 + 1e-11, 6) AS c3,
               round(avg(((({pred}) - t.y100) / t.y100)
                         * ((({pred}) - t.y100) / t.y100)) + 1e-9, 4) AS rel_mse,
               max(f.n_train) AS n_train,
               count(*) AS n_test
        FROM li t
        JOIN (
            SELECT l_returnflag, {csel}, n_train FROM (
                SELECT l_returnflag,
                       {grams},
                       count(*) AS n_train
                FROM li
                WHERE l_returnflag = '{flag}' AND is_train
                GROUP BY l_returnflag
            )
        ) f USING (l_returnflag)
        WHERE t.l_returnflag = '{flag}' AND NOT t.is_train
        GROUP BY t.l_returnflag, f.c0, f.c1, f.c2, f.c3""")
    body = "\n        UNION ALL\n".join(parts)
    return f"WITH {_LI_FIXEDPOINT_CTE} {body}"


ORACLES["snapshot_fit_dispatch"] = _fit_dispatch_oracle()


def _shap_oracle() -> str:
    """Mirror of shap_feature_reduction: exact-Gram OLS betas + train-split
    mean absolute deviations -> closed-form linear SHAP importances."""
    from query_cost_feature_engineering_spark.operators.mls import (
        gram_sql_exprs,
        solve_sql,
    )
    from query_cost_feature_engineering_spark.queries import SHAP_FEATURES

    regs = ["q100", "d100", "t100", "one"]
    grams = ",\n               ".join(gram_sql_exprs(regs, "y100"))
    coeffs = solve_sql(4)
    csel = ",\n               ".join(f"{coeffs[k]} AS c{k}" for k in range(4))
    devs = ",\n               ".join(
        f"avg(abs(CAST({r} AS DOUBLE) - (SELECT avg({r}) FROM li WHERE is_train)))"
        f" AS dev_{k}"
        for k, r in enumerate(regs[:3])
    )
    rows = "\n            UNION ALL\n".join(
        f"            SELECT '{SHAP_FEATURES[k]}' AS feature, c{k} AS beta, "
        f"abs(c{k}) * dev_{k} AS mean_abs_shap, "
        f"abs(c{k}) * dev_{k} / (abs(c0) * dev_0 + abs(c1) * dev_1 "
        f"+ abs(c2) * dev_2) AS share FROM j"
        for k in range(3)
    )
    return f"""
        WITH {_LI_FIXEDPOINT_CTE},
        fit AS (
            SELECT {csel} FROM (
                SELECT {grams} FROM li WHERE is_train
            )
        ),
        dv AS (
            SELECT {devs} FROM li WHERE is_train
        ),
        j AS (SELECT * FROM fit, dv)
        SELECT feature, round(beta + 1e-11, 6) AS beta,
               round(mean_abs_shap + 1e-9, 4) AS mean_abs_shap,
               round(share + 1e-9, 4) AS share,
               CASE WHEN share >= 0.01 THEN 'kept' ELSE 'dropped' END AS status
        FROM ({rows})
    """


ORACLES["shap_feature_reduction"] = _shap_oracle()


def _ablation_oracle() -> str:
    """Mirror of ablation_leave_one_out: per-candidate exact-Gram fit +
    holdout relative MSE; verdicts from ROUNDED ratios on both engines."""
    from query_cost_feature_engineering_spark.operators.mls import (
        gram_sql_exprs,
        solve_sql,
    )
    from query_cost_feature_engineering_spark.queries import ABLATION_SPECS

    parts = []
    for tag, regs in ABLATION_SPECS.items():
        n = len(regs)
        grams = ",\n                   ".join(gram_sql_exprs(regs, "y100"))
        coeffs = solve_sql(n)
        csel = ",\n                   ".join(
            f"{coeffs[k]} AS c{k}" for k in range(n)
        )
        pred = " + ".join(
            f"f.c{k} * CAST(t.{r} AS DOUBLE)" for k, r in enumerate(regs)
        )
        parts.append(f"""
        SELECT '{tag}' AS dropped,
               round(avg(((({pred}) - t.y100) / t.y100)
                         * ((({pred}) - t.y100) / t.y100)) + 1e-9, 4) AS rel_mse,
               max(f.n_train) AS n_train,
               count(*) AS n_test
        FROM li t CROSS JOIN (
            SELECT {csel}, n_train FROM (
                SELECT {grams},
                       count(*) AS n_train
                FROM li WHERE is_train
            )
        ) f
        WHERE NOT t.is_train
        GROUP BY 1""")
    body = "\n        UNION ALL\n".join(parts)
    return f"""
        WITH {_LI_FIXEDPOINT_CTE},
        cand AS ({body})
        SELECT dropped, rel_mse,
               round(rel_mse / (SELECT rel_mse FROM cand WHERE dropped = 'none')
                     + 1e-9, 4) AS rel_mse_ratio,
               CASE WHEN dropped = 'none' THEN 'baseline'
                    WHEN round(rel_mse / (SELECT rel_mse FROM cand
                                          WHERE dropped = 'none') + 1e-9, 4)
                         <= 1.001 THEN 'droppable'
                    ELSE 'needed' END AS verdict,
               n_train, n_test
        FROM cand
    """


ORACLES["ablation_leave_one_out"] = _ablation_oracle()


def _feature_hash_oracle() -> str:
    cols = []
    for i in range(8):
        cols.append(
            f"CAST(sum(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS BIGINT) AS h{i}"
        )
        cols.append(
            f"round(sum(CASE WHEN b = {i} THEN value ELSE 0.0 END)"
            f" + 1e-9, 4) AS w{i}"
        )
    return f"""
        WITH h AS (
            SELECT user_id, value,
                   CAST('0x' || substr(md5(event_type), 1, 4) AS INTEGER)
                       % 8 AS b
            FROM events
        )
        SELECT user_id, {", ".join(cols)}
        FROM h GROUP BY user_id
    """


ORACLES["feature_hash_events"] = _feature_hash_oracle()

# Flag compares the ROUNDED z on both engines so percentile-interpolation
# ULP noise cannot flip a borderline row in one engine only.
ORACLES["outlier_events_robust"] = """
    WITH med AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
        FROM events GROUP BY 1
    ),
    d AS (
        SELECT e.event_id, e.event_type, e.value, m.med
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(value - med))
                   AS mad
        FROM d GROUP BY 1
    )
    SELECT event_id, event_type, round(value + 1e-9, 4) AS value,
           round(abs(0.6745 * (value - med) / mad) + 1e-9, 4) AS robust_z
    FROM d JOIN mad USING (event_type)
    WHERE round(abs(0.6745 * (value - med) / mad) + 1e-9, 4) > 3.5
"""

# Identical float op ORDER as the Spark-side numpy recurrence:
# fold acc' = 0.7*acc + 0.3*x with acc0 = first element.
ORACLES["ewma_events"] = """
    WITH ord AS (
        SELECT user_id, event_id, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events
    ),
    l AS (
        SELECT user_id, list(value ORDER BY rn) AS vs FROM ord GROUP BY 1
    )
    SELECT o.user_id, o.event_id,
           round(list_reduce(l.vs[1:o.rn], (acc, x) -> 0.7*acc + 0.3*x)
                 + 1e-9, 4) AS ewma
    FROM ord o JOIN l USING (user_id)
"""

# quantized_cosine_topk: int8 codes via floor(x*s + .5) with
# s = 127/max|x| per vector; dot/norms are integers (< 2^53) so any
# summation order gives the same float64 — the one ordered float
# expression (dot / sqrt(na*nb)) is written identically here.
ORACLES["quantized_cosine_topk"] = """
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, v,
               127.0 / list_max(list_transform(v, x -> abs(x))) AS s
        FROM base
    ),
    qz AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(x * s + 0.5) AS BIGINT))
                   AS q
        FROM scaled
    ),
    j AS (
        SELECT a.vec_id AS target_id, b.vec_id AS neighbor_id,
               list_dot_product(a.q, b.q) AS num,
               sqrt(CAST(CAST(list_dot_product(a.q, a.q) AS BIGINT)
                         * CAST(list_dot_product(b.q, b.q) AS BIGINT)
                         AS DOUBLE)) AS den
        FROM qz a, qz b
        WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id
    ),
    r AS (
        SELECT target_id, neighbor_id,
               round(CASE WHEN den > 0 THEN num / den END + 1e-9, 4)
                   AS qcos
        FROM j
    ),
    rk AS (
        SELECT *, row_number() OVER (
                   PARTITION BY target_id
                   ORDER BY qcos DESC, neighbor_id
               ) AS rnk
        FROM r
    )
    SELECT target_id, neighbor_id, qcos, CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= 3
"""

# contamination_docs: exact cross-side (train x bench) Jaccard >= 0.5;
# the bench split is the same md5 rule as hash_split (frac 0.1 ->
# '19999999'). All-pairs here is fine: the oracle side is O(n_bench x
# n_train) with a SMALL bench split by construction.
ORACLES["contamination_docs"] = f"""
    WITH {_SHINGLES_CTE},
    tagged AS (
        SELECT doc_id, sh,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
                   AS is_bench
        FROM sh
    )
    SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
           round(CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE)
                 / CAST(len(list_distinct(t.sh || b.sh)) AS DOUBLE)
                 + 1e-9, 4) AS jaccard
    FROM tagged t JOIN tagged b
      ON NOT t.is_bench AND b.is_bench
    WHERE CAST(len(list_intersect(t.sh, b.sh)) AS DOUBLE)
          / CAST(len(list_distinct(t.sh || b.sh)) AS DOUBLE) >= 0.5
"""

# weighted_sample_docs: accept iff md5int(doc_id) < floor(p * 16^8) with
# p = min(len/400 + 0.1, 1). Integer compare on identically-computed
# doubles (integer-valued inputs), so acceptance is engine-exact.
ORACLES["weighted_sample_docs"] = """
    SELECT doc_id,
           CAST(len(text) AS BIGINT) AS n_chars,
           round(least(len(text) / 400.0 + 0.1, 1.0) + 1e-9, 4) AS p_keep
    FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          < CAST(floor(least(len(text) / 400.0 + 0.1, 1.0)
                       * 4294967296.0) AS BIGINT)
"""

# running_total_orders: integer-cents prefix sums are associative-exact,
# so the distributed two-phase scan matches the sequential window fold.
# Spark round() is HALF_UP on doubles; mirror with floor(x*100 + 0.5)
# (o_totalprice >= 0).
ORACLES["running_total_orders"] = """
    SELECT o_orderkey,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER (
               ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS run_cents,
           CAST(count(*) OVER (
               ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS run_rows
    FROM orders
"""


# plan_featurize_nodes: the A4 featurizer re-derived in SQL over a
# pure-Python-flattened raw-node parquet of the SAME deterministic plan
# corpus the Spark side salvages from log text. The md5(%.4f-join) digest
# match checks log parse + explode + featurization end to end; the SQL is
# generated from the same vocabularies (sources/logs) so a vocabulary
# drift breaks the build loudly, not silently.
def _plan_feat_sql(
    vocab=None,
    fixture_kwargs: dict | None = None,
    extra_cols: tuple[str, ...] = (),
) -> str:
    from query_cost_feature_engineering_spark.sources.logs import (
        TPCH_VOCAB,
        ensure_plan_nodes_fixture,
    )

    vocab = vocab or TPCH_VOCAB
    REL_NAMES = list(vocab.rel_names)
    REL_ATTRS = vocab.rel_attrs
    INDEX_NAMES = list(vocab.index_names)
    JOIN_TYPES = list(vocab.join_types)
    PARENT_REL_TYPES = list(vocab.parent_rel_types)
    AGG_STRATEGIES = list(vocab.agg_strategies)
    SORT_ALGOS = list(vocab.sort_algos)
    MAX_ATTR = vocab.max_attr
    attr_stats = vocab.attr_stats

    path = ensure_plan_nodes_fixture(vocab=vocab, **(fixture_kwargs or {}))
    basics = (
        "[COALESCE(CAST(plan_width AS DOUBLE), 0.0), "
        "COALESCE(CAST(plan_rows AS DOUBLE), 0.0), "
        "COALESCE(total_cost, 0.0)]"
    )

    def one_hot(col: str, vocab: list[str], lower: bool = False) -> str:
        c = f"lower({col})" if lower else col
        return "[" + ", ".join(
            f"CASE WHEN {c} = '{v}' THEN 1.0 ELSE 0.0 END" for v in vocab
        ) + "]"

    def attr_vec(cond_col: str) -> str:
        cells = []
        for stat_idx in range(3):  # min, med, max
            for i in range(MAX_ATTR):
                branches = []
                for ri, rel in enumerate(REL_NAMES):
                    attrs = REL_ATTRS[rel]
                    if i < len(attrs):
                        stat = attr_stats(ri, i)[stat_idx]
                        branches.append(
                            f"WHEN relation_name = '{rel}' AND "
                            f"COALESCE(contains({cond_col}, '{attrs[i]}'), "
                            f"FALSE) THEN {stat!r}"
                        )
                cells.append(
                    "CASE " + " ".join(branches) + " ELSE 0.0 END"
                    if branches
                    else "0.0"
                )
        return "[" + ", ".join(cells) + "]"

    sortkey_cells = []
    for rel in REL_NAMES:
        attrs = REL_ATTRS[rel]
        for i in range(MAX_ATTR):
            sortkey_cells.append(
                f"CASE WHEN list_contains(toks, '{rel}.{attrs[i]}') "
                "THEN 1.0 ELSE 0.0 END"
                if i < len(attrs)
                else "0.0"
            )
    sortkey_vec = "[" + ", ".join(sortkey_cells) + "]"
    rel_vec = one_hot("relation_name", REL_NAMES)
    jt_vec = one_hot("join_type", JOIN_TYPES, lower=True)
    parent_vec = one_hot("parent_relationship", PARENT_REL_TYPES, lower=True)
    strat_vec = one_hot("strategy", AGG_STRATEGIES, lower=True)
    index_vec = one_hot("index_name", INDEX_NAMES)
    sortmeth_vec = one_hot("sort_method", SORT_ALGOS, lower=True)
    forward = "CASE WHEN scan_direction = 'Forward' THEN 1.0 ELSE 0.0 END"
    parallel = (
        "CASE WHEN parallel_aware IS NULL OR parallel_aware = 'false' "
        "THEN 0.0 ELSE 1.0 END"
    )
    buckets = "COALESCE(CAST(hash_buckets AS DOUBLE), 1.0)"
    # ref get_scan_input: Filter first, Recheck Cond when Filter absent
    scan_attr_vec = attr_vec("COALESCE(filter_cond, recheck_cond)")
    extra = "".join(f", {c}" for c in extra_cols)
    return f"""
    WITH nodes AS (
      SELECT *,
             flatten(list_transform(
                 COALESCE(sort_key, CAST([] AS VARCHAR[])),
                 k -> list_filter(
                     string_split(regexp_replace(k, '[()]', ' ', 'g'), ' '),
                     t -> contains(t, '.')
                 )
             )) AS toks
      FROM read_parquet('{path}')
    ),
    feat AS (
      SELECT node_id, node_type, is_subplan{extra},
        CASE node_type
          WHEN 'Seq Scan' THEN
            {basics} || {rel_vec} || {scan_attr_vec}
          WHEN 'Bitmap Heap Scan' THEN
            {basics} || {rel_vec} || {scan_attr_vec}
          WHEN 'Index Scan' THEN
            {basics} || {rel_vec} || {attr_vec('index_cond')}
            || {index_vec} || [{forward}]
          WHEN 'Index Only Scan' THEN
            {basics} || {rel_vec} || {attr_vec('index_cond')}
            || {index_vec} || [{forward}]
          WHEN 'Bitmap Index Scan' THEN {basics} || {index_vec}
          WHEN 'ModifyTable' THEN {basics} || {rel_vec}
          WHEN 'Hash Join' THEN {basics} || {jt_vec} || {parent_vec}
          WHEN 'Merge Join' THEN {basics} || {jt_vec} || {parent_vec}
          WHEN 'Nested Loop' THEN {basics} || {jt_vec}
          WHEN 'Sort' THEN {basics} || {sortkey_vec} || {sortmeth_vec}
          WHEN 'Hash' THEN {basics} || [{buckets}]
          WHEN 'Aggregate' THEN {basics} || {strat_vec} || [{parallel}]
          ELSE {basics}
        END AS vec
      FROM nodes
    )
    SELECT node_id, node_type, is_subplan{extra},
           CAST(len(vec) AS INTEGER) AS feat_len,
           md5(array_to_string(
               list_transform(vec, x -> printf('%.4f', x)), ',')) AS feat_digest
    FROM feat
    """


ORACLES["plan_featurize_nodes"] = _plan_feat_sql()


def _plan_deep_sql() -> str:
    from query_cost_feature_engineering_spark.sources.logs import (
        PLAN_DEEP_DEPTH,
        PLAN_DEEP_N,
        PLAN_DEEP_SEED,
    )

    return _plan_feat_sql(
        fixture_kwargs={
            "n_plans": PLAN_DEEP_N,
            "seed": PLAN_DEEP_SEED,
            "max_depth": PLAN_DEEP_DEPTH,
        },
        extra_cols=("level",),
    )


ORACLES["plan_featurize_deep"] = _plan_deep_sql()


def _plan_job_sql() -> str:
    from query_cost_feature_engineering_spark.sources.logs import (
        JOB_VOCAB,
        PLAN_JOB_N,
        PLAN_JOB_SEED,
    )

    return _plan_feat_sql(
        vocab=JOB_VOCAB,
        fixture_kwargs={"n_plans": PLAN_JOB_N, "seed": PLAN_JOB_SEED},
    )


ORACLES["plan_featurize_job_vocab"] = _plan_job_sql()


def _subplan_rollup_sql() -> str:
    """Mirror of subplan_rollup_plans over the shared raw-node fixture:
    the parent-sum the reference's QPPNet applies to subplan predicted
    times (models/QPPNet.py:191-198). Both float columns carry the same
    +1e-8 nudge the Spark side's ``_rq(c, 3)`` applies, so a sum landing
    on an exact .0005 boundary rounds into the same bucket on both
    engines (round-4 ADVICE)."""
    from query_cost_feature_engineering_spark.sources.logs import (
        ensure_plan_nodes_fixture,
    )

    path = ensure_plan_nodes_fixture()
    return f"""
    WITH nodes AS (SELECT * FROM read_parquet('{path}')),
    sub AS (
      SELECT parent_node_id,
             round(sum(actual_total_time) + 1e-8, 3) AS subplan_time,
             count(*) AS n_subplans
      FROM nodes
      WHERE is_subplan AND parent_node_id IS NOT NULL
      GROUP BY parent_node_id
    )
    SELECT n.node_id, s.n_subplans, s.subplan_time,
           round(n.actual_total_time + s.subplan_time + 1e-8, 3)
               AS time_with_subplans
    FROM nodes n JOIN sub s ON n.node_id = s.parent_node_id
    """


ORACLES["subplan_rollup_plans"] = _subplan_rollup_sql()


def _stream_image_features_sql() -> str:
    """Mirror of stream_image_features via the both-sides-synthesize
    pattern: a pure-pandas recompute of the stateless featurize stage
    over the SAME seeded image table, written as a fixture parquet
    (golden.ensure_stream_features_fixture). A hash match proves the
    file-source stream → Arrow decode → sink path reproduces the
    independent single-process computation row-for-row — upgrading the
    round-3 rows-only check to a hard signal."""
    from query_cost_feature_engineering_spark.golden import (
        ensure_stream_features_fixture,
    )

    path = ensure_stream_features_fixture()
    return f"""
    SELECT image_id, entity_id, ts, fmt, token_count,
           round(px_mean + 1e-9, 4) AS px_mean,
           round(nbytes + 1e-9, 4) AS nbytes
    FROM read_parquet('{path}')
    """


ORACLES["stream_image_features"] = _stream_image_features_sql()


# Round 4: the remaining synthetic-input queries move from rows-only to
# hash oracles via the same both-sides-synthesize fixtures — the
# pure-Python side recomputes each operator's semantics independently
# (same shared codec cores, so doubles are bit-identical; everything
# else is integer/string-exact) and DuckDB reads the fixture parquet.
def _fixture_oracles() -> dict[str, str]:
    from query_cost_feature_engineering_spark import golden as G

    return {
        "resize_images_meta": f"""
            SELECT image_id, w, h, fmt, out_nbytes
            FROM read_parquet('{G.ensure_resize_meta_fixture()}')
        """,
        "augment_images_meta": f"""
            SELECT image_id, w, h, fmt, phash, out_nbytes
            FROM read_parquet('{G.ensure_augment_meta_fixture()}')
        """,
        "video_frame_sample": f"""
            SELECT media_id, frame_idx, n_frames,
                   round(frame_mean + 1e-9, 4) AS frame_mean
            FROM read_parquet('{G.ensure_video_frames_fixture()}')
        """,
        "audio_features_clips": f"""
            SELECT clip_id, n_samples, sample_rate,
                   round(duration_s + 1e-9, 4) AS duration_s,
                   round(rms + 1e-9, 4) AS rms,
                   zero_crossings
            FROM read_parquet('{G.ensure_audio_features_fixture()}')
        """,
        "format_sniff_images": f"""
            SELECT media_id, declared_fmt, sniffed_fmt, fmt_ok
            FROM read_parquet('{G.ensure_sniff_fixture()}')
        """,
        "phash_neardup_images": f"""
            SELECT img_a, img_b, hamming
            FROM read_parquet('{G.ensure_phash_pairs_fixture()}')
        """,
        "image_dedup_clusters": f"""
            SELECT image_id, cluster_id, is_survivor
            FROM read_parquet('{G.ensure_dedup_clusters_fixture()}')
        """,
        "image_asof_features": f"""
            SELECT probe_id, entity_id, image_id,
                   round(px_mean + 1e-9, 4) AS px_mean,
                   session_id
            FROM read_parquet('{G.ensure_asof_features_fixture()}')
        """,
        "image_features": f"""
            SELECT image_id, entity_id, ts, session_id,
                   n_features, feature_digest
            FROM read_parquet('{G.ensure_image_features_fixture()}')
        """,
        # caption_align_images (round 5): both-sides-synthesize fixture
        # with INDEPENDENT caption hashing + cosine (hashlib / Python
        # float loop vs F.md5+conv / JVM expression chain); the fixture
        # stores the raw score, quantized here with the _rq nudge.
        # jpeg_features_images (round 5): single-process decode-core
        # fixture (plumbing-pinning); the fixture BUILD enforces the
        # per-image PSNR >= 40 dB codec invariant, so a codec
        # regression fails here loudly.
        "mixed_format_features": f"""
            SELECT image_id, fmt, dec_w, dec_h,
                   round(px_mean + 1e-9, 4) AS px_mean,
                   round(corner_mean + 1e-9, 4) AS corner_mean
            FROM read_parquet('{G.ensure_mixed_format_fixture()}')
        """,
        "exif_orient_images": f"""
            SELECT image_id, orientation_true, orientation,
                   disp_w, disp_h,
                   round(corner_mean + 1e-9, 4) AS corner_mean
            FROM read_parquet('{G.ensure_exif_fixture()}')
        """,
        "exif_scrub_images": f"""
            SELECT image_id, had_exif, n_stripped,
                   bytes_removed, out_nbytes, clean_ok, pixels_ok
            FROM read_parquet('{G.ensure_exif_scrub_fixture()}')
        """,
        "jpeg_features_images": f"""
            SELECT image_id, w, h, quality, subsamp, coding, n_bytes,
                   round(px_mean + 1e-9, 4) AS px_mean,
                   px_min_r, px_max_r, hist_lo, hist_hi
            FROM read_parquet('{G.ensure_jpeg_features_fixture()}')
        """,
        # shard_pack_images (round 5): both-sides-synthesize fixture;
        # plain-Python cumsum vs the distributed range-bucket prefix
        # sum (exact integers, so the match is bit-exact).
        "shard_pack_images": f"""
            SELECT image_id, rec_bytes, prefix_bytes, shard_id,
                   shard_off
            FROM read_parquet('{G.ensure_shard_pack_fixture()}')
        """,
        # video_frame_dedup (round 5): both-sides-synthesize fixture;
        # keep-chain recomputed in pure Python from the ORIGINAL frame
        # arrays (never the decode path under test).
        "video_frame_dedup": f"""
            SELECT media_id, frame_idx, n_frames, phash,
                   hamming_prev, kept
            FROM read_parquet('{G.ensure_video_dedup_fixture()}')
        """,
        # datacomp_filter_images (round 5): both-sides-synthesize
        # fixture; every gate recomputed in pure Python, raw aspect
        # quantized here with the _rq nudge.
        "datacomp_filter_images": f"""
            SELECT image_id, w, h,
                   round(aspect + 1e-11, 6) AS aspect,
                   caption_tokens, size_ok, aspect_ok, caption_ok,
                   fmt_ok, kept
            FROM read_parquet('{G.ensure_datacomp_filter_fixture()}')
        """,
        "caption_align_images": f"""
            SELECT image_id, entity_id, token_count,
                   round(align_score + 1e-11, 6) AS align_score, kept
            FROM read_parquet('{G.ensure_caption_align_fixture()}')
        """,
        # audio_fingerprint_dedup (round 5): fingerprints from the
        # independent pure-Python fixture; dedup re-derived HERE with
        # a window-min formulation (vs Spark's groupBy + join back).
        "audio_fingerprint_dedup": f"""
            SELECT clip_id, fingerprint, n_frames,
                   min(clip_id) OVER (PARTITION BY fingerprint)
                       AS canonical_id,
                   clip_id <> min(clip_id) OVER (PARTITION BY fingerprint)
                       AS is_dup,
                   dup_of
            FROM read_parquet('{G.ensure_audio_fp_fixture()}')
        """,
        # image_curation_pipeline (round 5): fused gate metrics from
        # the independent-loop fixture; the dedup re-derived HERE with
        # a window-min-over-sharp formulation (vs Spark's filtered
        # groupBy + broadcast join back).
        "image_curation_pipeline": f"""
            WITH f AS (
              SELECT * FROM read_parquet('{G.ensure_curation_fixture()}')
            ), s AS (
              SELECT image_id,
                     min(image_id) OVER (PARTITION BY crop_phash)
                         AS canonical_id
              FROM f WHERE lap_var >= 800.0
            )
            SELECT f.image_id, f.group_id, f.role, f.crop_w, f.crop_h,
                   round(1.0 - (f.crop_w * f.crop_h)
                             / (f.dec_w * f.dec_h) + 1e-11, 6)
                       AS border_frac,
                   round(f.lap_var + 1e-9, 4) AS lap_var,
                   f.lap_var >= 800.0 AS is_sharp,
                   f.crop_phash,
                   s.canonical_id,
                   CASE WHEN f.lap_var >= 800.0
                        THEN f.image_id <> s.canonical_id
                        ELSE false END AS is_dup
            FROM f LEFT JOIN s USING (image_id)
        """,
        # audio_neardup_pairs (round 5): fingerprints from the
        # independent loop fixture; pairing brute-forced HERE vs
        # Spark's pigeonhole banding.
        "audio_neardup_pairs": f"""
            WITH f AS (
              SELECT * FROM read_parquet('{G.ensure_audio_neardup_fixture()}')
            )
            SELECT a.clip_id AS clip_a, b.clip_id AS clip_b,
                   CAST(bit_count(xor(a.fingerprint, b.fingerprint))
                        AS BIGINT) AS hamming,
                   coalesce(b.near_of = a.clip_id, false) AS is_planted
            FROM f a, f b
            WHERE a.clip_id < b.clip_id
              AND bit_count(xor(a.fingerprint, b.fingerprint)) <= 12
        """,
        # stream_image_curation (round 5): gate columns of the batch
        # capstone's fixture — streaming adds micro-batching, not
        # semantics, so the SAME independent-loop recompute pins it.
        "stream_image_curation": f"""
            SELECT image_id, group_id, role, crop_w, crop_h,
                   round(lap_var + 1e-9, 4) AS lap_var,
                   lap_var >= 800.0 AS is_sharp,
                   crop_phash
            FROM read_parquet('{G.ensure_curation_fixture()}')
        """,
        # image_decontam_phash (round 5): INPUT-only fixture; the
        # pairing is brute-forced HERE (full train x bench hamming
        # cross join) vs Spark's lossless pigeonhole banding.
        "image_decontam_phash": f"""
            WITH f AS (
              SELECT * FROM read_parquet('{G.ensure_decontam_fixture()}')
            ),
            t AS (SELECT image_id, phash, leak_of FROM f
                  WHERE side = 'train'),
            b AS (SELECT image_id, phash FROM f WHERE side = 'bench')
            SELECT t.image_id AS train_id,
                   b.image_id AS bench_id,
                   CAST(bit_count(xor(t.phash, b.phash)) AS BIGINT)
                       AS hamming,
                   coalesce(t.leak_of = b.image_id, false) AS is_planted
            FROM t, b
            WHERE bit_count(xor(t.phash, b.phash)) <= 8
        """,
        # border_crop_images (round 5): run lengths from the
        # per-pixel-loop fixture; crop box + border fraction
        # re-derived HERE from the counts (second independent
        # formulation of the JVM arithmetic).
        "border_crop_images": f"""
            SELECT image_id, img_w, img_h,
                   border_t, border_b, border_l, border_r,
                   img_w - border_l - border_r AS crop_w,
                   img_h - border_t - border_b AS crop_h,
                   round(1.0 - ((img_w - border_l - border_r)
                                * (img_h - border_t - border_b))
                             / (img_w * img_h) + 1e-11, 6)
                       AS border_frac,
                   border_t > 0 OR border_b > 0 OR border_l > 0
                       OR border_r > 0 AS is_letterboxed,
                   pad_t, pad_b, pad_l, pad_r
            FROM read_parquet('{G.ensure_border_fixture()}')
        """,
        # blur_detect_images (round 5): fixture recomputed by an
        # INDEPENDENT pure-Python loop implementation of the integer
        # Laplacian/Tenengrad sums (see golden.ensure_blur_fixture) —
        # only the corpus generator + codec decode are shared.
        "blur_detect_images": f"""
            SELECT image_id, dec_w, dec_h,
                   round(lap_var + 1e-9, 4) AS lap_var,
                   round(tenengrad + 1e-9, 4) AS tenengrad,
                   lap_var >= 800.0 AS is_sharp,
                   blur_true
            FROM read_parquet('{G.ensure_blur_fixture()}')
        """,
        # mscn_serialize_plans (round 5): rows-only -> hash oracle. The
        # serialization contract itself is pinned by the hand-built-tree
        # golden test; this fixture pins the full distributed pipeline's
        # output digests (see golden.ensure_mscn_fixture docstring).
        "mscn_serialize_plans": f"""
            SELECT plan_key, n_nodes, feat_len, vec_digest, vec_l1
            FROM read_parquet('{G.ensure_mscn_fixture()}')
        """,
        # logscan_plans: DuckDB re-derives the per-node-type regression
        # (same covariance formula + <3-sample/zero-variance fallback as
        # operators/snapshot.fit_linear_by_group) from the RAW samples
        # fixture — parse + explode + fit checked end to end.
        "logscan_plans": f"""
            WITH s AS (
              SELECT * FROM read_parquet(
                  '{G.ensure_plan_samples_fit_fixture()}')
            ),
            agg AS (
              SELECT node_type,
                     covar_pop(actual_rows, actual_total_time) AS c,
                     var_pop(actual_rows) AS v,
                     avg(actual_rows) AS mx,
                     avg(actual_total_time) AS my,
                     count(*) AS n_samples
              FROM s GROUP BY node_type
            )
            SELECT node_type,
                   round(CASE WHEN n_samples >= 3 AND v > 0
                         THEN c / v ELSE 0.0 END + 1e-11, 6) AS slope,
                   round(CASE WHEN n_samples >= 3 AND v > 0
                         THEN my - c / v * mx ELSE my END + 1e-9, 4)
                       AS intercept,
                   n_samples
            FROM agg
        """,
    }


ORACLES.update(_fixture_oracles())


def _aspect_bucket_sql() -> str:
    """DuckDB mirror of aspect_bucket_images. INDEPENDENT formulation:
    the fixture carries only the input (image_id, w, h) spine; bucket
    assignment is re-derived here as a 9-row VALUES cross join +
    row_number pick ordered by (dist, idx), where dist =
    greatest(w*bh, h*bw) / least(w*bh, h*bw) — one correctly-rounded
    IEEE division of two exact longs, so the doubles are bit-identical
    to Spark's and the tie-break is the same lexicographic order."""
    from query_cost_feature_engineering_spark import golden as G
    from query_cost_feature_engineering_spark.queries import (
        ASPECT_BATCH,
        ASPECT_BUCKETS,
    )

    values = ", ".join(
        f"({i}, {bw}, {bh})" for i, (bw, bh) in enumerate(ASPECT_BUCKETS)
    )
    return f"""
    WITH imgs AS (
      SELECT image_id, w, h
      FROM read_parquet('{G.ensure_aspect_meta_fixture()}')
    ),
    buckets(idx, bw, bh) AS (VALUES {values}),
    scored AS (
      SELECT i.image_id, i.w, i.h, b.idx, b.bw, b.bh,
             greatest(i.w * b.bh, i.h * b.bw)
               / least(i.w * b.bh, i.h * b.bw) AS dist,
             row_number() OVER (
               PARTITION BY i.image_id
               ORDER BY greatest(i.w * b.bh, i.h * b.bw)
                          / least(i.w * b.bh, i.h * b.bw),
                        b.idx) AS rk
      FROM imgs i CROSS JOIN buckets b
    ),
    assigned AS (
      SELECT image_id, w, h, idx AS bucket_idx, bw, bh, dist
      FROM scored WHERE rk = 1
    ),
    packed AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY bucket_idx ORDER BY image_id) AS rn,
             count(*) OVER (PARTITION BY bucket_idx) AS cnt
      FROM assigned
    )
    SELECT image_id, w, h, bucket_idx,
           CAST(bw AS VARCHAR) || ':' || CAST(bh AS VARCHAR) AS bucket,
           round(dist + 1e-11, 6) AS ar_dist,
           CAST((rn - 1) // {ASPECT_BATCH} AS BIGINT) AS batch_id,
           rn <= (cnt // {ASPECT_BATCH}) * {ASPECT_BATCH} AS kept
    FROM packed
    """


ORACLES["aspect_bucket_images"] = _aspect_bucket_sql()


def _vlm_pack_sql() -> str:
    """DuckDB mirror of vlm_pack_images: identical integer arithmetic
    (64 + whitespace caption tokens, 4-case power-of-two quantum,
    md5(image_id) order, 512//q slots per context, partial tail
    dropped) over the input-only (image_id, caption) fixture."""
    from query_cost_feature_engineering_spark import golden as G
    from query_cost_feature_engineering_spark.queries import (
        VLM_CTX,
        VLM_IMG_TOKENS,
    )

    return f"""
    WITH c AS (
      SELECT image_id,
             CAST({VLM_IMG_TOKENS} +
                  len(list_filter(string_split(caption, ' '),
                                  w -> w <> '')) AS BIGINT) AS n_tokens,
             md5(image_id) AS _ord
      FROM read_parquet('{G.ensure_vlm_meta_fixture()}')
    ),
    qq AS (
      SELECT *, CAST(CASE WHEN n_tokens <= 64 THEN 64
                          WHEN n_tokens <= 128 THEN 128
                          WHEN n_tokens <= 256 THEN 256
                          ELSE {VLM_CTX} END AS BIGINT) AS q
      FROM c
      WHERE n_tokens <= {VLM_CTX}
    ),
    p AS (
      SELECT *, {VLM_CTX} // q AS per_ctx,
             row_number() OVER (
               PARTITION BY q ORDER BY _ord, image_id) AS rn,
             count(*) OVER (PARTITION BY q) AS cnt
      FROM qq
    )
    SELECT image_id, n_tokens, q,
           CAST((rn - 1) % per_ctx AS BIGINT) AS slot,
           CAST((rn - 1) // per_ctx AS BIGINT) AS ctx_idx,
           rn <= (cnt // per_ctx) * per_ctx AS kept
    FROM p
    """


ORACLES["vlm_pack_images"] = _vlm_pack_sql()


# Exact token-5-gram collision decontamination (GPT-3-style). The Spark
# side hash-compacts gram keys to xxhash64 for an 8-byte shuffle; the
# oracle joins on the gram STRING — identical pair counts unless a hash
# collision merges two distinct grams (negligible and deterministic, a
# mismatch would surface here).
ORACLES["contamination_ngram_docs"] = """
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'
                 AS is_bench
      FROM documents
    ),
    g AS (
      SELECT doc_id, is_bench,
             unnest(list_distinct(list_transform(
                 generate_series(1, len(toks) - 4),
                 i -> array_to_string(toks[i:i+4], ' ')))) AS g
      FROM d WHERE len(toks) >= 5
    )
    SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
           count(*) AS shared_ngrams
    FROM g t JOIN g b USING (g)
    WHERE NOT t.is_bench AND b.is_bench
    GROUP BY 1, 2
"""


# Bigram-LM quality scoring: identical model (corpus-trained add-one
# smoothed bigram log-prob, mean per doc) re-derived in SQL.
ORACLES["lm_quality_docs"] = """
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 2
    ),
    db AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
    ),
    cb AS (SELECT w1, w2, count(*) AS cb FROM db GROUP BY w1, w2),
    uni AS (SELECT unnest(toks) AS w FROM d),
    cu AS (SELECT w, count(*) AS cu FROM uni GROUP BY w),
    v AS (SELECT count(*) AS v FROM cu)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(ln((cb + 1.0) / (cu + v))) + 1e-9, 4) AS lm_score
    FROM db
    JOIN cb USING (w1, w2)
    JOIN cu ON db.w1 = cu.w
    CROSS JOIN v
    GROUP BY doc_id
"""


# CCNet head/middle/tail bucketing (Wenzek et al. 2020): the lm_quality
# scoring SQL verbatim as a CTE, + lang join + per-language ntile(3)
# ordered by (rounded score DESC, doc_id) — the same total order Spark
# sorts, so tercile assignment is exact.
ORACLES["ccnet_buckets_docs"] = """
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 2
    ),
    db AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
    ),
    cb AS (SELECT w1, w2, count(*) AS cb FROM db GROUP BY w1, w2),
    uni AS (SELECT unnest(toks) AS w FROM d),
    cu AS (SELECT w, count(*) AS cu FROM uni GROUP BY w),
    v AS (SELECT count(*) AS v FROM cu),
    scored AS (
      SELECT doc_id, count(*) AS n_bigrams,
             round(avg(ln((cb + 1.0) / (cu + v))) + 1e-9, 4) AS lm_score
      FROM db
      JOIN cb USING (w1, w2)
      JOIN cu ON db.w1 = cu.w
      CROSS JOIN v
      GROUP BY doc_id
    ),
    ranked AS (
      SELECT s.doc_id, docs.lang, s.n_bigrams, s.lm_score,
             CAST(ntile(3) OVER (
               PARTITION BY docs.lang
               ORDER BY s.lm_score DESC, s.doc_id) AS BIGINT) AS tercile
      FROM scored s JOIN documents docs ON s.doc_id = docs.doc_id
    )
    SELECT doc_id, lang, n_bigrams, lm_score, tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket,
           tercile <= 2 AS kept
    FROM ranked
"""


# ann_ivf_topk (round-5 close): the trained-k-means step is not
# SQL-expressible, so — the approx_profile_orders pattern — the query
# emits invariants the oracle CAN predict: 3 dense ranks per probe
# target, rank_ok (dense + cosine-sorted, checked Spark-side against
# its own result list) and recall_ok (global recall vs the exact
# brute-force top-3 computed in the same job >= ANN_IVF_MIN_RECALL).
# A collapsed k-means or malformed result list flips a boolean or the
# row count and fails the hash.
ORACLES["ann_ivf_topk"] = """
    SELECT e.vec_id AS target_id,
           CAST(r.rnk AS BIGINT) AS rnk,
           TRUE AS rank_ok,
           TRUE AS recall_ok
    FROM embeddings e CROSS JOIN (VALUES (1), (2), (3)) r(rnk)
    WHERE e.vec_id < 20
"""


# approx_profile_orders (round 5): sketch values are engine-specific,
# so the oracle checks exact anchors + literal TRUE for every sketch's
# published error bound (the Spark side computes each bound against its
# own exact aggregates — see the query docstring).
ORACLES["approx_profile_orders"] = """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS custkey_nd_exact,
           CAST(count(DISTINCT o_totalprice) AS BIGINT)
               AS totalprice_nd_exact,
           TRUE AS custkey_nd_ok,
           TRUE AS totalprice_nd_ok,
           TRUE AS p50_ok,
           TRUE AS p95_ok
    FROM orders
"""


# Passage-level exact-substring dedup (Lee et al. 2022). Spark joins on
# xxhash64-compacted gram keys (8-byte shuffle); the oracle joins on the
# gram STRING — identical spans unless a hash collision merges two
# distinct grams (same documented contract as contamination_ngram_docs).
ORACLES["span_dedup_docs"] = """
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(toks[i:i+4], ' ') AS g
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - 4)) AS i)
      WHERE len(toks) >= 5
    ),
    shared AS (
      SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ),
    h AS (SELECT doc_id, pos FROM g JOIN shared USING (g)),
    m AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 5
                  THEN 1 ELSE 0 END AS new_span
      FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    s AS (
      SELECT doc_id, pos,
             sum(new_span) OVER (
                 PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING
             ) AS span_id
      FROM m
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 4 AS BIGINT) AS span_end,
           CAST(max(pos) + 4 - min(pos) + 1 AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM s GROUP BY doc_id, span_id
"""


def _lang_id_sql() -> str:
    """DuckDB mirror of lang_id_docs: identical per-language vowel
    permutation, identical md5 train split, identical add-one-smoothed
    char-bigram naive-Bayes scoring, identical quantized-score argmax
    (round to 6 dp with the +1e-9 nudge before ordering, lang ASC
    tie-break)."""
    from query_cost_feature_engineering_spark.queries import (
        LANGID_LANGS,
        LANGID_VOWEL_MAP,
    )

    xlat = "lower(text)"
    case = "CASE " + " ".join(
        f"WHEN lang = '{lg}' THEN translate(lower(text), 'aeiou', '{to}')"
        for lg, to in LANGID_VOWEL_MAP.items()
    ) + f" ELSE {xlat} END"
    langs = ", ".join(f"'{lg}'" for lg in sorted(LANGID_LANGS))
    return f"""
    WITH d AS (
      SELECT doc_id, lang, {case} AS t2,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
                 AS is_train
      FROM documents
      WHERE lang IN ({langs}) AND length({case}) >= 2
    ),
    bg AS (
      SELECT doc_id, lang, is_train, substr(t2, i, 2) AS bg
      FROM d, LATERAL (
        SELECT unnest(generate_series(1, length(t2) - 1)) AS i
      )
    ),
    prof AS (
      SELECT lang, bg, count(*) AS cnt FROM bg WHERE is_train
      GROUP BY lang, bg
    ),
    tot AS (SELECT lang, sum(cnt) AS tot FROM prof GROUP BY lang),
    v AS (SELECT count(DISTINCT bg) AS v FROM prof),
    cand AS (
      SELECT b.doc_id, b.lang AS actual_lang, b.bg, l.lang
      FROM bg b CROSS JOIN (SELECT unnest([{langs}]) AS lang) l
    ),
    scored AS (
      SELECT c.doc_id, c.actual_lang, c.lang,
             sum(ln((coalesce(p.cnt, 0) + 1.0) / (t.tot + v.v))) AS score
      FROM cand c
      LEFT JOIN prof p ON c.lang = p.lang AND c.bg = p.bg
      JOIN tot t ON c.lang = t.lang
      CROSS JOIN v
      GROUP BY c.doc_id, c.actual_lang, c.lang
    ),
    best AS (
      SELECT doc_id, actual_lang, lang, score,
             row_number() OVER (
                 PARTITION BY doc_id
                 ORDER BY round(score + 1e-9, 6) DESC, lang
             ) AS rn
      FROM scored
    )
    SELECT doc_id, actual_lang AS lang, lang AS pred_lang,
           lang = actual_lang AS correct,
           round(score + 1e-9, 4) AS score
    FROM best WHERE rn = 1
    """


ORACLES["lang_id_docs"] = _lang_id_sql()


def _token_stats_sql() -> str:
    """DuckDB mirror of token_stats_docs: INDEPENDENT greedy
    longest-match implementation (recursive CTE — each step advances by
    the length of the longest vocabulary piece matching at the cursor,
    or 1 char as UNK) over the same frozen BPE_VOCAB artifact the Spark
    Arrow UDF consumes. Verifies the matching algorithm end to end, not
    a replay of the UDF."""
    from query_cost_feature_engineering_spark.functions.text import BPE_VOCAB

    vals = ", ".join(f"('{p}')" for p in BPE_VOCAB)
    return f"""
    WITH RECURSIVE vocab(piece) AS (VALUES {vals}),
    words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    dw AS (SELECT DISTINCT w FROM words),
    r(w, pos, cnt, unk) AS (
      SELECT w, 0, 0, 0 FROM dw
      UNION ALL
      SELECT r.w,
             r.pos + coalesce(
               (SELECT max(length(v.piece)) FROM vocab v
                WHERE substr(r.w, r.pos + 1, length(v.piece)) = v.piece), 1),
             r.cnt + 1,
             r.unk + CASE WHEN (
               SELECT max(length(v.piece)) FROM vocab v
               WHERE substr(r.w, r.pos + 1, length(v.piece)) = v.piece
             ) IS NULL THEN 1 ELSE 0 END
      FROM r WHERE r.pos < length(r.w)
    ),
    tok AS (
      SELECT w, max(cnt) AS w_bpe, max(unk) AS w_unk
      FROM r WHERE pos >= length(w) GROUP BY w
    ),
    per_doc AS (
      SELECT words.doc_id,
             sum(tok.w_bpe) AS n_bpe_tokens,
             sum(tok.w_unk) AS n_unk
      FROM words JOIN tok USING (w)
      GROUP BY words.doc_id
    )
    SELECT d.doc_id,
           len(string_split(d.text, ' '))::BIGINT AS n_words,
           p.n_bpe_tokens::BIGINT AS n_bpe_tokens,
           p.n_unk::BIGINT AS n_unk,
           round(length(d.text) / nullif(p.n_bpe_tokens, 0) + 1e-11, 6)
             AS chars_per_token
    FROM documents d JOIN per_doc p USING (doc_id)
    ORDER BY d.doc_id
    """


ORACLES["token_stats_docs"] = _token_stats_sql()


def _domain_dedup_sql() -> str:
    """DuckDB mirror of domain_dedup_docs: identical deterministic URL
    synthesis (md5-derived skewed domain index), identical host /
    registered-domain extraction, blocklist, and per-domain cap."""
    from query_cost_feature_engineering_spark.queries import (
        DOMAIN_BLOCKLIST,
        DOMAIN_CAP,
        _MULTIPART_SUFFIXES,
    )

    block = ", ".join(f"'{b}'" for b in DOMAIN_BLOCKLIST)
    suff = ", ".join(f"'{s}'" for s in _MULTIPART_SUFFIXES)
    return f"""
    WITH u AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  AS BIGINT) AS h16
      FROM documents
    ),
    idx AS (
      SELECT doc_id, h16,
             CASE WHEN h16 % 5 <= 1 THEN 0 ELSE h16 % 15 + 1 END AS idx
      FROM u
    ),
    url AS (
      SELECT doc_id,
             'https://'
             || CASE WHEN h16 % 3 = 0 THEN 'www.' ELSE '' END
             || 'site' || CAST(idx AS VARCHAR) || '.'
             || (['com', 'org', 'net', 'co.uk'])[CAST(idx % 4 + 1 AS INT)]
             || '/doc/' || CAST(doc_id AS VARCHAR)
             || CASE WHEN h16 % 7 = 0 THEN '?utm_source=feed' ELSE '' END
                 AS url
      FROM idx
    ),
    hst AS (
      SELECT doc_id,
             regexp_replace(
                 regexp_extract(lower(url), '^[a-z]+://([^/?#]+)', 1),
                 '^www\\.', '') AS host
      FROM url
    ),
    dom AS (
      SELECT doc_id, host, string_split(host, '.') AS parts
      FROM hst
    ),
    d2 AS (
      SELECT doc_id, host,
             CASE WHEN array_to_string(parts[-2:], '.') IN ({suff})
                       AND len(parts) >= 3
                  THEN array_to_string(parts[-3:], '.')
                  ELSE array_to_string(parts[-2:], '.') END AS domain
      FROM dom
    ),
    r AS (
      SELECT doc_id, host, domain,
             domain IN ({block}) AS blocked,
             CAST(row_number() OVER (
                 PARTITION BY domain ORDER BY doc_id
             ) AS BIGINT) AS domain_rank
      FROM d2
    )
    SELECT doc_id, host, domain, domain_rank, blocked,
           (NOT blocked) AND domain_rank <= {DOMAIN_CAP} AS kept
    FROM r
    """


ORACLES["domain_dedup_docs"] = _domain_dedup_sql()


def _pii_scrub_sql() -> str:
    """DuckDB mirror of pii_scrub_docs: identical deterministic PII
    injection, identical dialect-neutral patterns ('g' flag makes
    DuckDB's regexp_replace global like Java's replaceAll)."""
    from query_cost_feature_engineering_spark.queries import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
    )

    return f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' reach user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                  || ' now' AS text2
      FROM documents
    ),
    red AS (
      SELECT doc_id, text2,
             regexp_replace(
                 regexp_replace(text2, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PII_PHONE_RE}', '<PHONE>', 'g') AS redacted
      FROM seeded
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text2, '{PII_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text2, '{PII_PHONE_RE}')) AS BIGINT)
               AS n_phones,
           CAST(length(redacted) AS BIGINT) AS red_len,
           md5(redacted) AS red_digest
    FROM red
    """


ORACLES["pii_scrub_docs"] = _pii_scrub_sql()


def _pack_sequences_sql() -> str:
    """DuckDB mirror of pack_sequences_docs: the same exclusive ordered
    prefix sum expressed as the naive global window (fine for an oracle
    at test scale; the engine's distributed range-bucket form exists
    precisely because this window serializes at 10^12 rows)."""
    from query_cost_feature_engineering_spark.queries import PACK_CONTEXT_LEN

    return f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    p AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (
                 ORDER BY doc_id ROWS UNBOUNDED PRECEDING
             ) - n_tokens AS BIGINT) AS prefix
      FROM t
    )
    SELECT doc_id, n_tokens, prefix,
           CAST(prefix // {PACK_CONTEXT_LEN} AS BIGINT) AS seq_id,
           CAST(prefix % {PACK_CONTEXT_LEN} AS BIGINT) AS seq_off
    FROM p
    """


ORACLES["pack_sequences_docs"] = _pack_sequences_sql()


# explain_json_featurize parses the SAME deterministic plan corpus from
# the real EXPLAIN (FORMAT JSON) wrapper format, so its oracle is
# plan_featurize_nodes' verbatim: a green hash proves the wrapped parse
# + canonical re-serialization path is bit-identical to the bare path.
ORACLES["explain_json_featurize"] = ORACLES["plan_featurize_nodes"]


# mixture_rebalance_docs: uniform-target mixture resampling. The factor
# is quantized to integer micro-units with floor(x*1e6 + 0.5) over
# identically-computed doubles, and everything after (copy count,
# fractional-acceptance threshold) is integer arithmetic — engine-exact.
ORACLES["mixture_rebalance_docs"] = """
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
          FROM t GROUP BY source),
    tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_src
            FROM s),
    f AS (SELECT source,
                 CAST(floor(CAST(total AS DOUBLE)
                            / (CAST(n_src AS DOUBLE)
                               * CAST(src_tokens AS DOUBLE))
                            * 1000000.0 + 0.5) AS BIGINT) AS fm
          FROM s CROSS JOIN tot),
    c AS (
      SELECT t.doc_id, t.source,
             f.fm // 1000000 AS nfull,
             (f.fm % 1000000) * 4294967296 // 1000000 AS thr,
             CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) AS h
      FROM t JOIN f USING (source)
    ),
    k AS (
      SELECT doc_id, source,
             CAST(nfull + CASE WHEN h < thr THEN 1 ELSE 0 END AS BIGINT)
                 AS n_copies
      FROM c
    )
    SELECT doc_id, source, n_copies,
           CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_id
    FROM k
    WHERE n_copies >= 1
"""


def _gopher_quality_sql(min_words=None, min_stopwords=None) -> str:
    """DuckDB mirror of gopher_quality_docs: identical tokenization,
    per-word length/alpha metrics, symbol counting and stopword
    membership; pass/fail thresholds compared on the UNROUNDED doubles
    (both engines compute them from the same integer arithmetic).
    ``min_words``/``min_stopwords`` mirror the query's calibration
    knobs (corpus_pipeline_docs passes its calibrated values)."""
    from query_cost_feature_engineering_spark.queries import (
        GOPHER_MAX_MWL,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MWL,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPWORDS,
    )

    if min_words is None:
        min_words = GOPHER_MIN_WORDS
    if min_stopwords is None:
        min_stopwords = GOPHER_MIN_STOPWORDS

    stop_sum = " + ".join(
        f"(CASE WHEN list_contains(ws, '{s}') THEN 1 ELSE 0 END)"
        for s in GOPHER_STOPWORDS
    )
    return f"""
    WITH w AS (
      SELECT doc_id,
             lower(text) AS t,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
                 AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS word_count,
             CASE WHEN len(ws) = 0 THEN 0
                  ELSE list_reduce(
                      list_transform(ws, x -> CAST(len(x) AS BIGINT)),
                      (a, b) -> a + b)
             END AS sum_len,
             CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))
                  AS BIGINT) AS alpha,
             CAST(len(t) - len(replace(t, '#', '')) AS BIGINT) AS hashes,
             CAST((len(t) - len(replace(t, '...', ''))) // 3 AS BIGINT)
                 AS ellipses,
             CAST({stop_sum} AS BIGINT) AS stopword_hits
      FROM w
    ),
    r AS (
      SELECT doc_id, word_count,
             sum_len / nullif(word_count, 0) AS mwl,
             (hashes + ellipses) / nullif(word_count, 0) AS sym,
             alpha / nullif(word_count, 0) AS alpha_frac,
             stopword_hits
      FROM m
    )
    SELECT doc_id, word_count,
           round(mwl + 1e-11, 6) AS mean_word_len,
           round(sym + 1e-11, 6) AS symbol_ratio,
           round(alpha_frac + 1e-11, 6) AS frac_alpha_words,
           stopword_hits,
           (word_count BETWEEN {min_words} AND {GOPHER_MAX_WORDS})
           AND (mwl BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL})
           AND sym <= {GOPHER_MAX_SYMBOL_RATIO}
           AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
           AND stopword_hits >= {min_stopwords} AS passes
    FROM r
    """


ORACLES["gopher_quality_docs"] = _gopher_quality_sql()


def _c4_clean_sql() -> str:
    """DuckDB mirror of c4_clean_docs: identical 8-word line synthesis,
    identical md5(doc_id:line_no) decoration (lorem / brace /
    javascript / boilerplate / plain+punct), identical line/page gates,
    and the corpus-level exact first-occurrence line dedup expressed as
    a row_number window over the line text (equivalent to Spark's
    min(struct(doc_id, line_no)) groupBy + join — safe at oracle
    scale)."""
    from query_cost_feature_engineering_spark.queries import (
        C4_BOILER,
        C4_LINE_WORDS,
        C4_LOREM,
        C4_MIN_LINE_WORDS,
        C4_MIN_LINES,
    )

    w = C4_LINE_WORDS
    return f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         w -> w <> '') AS ws
      FROM documents
    ),
    ln AS (
      SELECT doc_id, CAST(i AS BIGINT) AS line_no,
             array_to_string(ws[i*{w}+1 : i*{w}+{w}], ' ') AS base,
             md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(i AS VARCHAR)) AS h
      FROM d, LATERAL (
        SELECT unnest(generate_series(
            0, CAST(len(ws) // {w} AS BIGINT) - 1)) AS i)
      WHERE len(ws) >= {w}
    ),
    l2 AS (
      SELECT doc_id, line_no,
        CASE
          WHEN substr(h,1,1)='0' AND substr(h,2,1)='0'
            THEN '{C4_LOREM}'
          WHEN substr(h,1,1)='0' AND substr(h,2,1)='1'
            THEN base || ' {{'
          WHEN substr(h,1,1)='1'
            THEN 'javascript ' || base ||
                 CASE WHEN substr(h,3,1) < 'c' THEN '.' ELSE '' END
          WHEN substr(h,1,1) IN ('2','3')
            THEN CASE WHEN substr(h,2,1) < '8'
                      THEN '{C4_BOILER[0]}' ELSE '{C4_BOILER[1]}' END
          ELSE base ||
               CASE WHEN substr(h,3,1) < 'c' THEN '.' ELSE '' END
        END AS line
      FROM ln
    ),
    g AS (
      SELECT doc_id, line_no, line,
        ends_with(line, '.')
        AND len(list_filter(string_split(line, ' '),
                            w -> w <> '')) >= {C4_MIN_LINE_WORDS}
        AND NOT contains(line, 'javascript') AS line_kept
      FROM l2
    ),
    p AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN line_kept THEN 1 ELSE 0 END)
                  AS BIGINT) AS kept_lines,
             (NOT bool_or(contains(line, 'lorem ipsum'))
              AND NOT bool_or(contains(line, '{{'))
              AND sum(CASE WHEN line_kept THEN 1 ELSE 0 END)
                  >= {C4_MIN_LINES}) AS page_kept
      FROM g GROUP BY doc_id
    ),
    cand AS (
      SELECT g.doc_id, g.line_no, g.line
      FROM g JOIN p USING (doc_id)
      WHERE g.line_kept AND p.page_kept
    ),
    r AS (
      SELECT doc_id,
             row_number() OVER (
                 PARTITION BY line ORDER BY doc_id, line_no) AS rn
      FROM cand
    ),
    dup AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_removed
      FROM r WHERE rn > 1 GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_lines, p.kept_lines,
           COALESCE(dup.dup_removed, 0) AS dup_removed,
           CAST(CASE WHEN p.page_kept
                THEN p.kept_lines - COALESCE(dup.dup_removed, 0)
                ELSE 0 END AS BIGINT) AS final_lines,
           p.page_kept
    FROM p LEFT JOIN dup USING (doc_id)
    UNION ALL
    SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), false
    FROM d WHERE len(ws) < {w}
    """


ORACLES["c4_clean_docs"] = _c4_clean_sql()

# html_extract_docs: IDENTICAL page synthesis + IDENTICAL RE2-safe
# extraction patterns run by DuckDB's own regex engine with the 'g'
# flag (Spark's regexp_replace is global by default) — a genuine
# independent execution of the same declarative spec.
ORACLES["html_extract_docs"] = """
WITH page AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title></head><body><nav><a href="/">home</a> <a href="/t/'
         || CAST(doc_id % 5 AS VARCHAR)
         || '">topic</a></nav><div class="ad">SALE '
         || CAST(doc_id % 7 AS VARCHAR)
         || ' click now</div><article><p>'
         || replace(text, ' scan ', ' <em>scan</em> ')
         || '</p></article><div class="related"><a href="/d/'
         || CAST(doc_id + 1 AS VARCHAR)
         || '">next</a> <a href="/d/'
         || CAST(doc_id + 2 AS VARCHAR)
         || '">more</a></div><footer>(c) ' || source
         || ' archive</footer></body></html>' AS html,
         trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS norm
  FROM documents
), ext AS (
  SELECT doc_id, html, norm,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(html, '<head>.*?</head>', ' ', 'g'),
                     '<nav>.*?</nav>', ' ', 'g'),
                   '<div class="ad">.*?</div>', ' ', 'g'),
                 '<div class="related">.*?</div>', ' ', 'g'),
               '<footer>.*?</footer>', ' ', 'g'),
             '<[^>]*>', ' ', 'g'),
           '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS main
  FROM page
)
SELECT doc_id,
       CAST(length(html) AS BIGINT) AS html_len,
       CAST(length(main) AS BIGINT) AS main_len,
       CAST(len(regexp_extract_all(html, '<a href')) AS BIGINT) AS n_links,
       round(1.0 - length(main) / length(html) + 1e-11, 6)
           AS boilerplate_ratio,
       md5(main) AS text_digest,
       main = norm AS roundtrip_ok,
       length(main) >= 40 AS passes
FROM ext
"""


def _bloom_dedup_sql() -> str:
    """DuckDB mirror of bloom_dedup_docs: identical 8-word line
    synthesis + 2-case boilerplate decoration, then the EXACT
    membership test the Bloom filter approximates — a LEFT JOIN of
    probe lines (doc_id % 3 <> 0) against the DISTINCT reference lines
    (doc_id % 3 = 0). Independent of the Spark bit arithmetic by
    construction: this SQL never hashes anything, so it matches iff
    the filter produced zero false positives on this input (false
    negatives are impossible for a Bloom filter) — the sizing
    argument and the empirical FP check live at queries.BLOOM_M_BITS
    and tests/test_bloom_dedup.py."""
    from query_cost_feature_engineering_spark.queries import (
        BLOOM_DUP_FRAC_MAX,
        C4_BOILER,
        C4_LINE_WORDS,
    )

    w = C4_LINE_WORDS
    return f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         w -> w <> '') AS ws
      FROM documents
    ),
    ln AS (
      SELECT doc_id, CAST(i AS BIGINT) AS line_no,
             array_to_string(ws[i*{w}+1 : i*{w}+{w}], ' ') AS base,
             md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(i AS VARCHAR)) AS h
      FROM d, LATERAL (
        SELECT unnest(generate_series(
            0, CAST(len(ws) // {w} AS BIGINT) - 1)) AS i)
      WHERE len(ws) >= {w}
    ),
    l2 AS (
      SELECT doc_id,
        CASE
          WHEN substr(h,1,1) IN ('0','1','2','3')
            THEN CASE WHEN substr(h,2,1) < '8'
                      THEN '{C4_BOILER[0]}' ELSE '{C4_BOILER[1]}' END
          ELSE base
        END AS line
      FROM ln
    ),
    ref AS (
      SELECT DISTINCT line FROM l2 WHERE doc_id % 3 = 0
    ),
    probe AS (
      SELECT doc_id, line FROM l2 WHERE doc_id % 3 <> 0
      UNION ALL
      SELECT doc_id, NULL AS line
      FROM d WHERE len(ws) < {w} AND doc_id % 3 <> 0
    ),
    agg AS (
      SELECT p.doc_id,
             CAST(count(p.line) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN r.line IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_lines
      FROM probe p LEFT JOIN ref r ON p.line = r.line
      GROUP BY p.doc_id
    )
    SELECT doc_id, n_lines, n_dup_lines,
           round(n_dup_lines / greatest(n_lines, 1) + 1e-11, 6)
               AS dup_frac,
           round(n_dup_lines / greatest(n_lines, 1) + 1e-11, 6)
               <= {BLOOM_DUP_FRAC_MAX} AS kept
    FROM agg
    """


ORACLES["bloom_dedup_docs"] = _bloom_dedup_sql()


def _shard_shuffle_sql() -> str:
    """DuckDB mirror of shard_shuffle_docs: identical md5 shuffle key,
    md5-prefix shard id, per-shard rank and round-robin interleave."""
    from query_cost_feature_engineering_spark.queries import SHUFFLE_SHARDS

    return f"""
    WITH k AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS _k,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  AS BIGINT) % {SHUFFLE_SHARDS} AS shard
      FROM documents
    ),
    r AS (
      SELECT doc_id, shard,
             CAST(row_number() OVER (
                 PARTITION BY shard ORDER BY _k, doc_id
             ) AS BIGINT) AS shard_pos
      FROM k
    )
    SELECT doc_id, shard, shard_pos,
           CAST((shard_pos - 1) * {SHUFFLE_SHARDS} + shard AS BIGINT)
               AS global_pos
    FROM r
    """


ORACLES["shard_shuffle_docs"] = _shard_shuffle_sql()


def _corpus_pipeline_sql() -> str:
    """DuckDB mirror of corpus_pipeline_docs: the gopher and c4 oracle
    SQLs VERBATIM as subqueries (their own green oracles carry the
    component semantics), plus the same md5 dedup, verdict AND, and
    shard_shuffle arithmetic over survivors."""
    from query_cost_feature_engineering_spark.queries import (
        PIPELINE_GOPHER_MIN_STOPWORDS,
        PIPELINE_GOPHER_MIN_WORDS,
        SHUFFLE_SHARDS,
    )

    gopher_sql = _gopher_quality_sql(
        min_words=PIPELINE_GOPHER_MIN_WORDS,
        min_stopwords=PIPELINE_GOPHER_MIN_STOPWORDS,
    )
    return f"""
    WITH gq AS (
      SELECT doc_id, passes AS gopher_ok FROM ({gopher_sql})
    ),
    c4v AS (
      SELECT doc_id, page_kept AS c4_ok FROM ({_c4_clean_sql()})
    ),
    dd AS (
      SELECT doc_id,
             doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                 AS is_canonical
      FROM documents
    ),
    j AS (
      SELECT g.doc_id, g.gopher_ok, c.c4_ok, d.is_canonical,
             g.gopher_ok AND c.c4_ok AND d.is_canonical AS kept
      FROM gq g
      JOIN c4v c ON g.doc_id = c.doc_id
      JOIN dd d ON g.doc_id = d.doc_id
    ),
    sh AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  AS BIGINT) % {SHUFFLE_SHARDS} AS shard,
             CAST(row_number() OVER (
               PARTITION BY CAST('0x' ||
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   AS BIGINT) % {SHUFFLE_SHARDS}
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS shard_pos
      FROM j WHERE kept
    )
    SELECT j.doc_id, j.gopher_ok, j.c4_ok, j.is_canonical, j.kept,
           sh.shard, sh.shard_pos
    FROM j LEFT JOIN sh ON j.doc_id = sh.doc_id
    """


ORACLES["corpus_pipeline_docs"] = _corpus_pipeline_sql()


def _semdedup_sql() -> str:
    """DuckDB mirror of semdedup_embeddings: identical md5-ranked
    anchors, quantized-argmax cell assignment (first-index tie-break on
    both sides) and fold-order cosine, then the same triangular
    keep-first dup marking."""
    from query_cost_feature_engineering_spark.operators.ann import (
        CELL_COS_DECIMALS,
    )
    from query_cost_feature_engineering_spark.queries import (
        SEMDEDUP_CELLS,
        SEMDEDUP_TAU,
    )

    cos_ab = _COS.format(a="a.v", b="b.v")
    return f"""
    WITH c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    anchors AS (
      SELECT v AS av,
             row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR))
             ) AS rk
      FROM c
      QUALIFY rk <= {SEMDEDUP_CELLS}
    ),
    cell AS (
      SELECT vec_id, v, rk AS cell FROM (
        SELECT x.vec_id, x.v, a.rk,
               round({_COS.format(a="x.v", b="a.av")},
                     {CELL_COS_DECIMALS}) AS s
        FROM c x CROSS JOIN anchors a
      )
      QUALIFY row_number() OVER (
          PARTITION BY vec_id ORDER BY s DESC, rk
      ) = 1
    ),
    dup AS (
      SELECT b.vec_id AS vec_id,
             CAST(count(*) AS BIGINT) AS n_prior_dups,
             max({cos_ab}) AS mpc
      FROM cell a JOIN cell b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos_ab} >= {SEMDEDUP_TAU}
      GROUP BY b.vec_id
    )
    SELECT cell.vec_id, cell.cell,
           coalesce(dup.n_prior_dups, 0) AS n_prior_dups,
           round(dup.mpc + 1e-9, 4) AS max_prior_cos,
           dup.mpc IS NULL AS kept
    FROM cell LEFT JOIN dup USING (vec_id)
    """


ORACLES["semdedup_embeddings"] = _semdedup_sql()


def _dsir_weights_sql() -> str:
    """DuckDB mirror of dsir_weights_docs: identical md5-prefix bucket
    hash, add-one smoothed target/raw bucket distributions, mean
    per-token log-likelihood ratio."""
    from query_cost_feature_engineering_spark.queries import (
        DSIR_BUCKETS,
        DSIR_TARGET_SOURCE,
    )

    return f"""
    WITH d AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS ws
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source,
             CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)
                 % {DSIR_BUCKETS} AS bucket
      FROM (SELECT doc_id, source, unnest(ws) AS w FROM d)
    ),
    raw AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS c_raw
      FROM toks GROUP BY bucket
    ),
    tgt AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS c_tgt
      FROM toks WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bucket
    ),
    model AS (
      SELECT raw.bucket, c_raw, coalesce(c_tgt, 0) AS c_tgt
      FROM raw LEFT JOIN tgt USING (bucket)
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_raw,
             CAST(sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
      FROM toks
    ),
    s AS (
      SELECT toks.doc_id,
             ln((c_tgt + 1.0) / (n_tgt + {DSIR_BUCKETS}.0))
             - ln((c_raw + 1.0) / (n_raw + {DSIR_BUCKETS}.0)) AS lr
      FROM toks JOIN model USING (bucket) CROSS JOIN tot
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lr) + 1e-11, 6) AS dsir_logratio
    FROM s GROUP BY doc_id
    """


ORACLES["dsir_weights_docs"] = _dsir_weights_sql()


def _bpe_train_sql() -> str:
    """DuckDB mirror of bpe_train_docs, implemented INDEPENDENTLY of the
    Python trainer: word counts + top-K in plain SQL, then the merge
    loop as a RECURSIVE CTE whose working table carries each word's
    symbol sequence as a delimiter-wrapped string ``(s1)(s2)...``.
    Each recursion level picks the best adjacent pair over the working
    table (same ``count DESC, left, right`` tie-break) and applies it
    via string replace — which is left-to-right non-overlapping, exactly
    the trainer's merge rule (the wrapping parens make boundary-sharing
    matches impossible: ``(a)(b)(a)(b)`` -> ``(ab)(ab)``). Recursion
    ends at the merge cap or when no pairs remain (empty LIMIT-1 lateral
    kills the level). Pair statistics count ALL adjacent occurrences
    (overlapping), matching the published algorithm."""
    from query_cost_feature_engineering_spark.queries import (
        BPE_TRAIN_MERGES,
        BPE_TRAIN_TOPK,
    )

    return rf"""
    WITH RECURSIVE wc AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents
      )
      WHERE regexp_matches(w, '^[a-z]+$')
      GROUP BY w
      QUALIFY row_number() OVER (ORDER BY freq DESC, word)
              <= {BPE_TRAIN_TOPK}
    ),
    t AS (
      SELECT 0 AS it, word, freq,
             list_reduce(
                 list_transform(string_split(word, ''),
                                c -> '(' || c || ')'),
                 (a, b) -> a || b) AS s,
             CAST(NULL AS VARCHAR) AS bl,
             CAST(NULL AS VARCHAR) AS br,
             CAST(NULL AS BIGINT) AS bc
      FROM wc
      UNION ALL
      SELECT it + 1, word, freq,
             replace(s, '(' || m.bl || ')(' || m.br || ')',
                     '(' || m.bl || m.br || ')'),
             m.bl, m.br, m.bc
      FROM t, (
        SELECT l AS bl, r AS br, c AS bc FROM (
          SELECT d.syms[u.i] AS l, d.syms[u.i + 1] AS r,
                 sum(d.freq) AS c
          FROM (
            SELECT freq,
                   regexp_extract_all(s, '\(([a-z]+)\)', 1) AS syms
            FROM t
          ) d,
          unnest(generate_series(1, len(d.syms) - 1)) AS u(i)
          GROUP BY 1, 2
          ORDER BY c DESC, l, r
          LIMIT 1
        )
      ) m
      WHERE it < {BPE_TRAIN_MERGES}
    )
    SELECT DISTINCT CAST(it AS BIGINT) AS merge_rank,
           bl AS left_piece, br AS right_piece,
           bl || br AS merged, bc AS pair_freq
    FROM t WHERE it > 0
    ORDER BY merge_rank
    """


ORACLES["bpe_train_docs"] = _bpe_train_sql()


# merge_upsert_orders: the snapshot-table MERGE result is expressible as
# src UNION ALL (base anti-join src); time-traveled v1 is just `base`.
# Rounding mirrors queries._rq (+1e-9 nudge, 4 dp) on both sides.
ORACLES["merge_upsert_orders"] = """
WITH o AS (
  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
),
base AS (
  SELECT * FROM o WHERE o_orderkey % 32 <> 0
),
src AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
  FROM o WHERE o_orderkey % 32 = 1
  UNION ALL
  SELECT * FROM o WHERE o_orderkey % 32 = 0
),
merged AS (
  SELECT * FROM src
  UNION ALL
  SELECT b.* FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = b.o_orderkey)
)
SELECT CAST(m.o_orderkey AS BIGINT) AS o_orderkey,
       CAST(m.o_custkey AS BIGINT) AS o_custkey,
       round(m.o_totalprice + 1e-9, 4) AS total,
       round(b.o_totalprice + 1e-9, 4) AS total_v1
FROM merged m LEFT JOIN base b ON m.o_orderkey = b.o_orderkey
"""


# stream_snapshot_reads_orders: the commit-log stream over append-only
# history delivers every committed row exactly once, so the streamed
# union is the plain projection of orders.
ORACLES["stream_snapshot_reads_orders"] = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o_custkey AS BIGINT) AS o_custkey,
       round(o_totalprice + 1e-9, 4) AS total
FROM orders
"""


# snapshot_prune_orders: the manifest-pruned read + residual filter is
# semantically the plain filter (pruning only drops files PROVEN empty
# for the predicate), so the aggregate mirrors directly; the max/8
# threshold becomes a scalar subquery (integer division both sides).
ORACLES["snapshot_prune_orders"] = """
SELECT o_orderpriority AS priority,
       count(*) AS n_orders,
       round(sum(o_totalprice) + 1e-9, 4) AS total
FROM orders
WHERE o_orderkey <= (SELECT max(o_orderkey) // 8 FROM orders)
GROUP BY 1
"""


# stream_upsert_events: CDC convergence is order-independent — the table
# ends at the max-event_id row per user whatever the micro-batching.
ORACLES["stream_upsert_events"] = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       event_type,
       round(value + 1e-9, 4) AS value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
"""


# incremental_read_orders: the change set between the base commit (keys
# % 3 = 0) and the head is exactly the two appended mod classes.
ORACLES["incremental_read_orders"] = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o_custkey AS BIGINT) AS o_custkey,
       round(o_totalprice + 1e-9, 4) AS total
FROM orders
WHERE o_orderkey % 3 <> 0
"""
