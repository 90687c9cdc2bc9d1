"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction (the fused mapInArrow kernel over
HTML-wrapped documents); ``queries``/``oracle_sql`` expose each
implemented operator from SURVEY.md §2 with a DuckDB-checkable analog.

Column-name/type discipline: every computed column is aliased identically
on both sides; aggregates that cross engines are integral (cents),
strings, or identically-rounded doubles; DuckDB HUGEINT sums are cast
back to BIGINT to match Spark.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# ------------------------------------------------------------------ entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full extraction kernel
    (HTML route -> boilerplate strip -> assembly contract) over the
    documents table wrapped as Common-Crawl-style pages."""
    from tesseract_ocr_service_spark.operators import bridge

    return bridge.extract_documents(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------- queries

#: shared SQL fragment: tokenized documents with a per-doc dense token
#: index rn (1-based, empties dropped) — the word-table analog.
_TOKS = r"""
toks AS (
    SELECT doc_id, tok,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
    FROM (
        SELECT doc_id,
               unnest(string_split_regex(text, '\s+')) AS tok,
               generate_subscripts(string_split_regex(text, '\s+'), 1) AS pos
        FROM documents
    )
    WHERE tok <> ''
)
"""


def _q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tesseract_ocr_service_spark.operators import bridge

    return bridge.extract_documents(spark, sf_dir).select(
        "doc_id", "canonical_text", "n_words"
    )


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pipeline: real extraction kernel -> C4-style corpus
    line dedup (drop every line occurring >= 2 times across the
    corpus) -> reassembled per-doc text + counters. Exercises
    dedup.dedup_paragraphs over KERNEL output, oracle-replayed end to
    end (canonical flow-lines + window occurrence count in SQL)."""
    from tesseract_ocr_service_spark.operators import bridge
    from tesseract_ocr_service_spark.operators import dedup as D

    wide = bridge.extract_documents(spark, sf_dir).select(
        "doc_id", "canonical_text"
    )
    return D.dedup_paragraphs(
        wide, "doc_id", "canonical_text", sep="\n", min_df=2
    ).withColumnRenamed("id", "doc_id")


#: Driver-correctness window rotation: the driver checks only the FIRST
#: 50 entries of queries() (dict order). Round-6 rotation (mechanical:
#: least-recently-driver-checked first): exactly the 17 queries WITHOUT
#: a CORRECTNESS_r05 row go first, so the r05 ∪ r06 union covers all 67
#: without hand-curation. Rotate next round the same way: set(queries)
#: minus the previous round's CORRECTNESS keys, in queries() order.
_CHECK_FIRST = [
    "simhash_fingerprints",
    "simhash_neardup_pairs",
    "image_features",
    "audio_features",
    "dsir_select",
    "quality_linear_score",
    "perplexity_filter",
    "extract_canonical_text",
    "line_dedup_canonical",
    "assembly_relational",
    "confidence_mean",
    "bbox_rollup",
    "store_stats",
    "sorted_order_lists",
    "nonempty_word_counts",
    "ts_window_rollup",
    "validation_routing",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from tesseract_ocr_service_spark.operators import queries as Q
    from tesseract_ocr_service_spark.operators import relational as R

    all_q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        **Q.SPARK_QUERIES,
        "extract_canonical_text": _q_extract,
        "line_dedup_canonical": _q_line_dedup,
        "assembly_relational": R.assembly_relational,
        "confidence_mean": R.confidence_mean,
        "bbox_rollup": R.bbox_rollup,
        "store_stats": R.store_stats,
        "sorted_order_lists": R.sorted_order_lists,
        "nonempty_word_counts": R.nonempty_word_counts,
        "ts_window_rollup": R.ts_window_rollup,
        "validation_routing": R.validation_routing,
        "content_type_gate": R.content_type_gate,
        "pricing_summary": R.pricing_summary,
        "top_customers_by_region": R.top_customers_by_region,
        "json_export": R.json_export,
        "top_tokens": R.top_tokens,
        "lang_token_stats": R.lang_token_stats,
        "sessionize": R.sessionize,
        "asof_last_error": R.asof_last_error,
        "range_join_purchases_near_errors": R.range_join_purchases_near_errors,
        "daily_event_pivot": R.daily_event_pivot,
        "value_percentiles": R.value_percentiles,
        # documented oracle exemption: approximate answers have no
        # cross-engine hash (see value_percentiles_approx docstring);
        # rows-only driver check + pytest tolerance vs the exact twin
        "value_percentiles_approx": R.value_percentiles_approx,
        "domain_quota_sample": R.domain_quota_sample,
        "train_val_test_split": R.train_val_test_split,
        "lang_temperature_sample": R.lang_temperature_sample,
        "pack_sequences": R.pack_sequences,
    }
    ordered = {k: all_q[k] for k in _CHECK_FIRST if k in all_q}
    ordered.update(all_q)
    return ordered


def oracle_sql() -> dict[str, str]:
    from tesseract_ocr_service_spark.operators import queries as Q

    return {
        **Q.ORACLES,
        # the flagship: the kernel's HTML round-trip contract — tokenize,
        # 12-word flow lines joined "\n", sub-3-token docs are boilerplate
        # (min_block_words) -> '' (rejected-block rule).
        "extract_canonical_text": f"""
            WITH {_TOKS},
            lines AS (
                SELECT doc_id, (rn - 1) // 12 AS line_no,
                       string_agg(tok, ' ' ORDER BY rn) AS line_text,
                       count(*) AS n
                FROM toks GROUP BY doc_id, (rn - 1) // 12
            ),
            assembled AS (
                SELECT doc_id,
                       string_agg(line_text, chr(10) ORDER BY line_no) AS txt,
                       sum(n) AS total
                FROM lines GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CASE WHEN coalesce(a.total, 0) >= 3 THEN a.txt
                        ELSE '' END AS canonical_text,
                   CAST(CASE WHEN coalesce(a.total, 0) >= 3 THEN a.total
                        ELSE 0 END AS BIGINT) AS n_words
            FROM documents d LEFT JOIN assembled a USING (doc_id)
        """,
        # extraction -> C4-style line dedup: canonical flow-lines per
        # doc (12-token windows, same construction as above), one ''
        # line for docs below the 3-word boilerplate floor, then drop
        # every line with corpus occurrence >= 2 and reassemble.
        "line_dedup_canonical": f"""
            WITH {_TOKS},
            lines0 AS (
                SELECT doc_id, (rn - 1) // 12 AS line_no,
                       string_agg(tok, ' ' ORDER BY rn) AS line_text,
                       count(*) AS n
                FROM toks GROUP BY doc_id, (rn - 1) // 12
            ),
            assembled AS (
                SELECT doc_id, sum(n) AS total FROM lines0 GROUP BY doc_id
            ),
            canon_lines AS (
                SELECT l.doc_id, l.line_no AS pos, l.line_text AS line
                FROM lines0 l JOIN assembled a USING (doc_id)
                WHERE a.total >= 3
                UNION ALL
                SELECT d.doc_id, 0 AS pos, '' AS line
                FROM documents d LEFT JOIN assembled a USING (doc_id)
                WHERE coalesce(a.total, 0) < 3
            ),
            occ AS (
                SELECT doc_id, pos, line,
                       count(*) OVER (PARTITION BY line) AS oc
                FROM canon_lines
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN oc < 2 THEN line END,
                                       chr(10) ORDER BY pos), '')
                       AS text_dedup,
                   CAST(count(CASE WHEN oc < 2 THEN 1 END) AS BIGINT)
                       AS n_lines_kept,
                   CAST(count(CASE WHEN oc >= 2 THEN 1 END) AS BIGINT)
                       AS n_lines_dropped
            FROM occ GROUP BY doc_id
        """,
        "assembly_relational": f"""
            WITH {_TOKS},
            words AS (
                SELECT doc_id, tok, rn,
                       ((rn - 1) // 24) + 1 AS block_num,
                       (((rn - 1) % 24) // 6) + 1 AS line_num
                FROM toks
            ),
            lines AS (
                SELECT doc_id, block_num, line_num,
                       string_agg(tok, ' ' ORDER BY rn) AS line_text
                FROM words GROUP BY doc_id, block_num, line_num
            ),
            blocks AS (
                SELECT doc_id, block_num,
                       string_agg(line_text, chr(10) ORDER BY line_num)
                           AS block_text
                FROM lines GROUP BY doc_id, block_num
            )
            SELECT doc_id,
                   string_agg(block_text, chr(10) || chr(10)
                              ORDER BY block_num) AS assembled_text
            FROM blocks GROUP BY doc_id
        """,
        "confidence_mean": """
            SELECT event_type,
                   coalesce(round(avg(CASE WHEN value - 10.0 >= 0
                                           THEN value - 10.0 END), 4),
                            0.0) AS avg_conf,
                   count(CASE WHEN value - 10.0 >= 0 THEN 1 END) AS n_conf,
                   count(*) AS n_total
            FROM events GROUP BY event_type
        """,
        "bbox_rollup": """
            SELECT l_orderkey,
                   min(l_linenumber) AS bb_left,
                   min(CAST(l_quantity AS BIGINT)) AS bb_top,
                   max(l_linenumber + CAST(l_quantity AS BIGINT)) AS bb_right,
                   max(CAST(l_quantity AS BIGINT) * 2) AS bb_bottom
            FROM lineitem GROUP BY l_orderkey
        """,
        "store_stats": """
            SELECT count(*) AS total_documents,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS oldest_ts,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS newest_ts,
                   arg_min(event_id, ts) AS oldest_id,
                   arg_max(event_id, ts) AS newest_id
            FROM events
        """,
        "sorted_order_lists": """
            SELECT o_custkey,
                   array_to_string(list_sort(list(o_orderkey)), ',')
                       AS orders_csv,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey
        """,
        "nonempty_word_counts": r"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '')) AS n_words
            FROM documents
        """,
        "ts_window_rollup": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_cents
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-10'
              AND ts < TIMESTAMP '2024-01-20'
            GROUP BY 1
        """,
        "validation_routing": """
            SELECT CASE WHEN text IS NULL OR length(text) = 0
                        THEN 'rejected'
                        WHEN n_chars > 380 THEN 'oversize'
                        ELSE 'ok' END AS status,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "content_type_gate": """
            WITH planted AS (
                SELECT CASE doc_id % 7
                         WHEN 0 THEN 'application/pdf'
                         WHEN 1 THEN 'Application/PDF; charset=binary'
                         WHEN 2 THEN 'application/octet-stream'
                         WHEN 3 THEN 'text/html; charset=UTF-8'
                         WHEN 4 THEN 'image/png'
                         WHEN 5 THEN ''
                         ELSE NULL END AS content_type
                FROM documents
            )
            SELECT CASE WHEN content_type IS NULL
                          OR trim(content_type) = '' THEN '(absent)'
                        ELSE lower(trim(split_part(content_type, ';', 1)))
                   END AS base_type,
                   CASE WHEN content_type IS NULL
                          OR trim(content_type) = ''
                          OR lower(trim(split_part(content_type, ';', 1)))
                             IN ('application/pdf',
                                 'application/octet-stream', 'text/html')
                        THEN 'ok' ELSE 'rejected' END AS status,
                   count(*) AS n_docs
            FROM planted GROUP BY 1, 2
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS sum_base_cents,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                            * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                        AS BIGINT) AS sum_disc_units,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2002-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "json_export": """
            SELECT doc_id,
                   to_json(struct_pack(doc_id := doc_id, lang := lang,
                                       n_chars := n_chars))::VARCHAR
                       AS payload_json
            FROM documents
        """,
        "top_tokens": r"""
            WITH toks AS (
                SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents
            ),
            counts AS (
                SELECT tok, count(*) AS n FROM toks WHERE tok <> ''
                GROUP BY tok
            )
            SELECT tok, n, rank FROM (
                SELECT tok, n,
                       CAST(row_number() OVER (ORDER BY n DESC, tok)
                            AS INTEGER) AS rank
                FROM counts
            ) WHERE rank <= 20
        """,
        "lang_token_stats": r"""
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
                                            x -> x <> ''))) AS BIGINT)
                       AS n_tokens,
                   round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY lang
        """,
        "sessionize": """
            WITH gaps AS (
                SELECT user_id, ts, event_id,
                       epoch(ts) - lag(epoch(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)
                           AS gap
                FROM events
            ),
            sessions AS (
                SELECT user_id,
                       sum(CASE WHEN gap IS NULL OR gap > 1800
                                THEN 1 ELSE 0 END) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id
                FROM gaps
            ),
            per_session AS (
                SELECT user_id, session_id, count(*) AS n_events
                FROM sessions GROUP BY user_id, session_id
            )
            SELECT user_id,
                   count(*) AS n_sessions,
                   max(n_events) AS longest_session,
                   CAST(sum(n_events) AS BIGINT) AS n_events_total
            FROM per_session GROUP BY user_id
        """,
        "range_join_purchases_near_errors": """
            WITH p AS (
                SELECT user_id, epoch(ts) AS p_ts, event_id AS purchase_id
                FROM events WHERE event_type = 'purchase'
            ),
            e AS (
                SELECT user_id, epoch(ts) AS e_ts, event_id AS error_id
                FROM events WHERE event_type = 'error'
            )
            SELECT DISTINCT purchase_id, error_id
            FROM p JOIN e ON p.user_id = e.user_id
                        AND abs(p.p_ts - e.e_ts) <= 300
        """,
        "daily_event_pivot": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
                   count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END)
                       AS n_purchase,
                   count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
                   count(*) AS n_total
            FROM events GROUP BY 1
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.9), 4) AS p90,
                   round(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY event_type
        """,
        "asof_last_error": """
            WITH clicks AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'click'
            ),
            errors AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'error'
            )
            -- LATERAL instead of DuckDB's native ASOF JOIN: ASOF leaves
            -- equal-timestamp ties unspecified, while the engine's rule
            -- is greatest-payload-wins; ORDER BY ts DESC, event_id DESC
            -- pins the identical deterministic choice.
            SELECT c.event_id AS click_id,
                   e.event_id AS last_error_id,
                   strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_error_ts
            FROM clicks c LEFT JOIN LATERAL (
                SELECT event_id, ts FROM errors er
                WHERE er.user_id = c.user_id AND er.ts <= c.ts
                ORDER BY er.ts DESC, er.event_id DESC LIMIT 1
            ) e ON true
        """,
        "domain_quota_sample": """
            SELECT doc_id, source, rk FROM (
                SELECT doc_id, source,
                       CAST(row_number() OVER (PARTITION BY source
                                               ORDER BY doc_id) AS INT)
                           AS rk
                FROM documents
            ) WHERE rk <= 20
        """,
        "train_val_test_split": """
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                           ::INT % 100 AS b
                FROM documents
            )
        """,
        # temperature sampling (alpha = 0.5): keep rate sqrt(n_min/n_l)
        # per language as an md5 threshold; sqrt is correctly rounded in
        # IEEE-754, so both engines compute the identical floor()
        "lang_temperature_sample": """
            WITH counts AS (
                SELECT lang, count(*) AS n FROM documents GROUP BY lang
            ),
            m AS (SELECT min(n) AS n_min FROM counts)
            SELECT d.doc_id, d.lang,
                   CAST(floor(65536.0 * sqrt(CAST(m.n_min AS DOUBLE)
                                             / CAST(c.n AS DOUBLE)))
                        AS INT) AS keep_per_64k,
                   CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
                                             1, 4))::INT % 65536
                             < floor(65536.0 * sqrt(CAST(m.n_min AS DOUBLE)
                                                    / CAST(c.n AS DOUBLE)))
                        THEN 1 ELSE 0 END AS keep
            FROM documents d
            JOIN counts c USING (lang) CROSS JOIN m
        """,
        # sequence packing: next-fit token-budget bins per hash shard
        # (window PARTITIONED by shard — packing parallelizes by shard,
        # never a global sort)
        "pack_sequences": r"""
            WITH base AS (
                SELECT doc_id,
                       len(list_filter(
                           string_split_regex(coalesce(text, ''), '\s+'),
                           x -> x <> '')) AS n_tok,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                           ::INT % 8 AS shard
                FROM documents
            )
            SELECT doc_id, shard, CAST(n_tok AS BIGINT) AS n_tok,
                   CAST(floor((cum - n_tok) / 512) AS INT) AS pack_id
            FROM (
                SELECT doc_id, shard, n_tok,
                       sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
                FROM base
            )
        """,
        "top_customers_by_region": """
            WITH counts AS (
                SELECT r.r_name, c.c_custkey, count(*) AS n_orders
                FROM orders o
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
                GROUP BY r.r_name, c.c_custkey
            )
            SELECT r_name, c_custkey, n_orders, rank FROM (
                SELECT r_name, c_custkey, n_orders,
                       CAST(row_number() OVER (
                           PARTITION BY r_name
                           ORDER BY n_orders DESC, c_custkey
                       ) AS INTEGER) AS rank
                FROM counts
            ) WHERE rank <= 5
        """,
    }
