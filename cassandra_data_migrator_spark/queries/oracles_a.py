"""DuckDB oracle SQL chunk (oracles_a)."""

from __future__ import annotations

from cassandra_data_migrator_spark.queries._shared import (  # noqa: F401
    CJK_SINGLE_RE_RE2,
    NGRAM_N,
    NGRAM_THRESHOLD,
    NUM_SLICES,
    PACK_BIN_TOKENS,
    PACK_SHARDS,
    SCRIPT_TOKEN_RE_RE2,
    STOPWORDS,
    TOKS_SQL,
    TOPK_K,
    TOPK_QUERY_PRED,
    TTL_PROPS_SQL,
    TTL_VALUE_SQL,
    WRITETIME_PROPS_SQL,
    WRITETIME_VALUE_SQL,
    codecs,
    lang_id_sql,
    pmod_100_sql,
    slice_id_sql,
    tok_sql,
)
from cassandra_data_migrator_spark.queries.dedup_text import (  # noqa: F401
    GOPHER_MAX_BULLET_LINE_FRAC,
    GOPHER_MAX_ELLIPSIS_LINE_FRAC,
    GOPHER_MAX_MEAN_WLEN,
    GOPHER_MAX_SYMBOL_RATIO,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA_WORD_FRAC,
    GOPHER_MIN_MEAN_WLEN,
    GOPHER_MIN_REQUIRED_STOPWORDS,
    GOPHER_MIN_WORDS,
    GOPHER_REQUIRED_STOPWORDS,
)
from cassandra_data_migrator_spark.queries.analytics import (  # noqa: F401
    BM25_B,
    BM25_K1,
    BM25_TERMS,
    BM25_TOPK,
    LINE_DEDUP_MIN_CHARS,
    LINE_TOKENS,
    OOV_VOCAB_N,
    PMI_MIN_COUNT,
    TOKEN_BUDGET,
    TOPK_PCT,
    WINDOW_RANGE_US,
    WTRT_SHIFT_US,
)
from cassandra_data_migrator_spark.queries.multimodal_keys import (  # noqa: F401
    CDC_INSERT_OFFSET,
    GUARDRAIL_ROW_BYTES,
    PPM_MAX_H,
    PPM_W,
    QUARANTINE_VALUE_MAX,
    SPAN_MASK_TOKEN,
    SWEEP_THRESHOLDS,
    WAV_N_SAMPLES,
    WAV_RATE,
    ZIPF_VOCAB_MIN_COUNT,
)
from cassandra_data_migrator_spark.queries.sql_frontend import (  # noqa: F401
    CHUNK_MIN_TOKENS,
    GUARDRAIL_PART_MAX_BYTES,
    GUARDRAIL_PART_MAX_ROWS,
    KMEANS_ASSIGN_K,
    MINHASH_AUDIT_THRESHOLD,
    RETRY_SLICES,
    SEMDEDUP_TAU,
    SKEW_STATS_TOP_N,
    TPCH_Q10_SQL,
    TPCH_Q11_SQL,
    TPCH_Q12_SQL,
    TPCH_Q13_SQL,
    TPCH_Q14_SQL,
    TPCH_Q15_SQL,
    TPCH_Q16_SQL,
    TPCH_Q17_SQL,
    TPCH_Q18_SQL,
    TPCH_Q19_SQL,
    TPCH_Q1_SQL,
    TPCH_Q20_SQL,
    TPCH_Q21_SQL,
    TPCH_Q22_SQL,
    TPCH_Q2_SQL,
    TPCH_Q3_SQL,
    TPCH_Q4_SQL,
    TPCH_Q5_SQL,
    TPCH_Q6_SQL,
    TPCH_Q7_SQL,
    TPCH_Q8_SQL,
    TPCH_Q9_SQL,
    TTL_EXPIRY_REF_US,
    _EVENT_PAYLOAD_BYTES_SQL,
)
from cassandra_data_migrator_spark.queries.lm_quality import (  # noqa: F401
    BATCH_SPLIT_MOD,
    BATCH_SPLIT_REM,
    CJK_SUFFIXES,
    JSONL_CORRUPT_MOD,
    LM_PERPLEXITY_ORACLE_BODY,
    _pagerank_oracle_sql,
)
from cassandra_data_migrator_spark.queries.late_keys import (  # noqa: F401
    SUBSTR_DEDUP_LEN,
    ZORDER_BOX_Y,
    ZORDER_BUCKET_DIV,
    ZORDER_LIN_DIV,
    ZORDER_SCALE,
    _zorder_sql,
)


def oracles_a() -> dict[str, str]:
    tok_o = tok_sql("o_orderkey")
    wt = f"greatest({WRITETIME_VALUE_SQL}, {WRITETIME_PROPS_SQL})"
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    zx = f"((user_id - mnx) * {ZORDER_SCALE}) // (mxx - mnx + 1)"
    zy = f"((epoch_us(ts) - mny) * {ZORDER_SCALE}) // (mxy - mny + 1)"
    return {
        "bloom_prefilter_audit": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_origin,
                   CAST(SUM(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_missing_exact,
                   TRUE AS flagged_subset_ok,
                   TRUE AS catch_rate_ok
            FROM orders
        """,
        "tokenizer_cjk_fertility": f"""
            WITH aug AS (SELECT CAST(doc_id % 4 AS INT) AS script_group,
                                text || CASE CAST(doc_id % 4 AS INT)
                                        WHEN 1 THEN '{CJK_SUFFIXES[1]}'
                                        WHEN 2 THEN '{CJK_SUFFIXES[2]}'
                                        WHEN 3 THEN '{CJK_SUFFIXES[3]}'
                                        ELSE '' END AS t
                         FROM documents),
            tok AS (SELECT script_group,
                           len(list_filter(string_split_regex(lower(t),
                               '\\s+'), x -> x <> '')) AS n_ws,
                           regexp_extract_all(lower(t),
                               '{SCRIPT_TOKEN_RE_RE2}', 1) AS st
                    FROM aug)
            SELECT script_group,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
                   CAST(SUM(len(st)) AS BIGINT) AS script_tokens,
                   CAST(SUM(len(list_filter(st, x -> regexp_matches(x,
                       '{CJK_SINGLE_RE_RE2}')))) AS BIGINT)
                       AS cjk_tokens,
                   ROUND(CAST(SUM(len(st)) AS DOUBLE)
                         / NULLIF(SUM(n_ws), 0), 4) AS fertility_r4
            FROM tok GROUP BY script_group
        """,
        "tokenizer_fertility": f"""
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
                   CAST(SUM(len({TOKS_SQL})) AS BIGINT) AS sum_ws,
                   CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
                            + len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) ) AS BIGINT)
                       AS sum_bpe,
                   ROUND(CAST(SUM(length(text)) AS DOUBLE)
                         / NULLIF(SUM(len({TOKS_SQL})), 0), 4) AS chars_per_token_r4,
                   ROUND(CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
                              + len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) ) AS DOUBLE)
                         / NULLIF(SUM(len({TOKS_SQL})), 0), 4) AS fertility_r4
            FROM documents GROUP BY lang
        """,
        "substring_dedup_spans": f"""
            WITH g AS (
                SELECT doc_id,
                       substr(text, CAST(p AS INT), {SUBSTR_DEDUP_LEN}) AS gram
                FROM (
                    SELECT doc_id, text,
                           unnest(range(1, length(text) - {SUBSTR_DEDUP_LEN} + 2)) AS p
                    FROM documents WHERE length(text) >= {SUBSTR_DEDUP_LEN}
                )
            ),
            c AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup_grams,
                   ROUND(CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                         / COUNT(*), 4) AS dup_frac_r4
            FROM g JOIN c USING (gram)
            GROUP BY doc_id
        """,
        "zorder_prune_audit": f"""
            WITH rng AS (SELECT MIN(user_id) AS mnx, MAX(user_id) AS mxx,
                                MIN(epoch_us(ts)) AS mny, MAX(epoch_us(ts)) AS mxy,
                                COUNT(*) AS n_rows
                         FROM events),
            b AS (SELECT n_rows, {zx} AS xs, {zy} AS ys FROM events, rng),
            z AS (SELECT n_rows, xs, ys, {_zorder_sql('xs', 'ys', '//')} AS zv FROM b),
            zt AS (SELECT COUNT(*) AS z_t FROM (
                     SELECT zv // {ZORDER_BUCKET_DIV} AS bkt,
                            MIN(ys) AS bmn, MAX(ys) AS bmx FROM z GROUP BY 1)
                   WHERE bmx >= {ZORDER_BOX_Y[0]} AND bmn <= {ZORDER_BOX_Y[1]}),
            lt AS (SELECT COUNT(*) AS l_t FROM (
                     SELECT xs // {ZORDER_LIN_DIV} AS bkt,
                            MIN(ys) AS bmn, MAX(ys) AS bmx FROM z GROUP BY 1)
                   WHERE bmx >= {ZORDER_BOX_Y[0]} AND bmn <= {ZORDER_BOX_Y[1]})
            SELECT CAST(rng.n_rows AS BIGINT) AS n_rows,
                   CAST(z_t AS BIGINT) AS z_buckets_touched,
                   CAST(l_t AS BIGINT) AS lin_buckets_touched,
                   ROUND(CAST(l_t AS DOUBLE) / z_t, 4) AS prune_gain_r4
            FROM rng, zt, lt
        """,
        "scan_project": """
            SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_quantity AS qty,
                   l_extendedprice AS price, l_returnflag AS flag
            FROM lineitem
        """,
        "const_columns": """
            SELECT o_orderkey, o_orderstatus, 'cdm-spark' AS migrated_by,
                   CAST(2 AS BIGINT) AS schema_version
            FROM orders
        """,
        "codec_cast": """
            SELECT l_orderkey, l_linenumber,
                   CAST(l_orderkey AS VARCHAR) AS order_id_str,
                   CAST(CAST(l_quantity AS DECIMAL(10,2)) AS VARCHAR) AS qty_str,
                   CAST(CAST(l_partkey AS VARCHAR) AS BIGINT) AS partkey_rt
            FROM lineitem
        """,
        "codec_timestamp": """
            SELECT event_id, epoch_us(ts) // 1000 AS ts_ms,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
            FROM events
        """,
        "codec_duration": """
            WITH c AS (
                SELECT event_id,
                       event_id % 3 AS y, user_id % 14 AS mo, event_id % 4 AS w,
                       user_id % 9 AS d, event_id % 25 AS h, user_id % 61 AS mi,
                       event_id % 62 AS s, user_id % 1000 AS ms,
                       event_id % 900 AS us, user_id % 800 AS ns
                FROM events),
            built AS (
                SELECT event_id,
                       CASE WHEN y > 0 THEN CAST(y AS VARCHAR) || 'y' ELSE '' END
                       || CASE WHEN mo > 0 THEN CAST(mo AS VARCHAR) || 'mo' ELSE '' END
                       || CASE WHEN w > 0 THEN CAST(w AS VARCHAR) || 'w' ELSE '' END
                       || CASE WHEN d > 0 THEN CAST(d AS VARCHAR) || 'd' ELSE '' END
                       || CASE WHEN h > 0 THEN CAST(h AS VARCHAR) || 'h' ELSE '' END
                       || CASE WHEN mi > 0 THEN CAST(mi AS VARCHAR) || 'm' ELSE '' END
                       || CASE WHEN s > 0 THEN CAST(s AS VARCHAR) || 's' ELSE '' END
                       || CASE WHEN ms > 0 THEN CAST(ms AS VARCHAR) || 'ms' ELSE '' END
                       || CASE WHEN us > 0 THEN CAST(us AS VARCHAR) || 'us' ELSE '' END
                       || CASE WHEN ns > 0 THEN CAST(ns AS VARCHAR) || 'ns' ELSE '' END
                           AS dur_str,
                       CAST(y * 12 + mo AS INTEGER) AS months,
                       CAST(w * 7 + d AS INTEGER) AS days,
                       CAST(h * 3600000000000 + mi * 60000000000 + s * 1000000000
                            + ms * 1000000 + us * 1000 + ns AS BIGINT) AS nanos
                FROM c)
            SELECT event_id, dur_str, months, days, nanos,
                   CASE WHEN months > 0 THEN CAST(months AS VARCHAR) || 'mo' ELSE '' END
                   || CASE WHEN days > 0 THEN CAST(days AS VARCHAR) || 'd' ELSE '' END
                   || CASE WHEN nanos > 0 THEN CAST(nanos AS VARCHAR) || 'ns' ELSE '' END
                       AS canon
            FROM built
        """,
        "codec_blob": """
            WITH p AS (SELECT doc_id, substr(text, 1, 16) AS prefix FROM documents)
            SELECT doc_id, lower(hex(encode(prefix))) AS hex_str,
                   to_base64(encode(prefix)) AS b64_str, prefix AS rt_str
            FROM p
        """,
        "validate_diff_composite": """
            WITH target AS (
                SELECT user_id, event_id,
                       CASE WHEN (user_id * 7 + event_id) % 101 = 0 THEN 'X'
                            ELSE event_type END AS event_type,
                       value
                FROM events WHERE (user_id * 7 + event_id) % 97 <> 0
            )
            SELECT o.user_id, o.event_id,
                   CASE WHEN t.user_id IS NULL THEN 'missing'
                        WHEN o.event_type IS DISTINCT FROM t.event_type
                          OR o.value IS DISTINCT FROM t.value THEN 'mismatch'
                        ELSE 'valid' END AS status,
                   CASE WHEN t.user_id IS NULL THEN '' ELSE concat_ws(',',
                        CASE WHEN o.event_type IS DISTINCT FROM t.event_type THEN 'event_type' END,
                        CASE WHEN o.value IS DISTINCT FROM t.value THEN 'value' END
                   ) END AS mismatch_cols
            FROM events o LEFT JOIN target t
              ON o.user_id = t.user_id AND o.event_id = t.event_id
            WHERE t.user_id IS NULL
               OR o.event_type IS DISTINCT FROM t.event_type
               OR o.value IS DISTINCT FROM t.value
        """,
        "validate_diff_skewed": """
            WITH src AS (
                SELECT CASE WHEN user_id % 10 = 0 THEN 0
                            ELSE user_id END AS pk_user,
                       event_id, event_type, value
                FROM events
            ),
            target AS (
                SELECT pk_user, event_id,
                       CASE WHEN (pk_user * 7 + event_id) % 101 = 0 THEN 'X'
                            ELSE event_type END AS event_type,
                       value
                FROM src WHERE (pk_user * 7 + event_id) % 97 <> 0
            )
            SELECT o.pk_user, o.event_id,
                   CASE WHEN t.pk_user IS NULL THEN 'missing'
                        WHEN o.event_type IS DISTINCT FROM t.event_type
                          OR o.value IS DISTINCT FROM t.value THEN 'mismatch'
                        ELSE 'valid' END AS status,
                   CASE WHEN t.pk_user IS NULL THEN '' ELSE concat_ws(',',
                        CASE WHEN o.event_type IS DISTINCT FROM t.event_type THEN 'event_type' END,
                        CASE WHEN o.value IS DISTINCT FROM t.value THEN 'value' END
                   ) END AS mismatch_cols
            FROM src o LEFT JOIN target t
              ON o.pk_user = t.pk_user AND o.event_id = t.event_id
            WHERE t.pk_user IS NULL
               OR o.event_type IS DISTINCT FROM t.event_type
               OR o.value IS DISTINCT FROM t.value
        """,
        "bm25_topk": f"""
            WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS word FROM documents),
            dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
            stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, word, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
                   WHERE word IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
                   GROUP BY doc_id, word),
            df AS (SELECT word, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY word),
            scored AS (
                SELECT t.doc_id,
                       ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * t.tf * ({BM25_K1} + 1)
                       / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avgdl)) AS term_score
                FROM tf t JOIN df d USING (word) JOIN dl l USING (doc_id) CROSS JOIN stats s),
            per_doc AS (SELECT doc_id, ROUND(SUM(term_score), 4) AS score
                        FROM scored GROUP BY doc_id)
            SELECT doc_id, score, rnk FROM (
                SELECT doc_id, score,
                       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
                FROM per_doc)
            WHERE rnk <= {BM25_TOPK}
        """,
        "oov_rate": f"""
            WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS word FROM documents),
            counts AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
            vocab AS (SELECT word FROM (
                SELECT word, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk FROM counts)
                WHERE rnk <= {OOV_VOCAB_N})
            SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                   ROUND(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
                       AS oov_rate
            FROM toks t LEFT JOIN vocab v USING (word) GROUP BY t.doc_id
        """,
        "sentence_split": """
            WITH s AS (SELECT doc_id, string_split_regex(text, '[.!?]+') AS parts
                       FROM documents),
            p AS (SELECT doc_id, unnest(range(len(parts))) AS i, parts FROM s)
            SELECT doc_id, CAST(i AS BIGINT) AS sent_idx, trim(parts[i + 1]) AS sent,
                   CAST(len(list_filter(string_split_regex(trim(parts[i + 1]), '\\s+'),
                                        x -> x <> '')) AS BIGINT) AS n_words
            FROM p WHERE trim(parts[i + 1]) <> ''
        """,
        "user_event_types": """
            SELECT user_id,
                   string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
                   CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        """,
        "salted_join": """
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "schema_evolution": """
            WITH merged AS (
                SELECT 1 AS batch, o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice
                FROM orders WHERE o_orderkey % 2 = 0
                UNION ALL
                SELECT 2 AS batch, o_orderkey, o_custkey, o_totalprice
                FROM orders WHERE o_orderkey % 2 = 1)
            SELECT CAST(batch AS INTEGER) AS batch, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
                   CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_null_price,
                   CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_price
            FROM merged GROUP BY batch
        """,
        "text_normalize": """
            WITH n AS (SELECT doc_id,
                              trim(regexp_replace(regexp_replace(lower(text),
                                   '[^a-z0-9 .,]', '', 'g'), ' +', ' ', 'g')) AS norm
                       FROM documents)
            SELECT doc_id, md5(norm) AS norm_md5,
                   CAST(length(norm) AS BIGINT) AS norm_len,
                   substr(norm, 1, 40) AS norm_prefix
            FROM n
        """,
        "migrate_incremental": """
            SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0
                                      THEN o_totalprice + 1000.0
                                      ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE)
                       AS sum_price,
                   CAST(SUM(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_mutated
            FROM orders
        """,
        "migrate_writetime_roundtrip": f"""
            WITH f AS (
                SELECT event_id,
                       CASE WHEN event_id % 10 = 0 THEN value + 1000.0
                            ELSE value END AS value,
                       CASE WHEN event_id % 10 = 0
                            THEN greatest({WRITETIME_VALUE_SQL}, {WRITETIME_PROPS_SQL})
                                 + {WTRT_SHIFT_US}
                            ELSE greatest({WRITETIME_VALUE_SQL}, {WRITETIME_PROPS_SQL})
                            END AS wt,
                       CASE WHEN event_id % 10 = 0
                            THEN greatest({TTL_VALUE_SQL}, {TTL_PROPS_SQL}) + 50
                            ELSE greatest({TTL_VALUE_SQL}, {TTL_PROPS_SQL})
                            END AS ttl
                FROM events
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(wt // 1000000) AS BIGINT) AS sum_wt_sec,
                   CAST(SUM(wt % 1000000) AS BIGINT) AS sum_wt_rem,
                   CAST(SUM(ttl) AS BIGINT) AS sum_ttl,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
                   CAST(SUM(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_winners
            FROM f
        """,
        "weighted_sample": f"""
            SELECT doc_id, lang,
                   CAST(LEAST(95, FLOOR(n_chars / 10)) AS BIGINT) AS rate
            FROM documents
            WHERE {pmod_100_sql(tok_sql("doc_id"))}
                  < CAST(LEAST(95, FLOOR(n_chars / 10)) AS BIGINT)
        """,
        "group_topk_pct": f"""
            SELECT o_orderpriority, o_orderkey, o_totalprice, rnk, grp_n FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk,
                       CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS grp_n
                FROM orders)
            WHERE rnk <= CEIL(grp_n * {TOPK_PCT} / 100)
        """,
        "window_time_range": f"""
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN {WINDOW_RANGE_US} PRECEDING AND CURRENT ROW)
        """,
        "bigram_pmi": f"""
            WITH toks AS (SELECT {TOKS_SQL} AS ts FROM documents),
            uni AS (SELECT unnest(ts) AS w FROM toks),
            ucnt AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM uni GROUP BY w),
            tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t_tot FROM uni),
            bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
                   FROM (SELECT ts, unnest(range(1, len(ts))) AS i FROM toks
                         WHERE len(ts) >= 2)),
            btot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS b_tot FROM bg),
            bcnt AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2
                     HAVING COUNT(*) >= {PMI_MIN_COUNT})
            SELECT b.w1, b.w2, CAST(b.c_ab AS BIGINT) AS c_ab,
                   ROUND(ln((b.c_ab / bt.b_tot)
                         / ((u1.c / t.t_tot) * (u2.c / t.t_tot))), 4) + 0.0 AS pmi
            FROM bcnt b JOIN ucnt u1 ON u1.w = b.w1 JOIN ucnt u2 ON u2.w = b.w2
            CROSS JOIN tot t CROSS JOIN btot bt
        """,
        "multimodal_extract": """
            SELECT doc_id AS media_id,
                   CASE WHEN lang = 'en' THEN 'image/png' ELSE 'image/jpeg' END AS mime,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS payload_md5
            FROM documents
        """,
        # Aggregate-only profile drift: both profiles recomputed from
        # scratch, unpivoted via UNION ALL, exact DECIMAL compare.
        "validate_profile_drift": """
            WITH tgt AS (
                SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey % 101 = 0 THEN NULL
                            ELSE o_orderpriority END AS o_orderpriority,
                       CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderstatus
                FROM orders WHERE o_orderkey % 89 <> 0),
            po AS (
                SELECT CAST(COUNT(*) AS DECIMAL(28,4)) AS n_rows,
                       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                            AS DECIMAL(28,4)) AS null_custkey,
                       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                            AS DECIMAL(28,4)) AS null_priority,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                            AS DECIMAL(28,4)) AS sum_price,
                       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,4)))
                            AS DECIMAL(28,4)) AS min_price,
                       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4)))
                            AS DECIMAL(28,4)) AS max_price,
                       CAST(COUNT(DISTINCT o_orderstatus) AS DECIMAL(28,4))
                            AS nd_status
                FROM orders),
            pt AS (
                SELECT CAST(COUNT(*) AS DECIMAL(28,4)) AS n_rows,
                       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                            AS DECIMAL(28,4)) AS null_custkey,
                       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                            AS DECIMAL(28,4)) AS null_priority,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                            AS DECIMAL(28,4)) AS sum_price,
                       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,4)))
                            AS DECIMAL(28,4)) AS min_price,
                       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4)))
                            AS DECIMAL(28,4)) AS max_price,
                       CAST(COUNT(DISTINCT o_orderstatus) AS DECIMAL(28,4))
                            AS nd_status
                FROM tgt),
            lo AS (
                SELECT 'n_rows' AS metric, n_rows AS vo FROM po
                UNION ALL SELECT 'null_o_custkey', null_custkey FROM po
                UNION ALL SELECT 'null_o_orderpriority', null_priority FROM po
                UNION ALL SELECT 'sum_o_totalprice', sum_price FROM po
                UNION ALL SELECT 'min_o_totalprice', min_price FROM po
                UNION ALL SELECT 'max_o_totalprice', max_price FROM po
                UNION ALL SELECT 'nd_o_orderstatus', nd_status FROM po),
            lt AS (
                SELECT 'n_rows' AS metric, n_rows AS vt FROM pt
                UNION ALL SELECT 'null_o_custkey', null_custkey FROM pt
                UNION ALL SELECT 'null_o_orderpriority', null_priority FROM pt
                UNION ALL SELECT 'sum_o_totalprice', sum_price FROM pt
                UNION ALL SELECT 'min_o_totalprice', min_price FROM pt
                UNION ALL SELECT 'max_o_totalprice', max_price FROM pt
                UNION ALL SELECT 'nd_o_orderstatus', nd_status FROM pt)
            SELECT lo.metric,
                   CAST(vo AS DOUBLE) AS origin_v,
                   CAST(vt AS DOUBLE) AS target_v,
                   CAST(CASE WHEN vo IS DISTINCT FROM vt THEN 1 ELSE 0 END AS INT) AS drift
            FROM lo JOIN lt ON lo.metric = lt.metric
        """,
        "cdc_delta_detect": f"""
            WITH old_t AS (SELECT o_orderkey, o_totalprice FROM orders),
            new_t AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice
                FROM orders WHERE o_orderkey % 89 <> 0
                UNION ALL
                SELECT o_orderkey + {CDC_INSERT_OFFSET}, o_totalprice
                FROM orders WHERE o_orderkey % 83 = 0)
            SELECT key, op FROM (
                SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS key,
                       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                            WHEN n.o_orderkey IS NULL THEN 'delete'
                            WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'update'
                            ELSE 'same' END AS op
                FROM old_t o FULL OUTER JOIN new_t n ON o.o_orderkey = n.o_orderkey)
            WHERE op <> 'same'
        """,
        "json_key_profile": """
            SELECT key, CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM events), 4) AS presence
            FROM (SELECT unnest(json_keys(props)) AS key FROM events) GROUP BY key
        """,
        "dedup_threshold_sweep": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
                    FROM toks WHERE len(ts) >= {NGRAM_N}),
            sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle FROM pos),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            scored AS (SELECT ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) AS jaccard
                       FROM inter JOIN sizes sa ON sa.doc_id = id_a
                                  JOIN sizes sb ON sb.doc_id = id_b
                       WHERE ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) >= {min(SWEEP_THRESHOLDS)}),
            th AS (SELECT unnest([{", ".join(f"CAST({t} AS DOUBLE)" for t in SWEEP_THRESHOLDS)}])
                       AS threshold)
            SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM th JOIN scored ON jaccard >= threshold GROUP BY threshold
        """,
        "vocab_zipf_slope": f"""
            WITH toks AS (SELECT unnest({TOKS_SQL}) AS w FROM documents),
            counts AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
                       HAVING COUNT(*) >= {ZIPF_VOCAB_MIN_COUNT}),
            ranked AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rank
                       FROM counts),
            xy AS (SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
                          CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
                   FROM ranked),
            sums AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                            CAST(SUM(x) AS DECIMAL(28,6)) AS sx,
                            CAST(SUM(y) AS DECIMAL(28,6)) AS sy,
                            SUM(CAST(x * y AS DECIMAL(28,12))) AS sxy,
                            SUM(CAST(x * x AS DECIMAL(28,12))) AS sxx
                     FROM xy)
            SELECT n,
                   ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                         4) AS zipf_slope
            FROM sums
        """,
        "approx_distinct_audit": """
            SELECT o_orderpriority,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
                   TRUE AS within_tol
            FROM orders GROUP BY o_orderpriority
        """,
        "approx_percentile_audit": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
                   TRUE AS within_tol
            FROM lineitem GROUP BY l_returnflag
        """,
        "guardrail_rowsize": f"""
            SELECT doc_id,
                   CAST(octet_length(encode(text)) + octet_length(encode(lang))
                        + octet_length(encode(source)) + 16 AS BIGINT) AS row_bytes
            FROM documents
            WHERE octet_length(encode(text)) + octet_length(encode(lang))
                  + octet_length(encode(source)) + 16 > {GUARDRAIL_ROW_BYTES}
        """,
        "sql_frontend_q1": TPCH_Q1_SQL,
        "sql_frontend_q2": TPCH_Q2_SQL,
        "sql_frontend_q17": TPCH_Q17_SQL,
        "sql_frontend_q20": TPCH_Q20_SQL,
        "sql_frontend_q21": TPCH_Q21_SQL,
        "sql_frontend_q6": TPCH_Q6_SQL,
        "sql_frontend_q7": TPCH_Q7_SQL,
        "sql_frontend_q8": TPCH_Q8_SQL,
        "sql_frontend_q10": TPCH_Q10_SQL,
        "sql_frontend_q11": TPCH_Q11_SQL,
        "sql_frontend_q15": TPCH_Q15_SQL,
        "sql_frontend_q16": TPCH_Q16_SQL,
        "sql_frontend_q9": TPCH_Q9_SQL,
        "sql_frontend_q12": TPCH_Q12_SQL,
        "sql_frontend_q14": TPCH_Q14_SQL,
        "sql_frontend_q18": TPCH_Q18_SQL,
        "sql_frontend_q19": TPCH_Q19_SQL,
        "sql_frontend_q4": TPCH_Q4_SQL,
        "sql_frontend_q13": TPCH_Q13_SQL,
        "sql_frontend_q22": TPCH_Q22_SQL,
        "binaryfile_ingest": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            dim AS (SELECT doc_id, s,
                           LEAST({PPM_MAX_H},
                                 CAST(LENGTH(s) // {PPM_W * 3} AS INT)) AS h
                    FROM san),
            ok AS (SELECT doc_id, s, h FROM dim WHERE h >= 1),
            pl AS (SELECT doc_id,
                          'P6' || chr(10) || '{PPM_W} ' || h || chr(10)
                          || '255' || chr(10)
                          || substr(s, 1, h * {PPM_W * 3}) AS payload
                   FROM ok)
            SELECT doc_id AS media_id,
                   CAST(strlen(payload) AS BIGINT) AS file_bytes,
                   md5(payload) AS content_md5
            FROM pl
        """,
        "lang_id_confusion": f"""
            WITH c AS (
                SELECT lang, {lang_id_sql('text')} AS pred_lang,
                       COUNT(*) AS n
                FROM documents GROUP BY 1, 2
            )
            SELECT lang, pred_lang, CAST(n AS BIGINT) AS n_docs,
                   ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY lang), 4)
                       AS row_share_r
            FROM c
        """,
        "token_budget_select": f"""
            WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
            s AS (
                SELECT doc_id,
                       CAST(len(toks) AS BIGINT) AS n_tokens,
                       ROUND(least(1.0, len(toks) / 100.0) * 0.5
                             + (CASE WHEN len(toks) > 0
                                     THEN CAST(len(list_filter(toks, x -> x IN ({stop_in}))) AS DOUBLE) / len(toks)
                                     ELSE 0.0 END) * 0.5
                             - least(1.0, len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) / 50.0) * 0.25,
                             4) AS quality
                FROM t
            )
            SELECT doc_id, quality, n_tokens,
                   CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM (SELECT *, SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                                ROWS UNBOUNDED PRECEDING) AS cum_tokens
                  FROM s)
            WHERE cum_tokens <= {TOKEN_BUDGET}
        """,
        "line_dedup": f"""
            WITH t AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents
                       WHERE len({TOKS_SQL}) >= 1),
            l AS (
                SELECT doc_id, CAST((p - 1) // {LINE_TOKENS} AS BIGINT) AS pos,
                       array_to_string(ts[p:p+{LINE_TOKENS}-1], ' ') AS line
                FROM (SELECT doc_id, ts,
                             unnest(range(1, len(ts) + 1, {LINE_TOKENS})) AS p
                      FROM t)
            ),
            k AS (
                SELECT doc_id, pos, line FROM l
                WHERE length(line) < {LINE_DEDUP_MIN_CHARS}
                UNION ALL
                SELECT doc_id, pos, line FROM (
                    SELECT doc_id, pos, line,
                           ROW_NUMBER() OVER (PARTITION BY line
                                              ORDER BY doc_id, pos) AS rk
                    FROM l WHERE length(line) >= {LINE_DEDUP_MIN_CHARS})
                WHERE rk = 1
            ),
            kc AS (
                SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS text_dedup
                FROM k GROUP BY doc_id
            )
            SELECT t2.doc_id, t2.n_lines,
                   CAST(COALESCE(kc.n_kept, 0) AS BIGINT) AS n_kept,
                   CAST(t2.n_lines - COALESCE(kc.n_kept, 0) AS BIGINT) AS n_dropped,
                   COALESCE(kc.text_dedup, '') AS text_dedup
            FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
                  FROM l GROUP BY doc_id) t2
            LEFT JOIN kc USING (doc_id)
        """,
        "sql_frontend_q3": TPCH_Q3_SQL,
        "sql_frontend_q5": TPCH_Q5_SQL,
        "kmeans_assign": f"""
            WITH cents AS (
                SELECT vec_id AS c_id, embedding AS cv FROM embeddings
                ORDER BY vec_id LIMIT {KMEANS_ASSIGN_K}
            ),
            dims AS (
                SELECT vec_id, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings
            ),
            dists AS (
                SELECT d.vec_id, c.c_id,
                       SUM(CAST((CAST(d.x AS DOUBLE) - CAST(c.cv[d.i] AS DOUBLE))
                                * (CAST(d.x AS DOUBLE) - CAST(c.cv[d.i] AS DOUBLE))
                                AS DECIMAL(28,12))) AS dist
                FROM dims d CROSS JOIN cents c
                GROUP BY d.vec_id, c.c_id
            ),
            best AS (
                SELECT vec_id, c_id, dist,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
                FROM dists
            )
            SELECT vec_id, CAST(c_id AS BIGINT) AS cluster_id,
                   ROUND(CAST(dist AS DOUBLE), 4) AS dist_r
            FROM best WHERE rn = 1
        """,
        "semantic_dedup": f"""
            WITH cents AS (
                SELECT vec_id AS c_id, embedding AS cv FROM embeddings
                ORDER BY vec_id LIMIT {KMEANS_ASSIGN_K}
            ),
            dims AS (
                SELECT vec_id, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings
            ),
            dists AS (
                SELECT d.vec_id, c.c_id,
                       SUM(CAST((CAST(d.x AS DOUBLE) - CAST(c.cv[d.i] AS DOUBLE))
                                * (CAST(d.x AS DOUBLE) - CAST(c.cv[d.i] AS DOUBLE))
                                AS DECIMAL(28,12))) AS dist
                FROM dims d CROSS JOIN cents c
                GROUP BY d.vec_id, c.c_id
            ),
            assign AS (
                SELECT vec_id, c_id AS cluster_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
                FROM dists
            ),
            m AS (SELECT a.vec_id, a.cluster_id, e.embedding
                  FROM assign a JOIN embeddings e USING (vec_id) WHERE a.rn = 1),
            pruned AS (
                SELECT b.vec_id FROM m a JOIN m b
                  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
                WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4)
                      >= {SEMDEDUP_TAU}
                GROUP BY b.vec_id
            )
            SELECT m.vec_id, CAST(m.cluster_id AS BIGINT) AS cluster_id,
                   (m.vec_id IN (SELECT vec_id FROM pruned)) AS is_pruned
            FROM m
        """,
        "slice_checksum": f"""
            SELECT {slice_id_sql(tok_sql("o_orderkey"), NUM_SLICES)} AS slice_id,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
                   CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
                   CAST(MAX(o_orderkey) AS BIGINT) AS max_key
            FROM orders
            GROUP BY 1
        """,
        "gaps_islands": """
            WITH o AS (
                SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                       CASE WHEN lag(event_type) OVER w IS NULL
                                 OR event_type <> lag(event_type) OVER w
                            THEN 1 ELSE 0 END AS chg
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
            ),
            isl AS (
                SELECT user_id, event_type, ts_us,
                       SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
                FROM o
            )
            SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
                   MIN(event_type) AS event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(MIN(ts_us) AS BIGINT) AS start_us,
                   CAST(MAX(ts_us) AS BIGINT) AS end_us
            FROM isl GROUP BY user_id, island_id
        """,
        "packing_efficiency": f"""
            WITH per AS (
                SELECT doc_id % {PACK_SHARDS} AS shard,
                       len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tok
                FROM documents),
            agg AS (SELECT CAST(shard AS BIGINT) AS shard,
                           CAST(SUM(n_tok) AS BIGINT) AS total_tok
                    FROM per GROUP BY shard)
            SELECT shard, total_tok,
                   CAST(FLOOR((total_tok - 1) / {PACK_BIN_TOKENS}) + 1 AS BIGINT) AS n_bins,
                   ROUND(total_tok / ((FLOOR((total_tok - 1) / {PACK_BIN_TOKENS}) + 1) * {PACK_BIN_TOKENS}), 4) AS fill_ratio
            FROM agg
        """,
        "cross_source_chunk_overlap": f"""
            WITH toks AS (SELECT doc_id, source, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, source, unnest(ts) AS word,
                           generate_subscripts(ts, 1) AS pos FROM toks),
            b AS (SELECT doc_id, source, pos, word,
                         CASE WHEN md5(word) LIKE '0%' THEN 1 ELSE 0 END AS is_b FROM pos),
            seq AS (SELECT doc_id, source, pos, word,
                           COALESCE(SUM(is_b) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_seq
                    FROM b),
            chunks AS (SELECT doc_id, source, chunk_seq, COUNT(*) AS n_tokens,
                              md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_hash
                       FROM seq GROUP BY 1, 2, 3),
            sc AS (SELECT DISTINCT source, chunk_hash FROM chunks
                   WHERE n_tokens >= {CHUNK_MIN_TOKENS})
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM sc a JOIN sc b ON a.chunk_hash = b.chunk_hash AND a.source < b.source
            GROUP BY 1, 2
        """,
        "writetime_histogram": f"""
            SELECT CAST(FLOOR(greatest({WRITETIME_VALUE_SQL}, {WRITETIME_PROPS_SQL}) / 86400000000) AS BIGINT) AS epoch_day,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(MIN(greatest({WRITETIME_VALUE_SQL}, {WRITETIME_PROPS_SQL})) AS BIGINT) AS min_wt_us,
                   CAST(MAX(greatest({WRITETIME_VALUE_SQL}, {WRITETIME_PROPS_SQL})) AS BIGINT) AS max_wt_us
            FROM events GROUP BY 1
        """,
        "ivf_recall_audit": f"""
            SELECT CAST({TOPK_K} AS BIGINT) * (SELECT COUNT(*) FROM embeddings
                                               WHERE {TOPK_QUERY_PRED}) AS n_brute,
                   TRUE AS recall_ok
        """,
        "ann_recall_clustered": f"""
            SELECT vec_id AS query_id, CAST({TOPK_K} AS BIGINT) AS n_brute,
                   TRUE AS recall_ok, TRUE AS agg_recall_ok
            FROM embeddings WHERE {TOPK_QUERY_PRED}
        """,
        "ivf_recall_clustered": f"""
            SELECT CAST({TOPK_K} AS BIGINT) * (SELECT COUNT(*) FROM embeddings
                                               WHERE {TOPK_QUERY_PRED}) AS n_brute,
                   TRUE AS recall_ok
        """,
        "simhash_recall_audit": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
                    FROM toks WHERE len(ts) >= {NGRAM_N}),
            sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle FROM pos),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            pairs AS (SELECT id_a, id_b
                      FROM inter JOIN sizes sa ON sa.doc_id = id_a
                                 JOIN sizes sb ON sb.doc_id = id_b
                      WHERE ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) >= {MINHASH_AUDIT_THRESHOLD})
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok FROM pairs
        """,
        "minhash_recall_audit": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
                    FROM toks WHERE len(ts) >= {NGRAM_N}),
            sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle FROM pos),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            pairs AS (SELECT id_a, id_b
                      FROM inter JOIN sizes sa ON sa.doc_id = id_a
                                 JOIN sizes sb ON sb.doc_id = id_b
                      WHERE ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) >= {MINHASH_AUDIT_THRESHOLD})
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok FROM pairs
        """,
        "guardrail_partition_rows": f"""
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS part_rows,
                   CAST(SUM({_EVENT_PAYLOAD_BYTES_SQL}) AS BIGINT) AS part_bytes
            FROM events GROUP BY user_id
            HAVING COUNT(*) > {GUARDRAIL_PART_MAX_ROWS}
                OR SUM({_EVENT_PAYLOAD_BYTES_SQL}) > {GUARDRAIL_PART_MAX_BYTES}
        """,
        "partition_skew_stats": f"""
            WITH per_key AS (
                SELECT user_id, CAST(COUNT(*) AS BIGINT) AS part_rows,
                       CAST(SUM({_EVENT_PAYLOAD_BYTES_SQL}) AS BIGINT) AS part_bytes
                FROM events GROUP BY user_id
            )
            SELECT user_id, part_rows, part_bytes,
                   ROUND(part_rows / (AVG(part_rows) OVER ()), 4) AS skew_ratio
            FROM per_key
            ORDER BY part_rows DESC, user_id
            LIMIT {SKEW_STATS_TOP_N}
        """,
        "ttl_expiry": f"""
            WITH t AS (
                SELECT event_id, user_id,
                       CASE WHEN event_id % 37 = 0 THEN NULL
                            WHEN event_id % 41 = 0 THEN 0
                            ELSE {TTL_VALUE_SQL} END AS ttl_v,
                       {TTL_PROPS_SQL} AS ttl_p,
                       greatest({WRITETIME_VALUE_SQL}, {WRITETIME_PROPS_SQL}) AS wt
                FROM events
            )
            SELECT event_id, user_id,
                   CAST(wt + greatest(ttl_v, ttl_p) * 1000000 AS BIGINT) AS expiry_us
            FROM t
            WHERE NOT (ttl_v IS NULL OR ttl_v <= 0 OR ttl_p IS NULL OR ttl_p <= 0)
              AND wt + greatest(ttl_v, ttl_p) * 1000000 <= {TTL_EXPIRY_REF_US}
        """,
        "rolling_hash_chunks": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, unnest(ts) AS word,
                           generate_subscripts(ts, 1) AS pos FROM toks),
            b AS (SELECT doc_id, pos, word,
                         CASE WHEN md5(word) LIKE '0%' THEN 1 ELSE 0 END AS is_b
                  FROM pos),
            seq AS (SELECT doc_id, pos, word,
                           COALESCE(SUM(is_b) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                                    0) AS chunk_seq
                    FROM b)
            SELECT doc_id, CAST(chunk_seq AS BIGINT) AS chunk_seq,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_hash
            FROM seq GROUP BY doc_id, chunk_seq
        """,
        "partition_retry": f"""
            SELECT {slice_id_sql(tok_sql("o_orderkey"), NUM_SLICES)} AS slice_id,
                   CAST(COUNT(*) AS BIGINT) AS row_cnt
            FROM orders
            WHERE {slice_id_sql(tok_sql("o_orderkey"), NUM_SLICES)}
                  IN ({", ".join(str(s) for s in RETRY_SLICES)})
            GROUP BY 1
        """,
        "codec_struct": """
            SELECT o_orderkey,
                   o_orderstatus AS field_status,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
                       AS field_price_str,
                   '(' || CAST(o_orderkey AS VARCHAR) || ', ' || o_orderstatus || ', '
                   || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || ')'
                       AS tuple_literal
            FROM orders
        """,
        "codec_date_time": """
            SELECT o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS date_str,
                   CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                        AS BIGINT) AS epoch_day,
                   (epoch_us(o_orderdate) % 86400000000) * 1000 AS nanos_of_day
            FROM orders
        """,
        "ref_integrity_audit": """
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_lineitems,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                       AS n_orphan_lineitems,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                    WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))
                       AS n_childless_orders
        """,
        "codec_inet_timeuuid": f"""
            WITH b AS (
                SELECT event_id,
                       ({pmod_100_sql(tok_sql("event_id"))} * 42949672
                        + (event_id % 4294967)) AS ip,
                       epoch_us(ts) * 10 + {codecs.GREGORIAN_OFFSET_100NS} AS t,
                       (event_id % 16384) + 32768 AS cs,
                       user_id % 281474976710656 AS nd
                FROM events)
            SELECT event_id,
                   CAST(ip // 16777216 AS VARCHAR) || '.'
                   || CAST((ip // 65536) % 256 AS VARCHAR) || '.'
                   || CAST((ip // 256) % 256 AS VARCHAR) || '.'
                   || CAST(ip % 256 AS VARCHAR) AS inet_str,
                   lpad(lower(hex(t % 4294967296)), 8, '0') || '-'
                   || lpad(lower(hex((t // 4294967296) % 65536)), 4, '0') || '-'
                   || lpad(lower(hex((t // 281474976710656) % 4096 + 4096)), 4, '0') || '-'
                   || lpad(lower(hex(cs)), 4, '0') || '-'
                   || lpad(lower(hex(nd)), 12, '0') AS timeuuid_str
            FROM b
        """,
        "span_corruption": f"""
            WITH b AS (
                SELECT doc_id, text,
                       ({pmod_100_sql(tok_sql("doc_id"))} % GREATEST(n_chars // 2, 1)) + 1
                           AS span_start,
                       ({pmod_100_sql(tok_sql("(doc_id + 1)"))} % 40) + 10 AS span_len
                FROM documents),
            c AS (
                SELECT doc_id, span_start, span_len,
                       substr(text, 1, CAST(span_start - 1 AS INT))
                       || '{SPAN_MASK_TOKEN}'
                       || substr(text, CAST(span_start + span_len AS INT)) AS corrupted
                FROM b)
            SELECT doc_id, span_start, span_len, md5(corrupted) AS corrupted_md5,
                   CAST(length(corrupted) AS BIGINT) AS corrupted_len
            FROM c
        """,
        "fim_split": f"""
            WITH b AS (
                SELECT doc_id, text,
                       ({pmod_100_sql(tok_sql("doc_id"))}
                        % GREATEST(n_chars // 3, 1)) + 1 AS p1,
                       ({pmod_100_sql(tok_sql("(doc_id + 2)"))}
                        % GREATEST(n_chars // 3, 1)) AS d2
                FROM documents),
            c AS (
                SELECT doc_id, p1, p1 + d2 + 1 AS p2, text FROM b),
            p AS (
                SELECT doc_id, p1, p2,
                       substr(text, 1, CAST(p1 - 1 AS INT)) AS prefix,
                       substr(text, CAST(p1 AS INT), CAST(p2 - p1 AS INT)) AS middle,
                       substr(text, CAST(p2 AS INT)) AS suffix
                FROM c)
            SELECT doc_id, p1, p2, md5(prefix) AS prefix_md5, md5(middle) AS middle_md5,
                   md5(suffix) AS suffix_md5,
                   CAST(length(prefix) + length(middle) + length(suffix) AS BIGINT)
                       AS total_len
            FROM p
        """,
        "migrate_null_policy": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END
                       AS status_merged,
                   o_orderpriority AS prio_unset,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END
                       AS prio_null
            FROM orders
        """,
        "codec_set_normalize": f"""
            WITH t AS (SELECT doc_id, list_sort(list_distinct({TOKS_SQL})) AS toks
                       FROM documents)
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS set_size,
                   array_to_string(toks, ',') AS set_canonical
            FROM t
        """,
        "running_distinct": """
            SELECT event_id, user_id,
                   CAST(SUM(first_seen) OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS n_distinct_types
            FROM (
                SELECT event_id, user_id, ts,
                       CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts), event_id) = 1 THEN 1 ELSE 0 END
                           AS first_seen
                FROM events)
        """,
        "event_paths": """
            SELECT user_id,
                   epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
                   string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS path,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        """,
        "quarantine_split": f"""
            SELECT event_id, user_id,
                   CASE WHEN event_type = 'error' THEN 'error_event'
                        WHEN value > {QUARANTINE_VALUE_MAX} THEN 'outlier_value'
                   END AS reason
            FROM events
            WHERE event_type = 'error' OR value > {QUARANTINE_VALUE_MAX}
        """,
        "ann_recall_audit": f"""
            SELECT vec_id AS query_id, CAST({TOPK_K} AS BIGINT) AS n_brute,
                   TRUE AS recall_ok, TRUE AS agg_recall_ok
            FROM embeddings WHERE {TOPK_QUERY_PRED}
        """,
        "lm_perplexity": LM_PERPLEXITY_ORACLE_BODY,
        "ccnet_bucket_mix": f"""
            WITH lm AS ({{LM}}),
            r AS (SELECT doc_id, n_bigrams, nll,
                         ROW_NUMBER() OVER (ORDER BY nll, doc_id) - 1 AS pos,
                         COUNT(*) OVER () AS n_total
                  FROM lm),
            b AS (SELECT CAST(FLOOR(pos * 3.0 / n_total) AS BIGINT) AS bucket,
                         n_bigrams, nll
                  FROM r)
            SELECT bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams,
                   ROUND(AVG(nll), 4) AS avg_nll
            FROM b GROUP BY bucket
        """.replace("{LM}", LM_PERPLEXITY_ORACLE_BODY),
        "jsonl_quarantine": f"""
            SELECT
              (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
               WHERE doc_id % {JSONL_CORRUPT_MOD} <> 0) AS n_good,
              (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents
               WHERE doc_id % {JSONL_CORRUPT_MOD} <> 0) AS sum_doc_id,
              (SELECT CAST(SUM(length(text)) AS BIGINT) FROM documents
               WHERE doc_id % {JSONL_CORRUPT_MOD} <> 0) AS sum_text_chars,
              (SELECT CAST(SUM(n_chars) AS BIGINT) FROM documents
               WHERE doc_id % {JSONL_CORRUPT_MOD} <> 0) AS sum_n_chars,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
               WHERE doc_id % {JSONL_CORRUPT_MOD} = 0) AS n_bad
        """,
        "pagerank_dup_graph": _pagerank_oracle_sql(),
        "temperature_mix": f"""
            WITH dg AS (SELECT doc_id,
                               CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'head'
                                    WHEN CAST(substr(source, 4) AS INT) < 16 THEN 'mid'
                                    ELSE 'tail' END AS src_group
                        FROM documents),
            c AS (SELECT src_group, CAST(COUNT(*) AS DOUBLE) AS n_s
                  FROM dg GROUP BY src_group),
            w AS (SELECT src_group, POW(n_s, 0.7 - 1.0) AS w FROM c),
            mx AS (SELECT MAX(w) AS w_max FROM w),
            r AS (SELECT src_group, CAST(ROUND(100.0 * w / mx.w_max) AS INT) AS keep_rate
                  FROM w CROSS JOIN mx)
            SELECT d.doc_id, d.src_group,
                   CAST({pmod_100_sql(tok_sql("d.doc_id"))} AS BIGINT) AS bucket,
                   r.keep_rate
            FROM dg d JOIN r USING (src_group)
            WHERE {pmod_100_sql(tok_sql("d.doc_id"))} < r.keep_rate
        """,
        "dedup_incremental_batch": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
                    FROM toks WHERE len(ts) >= {NGRAM_N}),
            sh AS (SELECT DISTINCT doc_id,
                          ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
                   FROM pos),
            b AS (SELECT * FROM sh
                  WHERE doc_id % {BATCH_SPLIT_MOD} = {BATCH_SPLIT_REM}),
            c AS (SELECT * FROM sh
                  WHERE doc_id % {BATCH_SPLIT_MOD} <> {BATCH_SPLIT_REM}),
            bs AS (SELECT doc_id, COUNT(*) AS nb FROM b GROUP BY 1),
            cs AS (SELECT doc_id, COUNT(*) AS nc FROM c GROUP BY 1),
            inter AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
                             COUNT(*) AS ni
                      FROM b JOIN c ON b.shingle = c.shingle GROUP BY 1, 2)
            SELECT i.batch_id, i.corpus_id,
                   ROUND(i.ni * 1.0 / (bs.nb + cs.nc - i.ni), 4) AS jaccard
            FROM inter i JOIN bs ON bs.doc_id = i.batch_id
                         JOIN cs ON cs.doc_id = i.corpus_id
            WHERE ROUND(i.ni * 1.0 / (bs.nb + cs.nc - i.ni), 4)
                  >= {NGRAM_THRESHOLD}
        """,
        "gopher_rules": f"""
            WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS ts,
                              string_split(text, chr(10)) AS ls
                       FROM documents),
            s AS (SELECT doc_id,
                    CAST(len(ts) AS BIGINT) AS n_words,
                    CAST(LENGTH(array_to_string(ts, '')) AS BIGINT) AS sum_wlen,
                    CAST(LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
                         AS BIGINT) AS n_hash,
                    CAST((LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3
                         AS BIGINT) AS n_ell,
                    CAST(len(ls) AS BIGINT) AS n_lines,
                    CAST(len(list_filter(ls,
                         l -> regexp_matches(l, '^\\s*[•*-]'))) AS BIGINT)
                         AS n_bullet,
                    CAST(len(list_filter(ls,
                         l -> rtrim(l) LIKE '%...')) AS BIGINT) AS n_ell_end,
                    CAST(len(list_filter(ts,
                         x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
                    CAST({" + ".join(
                        f"(CASE WHEN list_contains(ts, '{w}') THEN 1 ELSE 0 END)"
                        for w in GOPHER_REQUIRED_STOPWORDS
                    )} AS BIGINT) AS n_req
                  FROM t),
            r AS (SELECT doc_id, n_words,
                    CASE WHEN n_words > 0
                         THEN ROUND(sum_wlen * 1.0 / n_words, 4)
                         ELSE 0.0 END AS mean_wlen_r,
                    CASE WHEN n_words > 0
                         THEN ROUND((n_hash + n_ell) * 1.0 / n_words, 4)
                         ELSE 0.0 END AS symbol_ratio_r,
                    CASE WHEN n_lines > 0
                         THEN ROUND(n_bullet * 1.0 / n_lines, 4)
                         ELSE 0.0 END AS bullet_frac_r,
                    CASE WHEN n_lines > 0
                         THEN ROUND(n_ell_end * 1.0 / n_lines, 4)
                         ELSE 0.0 END AS ellipsis_frac_r,
                    CASE WHEN n_words > 0
                         THEN ROUND(n_alpha * 1.0 / n_words, 4)
                         ELSE 0.0 END AS alpha_frac_r,
                    n_req AS n_req_stopwords
                  FROM s)
            SELECT *,
                   (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                    AND mean_wlen_r BETWEEN {GOPHER_MIN_MEAN_WLEN}
                                        AND {GOPHER_MAX_MEAN_WLEN}
                    AND symbol_ratio_r < {GOPHER_MAX_SYMBOL_RATIO}
                    AND bullet_frac_r < {GOPHER_MAX_BULLET_LINE_FRAC}
                    AND ellipsis_frac_r < {GOPHER_MAX_ELLIPSIS_LINE_FRAC}
                    AND alpha_frac_r >= {GOPHER_MIN_ALPHA_WORD_FRAC}
                    AND n_req_stopwords >= {GOPHER_MIN_REQUIRED_STOPWORDS}
                   ) AS passes
            FROM r
        """,
        # The audio-decoder contract: same mechanism as multimodal_decode —
        # the data section is the first 64 sanitized chars, 1 byte/char.
        "multimodal_audio": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            ok AS (SELECT doc_id, s FROM san
                   WHERE LENGTH(s) >= {WAV_N_SAMPLES}),
            b AS (SELECT doc_id,
                         unnest(range(1, {WAV_N_SAMPLES} + 1)) AS i, s
                  FROM ok),
            v AS (SELECT doc_id, ord(substr(s, CAST(i AS INT), 1)) AS val
                  FROM b)
            SELECT doc_id AS media_id,
                   CAST(1 AS INT) AS n_channels,
                   CAST({WAV_RATE} AS INT) AS sample_rate,
                   CAST(8 AS INT) AS bits,
                   CAST({WAV_N_SAMPLES} AS BIGINT) AS n_samples,
                   CAST(SUM(val) AS BIGINT) AS s_sum,
                   CAST(MIN(val) AS INT) AS s_min,
                   CAST(MAX(val) AS INT) AS s_max,
                   ROUND(SUM(val) * 1.0 / {WAV_N_SAMPLES}, 4) AS s_mean_r
            FROM v GROUP BY doc_id
        """,
    }
