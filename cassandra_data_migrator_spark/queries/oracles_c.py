"""DuckDB oracle SQL chunk (oracles_c)."""

from __future__ import annotations

from cassandra_data_migrator_spark.queries._shared import (  # noqa: F401
    CHUNK_SIZE,
    CHUNK_STRIDE,
    CONTAM_EVAL_MOD,
    CONTAM_NGRAM_N,
    FINGERPRINT_SQL,
    NEAR_DUP_PROBE_MOD,
    NEAR_DUP_THRESHOLD,
    NGRAM_N,
    NGRAM_THRESHOLD,
    PACK_BIN_TOKENS,
    PACK_SHARDS,
    SENTIMENT_LEXICON,
    SPLIT_TRAIN_LT,
    SPLIT_VAL_LT,
    STOPWORDS,
    STRATA_RATES,
    TOKS_SQL,
    TOPK_K,
    TOPK_QUERY_PRED,
    TRAIN_SHUFFLE_SEED,
    TRAIN_SHUFFLE_SHARDS,
    WRITETIME_PROPS_SQL,
    WRITETIME_VALUE_SQL,
    lang_id_sql,
    pmod_100_sql,
    tok_sql,
)
from cassandra_data_migrator_spark.queries.dedup_text import (  # noqa: F401
    CURATE_QUALITY_MIN,
    PREFIX_N,
    PREFIX_THRESHOLD,
    WEEK_US,
)
from cassandra_data_migrator_spark.queries.analytics import (  # noqa: F401
    BOILERPLATE_FLAG_RATIO,
    BOILERPLATE_MIN_DF,
    DSIR_BUCKETS,
    DSIR_TARGET_MOD,
    EVENT_TYPES,
    EWMA_ALPHA,
    EWMA_LAGS,
    INTERVAL_JOIN_WINDOW_US,
    JS_DRIFT_SPLIT_MOD,
    QUOTA_PER_SOURCE,
    SHARD_BALANCE_N,
    VOCAB_MIN_COUNT,
    VOCAB_SIZE,
    WINSOR_HI,
    WINSOR_LO,
    ZSCORE_THRESHOLD,
)
from cassandra_data_migrator_spark.queries.sql_frontend import (  # noqa: F401
    SQL_LATERAL_SQL,
    SQL_RECURSIVE_SQL,
    SQL_WINDOW_FUNCS_SQL,
)
from cassandra_data_migrator_spark.queries.lm_quality import (  # noqa: F401
    CAL_BINS,
    CLF_BUCKETS,
    CLF_LABEL_MOD,
    CLF_MARKER_MOD,
    CLF_SMOOTH_K,
    ENSEMBLE_KEEP_DEN,
    ENSEMBLE_KEEP_NUM,
    KN_DISCOUNT,
    SKIP_TOPK,
    SKIP_WINDOW,
    _ENSEMBLE_Z_SQL,
)
from cassandra_data_migrator_spark.queries.late_keys import (  # noqa: F401
    ZORDER_SCALE,
)


def _lex_values() -> str:
    return ", ".join(f"('{w}', {s})" for w, s in SENTIMENT_LEXICON.items())


def _ewma_sql() -> str:
    """EWMA oracle: same fixed 8-tap lag formulation as q_ewma_smooth, with
    the SAME left-to-right add order and power-of-two weights, so the double
    arithmetic is bit-identical on both engines."""
    lag_cols = ", ".join(f"lag(value, {k}) OVER w AS x{k}" for k in range(1, EWMA_LAGS))
    num, den = [], []
    for k in range(EWMA_LAGS):
        wt = EWMA_ALPHA * (1 - EWMA_ALPHA) ** k
        x = "value" if k == 0 else f"x{k}"
        num.append(f"CAST({wt!r} AS DOUBLE) * COALESCE({x}, 0e0)")
        den.append(f"CASE WHEN {x} IS NOT NULL THEN CAST({wt!r} AS DOUBLE) ELSE 0e0 END")
    return f"""
        WITH o AS (
            SELECT event_id, user_id, value, {lag_cols}
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        )
        SELECT event_id, user_id,
               ROUND(({" + ".join(num)}) / ({" + ".join(den)}), 4) AS ewma_r
        FROM o
    """


def _dedup_clusters_sql() -> str:
    """Recursive-CTE connected components over the n-gram Jaccard pair graph
    (shared by the dedup_clusters and dedup_cluster_sizes oracles)."""
    return f"""
            WITH RECURSIVE toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
                    FROM toks WHERE len(ts) >= {NGRAM_N}),
            sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle FROM pos),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            pairs AS (SELECT id_a, id_b
                      FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
                      WHERE ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) >= {NGRAM_THRESHOLD}),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION SELECT id_b AS src, id_a AS dst FROM pairs),
            reach(id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
            )
            SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """


def oracles_c() -> dict[str, str]:
    tok_o = tok_sql("o_orderkey")
    wt = f"greatest({WRITETIME_VALUE_SQL}, {WRITETIME_PROPS_SQL})"
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    zx = f"((user_id - mnx) * {ZORDER_SCALE}) // (mxx - mnx + 1)"
    zy = f"((epoch_us(ts) - mny) * {ZORDER_SCALE}) // (mxy - mny + 1)"
    return {
        "skipgram_cooc": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT ts, unnest(range(1, len(ts) + 1)) AS i FROM toks),
            pr AS (SELECT ts[i] AS w1, ts[i + j] AS w2
                   FROM (SELECT ts, i, unnest(range(1, {SKIP_WINDOW + 1})) AS j
                         FROM pos)
                   WHERE i + j <= len(ts)),
            cnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_cooc
                    FROM pr GROUP BY 1, 2),
            rk AS (SELECT w1, w2, n_cooc,
                          CAST(ROW_NUMBER() OVER (ORDER BY n_cooc DESC, w1, w2)
                               AS INTEGER) AS rnk
                   FROM cnt)
            SELECT w1, w2, n_cooc, rnk FROM rk WHERE rnk <= {SKIP_TOPK}
        """,
        "nb_classifier_eval": f"""
            WITH aug AS (SELECT doc_id,
                                (doc_id % {CLF_LABEL_MOD} = 0) AS y,
                                CASE WHEN doc_id % {CLF_LABEL_MOD} = 0
                                     THEN text
                                          || ' mq' || (doc_id % {CLF_MARKER_MOD})
                                          || ' mq' || (doc_id % {CLF_MARKER_MOD})
                                          || ' mq' || (doc_id % {CLF_MARKER_MOD})
                                     ELSE text END AS text
                         FROM documents),
            base AS (SELECT doc_id, y,
                            (substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                             < '{SPLIT_TRAIN_LT}') AS is_train,
                            {TOKS_SQL} AS ts
                     FROM aug),
            bkt AS (SELECT doc_id, y, is_train, substr(md5(w), 1, 3) AS bkt
                    FROM (SELECT doc_id, y, is_train, unnest(ts) AS w
                          FROM base)),
            tc AS (SELECT bkt,
                          CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                              AS c_pos,
                          CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT)
                              AS c_neg
                   FROM bkt WHERE is_train GROUP BY bkt),
            allb AS (SELECT printf('%03x', i) AS bkt
                     FROM range({CLF_BUCKETS}) t(i)),
            dist AS (SELECT a.bkt, COALESCE(c_pos, 0) AS c_pos,
                            COALESCE(c_neg, 0) AS c_neg
                     FROM allb a LEFT JOIN tc USING (bkt)),
            dist2 AS (SELECT bkt, c_pos, c_neg,
                             SUM(c_pos) OVER () AS n_pos,
                             SUM(c_neg) OVER () AS n_neg
                      FROM dist),
            w AS (SELECT bkt,
                         CAST(ROUND(ln((c_pos + {CLF_SMOOTH_K})
                              / (n_pos + {CLF_SMOOTH_K} * {CLF_BUCKETS}))
                              - ln((c_neg + {CLF_SMOOTH_K})
                              / (n_neg + {CLF_SMOOTH_K} * {CLF_BUCKETS})), 6)
                              AS DECIMAL(18,6)) AS logodds6
                  FROM dist2),
            prior AS (SELECT CAST(ROUND(ln(
                             (SUM(CASE WHEN y THEN 1 ELSE 0 END) + 1)
                             / (SUM(CASE WHEN y THEN 0 ELSE 1 END) + 1)), 6)
                             AS DECIMAL(18,6)) AS prior6
                      FROM base WHERE is_train),
            pd AS (SELECT doc_id, y, bkt, CAST(COUNT(*) AS BIGINT) AS n_occ
                   FROM bkt WHERE NOT is_train GROUP BY 1, 2, 3),
            sc AS (SELECT doc_id, y, SUM(n_occ * logodds6) AS s
                   FROM pd JOIN w USING (bkt) GROUP BY 1, 2)
            SELECT y AS label, (s + prior6 > 0) AS predicted,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM sc CROSS JOIN prior
            GROUP BY 1, 2
        """,
        "sql_frontend_window_funcs": SQL_WINDOW_FUNCS_SQL,
        "sql_frontend_recursive": SQL_RECURSIVE_SQL,
        "sql_frontend_lateral": SQL_LATERAL_SQL,
        "nb_calibration": f"""
            WITH aug AS (SELECT doc_id,
                                (doc_id % {CLF_LABEL_MOD} = 0) AS y,
                                CASE WHEN doc_id % {CLF_LABEL_MOD} = 0
                                     THEN text
                                          || ' mq' || (doc_id % {CLF_MARKER_MOD})
                                          || ' mq' || (doc_id % {CLF_MARKER_MOD})
                                          || ' mq' || (doc_id % {CLF_MARKER_MOD})
                                     ELSE text END AS text
                         FROM documents),
            base AS (SELECT doc_id, y,
                            (substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                             < '{SPLIT_TRAIN_LT}') AS is_train,
                            {TOKS_SQL} AS ts
                     FROM aug),
            bkt AS (SELECT doc_id, y, is_train, substr(md5(w), 1, 3) AS bkt
                    FROM (SELECT doc_id, y, is_train, unnest(ts) AS w
                          FROM base)),
            tc AS (SELECT bkt,
                          CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                              AS c_pos,
                          CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT)
                              AS c_neg
                   FROM bkt WHERE is_train GROUP BY bkt),
            allb AS (SELECT printf('%03x', i) AS bkt
                     FROM range({CLF_BUCKETS}) t(i)),
            dist AS (SELECT a.bkt, COALESCE(c_pos, 0) AS c_pos,
                            COALESCE(c_neg, 0) AS c_neg
                     FROM allb a LEFT JOIN tc USING (bkt)),
            dist2 AS (SELECT bkt, c_pos, c_neg,
                             SUM(c_pos) OVER () AS n_pos,
                             SUM(c_neg) OVER () AS n_neg
                      FROM dist),
            w AS (SELECT bkt,
                         CAST(ROUND(ln((c_pos + {CLF_SMOOTH_K})
                              / (n_pos + {CLF_SMOOTH_K} * {CLF_BUCKETS}))
                              - ln((c_neg + {CLF_SMOOTH_K})
                              / (n_neg + {CLF_SMOOTH_K} * {CLF_BUCKETS})), 6)
                              AS DECIMAL(18,6)) AS logodds6
                  FROM dist2),
            prior AS (SELECT CAST(ROUND(ln(
                             (SUM(CASE WHEN y THEN 1 ELSE 0 END) + 1)
                             / (SUM(CASE WHEN y THEN 0 ELSE 1 END) + 1)), 6)
                             AS DECIMAL(18,6)) AS prior6
                      FROM base WHERE is_train),
            pd AS (SELECT doc_id, y, bkt, CAST(COUNT(*) AS BIGINT) AS n_occ
                   FROM bkt WHERE NOT is_train GROUP BY 1, 2, 3),
            sc AS (SELECT doc_id, y, SUM(n_occ * logodds6) AS s
                   FROM pd JOIN w USING (bkt) GROUP BY 1, 2),
            scored AS (SELECT doc_id, y, s + prior6 AS score6
                       FROM sc CROSS JOIN prior),
            ext AS (SELECT MIN(score6) AS lo, MAX(score6) AS hi FROM scored),
            bn AS (SELECT y, score6,
                          CAST(CASE WHEN hi = lo THEN 0
                               ELSE LEAST({CAL_BINS - 1},
                                    CAST(FLOOR((CAST(score6 AS DOUBLE)
                                         - CAST(lo AS DOUBLE))
                                         / ((CAST(hi AS DOUBLE)
                                            - CAST(lo AS DOUBLE))
                                            / {CAL_BINS})) AS INT))
                               END AS INT) AS bin
                   FROM scored CROSS JOIN ext)
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos,
                   ROUND(CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
                         / COUNT(*), 4) AS pos_rate_r,
                   ROUND(CAST(SUM(score6) AS DOUBLE) / COUNT(*), 4) + 0.0
                       AS mean_score_r
            FROM bn GROUP BY bin
        """,
        "quality_ensemble": f"""
            WITH sig AS (SELECT doc_id,
                                CAST(len(ts) AS BIGINT) AS s1,
                                CAST(ROUND(n_chars / CAST(len(ts) AS BIGINT),
                                     4) AS DECIMAL(18,4)) AS s2,
                                CAST(ROUND(CAST(len(list_distinct(ts))
                                     AS BIGINT) / CAST(len(ts) AS BIGINT), 4)
                                     AS DECIMAL(18,4)) AS s3
                         FROM (SELECT doc_id, n_chars, {TOKS_SQL} AS ts
                               FROM documents)
                         WHERE len(ts) > 0),
            m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(SUM(s1) AS DECIMAL(38,8)) AS t1,
                         CAST(SUM(s1 * s1) AS DECIMAL(38,8)) AS q1,
                         CAST(SUM(s2) AS DECIMAL(38,8)) AS t2,
                         CAST(SUM(s2 * s2) AS DECIMAL(38,8)) AS q2,
                         CAST(SUM(s3) AS DECIMAL(38,8)) AS t3,
                         CAST(SUM(s3 * s3) AS DECIMAL(38,8)) AS q3
                  FROM sig),
            ens AS (SELECT doc_id,
                           CAST(ROUND((
                                {_ENSEMBLE_Z_SQL('s1', 't1', 'q1')}
                                + {_ENSEMBLE_Z_SQL('s2', 't2', 'q2')}
                                + {_ENSEMBLE_Z_SQL('s3', 't3', 'q3')}
                                ) / 3, 4) AS DECIMAL(18,4)) AS ens4
                    FROM sig CROSS JOIN m),
            rk AS (SELECT doc_id, ens4,
                          CAST(ROW_NUMBER() OVER (ORDER BY ens4 DESC, doc_id)
                               - 1 AS BIGINT) AS pos,
                          CAST(COUNT(*) OVER () AS BIGINT) AS n_total
                   FROM ens)
            SELECT doc_id, CAST(ens4 AS DOUBLE) + 0.0 AS ensemble_z, pos,
                   (pos * {ENSEMBLE_KEEP_DEN} < n_total * {ENSEMBLE_KEEP_NUM})
                       AS selected
            FROM rk
        """,
        "kn_perplexity": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            bg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
                   FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
                         FROM toks WHERE len(ts) >= 2)),
            dc AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n_occ
                   FROM bg GROUP BY 1, 2, 3),
            c12 AS (SELECT w1, w2, CAST(SUM(n_occ) AS BIGINT) AS c12
                    FROM dc GROUP BY 1, 2),
            c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                          CAST(COUNT(*) AS BIGINT) AS n1f
                   FROM c12 GROUP BY 1),
            bwd AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
                    FROM c12 GROUP BY 1),
            tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM c12),
            model AS (SELECT b.w1, b.w2,
                             CAST(ROUND(ln((GREATEST(b.c12 - {KN_DISCOUNT},
                                  0.0) + {KN_DISCOUNT} * c.n1f
                                  * (d.n1b / tt.t_types)) / c.c1), 6)
                                  AS DECIMAL(18,6)) AS logp6
                      FROM c12 b JOIN c1 c ON c.w1 = b.w1
                      JOIN bwd d ON d.w2 = b.w2 CROSS JOIN tt),
            agg AS (SELECT d.doc_id,
                           CAST(SUM(d.n_occ) AS BIGINT) AS n_bigrams,
                           CAST(-SUM(d.n_occ * m.logp6) * 1000000 AS BIGINT)
                               AS a,
                           CAST(SUM(d.n_occ) * 100 AS BIGINT) AS b
                    FROM dc d JOIN model m ON m.w1 = d.w1 AND m.w2 = d.w2
                    GROUP BY d.doc_id)
            SELECT doc_id, n_bigrams,
                   CAST(CAST((a - (a % b)) / b AS BIGINT)
                        + CASE WHEN 2 * (a % b) >= b THEN 1 ELSE 0 END
                        AS DOUBLE) / 10000.0 + 0.0 AS kn_nll
            FROM agg
        """,
        "url_dedup": """
            WITH u AS (SELECT doc_id,
                              'http://'
                              || CASE WHEN doc_id % 7 = 6 THEN 'u:P@' ELSE '' END
                              || 'www.crawl.example.com/Docs/Page-'
                              || (doc_id % 12)
                              || '?a=' || (doc_id % 9) || '&z=9' AS canon_url
                       FROM documents)
            SELECT doc_id, canon_url,
                   CAST(COUNT(*) OVER (PARTITION BY canon_url) AS BIGINT)
                       AS n_dups,
                   doc_id = MIN(doc_id) OVER (PARTITION BY canon_url) AS is_rep
            FROM u
        """,
        "dedup_exact": """
            SELECT doc_id, md5(text) AS content_hash,
                   CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
                        THEN 1 ELSE 0 END AS INTEGER) AS is_kept
            FROM documents
        """,
        "dedup_ngram": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
                    FROM toks WHERE len(ts) >= {NGRAM_N}),
            sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle FROM pos),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
                      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT id_a, id_b,
                   ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
            WHERE ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) >= {NGRAM_THRESHOLD}
        """,
        "dedup_prefix_filter": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, ts,
                           unnest(range(1, len(ts) - {PREFIX_N - 2})) AS i
                    FROM toks WHERE len(ts) >= {PREFIX_N}),
            sh AS (SELECT DISTINCT doc_id,
                          list_aggregate(ts[i:i+{PREFIX_N - 1}],
                                         'string_agg', ' ') AS shingle
                   FROM pos),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
                      FROM sh a JOIN sh b
                        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            -- brute force over the full inverted index: the prefix filter
            -- is exact, so the Spark side must reproduce this bit-for-bit
            SELECT id_a, id_b,
                   ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id_a
                       JOIN sizes sb ON sb.doc_id = id_b
            WHERE ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) >= {PREFIX_THRESHOLD}
        """,
        "dedup_clusters": _dedup_clusters_sql(),
        "dedup_cluster_sizes": f"""
            SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
                   CAST(COUNT(*) AS BIGINT) AS n_clusters
            FROM (SELECT cluster_id, COUNT(*) AS cluster_size
                  FROM ({_dedup_clusters_sql()}) GROUP BY cluster_id)
            GROUP BY cluster_size
        """,
        "dedup_canonical": f"""
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d
            JOIN ({_dedup_clusters_sql()}) c
              ON d.doc_id = c.doc_id AND c.doc_id = c.cluster_id
        """,
        "mad_robust": """
            WITH m AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
                       FROM lineitem GROUP BY l_returnflag),
            d AS (SELECT l.l_returnflag, m.med,
                         ABS(l.l_extendedprice - m.med) AS dev
                  FROM lineitem l JOIN m USING (l_returnflag))
            SELECT l_returnflag,
                   ROUND(MIN(med), 4) AS med_r,
                   ROUND(quantile_cont(dev, 0.5), 4) AS mad_r,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM d GROUP BY l_returnflag
        """,
        "cohort_retention": f"""
            WITH f AS (SELECT user_id, MIN(epoch_us(ts)) // {WEEK_US} AS cohort_week
                       FROM events GROUP BY user_id),
            a AS (SELECT DISTINCT user_id, epoch_us(ts) // {WEEK_US} AS week FROM events)
            SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM a JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        "label_balance": """
            WITH g AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
                       FROM embeddings GROUP BY label)
            SELECT label, n,
                   ROUND(n / CAST(SUM(n) OVER () AS DOUBLE), 4) AS share_r,
                   ROUND(n * CAST(COUNT(*) OVER () AS DOUBLE)
                         / CAST(SUM(n) OVER () AS DOUBLE), 4) AS skew_r
            FROM g
        """,
        "part_brand_share": """
            WITH g AS (
                SELECT p.p_brand,
                       SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                           * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS rev,
                       CAST(COUNT(*) AS BIGINT) AS n_lines
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                GROUP BY p.p_brand)
            SELECT p_brand,
                   CAST(rev AS DOUBLE) AS revenue,
                   n_lines,
                   ROUND(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE), 4) AS share_r
            FROM g
        """,
        "window_rank_funcs": """
            SELECT event_id, user_id, event_type,
                   RANK() OVER w AS rnk,
                   DENSE_RANK() OVER w AS drnk,
                   ROUND(CUME_DIST() OVER w, 4) AS cd_r
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY event_type)
        """,
        "regex_extract_all": """
            SELECT event_id,
                   CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_nums,
                   regexp_extract_all(props, '[0-9]+')[1] AS first_num,
                   regexp_extract_all(props, '[0-9]+')[-1] AS last_num
            FROM events
        """,
        "corpus_curate": f"""
            WITH t AS (SELECT doc_id, text, lang, {TOKS_SQL} AS toks FROM documents),
            q AS (SELECT doc_id, lang, text,
                         ROUND(least(1.0, len(toks) / 100.0) * 0.5
                               + (CASE WHEN len(toks) > 0
                                       THEN CAST(len(list_filter(toks, x -> x IN ({stop_in}))) AS DOUBLE) / len(toks)
                                       ELSE 0.0 END) * 0.5
                               - least(1.0, len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) / 50.0) * 0.25,
                               4) AS quality
                  FROM t),
            f AS (SELECT * FROM q WHERE quality >= {CURATE_QUALITY_MIN}),
            dd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                   FROM f)
            SELECT doc_id, lang, quality FROM dd
            WHERE rn = 1
              AND {pmod_100_sql(tok_sql("doc_id"))} <
                  CASE {" ".join(f"WHEN lang = '{lang}' THEN {r}" for lang, r in STRATA_RATES.items())}
                       ELSE 0 END
        """,
        "topk_similarity": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE {TOPK_QUERY_PRED}),
            s AS (SELECT q.query_id, e.vec_id,
                         ROUND(list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS score_r
                  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_r DESC, vec_id) AS rnk
                  FROM s)
            SELECT query_id, vec_id, score_r, CAST(rnk AS INTEGER) AS rank FROM r WHERE rnk <= {TOPK_K}
        """,
        "dedup_embedding": f"""
            WITH p AS (SELECT vec_id AS id_a, embedding AS ae FROM embeddings
                       WHERE vec_id % {NEAR_DUP_PROBE_MOD} = 0)
            SELECT p.id_a, e.vec_id AS id_b,
                   ROUND(list_cosine_similarity(CAST(p.ae AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS score_r
            FROM embeddings e, p WHERE p.id_a < e.vec_id
              AND ROUND(list_cosine_similarity(CAST(p.ae AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) >= {NEAR_DUP_THRESHOLD}
        """,
        "text_tokens": f"""
            SELECT word, COUNT(*) AS cnt FROM (
                SELECT unnest({TOKS_SQL}) AS word FROM documents
            ) GROUP BY word
        """,
        "sentiment_lexicon": f"""
            WITH lex(word, weight) AS (VALUES {_lex_values()}),
            toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS word FROM documents)
            SELECT t.doc_id, CAST(SUM(l.weight) AS BIGINT) AS sentiment
            FROM toks t JOIN lex l USING (word) GROUP BY t.doc_id
        """,
        "lang_id": f"""
            SELECT doc_id, {lang_id_sql('text')} AS pred_lang FROM documents
        """,
        "quality_score": f"""
            WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents)
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS n_punct,
                   CAST(len(list_filter(toks, x -> x IN ({stop_in}))) AS BIGINT) AS n_stopwords,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   ROUND(least(1.0, len(toks) / 100.0) * 0.5
                         + (CASE WHEN len(toks) > 0
                                 THEN CAST(len(list_filter(toks, x -> x IN ({stop_in}))) AS DOUBLE) / len(toks)
                                 ELSE 0.0 END) * 0.5
                         - least(1.0, len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) / 50.0) * 0.25,
                         4) AS quality
            FROM t
        """,
        "token_count": f"""
            SELECT doc_id,
                   CAST(len({TOKS_SQL}) AS BIGINT) AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
                        + len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS BIGINT) AS bpe_tokens
            FROM documents
        """,
        "doc_fingerprint": f"""
            SELECT doc_id, {FINGERPRINT_SQL.format(col='text')} AS fp FROM documents
        """,
        "tfidf": f"""
            WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS word FROM documents),
            tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
            dfreq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
                      FROM (SELECT DISTINCT doc_id, word FROM toks) GROUP BY word),
            n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
            SELECT tf.doc_id, tf.word, CAST(tf.tf AS BIGINT) AS tf,
                   ROUND(tf.tf * ln(n.n_docs / dfreq.df), 4) AS tfidf
            FROM tf JOIN dfreq USING (word) CROSS JOIN n
        """,
        "pii_scrub": """
            SELECT event_id,
                   regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed_props,
                   regexp_replace(event_type, 'error', '<ERR>', 'g') AS masked_type
            FROM events
        """,
        "asof_join": """
            SELECT t.user_id, t.event_id, epoch_us(t.ts) AS ts_us,
                   epoch_us(q.ts) AS rv_ts, q.event_id AS rv_q_id, q.value AS rv_q_value
            FROM (SELECT * FROM events WHERE event_id % 2 = 1) t
            ASOF JOIN (SELECT * FROM events WHERE event_id % 2 = 0) q
              ON t.user_id = q.user_id AND q.ts <= t.ts
        """,
        "length_percentile": """
            SELECT doc_id, n_chars, pr AS pr_r FROM (
                SELECT doc_id, n_chars,
                       ROUND(percent_rank() OVER (ORDER BY n_chars, doc_id), 4) AS pr
                FROM documents
            ) WHERE pr >= 0.05 AND pr <= 0.95
        """,
        "group_agg": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
                   ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
                   COUNT(*) AS cnt,
                   CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "join_agg_pipeline": """
            SELECT o_orderpriority,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   COUNT(*) AS n_lines,
                   CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderpriority
        """,
        "window_lag_lead": """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   lag(event_type) OVER w AS prev_type,
                   lead(event_type) OVER w AS next_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
                   CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        """,
        "date_rollup": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                   CAST(month(o_orderdate) AS BIGINT) AS mo,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
            FROM orders GROUP BY 1, 2
        """,
        "semi_anti_join": """
            SELECT c_custkey, c_mktsegment,
                   CAST(CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                        THEN 1 ELSE 0 END AS INTEGER) AS has_orders
            FROM customer c
        """,
        "embedding_stats": """
            WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings)
            SELECT vec_id,
                   CAST(len(e) AS BIGINT) AS dims,
                   ROUND(sqrt(list_sum(list_transform(e, x -> x * x))), 4) AS norm_r,
                   ROUND(list_sum(e) / len(e), 4) + 0.0 AS mean_r,
                   ROUND(list_min(e), 4) + 0.0 AS min_r,
                   ROUND(list_max(e), 4) + 0.0 AS max_r
            FROM v
        """,
        "salted_group_agg": """
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
                   ROUND(MIN(value), 4) AS min_v,
                   ROUND(MAX(value), 4) AS max_v
            FROM events GROUP BY event_type
        """,
        "bigram_doc_freq": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
                    FROM toks WHERE len(ts) >= 2),
            sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS shingle FROM pos)
            SELECT shingle, COUNT(*) AS doc_freq
            FROM sh GROUP BY shingle HAVING COUNT(*) >= 5
        """,
        "running_total": """
            SELECT o_custkey, o_orderkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w_cum AS DOUBLE) AS cum_spend,
                   CAST(ROW_NUMBER() OVER w_seq AS BIGINT) AS order_seq
            FROM orders
            WINDOW w_cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_seq AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "vocab_js_drift": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            b AS (SELECT doc_id % {JS_DRIFT_SPLIT_MOD} = 0 AS is_a,
                         substr(md5(unnest(ts)), 1, 2) AS bkt
                  FROM toks),
            dist AS (SELECT bkt,
                            CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
                            CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
                     FROM b GROUP BY bkt),
            tot AS (SELECT c_a, c_b,
                           SUM(c_a) OVER () AS n_a, SUM(c_b) OVER () AS n_b
                    FROM dist),
            js AS (SELECT n_a, n_b,
                          CAST(ROUND((
                              ((c_a + 1.0) / (n_a + {DSIR_BUCKETS}))
                                  * ln(((c_a + 1.0) / (n_a + {DSIR_BUCKETS}))
                                       / ((((c_a + 1.0) / (n_a + {DSIR_BUCKETS}))
                                           + ((c_b + 1.0) / (n_b + {DSIR_BUCKETS}))) / 2))
                              + ((c_b + 1.0) / (n_b + {DSIR_BUCKETS}))
                                  * ln(((c_b + 1.0) / (n_b + {DSIR_BUCKETS}))
                                       / ((((c_a + 1.0) / (n_a + {DSIR_BUCKETS}))
                                           + ((c_b + 1.0) / (n_b + {DSIR_BUCKETS}))) / 2))
                          ) / 2, 6) AS DECIMAL(18,6)) AS js6
                   FROM tot)
            SELECT CAST(MAX(n_a) AS BIGINT) AS n_tokens_a,
                   CAST(MAX(n_b) AS BIGINT) AS n_tokens_b,
                   CAST(ROUND(SUM(js6), 6) AS DOUBLE) + 0.0 AS js_divergence
            FROM js
        """,
        "distinct_n_diversity": f"""
            WITH toks AS (SELECT source, {TOKS_SQL} AS ts FROM documents),
            uni AS (SELECT source, unnest(ts) AS g FROM toks),
            bi AS (SELECT source, ts[i] || chr(0) || ts[i + 1] AS g
                   FROM (SELECT source, ts, unnest(range(1, len(ts))) AS i
                         FROM toks WHERE len(ts) >= 2)),
            u AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_uni,
                         CAST(COUNT(DISTINCT g) AS BIGINT) AS d_uni
                  FROM uni GROUP BY source),
            b AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bi,
                         CAST(COUNT(DISTINCT g) AS BIGINT) AS d_bi
                  FROM bi GROUP BY source)
            SELECT u.source, n_uni, d_uni, n_bi, d_bi,
                   ROUND(d_uni * 1.0 / n_uni, 4) AS distinct1_r,
                   ROUND(d_bi * 1.0 / n_bi, 4) AS distinct2_r
            FROM u JOIN b ON u.source = b.source
        """,
        "dsir_importance": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            b AS (SELECT doc_id,
                         substr(md5(unnest(ts)), 1, 2) AS bkt
                  FROM toks),
            pd AS (SELECT doc_id, bkt, CAST(COUNT(*) AS BIGINT) AS n_occ
                   FROM b GROUP BY 1, 2),
            raw AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c_r
                    FROM b GROUP BY 1),
            tgt AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c_t
                    FROM b WHERE doc_id % {DSIR_TARGET_MOD} = 0 GROUP BY 1),
            dist AS (SELECT raw.bkt,
                            COALESCE(tgt.c_t, 0) AS c_t, raw.c_r,
                            SUM(COALESCE(tgt.c_t, 0)) OVER () AS n_t,
                            SUM(raw.c_r) OVER () AS n_r
                     FROM raw LEFT JOIN tgt ON raw.bkt = tgt.bkt),
            r6 AS (SELECT bkt,
                          CAST(ROUND(ln((c_t + 1.0) / (n_t + {DSIR_BUCKETS}))
                               - ln((c_r + 1.0) / (n_r + {DSIR_BUCKETS})), 6)
                               AS DECIMAL(18,6)) AS ratio6
                   FROM dist)
            SELECT pd.doc_id,
                   CAST(SUM(pd.n_occ) AS BIGINT) AS n_feats,
                   CAST(ROUND(SUM(pd.n_occ * r6.ratio6), 4) AS DOUBLE) + 0.0
                       AS dsir_weight,
                   SUM(pd.n_occ * r6.ratio6) > 0 AS keep
            FROM pd JOIN r6 ON pd.bkt = r6.bkt
            GROUP BY pd.doc_id
        """,
        "hash_split": f"""
            SELECT doc_id, lang,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_TRAIN_LT}' THEN 'train'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{SPLIT_VAL_LT}' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "shard_balance": f"""
            WITH nt AS (SELECT doc_id, len({TOKS_SQL}) AS n_tok
                        FROM documents),
            r AS (SELECT doc_id, n_tok,
                         ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1
                             AS pos
                  FROM nt),
            s AS (SELECT pos % {SHARD_BALANCE_N} AS shard, n_tok FROM r)
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
                   ROUND(SUM(n_tok) * 1.0 / (SELECT SUM(n_tok) FROM nt), 4)
                       AS share_r
            FROM s GROUP BY shard
        """,
        "training_order_shuffle": f"""
            WITH k AS (
                SELECT doc_id,
                       md5('{TRAIN_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS skey
                FROM documents
            ), r AS (
                SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY skey, doc_id) - 1 AS BIGINT) AS pos,
                       COUNT(*) OVER () AS n
                FROM k
            )
            SELECT doc_id, pos, CAST((pos * {TRAIN_SHUFFLE_SHARDS}) // n AS INT) AS shard
            FROM r
        """,
        "doc_chunking": f"""
            SELECT doc_id,
                   CAST((i - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
                   substr(text, CAST(i AS INTEGER), {CHUNK_SIZE}) AS chunk_text,
                   CAST(strlen(substr(text, CAST(i AS INTEGER), {CHUNK_SIZE})) AS BIGINT) AS chunk_len
            FROM (SELECT doc_id, text,
                         unnest(range(1, GREATEST(n_chars, 1) + 1, {CHUNK_STRIDE})) AS i
                  FROM documents)
        """,
        "repetition_ratio": f"""
            WITH toks AS (SELECT doc_id, unnest({TOKS_SQL}) AS word FROM documents),
            per AS (SELECT doc_id, word, COUNT(*) AS cnt FROM toks GROUP BY doc_id, word),
            agg AS (SELECT doc_id,
                           CAST(SUM(cnt) AS BIGINT) AS total_toks,
                           CAST(COUNT(*) AS BIGINT) AS distinct_toks,
                           CAST(MAX(cnt) AS BIGINT) AS top_cnt
                    FROM per GROUP BY doc_id)
            SELECT doc_id, total_toks, distinct_toks,
                   ROUND(distinct_toks * 1.0 / total_toks, 4) AS ttr,
                   ROUND(top_cnt * 1.0 / total_toks, 4) AS top_frac,
                   CAST(CASE WHEN ROUND(distinct_toks * 1.0 / total_toks, 4) < 0.5
                              OR ROUND(top_cnt * 1.0 / total_toks, 4) > 0.2
                        THEN 1 ELSE 0 END AS INTEGER) AS low_quality
            FROM agg
        """,
        "stratified_sample": f"""
            WITH rated AS (
                SELECT doc_id, lang,
                       {pmod_100_sql(tok_sql('doc_id'))} AS bucket,
                       CASE {' '.join(f"WHEN lang = '{lang}' THEN {r}" for lang, r in STRATA_RATES.items())}
                            ELSE 0 END AS keep_rate
                FROM documents)
            SELECT doc_id, lang, bucket, ROUND(100.0 / keep_rate, 4) AS mix_weight
            FROM rated WHERE bucket < keep_rate
        """,
        "contamination_check": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - {CONTAM_NGRAM_N - 2})) AS i
                    FROM toks WHERE len(ts) >= {CONTAM_NGRAM_N}),
            sh AS (SELECT DISTINCT doc_id,
                          ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS shingle
                   FROM pos),
            train AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} <> 0),
            ev AS (SELECT * FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} = 0)
            SELECT ev.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS total_shingles,
                   CAST(SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS contaminated,
                   ROUND(SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS contam_rate,
                   CAST(CASE WHEN SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) > 0
                        THEN 1 ELSE 0 END AS INTEGER) AS is_contaminated
            FROM ev LEFT JOIN train t ON ev.shingle = t.shingle
            GROUP BY ev.doc_id
        """,
        "seq_packing": f"""
            WITH toks AS (
                SELECT doc_id,
                       CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard,
                       CAST(len({TOKS_SQL}) AS BIGINT) AS n_tok
                FROM documents),
            cum AS (
                SELECT doc_id, shard, n_tok,
                       CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
                FROM toks)
            SELECT doc_id, shard, n_tok,
                   CAST((cum_tok - n_tok) // {PACK_BIN_TOKENS} AS BIGINT) AS bin_id,
                   CAST((cum_tok - n_tok) % {PACK_BIN_TOKENS} AS BIGINT) AS bin_offset
            FROM cum
        """,
        "embedding_quantize": """
            WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
            s AS (SELECT vec_id, e, GREATEST(list_max(e), -list_min(e)) AS scale FROM v),
            q AS (SELECT vec_id, scale,
                         list_transform(e, x -> CAST(floor(x * 127 / scale + 0.5) AS BIGINT)) AS qv
                  FROM s)
            SELECT vec_id,
                   ROUND(scale, 4) AS scale_r,
                   CAST(list_sum(qv) AS BIGINT) AS q_sum,
                   CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
                   CAST(list_min(qv) AS BIGINT) AS q_min,
                   CAST(list_max(qv) AS BIGINT) AS q_max
            FROM q
        """,
        "json_roundtrip": """
            SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(SUM(strlen(text)) AS BIGINT) AS sum_text_len,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
            FROM documents
        """,
        "csv_roundtrip": """
            SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
                   CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
            FROM orders
        """,
        "orc_roundtrip": """
            SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flags
            FROM lineitem
        """,
        "unigram_logprob": f"""
            WITH tok AS (SELECT doc_id, unnest({TOKS_SQL}) AS word FROM documents),
            freq AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
            tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM freq)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   ROUND(AVG(-LN(cnt / total)), 4) AS avg_neg_logprob
            FROM tok JOIN freq USING (word), tot
            GROUP BY doc_id
        """,
        "window_rolling_avg": """
            SELECT event_id, user_id,
                   ROUND(AVG(value) OVER w, 4) AS roll_avg,
                   ROUND(MAX(value) OVER w, 4) AS roll_max,
                   CAST(COUNT(*) OVER w AS BIGINT) AS roll_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        """,
        "interval_join": f"""
            WITH a AS (SELECT event_id, user_id, epoch_us(ts) AS ats FROM events
                       WHERE event_type = 'signup'),
            p AS (SELECT user_id, epoch_us(ts) AS pts, value FROM events
                  WHERE event_type = 'purchase'),
            g AS (SELECT a.event_id, COUNT(*) AS cnt,
                         CAST(SUM(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE) AS sv
                  FROM a JOIN p ON a.user_id = p.user_id
                   AND p.pts > a.ats AND p.pts <= a.ats + {INTERVAL_JOIN_WINDOW_US}
                  GROUP BY a.event_id)
            SELECT a.event_id, a.user_id,
                   CAST(COALESCE(g.cnt, 0) AS BIGINT) AS n_purchases,
                   ROUND(COALESCE(g.sv, 0), 4) AS sum_value
            FROM a LEFT JOIN g USING (event_id)
        """,
        "event_sequences": """
            SELECT user_id,
                   string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id) AS seq,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        """,
        "regional_revenue": """
            SELECT n.n_name,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
            GROUP BY n.n_name
        """,
        "corr_stats": """
            WITH m AS (
                SELECT l_returnflag,
                       CAST(COUNT(*) AS DOUBLE) AS n,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sx,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sy,
                       CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
                       CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
                       CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS syy
                FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
                   ROUND((n * sxy - sx * sy)
                         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS corr_r,
                   ROUND((sxy - sx * sy / n) / (n - 1), 4) AS covar_r
            FROM m
        """,
        "grouping_sets_agg": """
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS cnt,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        "time_gap_fill": """
            WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr FROM events),
            b AS (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM e),
            hours AS (SELECT UNNEST(range(mn, mx + 1)) AS hr FROM b),
            types AS (SELECT DISTINCT event_type FROM e),
            cnts AS (SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS cnt
                     FROM e GROUP BY 1, 2)
            SELECT t.event_type, h.hr, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS n_events
            FROM hours h CROSS JOIN types t
            LEFT JOIN cnts c ON c.event_type = t.event_type AND c.hr = h.hr
        """,
        "ewma_smooth": _ewma_sql(),
        "unpivot_metrics": """
            SELECT metric,
                   CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (
                SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
                UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
                UNION ALL SELECT 'l_discount', l_discount FROM lineitem
                UNION ALL SELECT 'l_tax', l_tax FROM lineitem
            ) GROUP BY metric
        """,
        "quota_cap": f"""
            SELECT doc_id, source, pick FROM (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY {tok_sql("doc_id")}, doc_id) AS pick
                FROM documents)
            WHERE pick <= {QUOTA_PER_SOURCE}
        """,
        "vocab_topk": f"""
            WITH c AS (
                SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
                    SELECT unnest({TOKS_SQL}) AS word FROM documents
                ) GROUP BY word HAVING COUNT(*) >= {VOCAB_MIN_COUNT})
            SELECT word, cnt, vocab_id FROM (
                SELECT word, cnt,
                       ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS vocab_id
                FROM c)
            WHERE vocab_id <= {VOCAB_SIZE}
        """,
        "user_entropy": """
            WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
                       FROM events GROUP BY 1, 2)
            SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
                   ROUND(ln(CAST(SUM(c) AS DOUBLE))
                         - SUM(c * ln(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE), 4) AS entropy_r
            FROM c GROUP BY user_id
        """,
        "latest_event": """
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
                   ROUND(value, 4) AS value_r
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                               ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "anomaly_zscore": f"""
            WITH s AS (SELECT user_id,
                              CAST(COUNT(*) AS DOUBLE) AS n,
                              CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE) AS sx,
                              CAST(SUM(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE) AS sxx
                       FROM events GROUP BY user_id),
            st AS (SELECT user_id, sx / n AS mean,
                          sqrt((sxx - sx * sx / n) / (n - 1)) AS std FROM s)
            SELECT e.event_id, e.user_id, ROUND(e.value, 4) AS value_r,
                   ROUND((e.value - st.mean) / st.std, 4) AS z_r
            FROM events e JOIN st USING (user_id)
            WHERE ABS((e.value - st.mean) / st.std) > {ZSCORE_THRESHOLD}
        """,
        "decile_assign": """
            SELECT doc_id, n_chars,
                   1 + ((ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1) * 10)
                       // COUNT(*) OVER () AS decile
            FROM documents
        """,
        "partitioned_sink_prune": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(38,8))) AS DOUBLE), 4) AS sum_value_r,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events WHERE event_type = 'click'
        """,
        "cube_agg": """
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS cnt,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
                   CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "value_histogram": """
            SELECT CAST(FLOOR(value / 25) * 25 AS BIGINT) AS bucket,
                   COUNT(*) AS cnt,
                   ROUND(MIN(value), 4) AS min_v,
                   ROUND(MAX(value), 4) AS max_v
            FROM events GROUP BY 1
        """,
        "funnel_ordered_stages": """
            WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
                       FROM events),
            w1 AS (SELECT user_id, event_type, us,
                          MIN(CASE WHEN event_type = 'view' THEN us END)
                              OVER (PARTITION BY user_id) AS v
                   FROM e),
            w2 AS (SELECT user_id, event_type, us, v,
                          MIN(CASE WHEN event_type = 'click' AND us > v
                                   THEN us END)
                              OVER (PARTITION BY user_id) AS c
                   FROM w1),
            w3 AS (SELECT user_id, v, c,
                          MIN(CASE WHEN event_type = 'purchase' AND us > c
                                   THEN us END)
                              OVER (PARTITION BY user_id) AS p
                   FROM w2),
            per AS (SELECT user_id, MIN(v) AS v, MIN(c) AS c, MIN(p) AS p
                    FROM w3 GROUP BY user_id),
            a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
                         CAST(COUNT(v) AS BIGINT) AS n1,
                         CAST(COUNT(c) AS BIGINT) AS n2,
                         CAST(COUNT(p) AS BIGINT) AS n3
                  FROM per)
            SELECT CAST(0 AS INT) AS stage_idx, 'all_users' AS stage,
                   n0 AS n_users,
                   ROUND(CAST(n0 AS DOUBLE) / NULLIF(n0, 0), 4)
                       AS conv_from_prev_r,
                   ROUND(CAST(n0 AS DOUBLE) / NULLIF(n0, 0), 4)
                       AS conv_from_top_r
            FROM a
            UNION ALL SELECT CAST(1 AS INT), 'view', n1,
                   ROUND(CAST(n1 AS DOUBLE) / NULLIF(n0, 0), 4),
                   ROUND(CAST(n1 AS DOUBLE) / NULLIF(n0, 0), 4) FROM a
            UNION ALL SELECT CAST(2 AS INT), 'click', n2,
                   ROUND(CAST(n2 AS DOUBLE) / NULLIF(n1, 0), 4),
                   ROUND(CAST(n2 AS DOUBLE) / NULLIF(n0, 0), 4) FROM a
            UNION ALL SELECT CAST(3 AS INT), 'purchase', n3,
                   ROUND(CAST(n3 AS DOUBLE) / NULLIF(n2, 0), 4),
                   ROUND(CAST(n3 AS DOUBLE) / NULLIF(n0, 0), 4) FROM a
        """,
        "funnel_conversion": """
            WITH per_user AS (
                SELECT user_id,
                       MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS first_signup,
                       MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS last_purchase
                FROM events GROUP BY user_id
            ),
            flags AS (
                SELECT user_id,
                       CAST(first_signup IS NOT NULL AS INTEGER) AS signed,
                       CAST(first_signup IS NOT NULL AND last_purchase IS NOT NULL
                            AND last_purchase >= first_signup AS INTEGER) AS converted
                FROM per_user
            )
            SELECT COUNT(*) AS n_users,
                   CAST(SUM(signed) AS BIGINT) AS n_signed,
                   CAST(SUM(converted) AS BIGINT) AS n_converted,
                   ROUND(SUM(converted) * 1.0 / SUM(signed), 4) AS conv_rate
            FROM flags
        """,
        "profile_table": """
            SELECT COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
                   CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_status,
                   ROUND(MIN(o_totalprice), 4) AS min_price,
                   ROUND(MAX(o_totalprice), 4) AS max_price,
                   CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
                   CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
            FROM orders
        """,
        "pivot_events": f"""
            SELECT user_id,
                   {', '.join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in EVENT_TYPES)}
            FROM events GROUP BY user_id
        """,
        "rollup_agg": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "set_ops": """
            SELECT DISTINCT o_custkey AS custkey FROM orders
            EXCEPT
            SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        """,
        "quantiles": """
            SELECT l_returnflag,
                   ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
                   ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90,
                   ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS price_p99
            FROM lineitem GROUP BY l_returnflag
        """,
        "ranking_topk": """
            SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
                FROM orders
            ) WHERE rnk <= 3
        """,
        "window_tumbling": """
            SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_us,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY 1
        """,
        "window_sliding": """
            WITH e AS (SELECT epoch_us(ts) AS us, user_id, value FROM events),
            x AS (
                SELECT (us // 3600000000) * 3600000000 AS window_start_us, user_id, value FROM e
                UNION ALL
                SELECT ((us // 3600000000) - 1) * 3600000000 AS window_start_us, user_id, value FROM e
            )
            SELECT window_start_us,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM x GROUP BY 1
        """,
        "window_session": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,4)) AS v FROM events),
            l AS (SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
            f AS (SELECT *, CASE WHEN prev IS NULL OR us - prev >= 1800000000 THEN 1 ELSE 0 END AS new_s FROM l),
            g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                             ROWS UNBOUNDED PRECEDING) AS sid FROM f)
            SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events,
                   CAST(SUM(v) AS DOUBLE) AS sum_value
            FROM g GROUP BY user_id, sid
        """,
        "boilerplate_ngrams": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            pos AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
                    FROM toks WHERE len(ts) >= 3),
            sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
                   FROM pos),
            b AS (SELECT shingle FROM sh GROUP BY shingle
                  HAVING COUNT(*) >= {BOILERPLATE_MIN_DF})
            SELECT sh.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS total_shingles,
                   CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS boiler_shingles,
                   ROUND(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS boiler_ratio,
                   CAST(CASE WHEN ROUND(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
                                  > {BOILERPLATE_FLAG_RATIO} THEN 1 ELSE 0 END AS INTEGER) AS drop_flag
            FROM sh LEFT JOIN b ON sh.shingle = b.shingle
            GROUP BY sh.doc_id
        """,
        "chunk_dedup": f"""
            WITH ch AS (
                SELECT doc_id,
                       CAST((i - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
                       md5(substr(text, CAST(i AS INTEGER), {CHUNK_SIZE})) AS h
                FROM (SELECT doc_id, text,
                             unnest(range(1, GREATEST(n_chars, 1) + 1, {CHUNK_STRIDE})) AS i
                      FROM documents)),
            r AS (SELECT doc_id,
                         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
                  FROM ch)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS total_chunks,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
                   ROUND(1.0 - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS dup_ratio
            FROM r GROUP BY doc_id
        """,
        "winsorize_clamp": f"""
            WITH b AS (
                SELECT o_orderpriority,
                       ROUND(quantile_cont(o_totalprice, {WINSOR_LO}), 4) AS lo,
                       ROUND(quantile_cont(o_totalprice, {WINSOR_HI}), 4) AS hi
                FROM orders GROUP BY o_orderpriority)
            SELECT o.o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(b.lo) AS lo,
                   MIN(b.hi) AS hi,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS raw_sum,
                   CAST(SUM(CAST(LEAST(GREATEST(o.o_totalprice, b.lo), b.hi) AS DECIMAL(18,4))) AS DOUBLE) AS clamped_sum,
                   CAST(SUM(CASE WHEN o.o_totalprice < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_floor,
                   CAST(SUM(CASE WHEN o.o_totalprice > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_ceil
            FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority
            GROUP BY o.o_orderpriority
        """,
    }
