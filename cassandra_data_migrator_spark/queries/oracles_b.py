"""DuckDB oracle SQL chunk (oracles_b)."""

from __future__ import annotations

from cassandra_data_migrator_spark.queries._shared import (  # noqa: F401
    COVERAGE_PERCENT,
    GUARDRAIL_MAX_BYTES,
    KMEANS_K,
    KN_OOV_MOD,
    MIGRATE_FILTER,
    NGRAM_N,
    NGRAM_THRESHOLD,
    NUM_SLICES,
    SKIP_PREDICATE,
    SPLIT_TRAIN_LT,
    STOPWORDS,
    TOKEN_RANGE,
    TOKS_SQL,
    TOPK_K,
    TOPK_QUERY_PRED,
    TTL_PROPS_SQL,
    TTL_VALUE_SQL,
    WRITETIME_INCREMENT_US,
    WRITETIME_MAX_US,
    WRITETIME_MIN_US,
    WRITETIME_PROPS_SQL,
    WRITETIME_VALUE_SQL,
    pmod_100_sql,
    slice_id_sql,
    tok_sql,
)
from cassandra_data_migrator_spark.queries.core import (  # noqa: F401
    TRACK_FAILED,
    TRACK_PENDING,
    TRACK_SLICES,
)
from cassandra_data_migrator_spark.queries.analytics import (  # noqa: F401
    LINE_TOKENS,
    SCD2_DATES,
    _retrieval_eval_sql,
)
from cassandra_data_migrator_spark.queries.multimodal_keys import (  # noqa: F401
    EDIT_DISTANCE_MAX,
    EDIT_DISTANCE_PREFIX,
    JPEGC_BW,
    JPEGC_MAX_BH,
    JPEGS_MAX_MH,
    JPEGS_MW,
    JPEG_BW,
    JPEG_MAX_BH,
    PNG_MAX_H,
    PNG_W,
    PPM_MAX_H,
    PPM_RESIZE_FACTOR,
    PPM_W,
    Y4M_FRAMES,
    Y4M_FRAME_BYTES,
    Y4M_H,
    Y4M_SAMPLE_EVERY,
    Y4M_SAMP_FRAMES,
    Y4M_W,
)
from cassandra_data_migrator_spark.queries.lm_quality import (  # noqa: F401
    BACKFILL_DROP_MOD,
    BPE_AUDIT_MERGES,
    COMPACT_FRAGMENT_FILES,
    COMPACT_TARGET_ROWS,
    DOMAIN_MAX_DUP_R,
    DOMAIN_MIN_DOCS,
    DOMAIN_SITES,
    DOMAIN_TLDS,
    HH_THRESHOLD_FRAC,
    KN_DISCOUNT,
    KS_ALPHA_C,
    KS_BINS,
    _ENSEMBLE_Z_SQL,
)
from cassandra_data_migrator_spark.queries.ann_pq import (  # noqa: F401
    BLOOM_DEDUP_BATCH_MOD,
    BLOOM_DEDUP_CLONE_MOD,
    BLOOM_DEDUP_CLONE_SHIFT,
    CURATION_BUDGET,
    CURATION_SHARDS,
    JL_DIM_OUT,
    JL_HASH_MOD,
    JL_HASH_MULT,
    JL_I_MULT,
    JL_J_MULT,
    JL_PAIR_MOD,
    PQ_BLOCKS,
    PQ_CODES,
    SQ_LEVELS,
)
from cassandra_data_migrator_spark.queries.late_keys import (  # noqa: F401
    CHURN_EDIT_MOD,
    DHASH_BANDS,
    DHASH_BAND_BITS,
    DHASH_HAM_MAX,
    DHASH_HAM_MOD,
    DHASH_HAM_SHIFT,
    DHASH_TWIN_MOD,
    DHASH_TWIN_SHIFT,
    KSAMPLE_K,
    KSAMPLE_SEED,
    ZORDER_SCALE,
)


def oracles_b() -> dict[str, str]:
    tok_o = tok_sql("o_orderkey")
    wt = f"greatest({WRITETIME_VALUE_SQL}, {WRITETIME_PROPS_SQL})"
    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    zx = f"((user_id - mnx) * {ZORDER_SCALE}) // (mxx - mnx + 1)"
    zy = f"((epoch_us(ts) - mny) * {ZORDER_SCALE}) // (mxy - mny + 1)"
    return {
        # The resize contract: every pooled 2x2 block recomputed from the
        # same bytes — row/col/channel from the char position, SUM // 4
        # per block, stats over the pooled values.
        "multimodal_resize": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            dim AS (SELECT doc_id, s,
                           LEAST({PPM_MAX_H},
                                 CAST(LENGTH(s) // {PPM_W * 3} AS INT)) AS h
                    FROM san),
            ok AS (SELECT doc_id, s, h FROM dim
                   WHERE h >= {PPM_RESIZE_FACTOR}),
            b AS (SELECT doc_id, h,
                         unnest(range(1,
                             2 * (h // 2) * {PPM_W * 3} + 1)) AS i, s
                  FROM ok),
            v AS (SELECT doc_id, h,
                         CAST((i - 1) // {PPM_W * 3} AS INT) // 2 AS orow,
                         CAST(((i - 1) % {PPM_W * 3}) // 3 AS INT) // 2 AS ocol,
                         CAST((i - 1) % 3 AS INT) AS ch,
                         ord(substr(s, CAST(i AS INT), 1)) AS val
                  FROM b),
            blk AS (SELECT doc_id, h, orow, ocol, ch,
                           SUM(val) // 4 AS pooled
                    FROM v GROUP BY doc_id, h, orow, ocol, ch)
            SELECT doc_id AS media_id,
                   CAST({PPM_W} AS INT) AS in_w,
                   CAST(h AS INT) AS in_h,
                   CAST({PPM_W // PPM_RESIZE_FACTOR} AS INT) AS out_w,
                   CAST(h // 2 AS INT) AS out_h,
                   CAST(SUM(CASE WHEN ch = 0 THEN pooled ELSE 0 END) AS BIGINT) AS r_sum,
                   CAST(SUM(CASE WHEN ch = 1 THEN pooled ELSE 0 END) AS BIGINT) AS g_sum,
                   CAST(SUM(CASE WHEN ch = 2 THEN pooled ELSE 0 END) AS BIGINT) AS b_sum,
                   CAST(MIN(pooled) AS INT) AS px_min,
                   CAST(MAX(pooled) AS INT) AS px_max,
                   ROUND(SUM(CASE WHEN ch = 0 THEN pooled ELSE 0 END) * 1.0
                         / ({PPM_W // PPM_RESIZE_FACTOR} * (h // 2)), 4) AS r_mean_r,
                   ROUND(SUM(CASE WHEN ch = 1 THEN pooled ELSE 0 END) * 1.0
                         / ({PPM_W // PPM_RESIZE_FACTOR} * (h // 2)), 4) AS g_mean_r,
                   ROUND(SUM(CASE WHEN ch = 2 THEN pooled ELSE 0 END) * 1.0
                         / ({PPM_W // PPM_RESIZE_FACTOR} * (h // 2)), 4) AS b_mean_r
            FROM blk GROUP BY doc_id, h
        """,
        # The video-decoder contract: same mechanism again — the four luma
        # planes are the first 64 sanitized chars, 1 byte/char, and each
        # char's frame index is its position // 16.
        "multimodal_video": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            ok AS (SELECT doc_id, s FROM san
                   WHERE LENGTH(s) >= {Y4M_FRAMES * Y4M_FRAME_BYTES}),
            b AS (SELECT doc_id,
                         unnest(range(1, {Y4M_FRAMES * Y4M_FRAME_BYTES} + 1)) AS i, s
                  FROM ok),
            v AS (SELECT doc_id,
                         CAST((i - 1) // {Y4M_FRAME_BYTES} AS INT) AS f,
                         ord(substr(s, CAST(i AS INT), 1)) AS val
                  FROM b)
            SELECT doc_id AS media_id,
                   CAST({Y4M_W} AS INT) AS width,
                   CAST({Y4M_H} AS INT) AS height,
                   CAST({Y4M_FRAMES} AS INT) AS n_frames,
                   CAST(SUM(val) AS BIGINT) AS px_sum,
                   CAST(MIN(val) AS INT) AS px_min,
                   CAST(MAX(val) AS INT) AS px_max,
                   ROUND(SUM(val) * 1.0 / {Y4M_FRAMES * Y4M_FRAME_BYTES}, 4)
                       AS px_mean_r,
                   CAST({Y4M_SAMP_FRAMES} AS INT) AS samp_frames,
                   CAST(SUM(CASE WHEN f % {Y4M_SAMPLE_EVERY} = 0
                                 THEN val ELSE 0 END) AS BIGINT) AS samp_sum,
                   ROUND(SUM(CASE WHEN f % {Y4M_SAMPLE_EVERY} = 0
                                  THEN val ELSE 0 END) * 1.0
                         / {Y4M_SAMP_FRAMES * Y4M_FRAME_BYTES}, 4) AS samp_mean_r
            FROM v GROUP BY doc_id
        """,
        # The decoder contract: DuckDB re-slices the SAME pixel bytes the
        # Spark side feeds the PPM parser (payload pixel section = first
        # 12h chars of the printable-ASCII-sanitized text, 1 byte/char).
        "multimodal_decode": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            dim AS (SELECT doc_id, s,
                           LEAST({PPM_MAX_H},
                                 CAST(LENGTH(s) // {PPM_W * 3} AS INT)) AS h
                    FROM san),
            ok AS (SELECT doc_id, s, h FROM dim WHERE h >= 1),
            b AS (SELECT doc_id, h,
                         unnest(range(1, h * {PPM_W * 3} + 1)) AS i, s
                  FROM ok),
            v AS (SELECT doc_id, h, i,
                         ord(substr(s, CAST(i AS INT), 1)) AS val
                  FROM b)
            SELECT doc_id AS media_id,
                   CAST({PPM_W} AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(255 AS INT) AS maxval,
                   CAST({PPM_W} * h AS BIGINT) AS n_pix,
                   CAST(SUM(CASE WHEN (i-1)%3=0 THEN val ELSE 0 END) AS BIGINT) AS r_sum,
                   CAST(SUM(CASE WHEN (i-1)%3=1 THEN val ELSE 0 END) AS BIGINT) AS g_sum,
                   CAST(SUM(CASE WHEN (i-1)%3=2 THEN val ELSE 0 END) AS BIGINT) AS b_sum,
                   ROUND(SUM(CASE WHEN (i-1)%3=0 THEN val ELSE 0 END) * 1.0
                         / ({PPM_W} * h), 4) AS r_mean,
                   ROUND(SUM(CASE WHEN (i-1)%3=1 THEN val ELSE 0 END) * 1.0
                         / ({PPM_W} * h), 4) AS g_mean,
                   ROUND(SUM(CASE WHEN (i-1)%3=2 THEN val ELSE 0 END) * 1.0
                         / ({PPM_W} * h), 4) AS b_mean
            FROM v GROUP BY doc_id, h
        """,
        # The PNG roundtrip oracle: DuckDB re-slices the ORIGINAL text
        # bytes (never sees a PNG), so the Spark side's deflate → inflate
        # → all-five-filter reconstruction must be byte-exact to match.
        # JPEG roundtrip oracle: DuckDB re-slices the ORIGINAL text bytes
        # (never sees a JPEG); each byte is one flat 8x8 block, so pixel
        # stats derive analytically (64 pixels per block at the byte value).
        "multimodal_exif": """
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            ok AS (SELECT doc_id, substr(s, 1, 8) AS make
                   FROM san WHERE LENGTH(s) >= 8)
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END
                       AS byte_order,
                   CAST(1 + doc_id % 8 AS INT) AS orientation,
                   CAST(72 + (doc_id % 4) * 72 AS DOUBLE) AS xres,
                   make,
                   CAST(3 AS INT) AS n_entries
            FROM ok
        """,
        "multimodal_jpeg_420": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            dim AS (SELECT doc_id, s,
                           LEAST({JPEGS_MAX_MH},
                                 CAST(LENGTH(s) // {JPEGS_MW * 3} AS INT)) AS mh
                    FROM san),
            ok AS (SELECT doc_id, s, mh FROM dim WHERE mh >= 1),
            mcu AS (SELECT doc_id, mh,
                           ord(substr(s, CAST(3 * m + 1 AS INT), 1)) AS y,
                           ord(substr(s, CAST(3 * m + 2 AS INT), 1)) - 128 AS cb,
                           ord(substr(s, CAST(3 * m + 3 AS INT), 1)) - 128 AS cr
                    FROM (SELECT doc_id, mh, s,
                                 unnest(range(0, mh * {JPEGS_MW})) AS m
                          FROM ok)),
            -- floor(x + 0.5) on IEEE doubles, same association order as the
            -- kernel; explicit DOUBLE casts keep DuckDB out of exact DECIMAL
            px AS (SELECT doc_id, mh,
                          GREATEST(0, LEAST(255, CAST(FLOOR(
                              CAST(y AS DOUBLE)
                              + CAST(1.402 AS DOUBLE) * cr + 0.5) AS INT)))
                              AS r,
                          GREATEST(0, LEAST(255, CAST(FLOOR(
                              CAST(y AS DOUBLE)
                              - CAST(0.344136 AS DOUBLE) * cb
                              - CAST(0.714136 AS DOUBLE) * cr + 0.5) AS INT)))
                              AS g,
                          GREATEST(0, LEAST(255, CAST(FLOOR(
                              CAST(y AS DOUBLE)
                              + CAST(1.772 AS DOUBLE) * cb + 0.5) AS INT)))
                              AS b
                   FROM mcu)
            SELECT doc_id AS media_id,
                   CAST({JPEGS_MW} * 16 AS INT) AS width,
                   CAST(mh * 16 AS INT) AS height,
                   CAST({JPEGS_MW} * 16 * mh * 16 AS BIGINT) AS n_pix,
                   CAST(256 * SUM(r) AS BIGINT) AS r_sum,
                   CAST(256 * SUM(g) AS BIGINT) AS g_sum,
                   CAST(256 * SUM(b) AS BIGINT) AS b_sum,
                   CAST(LEAST(MIN(r), MIN(g), MIN(b)) AS INT) AS rgb_min,
                   CAST(GREATEST(MAX(r), MAX(g), MAX(b)) AS INT) AS rgb_max,
                   ROUND(256.0 * SUM(r) / ({JPEGS_MW} * 16 * mh * 16), 4) AS r_mean,
                   ROUND(256.0 * SUM(g) / ({JPEGS_MW} * 16 * mh * 16), 4) AS g_mean,
                   ROUND(256.0 * SUM(b) / ({JPEGS_MW} * 16 * mh * 16), 4) AS b_mean
            FROM px GROUP BY doc_id, mh
        """,
        "multimodal_jpeg_color": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            dim AS (SELECT doc_id, s,
                           LEAST({JPEGC_MAX_BH},
                                 CAST(LENGTH(s) // {JPEGC_BW * 3} AS INT)) AS bh
                    FROM san),
            ok AS (SELECT doc_id, s, bh FROM dim WHERE bh >= 1),
            blk AS (SELECT doc_id, bh,
                           ord(substr(s, CAST(3 * b + 1 AS INT), 1)) AS y,
                           ord(substr(s, CAST(3 * b + 2 AS INT), 1)) - 128 AS cb,
                           ord(substr(s, CAST(3 * b + 3 AS INT), 1)) - 128 AS cr
                    FROM (SELECT doc_id, bh, s,
                                 unnest(range(0, bh * {JPEGC_BW})) AS b
                          FROM ok)),
            -- floor(x + 0.5) on IEEE doubles, same association order as the
            -- kernel; explicit DOUBLE casts keep DuckDB out of exact DECIMAL
            px AS (SELECT doc_id, bh,
                          GREATEST(0, LEAST(255, CAST(FLOOR(
                              CAST(y AS DOUBLE)
                              + CAST(1.402 AS DOUBLE) * cr + 0.5) AS INT)))
                              AS r,
                          GREATEST(0, LEAST(255, CAST(FLOOR(
                              CAST(y AS DOUBLE)
                              - CAST(0.344136 AS DOUBLE) * cb
                              - CAST(0.714136 AS DOUBLE) * cr + 0.5) AS INT)))
                              AS g,
                          GREATEST(0, LEAST(255, CAST(FLOOR(
                              CAST(y AS DOUBLE)
                              + CAST(1.772 AS DOUBLE) * cb + 0.5) AS INT)))
                              AS b
                   FROM blk)
            SELECT doc_id AS media_id,
                   CAST({JPEGC_BW} * 8 AS INT) AS width,
                   CAST(bh * 8 AS INT) AS height,
                   CAST({JPEGC_BW} * 8 * bh * 8 AS BIGINT) AS n_pix,
                   CAST(64 * SUM(r) AS BIGINT) AS r_sum,
                   CAST(64 * SUM(g) AS BIGINT) AS g_sum,
                   CAST(64 * SUM(b) AS BIGINT) AS b_sum,
                   CAST(LEAST(MIN(r), MIN(g), MIN(b)) AS INT) AS rgb_min,
                   CAST(GREATEST(MAX(r), MAX(g), MAX(b)) AS INT) AS rgb_max,
                   ROUND(64.0 * SUM(r) / ({JPEGC_BW} * 8 * bh * 8), 4) AS r_mean,
                   ROUND(64.0 * SUM(g) / ({JPEGC_BW} * 8 * bh * 8), 4) AS g_mean,
                   ROUND(64.0 * SUM(b) / ({JPEGC_BW} * 8 * bh * 8), 4) AS b_mean
            FROM px GROUP BY doc_id, bh
        """,
        "multimodal_jpeg": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            dim AS (SELECT doc_id, s,
                           LEAST({JPEG_MAX_BH},
                                 CAST(LENGTH(s) // {JPEG_BW} AS INT)) AS bh
                    FROM san),
            ok AS (SELECT doc_id, s, bh FROM dim WHERE bh >= 1),
            b AS (SELECT doc_id, bh,
                         ord(substr(s, CAST(i AS INT), 1)) AS val
                  FROM (SELECT doc_id, bh, s,
                               unnest(range(1, bh * {JPEG_BW} + 1)) AS i
                        FROM ok))
            SELECT doc_id AS media_id,
                   CAST({JPEG_BW} * 8 AS INT) AS width,
                   CAST(bh * 8 AS INT) AS height,
                   CAST({JPEG_BW} * 8 * bh * 8 AS BIGINT) AS n_pix,
                   CAST(64 * SUM(val) AS BIGINT) AS px_sum,
                   CAST(MIN(val) AS INT) AS px_min,
                   CAST(MAX(val) AS INT) AS px_max,
                   ROUND(64.0 * SUM(val) / ({JPEG_BW} * 8 * bh * 8), 4)
                       AS px_mean
            FROM b GROUP BY doc_id, bh
        """,
        "multimodal_png": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            dim AS (SELECT doc_id, s,
                           LEAST({PNG_MAX_H},
                                 CAST(LENGTH(s) // {PNG_W * 3} AS INT)) AS h
                    FROM san),
            ok AS (SELECT doc_id, s, h FROM dim WHERE h >= 1),
            b AS (SELECT doc_id, h,
                         unnest(range(1, h * {PNG_W * 3} + 1)) AS i, s
                  FROM ok),
            v AS (SELECT doc_id, h, i,
                         ord(substr(s, CAST(i AS INT), 1)) AS val
                  FROM b)
            SELECT doc_id AS media_id,
                   CAST({PNG_W} AS INT) AS width,
                   CAST(h AS INT) AS height,
                   CAST(8 AS INT) AS depth,
                   CAST({PNG_W} * h AS BIGINT) AS n_pix,
                   CAST(SUM(CASE WHEN (i-1)%3=0 THEN val ELSE 0 END) AS BIGINT) AS r_sum,
                   CAST(SUM(CASE WHEN (i-1)%3=1 THEN val ELSE 0 END) AS BIGINT) AS g_sum,
                   CAST(SUM(CASE WHEN (i-1)%3=2 THEN val ELSE 0 END) AS BIGINT) AS b_sum,
                   ROUND(SUM(CASE WHEN (i-1)%3=0 THEN val ELSE 0 END) * 1.0
                         / ({PNG_W} * h), 4) AS r_mean,
                   ROUND(SUM(CASE WHEN (i-1)%3=1 THEN val ELSE 0 END) * 1.0
                         / ({PNG_W} * h), 4) AS g_mean,
                   ROUND(SUM(CASE WHEN (i-1)%3=2 THEN val ELSE 0 END) * 1.0
                         / ({PNG_W} * h), 4) AS b_mean
            FROM v GROUP BY doc_id, h
        """,
        # Exact BPE-apply recomputation: the fixture pairs are character-
        # disjoint and non-chaining (see BPE_AUDIT_MERGES), so greedy apply
        # == independent leftmost non-overlapping replacement per pair, and
        # per-word tokens = len + 1 − Σ occurrences (REPLACE length trick).
        "bpe_apply_audit": f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            w AS (SELECT doc_id, unnest(ts) AS word FROM toks),
            per AS (SELECT doc_id,
                           LENGTH(word) + 1
                           {' '.join(
                               f"- (LENGTH(word) - LENGTH(REPLACE(word, '{a}{b}', ''))) / 2"
                               for a, b in BPE_AUDIT_MERGES
                           )} AS n
                    FROM w)
            SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bpe_tokens
            FROM per GROUP BY doc_id
        """,
        "length_bucketing": f"""
            WITH nt AS (SELECT len({TOKS_SQL}) AS n_tok FROM documents),
            b AS (SELECT n_tok,
                         CASE WHEN n_tok <= 16 THEN 16
                              WHEN n_tok <= 32 THEN 32
                              WHEN n_tok <= 64 THEN 64
                              WHEN n_tok <= 128 THEN 128
                              WHEN n_tok <= 256 THEN 256
                              WHEN n_tok <= 512 THEN 512
                              WHEN n_tok <= 1024 THEN 1024
                              WHEN n_tok <= 2048 THEN 2048
                              WHEN n_tok <= 4096 THEN 4096
                              ELSE 8192 END AS bucket
                  FROM nt)
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
                   CAST(bucket * COUNT(*) AS BIGINT) AS capacity,
                   ROUND(1.0 - SUM(n_tok) / (bucket * COUNT(*)), 4) AS waste_r
            FROM b GROUP BY bucket
        """,
        "backfill_overwrite": f"""
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(event_id) AS BIGINT) AS sum_event_id
            FROM events
            WHERE event_type <> 'purchase'
               OR event_id % {BACKFILL_DROP_MOD} <> 0
            GROUP BY event_type
        """,
        "file_compaction": f"""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
                   CAST({COMPACT_FRAGMENT_FILES} AS BIGINT) AS n_files_before,
                   CAST(CEIL(COUNT(*) * 1.0 / {COMPACT_TARGET_ROWS}) AS BIGINT)
                       AS n_files_after
            FROM events
        """,
        "hll_distinct_audit": """
            SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
                   TRUE AS hll_ok
            FROM events GROUP BY event_type
        """,
        "quantile_sketch_audit": """
            SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n,
                   TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
            FROM events GROUP BY event_type
        """,
        "heavy_hitters_audit": f"""
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
                   TRUE AS found_ok, TRUE AS est_ok
            FROM events GROUP BY user_id
            HAVING COUNT(*) >= CEIL({HH_THRESHOLD_FRAC}
                                    * (SELECT COUNT(*) FROM events))
        """,
        "graph_triangles": f"""
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
                      WHERE ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) >= {NGRAM_THRESHOLD})
            SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM pairs e1 JOIN pairs e2 ON e1.id_b = e2.id_a
                          JOIN pairs e3 ON e1.id_a = e3.id_a AND e2.id_b = e3.id_b
        """,
        "edit_distance_pairs": f"""
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
                      WHERE ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) >= {NGRAM_THRESHOLD}),
            pref AS (SELECT doc_id, substr(text, 1, {EDIT_DISTANCE_PREFIX}) AS prefix
                     FROM documents)
            SELECT p.id_a, p.id_b,
                   CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_dist
            FROM pairs p JOIN pref a ON a.doc_id = p.id_a JOIN pref b ON b.doc_id = p.id_b
            WHERE levenshtein(a.prefix, b.prefix) <= {EDIT_DISTANCE_MAX}
        """,
        "graph_degree": f"""
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
                      WHERE ROUND(ni * 1.0 / (sa.n + sb.n - ni), 4) >= {NGRAM_THRESHOLD}),
            ends AS (SELECT id_a AS doc_id FROM pairs
                     UNION ALL SELECT id_b AS doc_id FROM pairs)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM ends GROUP BY doc_id
        """,
        "extract_json": """
            SELECT event_id, json_extract_string(props, '$.k') AS k_str,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
            FROM events
        """,
        "explode_map": """
            SELECT e.event_id, k AS prop_key,
                   CAST(json_extract_string(e.props, '$.' || k) AS BIGINT) AS prop_value
            FROM events e, unnest(json_keys(e.props)) AS t(k)
        """,
        "writetime_compute": f"""
            SELECT event_id, {wt} + {WRITETIME_INCREMENT_US} AS writetime FROM events
        """,
        "ttl_compute": f"""
            SELECT event_id, greatest({TTL_VALUE_SQL}, {TTL_PROPS_SQL}) AS ttl FROM events
        """,
        "where_filter": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'
        """,
        "token_range_filter": f"""
            SELECT o_orderkey, {tok_o} AS token FROM orders
            WHERE {tok_o} >= {TOKEN_RANGE[0]} AND {tok_o} <= {TOKEN_RANGE[1]}
        """,
        "percent_coverage_filter": f"""
            SELECT o_orderkey, {pmod_100_sql(tok_o)} AS token_mod FROM orders
            WHERE {pmod_100_sql(tok_o)} < {COVERAGE_PERCENT}
        """,
        "writetime_filter": f"""
            SELECT event_id, {wt} AS writetime FROM events
            WHERE {wt} >= {WRITETIME_MIN_US} AND {wt} <= {WRITETIME_MAX_US}
        """,
        "column_value_skip_filter": """
            SELECT o_orderkey, o_orderpriority FROM orders
            WHERE POSITION('URGENT' IN o_orderpriority) = 0
        """,
        "validate_diff": """
            WITH target AS (
                SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey % 101 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
                       o_totalprice, o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 97 <> 0
            )
            SELECT o.o_orderkey,
                   CASE WHEN t.o_orderkey IS NULL THEN 'missing'
                        WHEN o.o_custkey IS DISTINCT FROM t.o_custkey
                          OR o.o_orderstatus IS DISTINCT FROM t.o_orderstatus
                          OR o.o_totalprice IS DISTINCT FROM t.o_totalprice
                          OR o.o_orderdate IS DISTINCT FROM t.o_orderdate
                          OR o.o_orderpriority IS DISTINCT FROM t.o_orderpriority THEN 'mismatch'
                        ELSE 'valid' END AS status,
                   CASE WHEN t.o_orderkey IS NULL THEN '' ELSE concat_ws(',',
                        CASE WHEN o.o_custkey IS DISTINCT FROM t.o_custkey THEN 'o_custkey' END,
                        CASE WHEN o.o_orderstatus IS DISTINCT FROM t.o_orderstatus THEN 'o_orderstatus' END,
                        CASE WHEN o.o_totalprice IS DISTINCT FROM t.o_totalprice THEN 'o_totalprice' END,
                        CASE WHEN o.o_orderdate IS DISTINCT FROM t.o_orderdate THEN 'o_orderdate' END,
                        CASE WHEN o.o_orderpriority IS DISTINCT FROM t.o_orderpriority THEN 'o_orderpriority' END
                   ) END AS mismatch_cols
            FROM orders o LEFT JOIN target t USING (o_orderkey)
            WHERE t.o_orderkey IS NULL
               OR o.o_custkey IS DISTINCT FROM t.o_custkey
               OR o.o_orderstatus IS DISTINCT FROM t.o_orderstatus
               OR o.o_totalprice IS DISTINCT FROM t.o_totalprice
               OR o.o_orderdate IS DISTINCT FROM t.o_orderdate
               OR o.o_orderpriority IS DISTINCT FROM t.o_orderpriority
        """,
        # Tier-2 sampled diff: the same damage model restricted to the
        # deterministic mod-10 sample on BOTH sides, rolled up with 1/frac
        # extrapolation.
        "validate_diff_sampled": """
            WITH o AS (SELECT * FROM orders WHERE o_orderkey % 10 = 3),
            t AS (
                SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey % 101 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
                       o_totalprice, o_orderdate, o_orderpriority
                FROM o WHERE o_orderkey % 97 <> 0
            ),
            d AS (
                SELECT CASE WHEN t.o_orderkey IS NULL THEN 'missing'
                            WHEN o.o_custkey IS DISTINCT FROM t.o_custkey
                              OR o.o_orderstatus IS DISTINCT FROM t.o_orderstatus
                              OR o.o_totalprice IS DISTINCT FROM t.o_totalprice
                              OR o.o_orderdate IS DISTINCT FROM t.o_orderdate
                              OR o.o_orderpriority IS DISTINCT FROM t.o_orderpriority THEN 'mismatch'
                            ELSE 'valid' END AS status
                FROM o LEFT JOIN t USING (o_orderkey)
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS sampled_rows,
                   CAST(SUM(CASE WHEN status = 'missing' THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
                   CAST(SUM(CASE WHEN status = 'mismatch' THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
                   CAST(SUM(CASE WHEN status = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
                   CAST(SUM(CASE WHEN status = 'missing' THEN 1 ELSE 0 END) * 10 AS BIGINT) AS est_total_missing,
                   CAST(SUM(CASE WHEN status = 'mismatch' THEN 1 ELSE 0 END) * 10 AS BIGINT) AS est_total_mismatch
            FROM d
        """,
        "autocorrect_missing": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority
            FROM orders WHERE o_orderkey % 97 = 0
        """,
        "counter_delta": """
            WITH o AS (SELECT user_id, SUM(CAST(value AS DECIMAL(18,4))) AS s
                       FROM events GROUP BY user_id),
                 t AS (SELECT user_id, SUM(CAST(value AS DECIMAL(18,4))) AS s
                       FROM events WHERE event_id % 5 <> 0 GROUP BY user_id)
            SELECT o.user_id, CAST(o.s - COALESCE(t.s, 0) AS DOUBLE) AS delta
            FROM o LEFT JOIN t ON o.user_id = t.user_id
            WHERE o.s - COALESCE(t.s, 0) <> 0
        """,
        "guardrail_colsize": f"""
            SELECT doc_id, col_name, col_bytes FROM (
                SELECT doc_id, 'text' AS col_name, CAST(strlen(text) AS BIGINT) AS col_bytes FROM documents
                UNION ALL
                SELECT doc_id, 'lang', CAST(strlen(lang) AS BIGINT) FROM documents
                UNION ALL
                SELECT doc_id, 'source', CAST(strlen(source) AS BIGINT) FROM documents
            ) WHERE col_bytes > {GUARDRAIL_MAX_BYTES}
        """,
        "job_counters": f"""
            SELECT COUNT(*) AS read_cnt,
                   CAST(SUM(CASE WHEN {SKIP_PREDICATE} THEN 1 ELSE 0 END) AS BIGINT) AS skipped_cnt,
                   CAST(SUM(CASE WHEN NOT ({SKIP_PREDICATE}) THEN 1 ELSE 0 END) AS BIGINT) AS written_cnt
            FROM orders
        """,
        "partition_slices": f"""
            SELECT {slice_id_sql('token', NUM_SLICES)} AS slice_id, COUNT(*) AS row_cnt,
                   MIN(token) AS min_token, MAX(token) AS max_token
            FROM (SELECT {tok_o} AS token FROM orders)
            GROUP BY 1
        """,
        "migrate_rowcount": f"""
            SELECT COUNT(*) AS written_cnt FROM orders WHERE {MIGRATE_FILTER}
        """,
        "run_tracking_resume": f"""
            WITH st AS (
                SELECT CAST(range AS BIGINT) AS slice_id,
                       CASE WHEN range IN ({", ".join(map(str, TRACK_FAILED))}) THEN 'failed'
                            WHEN range IN ({", ".join(map(str, TRACK_PENDING))}) THEN 'pending'
                            ELSE 'passed' END AS status
                FROM range({TRACK_SLICES})
            ),
            o AS (
                SELECT {slice_id_sql('token', TRACK_SLICES)} AS slice_id, COUNT(*) AS cnt
                FROM (SELECT {tok_sql("o_orderkey")} AS token FROM orders)
                GROUP BY 1
            )
            SELECT st.slice_id, st.status,
                   CAST(CASE WHEN st.status <> 'passed' THEN COALESCE(o.cnt, 0)
                        ELSE 0 END AS BIGINT) AS resume_rows
            FROM st LEFT JOIN o USING (slice_id)
        """,
        "pq_recall_audit": f"""
            SELECT CAST({TOPK_K} AS BIGINT) * (SELECT COUNT(*) FROM embeddings
                                               WHERE {TOPK_QUERY_PRED})
                       AS n_brute,
                   CAST({PQ_BLOCKS * PQ_CODES} AS BIGINT) AS n_codewords,
                   TRUE AS recall_ok
        """,
        "retrieval_eval": _retrieval_eval_sql(),
        "codec_vector": """
            SELECT vec_id,
                   CAST(len(embedding) AS INT) AS n_dims,
                   CAST(4 * len(embedding) AS INT) AS n_bytes,
                   CAST(embedding[1] AS DOUBLE) AS first_r,
                   CAST(embedding[len(embedding)] AS DOUBLE) AS last_r,
                   CAST(list_min(embedding) AS DOUBLE) AS min_r,
                   CAST(list_max(embedding) AS DOUBLE) AS max_r
            FROM embeddings
        """,
        "seq_align_diff": """
            WITH dst AS (SELECT user_id, ts, event_id,
                                CASE WHEN event_id % 97 = 0 THEN 'error'
                                     ELSE event_type END AS event_type
                         FROM events WHERE event_id % 89 <> 0),
            s AS (SELECT user_id,
                         substr(string_agg(substr(event_type, 1, 1), ''
                                           ORDER BY ts, event_id),
                                1, 128) AS seq,
                         COUNT(*) AS n
                  FROM events GROUP BY user_id),
            d AS (SELECT user_id,
                         substr(string_agg(substr(event_type, 1, 1), ''
                                           ORDER BY ts, event_id),
                                1, 128) AS seq,
                         COUNT(*) AS n
                  FROM dst GROUP BY user_id)
            SELECT user_id,
                   CAST(COALESCE(s.n, 0) AS INT) AS n_src,
                   CAST(COALESCE(d.n, 0) AS INT) AS n_dst,
                   CAST(levenshtein(COALESCE(s.seq, ''),
                                    COALESCE(d.seq, '')) AS INT)
                       AS edit_distance,
                   ROUND(jaro_winkler_similarity(COALESCE(s.seq, ''),
                                                 COALESCE(d.seq, '')), 4)
                       AS jw_r
            FROM s FULL OUTER JOIN d USING (user_id)
        """,
        "scd2_history": f"""
            WITH snaps AS (
                SELECT 1 AS version, c_custkey AS custkey,
                       CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
                       c_mktsegment AS segment
                FROM customer
                UNION ALL
                SELECT 2, c_custkey,
                       CAST(c_acctbal + CASE WHEN c_custkey % 97 = 0
                                             THEN 100.0 ELSE 0.0 END
                            AS DECIMAL(18,2)),
                       CASE WHEN c_custkey % 89 = 0 THEN 'CHURNED'
                            ELSE c_mktsegment END
                FROM customer WHERE c_custkey % 101 <> 0
                UNION ALL
                SELECT 3, c_custkey,
                       CAST(c_acctbal + CASE WHEN c_custkey % 97 = 0
                                             THEN 200.0 ELSE 0.0 END
                            AS DECIMAL(18,2)),
                       CASE WHEN c_custkey % 53 = 0 THEN 'VIP'
                            WHEN c_custkey % 89 = 0 THEN 'CHURNED'
                            ELSE c_mktsegment END
                FROM customer
            ),
            vs AS (SELECT * FROM (VALUES
                       (1, DATE '{SCD2_DATES[0]}'),
                       (2, DATE '{SCD2_DATES[1]}'),
                       (3, DATE '{SCD2_DATES[2]}')) v(version, eff)),
            grid AS (SELECT k.custkey, v.version, v.eff
                     FROM (SELECT DISTINCT c_custkey AS custkey
                           FROM customer) k, vs v),
            state AS (SELECT g.custkey, g.version, g.eff, s.bal, s.segment,
                             CASE WHEN s.segment IS NULL THEN 'ABSENT'
                                  ELSE CAST(s.bal AS VARCHAR) || '|'
                                       || s.segment END AS fp
                      FROM grid g LEFT JOIN snaps s
                        ON s.custkey = g.custkey AND s.version = g.version),
            chg AS (SELECT * FROM (
                        SELECT *, LAG(fp) OVER (PARTITION BY custkey
                                                ORDER BY version) AS prev_fp
                        FROM state)
                    WHERE prev_fp IS NULL OR fp <> prev_fp),
            closed AS (SELECT *, LEAD(eff) OVER (PARTITION BY custkey
                                                 ORDER BY version) AS valid_to
                       FROM chg)
            SELECT custkey, CAST(bal AS DOUBLE) AS acctbal, segment,
                   strftime(eff, '%Y-%m-%d') AS valid_from,
                   strftime(valid_to, '%Y-%m-%d') AS valid_to,
                   (valid_to IS NULL) AS is_current
            FROM closed WHERE fp <> 'ABSENT'
        """,
        "agg_incremental_merge": """
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                        AS DECIMAL(18,4)) AS DOUBLE) AS sum_price,
                   CAST(MIN(CAST(o_totalprice AS DECIMAL(18,4)))
                        AS DOUBLE) AS min_price,
                   CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4)))
                        AS DOUBLE) AS max_price,
                   ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                              AS DECIMAL(18,4)) AS DOUBLE) / COUNT(*), 4)
                       AS avg_price
            -- full recompute from scratch: the Spark side must reproduce it
            -- from the standing history partials + the delta-only scan
            FROM orders GROUP BY 1, 2
        """,
        "sq8_recall_audit": f"""
            SELECT CAST({TOPK_K} AS BIGINT) * (SELECT COUNT(*) FROM embeddings
                                               WHERE {TOPK_QUERY_PRED})
                       AS n_brute,
                   CAST({SQ_LEVELS + 1} AS BIGINT) AS n_levels,
                   TRUE AS recall_ok
        """,
        "sq8_recall_clustered": f"""
            SELECT CAST({TOPK_K} AS BIGINT) * (SELECT COUNT(*) FROM embeddings
                                               WHERE {TOPK_QUERY_PRED})
                       AS n_brute,
                   CAST({SQ_LEVELS + 1} AS BIGINT) AS n_levels,
                   TRUE AS recall_ok
        """,
        "pq_recall_clustered": f"""
            SELECT CAST({TOPK_K} AS BIGINT) * (SELECT COUNT(*) FROM embeddings
                                               WHERE {TOPK_QUERY_PRED})
                       AS n_brute,
                   CAST({PQ_BLOCKS * PQ_CODES} AS BIGINT) AS n_codewords,
                   TRUE AS recall_ok
        """,
        "jl_projection_audit": f"""
            WITH mat AS (SELECT j, i,
                                CAST((j * {JL_J_MULT} + i * {JL_I_MULT})
                                     * {JL_HASH_MULT}
                                     % {JL_HASH_MOD} AS DOUBLE)
                                    / {JL_HASH_MOD} - 0.5 AS p
                         FROM (SELECT unnest(range(0, {JL_DIM_OUT})) AS j),
                              (SELECT unnest(range(0, 64)) AS i)),
            xe AS (SELECT vec_id, i,
                          CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) AS xv
                   FROM embeddings,
                        (SELECT unnest(range(0, 64)) AS i)),
            y AS (SELECT vec_id, j,
                         CAST(CAST(SUM(CAST(xv * p AS DECIMAL(28,12)))
                              AS DECIMAL(38,12)) AS DOUBLE) AS yj
                  FROM xe JOIN mat USING (i) GROUP BY vec_id, j),
            pa AS (SELECT vec_id AS id_a FROM embeddings
                   WHERE {TOPK_QUERY_PRED}),
            pb AS (SELECT vec_id AS id_b FROM embeddings
                   WHERE vec_id % {JL_PAIR_MOD} = 0
                     AND NOT ({TOPK_QUERY_PRED})),
            dx AS (SELECT a.id_a, b.id_b,
                          CAST(SUM(CAST((xa.xv - xb.xv) * (xa.xv - xb.xv)
                               AS DECIMAL(28,12))) AS DECIMAL(38,12)) AS dx2
                   FROM pa a, pb b, xe xa, xe xb
                   WHERE xa.vec_id = a.id_a AND xb.vec_id = b.id_b
                     AND xb.i = xa.i
                   GROUP BY a.id_a, b.id_b),
            dy AS (SELECT a.id_a, b.id_b,
                          CAST(SUM(CAST((ya.yj - yb.yj) * (ya.yj - yb.yj)
                               AS DECIMAL(28,12))) AS DECIMAL(38,12)) AS dy2
                   FROM pa a, pb b, y ya, y yb
                   WHERE ya.vec_id = a.id_a AND yb.vec_id = b.id_b
                     AND yb.j = ya.j
                   GROUP BY a.id_a, b.id_b)
            SELECT id_a, id_b,
                   ROUND(CAST(dx2 AS DOUBLE), 4) AS dx2_r,
                   ROUND((CAST(dy2 AS DOUBLE) * 12.0)
                         / (CAST(dx2 AS DOUBLE) * {float(JL_DIM_OUT)}), 4)
                       + 0.0 AS distortion_r
            FROM dx JOIN dy USING (id_a, id_b)
        """,
        "ivfadc_residual_recall_audit": f"""
            SELECT CAST({TOPK_K} AS BIGINT) * (SELECT COUNT(*) FROM embeddings
                                               WHERE {TOPK_QUERY_PRED})
                       AS n_brute,
                   CAST({PQ_BLOCKS * PQ_CODES} AS BIGINT) AS n_codewords,
                   CAST({KMEANS_K} AS BIGINT) AS n_cells,
                   TRUE AS recall_ok
        """,
        "ivfadc_residual_recall_clustered": f"""
            SELECT CAST({TOPK_K} AS BIGINT) * (SELECT COUNT(*) FROM embeddings
                                               WHERE {TOPK_QUERY_PRED})
                       AS n_brute,
                   CAST({PQ_BLOCKS * PQ_CODES} AS BIGINT) AS n_codewords,
                   CAST({KMEANS_K} AS BIGINT) AS n_cells,
                   TRUE AS recall_ok
        """,
        "pq_ivf_recall_audit": f"""
            SELECT CAST({TOPK_K} AS BIGINT) * (SELECT COUNT(*) FROM embeddings
                                               WHERE {TOPK_QUERY_PRED})
                       AS n_brute,
                   CAST({PQ_BLOCKS * PQ_CODES} AS BIGINT) AS n_codewords,
                   CAST({KMEANS_K} AS BIGINT) AS n_cells,
                   TRUE AS recall_ok
        """,
        "pq_ivf_recall_clustered": f"""
            SELECT CAST({TOPK_K} AS BIGINT) * (SELECT COUNT(*) FROM embeddings
                                               WHERE {TOPK_QUERY_PRED})
                       AS n_brute,
                   CAST({PQ_BLOCKS * PQ_CODES} AS BIGINT) AS n_codewords,
                   CAST({KMEANS_K} AS BIGINT) AS n_cells,
                   TRUE AS recall_ok
        """,
        "kn_holdout_perplexity": f"""
            WITH aug AS (SELECT doc_id,
                                (substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                                 < '{SPLIT_TRAIN_LT}') AS is_train,
                                CASE WHEN NOT (substr(md5(CAST(doc_id AS
                                          VARCHAR)), 1, 2)
                                          < '{SPLIT_TRAIN_LT}')
                                      AND doc_id % {KN_OOV_MOD} = 0
                                     THEN text || ' zqa zqb'
                                     ELSE text END AS text
                         FROM documents),
            t AS (SELECT doc_id, is_train, {TOKS_SQL} AS ts FROM aug),
            bg AS (SELECT doc_id, is_train, ts[i] AS w1, ts[i + 1] AS w2
                   FROM (SELECT doc_id, is_train, ts,
                                unnest(range(1, len(ts))) AS i
                         FROM t WHERE len(ts) >= 2)),
            c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
                    FROM bg WHERE is_train GROUP BY 1, 2),
            c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                          CAST(COUNT(*) AS BIGINT) AS n1f
                   FROM c12 GROUP BY 1),
            bwd AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
                    FROM c12 GROUP BY 1),
            tot AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c12)
                               AS t_types,
                           (SELECT CAST(COUNT(DISTINCT w) AS BIGINT)
                            FROM (SELECT unnest(ts) AS w FROM t
                                  WHERE is_train)) AS v_train),
            dc AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n_occ
                   FROM bg WHERE NOT is_train GROUP BY 1, 2, 3),
            sc AS (SELECT d.doc_id, d.n_occ,
                          CAST(ROUND(ln(CASE WHEN c.c1 IS NOT NULL
                               THEN (GREATEST(COALESCE(m.c12, 0)
                                      - {KN_DISCOUNT}, 0.0)
                                     + {KN_DISCOUNT} * c.n1f
                                     * ((COALESCE(b.n1b, 0) + 1)
                                        / (tot.t_types + tot.v_train + 1)))
                                    / c.c1
                               ELSE (COALESCE(b.n1b, 0) + 1)
                                    / (tot.t_types + tot.v_train + 1) END),
                               6) AS DECIMAL(18,6)) AS logp6,
                          CAST(CASE WHEN m.c12 IS NULL THEN d.n_occ
                               ELSE 0 END AS BIGINT) AS n_backoff
                   FROM dc d
                   LEFT JOIN c12 m ON m.w1 = d.w1 AND m.w2 = d.w2
                   LEFT JOIN c1 c ON c.w1 = d.w1
                   LEFT JOIN bwd b ON b.w2 = d.w2
                   CROSS JOIN tot),
            agg AS (SELECT doc_id,
                           CAST(SUM(n_occ) AS BIGINT) AS n_bigrams,
                           CAST(SUM(n_backoff) AS BIGINT) AS n_backoff,
                           CAST(-SUM(n_occ * logp6) * 1000000 AS BIGINT) AS a,
                           CAST(SUM(n_occ) * 100 AS BIGINT) AS b
                    FROM sc GROUP BY doc_id)
            SELECT doc_id, n_bigrams, n_backoff,
                   CAST(CAST((a - (a % b)) / b AS BIGINT)
                        + CASE WHEN 2 * (a % b) >= b THEN 1 ELSE 0 END
                        AS DOUBLE) / 10000.0 + 0.0 AS holdout_nll
            FROM agg
        """,
        "curation_pipeline": f"""
            WITH d AS (SELECT doc_id, text FROM documents),
            corpus AS (SELECT doc_id, text FROM d
                       WHERE doc_id % {BLOOM_DEDUP_BATCH_MOD} != 0),
            batch AS (SELECT doc_id, text FROM d
                      WHERE doc_id % {BLOOM_DEDUP_BATCH_MOD} = 0
                      UNION ALL
                      SELECT doc_id + {BLOOM_DEDUP_CLONE_SHIFT}, text
                      FROM corpus WHERE doc_id % {BLOOM_DEDUP_CLONE_MOD} = 0),
            dom AS (SELECT doc_id, text,
                           'site' || (doc_id % {DOMAIN_SITES}) || '.example-'
                           || (doc_id % {DOMAIN_TLDS}) || '.com' AS domain
                    FROM batch),
            gate AS (SELECT domain
                     FROM (SELECT domain, COUNT(*) AS n,
                                  COUNT(DISTINCT md5(text)) AS nd
                           FROM dom GROUP BY domain)
                     WHERE n >= {DOMAIN_MIN_DOCS} AND 5 * (n - nd) <= n),
            gated AS (SELECT doc_id, text FROM dom JOIN gate USING (domain)),
            canon AS (SELECT doc_id, text,
                             'http://'
                             || CASE WHEN doc_id % 7 = 6 THEN 'u:P@' ELSE '' END
                             || 'www.crawl.example.com/Docs/Page-' || (doc_id % 12)
                             || '?a=' || (doc_id % 9) || '&z=9' AS cu
                      FROM gated),
            reps AS (SELECT doc_id, text
                     FROM (SELECT doc_id, text,
                                  doc_id = MIN(doc_id) OVER (PARTITION BY cu)
                                      AS is_rep
                           FROM canon)
                     WHERE is_rep),
            surv AS (SELECT doc_id, text FROM reps
                     WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)),
            sig AS (SELECT doc_id,
                           CAST(len(ts) AS BIGINT) AS s1,
                           CAST(ROUND(length(text) / CAST(len(ts) AS BIGINT),
                                4) AS DECIMAL(18,4)) AS s2,
                           CAST(ROUND(CAST(len(list_distinct(ts)) AS BIGINT)
                                / CAST(len(ts) AS BIGINT), 4)
                                AS DECIMAL(18,4)) AS s3
                    FROM (SELECT doc_id, text, {TOKS_SQL} AS ts FROM surv)
                    WHERE len(ts) > 0),
            m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                         CAST(SUM(s1) AS DECIMAL(38,8)) AS t1,
                         CAST(SUM(s1 * s1) AS DECIMAL(38,8)) AS q1,
                         CAST(SUM(s2) AS DECIMAL(38,8)) AS t2,
                         CAST(SUM(s2 * s2) AS DECIMAL(38,8)) AS q2,
                         CAST(SUM(s3) AS DECIMAL(38,8)) AS t3,
                         CAST(SUM(s3 * s3) AS DECIMAL(38,8)) AS q3
                  FROM sig),
            scored AS (SELECT doc_id, s1 AS n_tok,
                              CAST(ROUND((
                                   {_ENSEMBLE_Z_SQL('s1', 't1', 'q1')}
                                   + {_ENSEMBLE_Z_SQL('s2', 't2', 'q2')}
                                   + {_ENSEMBLE_Z_SQL('s3', 't3', 'q3')}
                                   ) / 3, 4) AS DECIMAL(18,4)) AS ens4
                       FROM sig CROSS JOIN m),
            sel AS (SELECT doc_id, n_tok
                    FROM (SELECT doc_id, n_tok,
                                 SUM(n_tok) OVER (ORDER BY ens4 DESC, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
                          FROM scored)
                    WHERE cum <= {CURATION_BUDGET}),
            rk AS (SELECT n_tok,
                          ROW_NUMBER() OVER (ORDER BY n_tok DESC, doc_id) - 1
                              AS pos
                   FROM sel),
            per AS (SELECT CAST(pos % {CURATION_SHARDS} AS BIGINT) AS shard,
                           CAST(COUNT(*) AS BIGINT) AS n_docs,
                           CAST(SUM(n_tok) AS BIGINT) AS sum_tok
                    FROM rk GROUP BY 1),
            tot AS (SELECT CAST(SUM(sum_tok) AS BIGINT) AS t FROM per)
            SELECT shard, n_docs, sum_tok,
                   ROUND(CAST(sum_tok AS DOUBLE) / t, 4) AS share_r
            FROM per CROSS JOIN tot
        """,
        "bloom_corpus_dedup": f"""
            WITH corpus AS (SELECT doc_id, text FROM documents
                            WHERE doc_id % {BLOOM_DEDUP_BATCH_MOD} <> 0),
            batch AS (SELECT doc_id, text FROM documents
                      WHERE doc_id % {BLOOM_DEDUP_BATCH_MOD} = 0
                      UNION ALL
                      SELECT doc_id + {BLOOM_DEDUP_CLONE_SHIFT}, text
                      FROM corpus WHERE doc_id % {BLOOM_DEDUP_CLONE_MOD} = 0)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_batch,
                   CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM corpus c
                                              WHERE c.text = b.text)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_exact,
                   TRUE AS prefilter_subset_ok,
                   TRUE AS verify_exact_ok
            FROM batch b
        """,
        "doc_edit_churn": f"""
            WITH t AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            b AS (SELECT doc_id, ts AS ta,
                         CASE WHEN doc_id % {CHURN_EDIT_MOD} = 0
                              THEN ts[{LINE_TOKENS + 1}:len(ts)]
                              ELSE ts END AS tb
                  FROM t),
            l AS (SELECT doc_id,
                         list_distinct(list_transform(
                             range(1, len(ta) + 1, {LINE_TOKENS}),
                             p -> array_to_string(
                                 ta[p:p+{LINE_TOKENS}-1], ' '))) AS la,
                         list_distinct(list_transform(
                             range(1, len(tb) + 1, {LINE_TOKENS}),
                             p -> array_to_string(
                                 tb[p:p+{LINE_TOKENS}-1], ' '))) AS lb
                  FROM b)
            SELECT doc_id,
                   CAST(len(la) AS BIGINT) AS n_lines_a,
                   CAST(len(lb) AS BIGINT) AS n_lines_b,
                   CAST(len(list_filter(lb, x -> NOT list_contains(la, x)))
                        AS BIGINT) AS n_added,
                   CAST(len(list_filter(la, x -> NOT list_contains(lb, x)))
                        AS BIGINT) AS n_removed,
                   ROUND(len(list_intersect(la, lb))
                         / len(list_distinct(list_concat(la, lb))), 4)
                       AS line_jaccard,
                   (len(list_intersect(la, lb))
                    < len(list_distinct(list_concat(la, lb)))) AS churned
            FROM l
        """,
        "group_ksample": f"""
            SELECT doc_id, lang, CAST(rnk AS INTEGER) AS rnk FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY md5('{KSAMPLE_SEED}' || doc_id), doc_id
                       ) AS rnk
                FROM documents)
            WHERE rnk <= {KSAMPLE_K}
        """,
        "dhash_banded_near_dup": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            dim AS (SELECT doc_id, s,
                           LEAST({PPM_MAX_H},
                                 CAST(LENGTH(s) // {PPM_W * 3} AS INT)) AS h
                    FROM san),
            ok AS (SELECT doc_id, s, h FROM dim WHERE h >= 1),
            media AS (SELECT doc_id AS media_id, s, h FROM ok
                      UNION ALL
                      -- brightness twin: hash provably identical (see
                      -- dhash_near_dup) — hash the ORIGINAL bytes
                      SELECT doc_id + {DHASH_TWIN_SHIFT}, s, h FROM ok
                      WHERE doc_id % {DHASH_TWIN_MOD} = 0
                      UNION ALL
                      -- single-pixel-edit twin: first channel byte of
                      -- pixel (0,0) deterministically permuted
                      SELECT doc_id + {DHASH_HAM_SHIFT},
                             chr(((ord(substr(s, 1, 1)) - 32 + 47) % 95) + 32)
                                 || substr(s, 2),
                             h
                      FROM ok WHERE doc_id % {DHASH_HAM_MOD} = 0),
            g AS (SELECT media_id, h, s,
                         unnest(range(0, h * {PPM_W - 1})) AS b
                  FROM media),
            px AS (SELECT media_id, h, b,
                          (ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 1 AS INT), 1))
                         + ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 2 AS INT), 1))
                         + ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 3 AS INT), 1))) // 3 AS g1,
                          (ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 4 AS INT), 1))
                         + ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 5 AS INT), 1))
                         + ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 6 AS INT), 1))) // 3 AS g2
                   FROM g),
            hsh AS (SELECT media_id, h,
                           CAST(SUM(CASE WHEN g1 > g2
                                    THEN (CAST(1 AS BIGINT) << b)
                                    ELSE 0 END) AS BIGINT) AS dhash
                    FROM px GROUP BY media_id, h),
            bands AS (SELECT media_id, h, dhash,
                             unnest(range(0, {DHASH_BANDS})) AS band
                      FROM hsh WHERE h = {PPM_MAX_H}),
            bv AS (SELECT media_id, h, dhash, band,
                          (dhash // (CAST(1 AS BIGINT)
                               << CAST(band * {DHASH_BAND_BITS} AS INT)))
                              % {1 << DHASH_BAND_BITS} AS val
                   FROM bands),
            cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
                                     a.dhash AS ha, b.dhash AS hb
                     FROM bv a JOIN bv b
                       ON a.h = b.h AND a.band = b.band AND a.val = b.val
                          AND a.media_id < b.media_id)
            SELECT id_a, id_b,
                   CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(ha, hb)) <= {DHASH_HAM_MAX}
        """,
        "dhash_near_dup": f"""
            WITH san AS (SELECT doc_id,
                                regexp_replace(text, '[^ -~]', '', 'g') AS s
                         FROM documents),
            dim AS (SELECT doc_id, s,
                           LEAST({PPM_MAX_H},
                                 CAST(LENGTH(s) // {PPM_W * 3} AS INT)) AS h
                    FROM san),
            ok AS (SELECT doc_id, s, h FROM dim WHERE h >= 1),
            media AS (SELECT doc_id AS media_id, s, h FROM ok
                      UNION ALL
                      -- brightness-shifted twin: every gray is exactly +1
                      -- ((a+1)+(b+1)+(c+1))//3 == (a+b+c)//3 + 1, so every
                      -- gradient bit — and the hash — equals the base's;
                      -- the oracle therefore hashes the ORIGINAL bytes
                      SELECT doc_id + {DHASH_TWIN_SHIFT}, s, h FROM ok
                      WHERE doc_id % {DHASH_TWIN_MOD} = 0),
            g AS (SELECT media_id, h, s,
                         unnest(range(0, h * {PPM_W - 1})) AS b
                  FROM media),
            px AS (SELECT media_id, h, b,
                          (ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 1 AS INT), 1))
                         + ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 2 AS INT), 1))
                         + ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 3 AS INT), 1))) // 3 AS g1,
                          (ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 4 AS INT), 1))
                         + ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 5 AS INT), 1))
                         + ord(substr(s, CAST((b // {PPM_W - 1}) * {PPM_W * 3}
                               + (b % {PPM_W - 1}) * 3 + 6 AS INT), 1))) // 3 AS g2
                   FROM g),
            hsh AS (SELECT media_id, h,
                           CAST(SUM(CASE WHEN g1 > g2
                                    THEN (CAST(1 AS BIGINT) << b)
                                    ELSE 0 END) AS BIGINT) AS dhash
                    FROM px GROUP BY media_id, h)
            SELECT media_id, CAST(h AS INT) AS height, dhash,
                   CAST(h * {PPM_W - 1} AS INT) AS n_bits,
                   CAST(COUNT(*) OVER (PARTITION BY h, dhash) AS BIGINT)
                       AS n_dups,
                   media_id = MIN(media_id) OVER (PARTITION BY h, dhash)
                       AS is_rep
            FROM hsh
        """,
        "domain_stats": f"""
            WITH a AS (SELECT 'site' || (doc_id % {DOMAIN_SITES})
                              || '.example-' || (doc_id % {DOMAIN_TLDS})
                              || '.com' AS domain,
                              md5(text) AS h,
                              CAST(len({TOKS_SQL}) AS BIGINT) AS n_tok
                       FROM documents),
            g AS (SELECT domain,
                         CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_texts,
                         CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
                  FROM a GROUP BY domain)
            SELECT domain, n_docs, n_distinct_texts, sum_tokens,
                   ROUND(1 - n_distinct_texts / n_docs, 4) AS dup_r,
                   ROUND(sum_tokens / n_docs, 4) AS avg_tokens,
                   (n_docs >= {DOMAIN_MIN_DOCS}
                    AND ROUND(1 - n_distinct_texts / n_docs, 4)
                        <= {DOMAIN_MAX_DUP_R}) AS keep
            FROM g
        """,
        "ks_drift": f"""
            WITH e AS (SELECT event_id, value FROM events
                       WHERE value IS NOT NULL),
            ext AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM e),
            b AS (SELECT (event_id % 2 = 0) AS is_a,
                         CAST(CASE WHEN hi = lo THEN 0
                              ELSE LEAST(FLOOR((value - lo)
                                         / ((hi - lo) / {KS_BINS})),
                                         {KS_BINS - 1}) END AS INTEGER) AS bin
                  FROM e CROSS JOIN ext),
            h AS (SELECT bin,
                         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
                             AS c_a,
                         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
                             AS c_b
                  FROM b GROUP BY bin),
            c AS (SELECT SUM(c_a) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS cum_a,
                         SUM(c_b) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS cum_b,
                         SUM(c_a) OVER () AS n_a,
                         SUM(c_b) OVER () AS n_b
                  FROM h),
            m AS (SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
                         CAST(MAX(n_b) AS BIGINT) AS n_b,
                         MAX(CAST(ROUND(ABS(cum_a / n_a - cum_b / n_b), 6)
                             AS DECIMAL(18,6))) AS ks6
                  FROM c)
            SELECT n_a, n_b,
                   CAST(ks6 AS DOUBLE) + 0.0 AS ks_stat,
                   CAST(CAST(ROUND({KS_ALPHA_C} * SQRT((n_a + n_b)
                        / (n_a * n_b)), 6) AS DECIMAL(18,6)) AS DOUBLE) + 0.0
                       AS ks_threshold,
                   ks6 > CAST(ROUND({KS_ALPHA_C} * SQRT((n_a + n_b)
                        / (n_a * n_b)), 6) AS DECIMAL(18,6)) AS drifted
            FROM m
        """,
    }
