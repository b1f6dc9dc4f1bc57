"""DuckDB oracle SQL chunk (oracles_e: the WARC/HTML front door)."""

from __future__ import annotations

from cassandra_data_migrator_spark.queries.oracles_d import (  # noqa: F401
    JPEG_GRAY_ORACLE_SQL,
)
from cassandra_data_migrator_spark.functions.text import (  # noqa: F401
    SCRIPT_TOKEN_RE_RE2,
)
from cassandra_data_migrator_spark.queries.web_ingest import (  # noqa: F401
    CHARSET_PLANTS,
    ORACLE_HTML_SQL,
    WARC_GROUPS,
    WARCINFO_BLOCK,
)

# collapse(san + adversarial tail + stripped-link texts) — the expected
# visible text after a CORRECT extraction (see functions/html.py order)
_EXPECTED_TEXT = """
    trim(regexp_replace(
        san || ' x<y & "q" it''s next menu'
            || repeat(' l', CAST(doc_id % 3 AS INT)),
        '\\s+', ' ', 'g'))
"""


def oracles_e() -> dict[str, str]:
    out = _oracles_e_base()
    # identical to the warc_ingest oracle: per-record gzip changes the
    # wire CONTAINER, never the record fields
    out["warc_gzip_ingest"] = out["warc_ingest"]
    return out


def _oracles_e_base() -> dict[str, str]:
    return {
        # same pixels as multimodal_jpeg: progressive is a WIRE-format
        # change only (see oracles_d.JPEG_GRAY_ORACLE_SQL)
        "multimodal_jpeg_progressive": JPEG_GRAY_ORACLE_SQL,
        # re-derive every WARC record field from the SAME page construction
        # (never parsing a WARC): response rows per doc + one warcinfo row
        # per produced file-group
        "warc_ingest": f"""
            WITH built AS ({ORACLE_HTML_SQL}),
            http AS (
                SELECT doc_id,
                       'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
                       'Content-Type: text/html' || chr(13) || chr(10) ||
                       'Content-Length: ' || length(html) ||
                       chr(13) || chr(10) || chr(13) || chr(10) || html
                           AS http,
                       html
                FROM built)
            SELECT 'response' AS rec_type,
                   doc_id,
                   length(http) AS content_length,
                   CAST(200 AS INT) AS http_status,
                   length(html) AS payload_len,
                   md5(html) AS payload_md5
            FROM http
            UNION ALL
            SELECT 'warcinfo' AS rec_type,
                   CAST(NULL AS BIGINT) AS doc_id,
                   CAST({len(WARCINFO_BLOCK)} AS BIGINT) AS content_length,
                   CAST(NULL AS INT) AS http_status,
                   CAST({len(WARCINFO_BLOCK)} AS BIGINT) AS payload_len,
                   md5('software: cdm-spark' || chr(13) || chr(10))
                       AS payload_md5
            FROM (SELECT DISTINCT doc_id % {WARC_GROUPS}
                  FROM documents)
        """,
        # expected extraction recomputed from the SOURCE text (the page is
        # deterministic): leaked script bodies, double-unescape, or fused
        # words all diverge from this
        "html_extract": f"""
            WITH src AS (
                SELECT doc_id,
                       regexp_replace(text, '[^ -~]', '', 'g') AS san
                FROM documents),
            ex AS (
                SELECT doc_id,
                       'doc ' || doc_id AS title,
                       CAST(1 + doc_id % 3 AS INT) AS n_links,
                       {_EXPECTED_TEXT} AS text_out
                FROM src)
            SELECT doc_id, title, n_links, text_out,
                   length(text_out) AS text_len
            FROM ex
        """,
        # indegree table recomputed from the SAME page construction: each
        # doc emits one '/d/(doc_id+1)' link + (doc_id%3) '#' links
        "warc_outlinks": f"""
            WITH d AS (SELECT doc_id FROM documents),
            ring AS (
                SELECT '/d/' || (doc_id + 1) AS href,
                       CAST(1 AS BIGINT) AS n_inlinks,
                       CAST(1 AS BIGINT) AS n_src_docs,
                       doc_id AS min_src
                FROM d),
            frag AS (
                SELECT '#' AS href,
                       CAST(SUM(doc_id % 3) AS BIGINT) AS n_inlinks,
                       CAST(COUNT(*) FILTER (WHERE doc_id % 3 > 0) AS BIGINT)
                           AS n_src_docs,
                       CAST(MIN(doc_id) FILTER (WHERE doc_id % 3 > 0)
                            AS BIGINT) AS min_src
                FROM d)
            SELECT href, n_inlinks, n_src_docs, min_src FROM ring
            UNION ALL
            SELECT href, n_inlinks, n_src_docs, min_src FROM frag
            WHERE n_inlinks > 0
        """,
        # revisit/request/response counts re-derived from the modular
        # fixture layout (dom = doc_id%17, revisit iff doc_id%4==1,
        # request iff doc_id%8==2); ratio = exact integer arithmetic
        "warc_revisit_stats": """
            WITH d AS (
                SELECT doc_id, CAST(doc_id % 17 AS INT) AS dom
                FROM documents),
            agg AS (
                SELECT dom,
                       CAST(COUNT(*) AS BIGINT) AS n_responses,
                       CAST(COUNT(*) FILTER (WHERE doc_id % 4 = 1) AS BIGINT)
                           AS n_revisits,
                       CAST(COUNT(*) FILTER (WHERE doc_id % 8 = 2) AS BIGINT)
                           AS n_requests
                FROM d GROUP BY dom),
            q AS (
                SELECT *, n_revisits * 10000 AS a,
                       n_responses + n_revisits AS b
                FROM agg)
            SELECT dom, n_responses, n_revisits, n_requests,
                   CAST(CAST((a - a % b) / b AS BIGINT)
                        + CASE WHEN 2 * (a % b) >= b THEN 1 ELSE 0 END
                        AS DOUBLE) / 10000.0 + 0.0 AS revisit_ratio_r4
            FROM q
        """,
        # WET roundtrip: framed length + md5 of the extracted text,
        # recomputed from the SOURCE text (write->read must be byte-exact)
        "warc_wet_roundtrip": f"""
            WITH src AS (
                SELECT doc_id,
                       regexp_replace(text, '[^ -~]', '', 'g') AS san
                FROM documents),
            ex AS (
                SELECT doc_id, {_EXPECTED_TEXT} AS t
                FROM src)
            SELECT doc_id,
                   CAST(strlen(t) AS BIGINT) AS payload_len,
                   md5(t) AS payload_md5
            FROM ex
        """,
        # WAT roundtrip: the JSON metadata object re-assembled with the
        # SAME concat, so framing + assembly + ExtractJson must all be
        # byte-exact
        "warc_wat_roundtrip": """
            WITH wat AS (
                SELECT doc_id,
                       '{"url":"https://example.com/d/' || doc_id ||
                       '","title":"doc ' || doc_id ||
                       '","n_links":' || (1 + doc_id % 3) ||
                       ',"next":"/d/' || (doc_id + 1) || '"}' AS js
                FROM documents)
            SELECT doc_id,
                   CAST(strlen(js) AS BIGINT) AS payload_len,
                   md5(js) AS payload_md5,
                   'doc ' || doc_id AS title,
                   CAST(1 + doc_id % 3 AS BIGINT) AS n_links,
                   '/d/' || (doc_id + 1) AS next_path
            FROM wat
        """,
        # the whole crawl-curation chain restated: construction → decode
        # identity → length gate → md5 keep-first
        "crawl_curation_pipeline": f"""
            WITH src AS (
                SELECT doc_id,
                       regexp_replace(text, '[^ -~]', '', 'g') AS san,
                       CAST(doc_id % 3 AS INT) AS cls
                FROM documents),
            ex AS (
                SELECT doc_id,
                       trim(regexp_replace(
                           san || CASE cls WHEN 0 THEN '{CHARSET_PLANTS[0]}'
                                           WHEN 1 THEN '{CHARSET_PLANTS[1]}'
                                           ELSE '{CHARSET_PLANTS[2]}' END,
                           '\\s+', ' ', 'g')) AS t
                FROM src),
            q AS (SELECT doc_id, t FROM ex WHERE length(t) >= 80),
            k AS (
                SELECT doc_id, t,
                       ROW_NUMBER() OVER (PARTITION BY md5(t)
                                          ORDER BY doc_id) AS rn
                FROM q)
            SELECT doc_id,
                   CAST(length(t) AS BIGINT) AS text_len,
                   md5(t) AS text_md5
            FROM k WHERE rn = 1
        """,
        # charset classes re-derived in closed form (cls = doc_id % 3):
        # decode∘encode is the identity per class, so expected text is the
        # constructed page text; payload_len is BYTES — utf-8 strlen for
        # cls 0, char length (== latin-1 bytes) otherwise
        "warc_charset_extract": f"""
            WITH src AS (
                SELECT doc_id,
                       regexp_replace(text, '[^ -~]', '', 'g') AS san,
                       CAST(doc_id % 3 AS INT) AS cls
                FROM documents),
            built AS (
                SELECT doc_id, cls,
                       '<html><head><title>doc ' || doc_id || '</title>' ||
                       CASE WHEN cls = 1
                            THEN '<meta charset="iso-8859-1">' ELSE '' END ||
                       '</head><body><p>' ||
                       replace(replace(replace(replace(replace(
                           san || CASE cls WHEN 0 THEN '{CHARSET_PLANTS[0]}'
                                           WHEN 1 THEN '{CHARSET_PLANTS[1]}'
                                           ELSE '{CHARSET_PLANTS[2]}' END,
                           '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
                           '"', '&quot;'), '''', '&#39;') ||
                       '</p></body></html>' AS html,
                       trim(regexp_replace(
                           san || CASE cls WHEN 0 THEN '{CHARSET_PLANTS[0]}'
                                           WHEN 1 THEN '{CHARSET_PLANTS[1]}'
                                           ELSE '{CHARSET_PLANTS[2]}' END,
                           '\\s+', ' ', 'g')) AS text_out
                FROM src)
            SELECT doc_id,
                   CASE cls WHEN 0 THEN 'utf-8'
                            WHEN 1 THEN 'iso-8859-1' END AS declared_charset,
                   CASE cls WHEN 0 THEN 'http' WHEN 1 THEN 'meta'
                            ELSE 'default' END AS charset_source,
                   CASE cls WHEN 0 THEN 'utf-8'
                            ELSE 'iso-8859-1' END AS used_charset,
                   cls = 2 AS charset_fallback,
                   CAST(CASE WHEN cls = 0 THEN strlen(html)
                             ELSE length(html) END AS BIGINT) AS payload_len,
                   text_out,
                   CAST(length(text_out) AS BIGINT) AS text_len,
                   CAST(len(regexp_extract_all(lower(text_out),
                        '{SCRIPT_TOKEN_RE_RE2}', 1)) AS BIGINT)
                       AS n_script_tokens
            FROM built
        """,
        "warc_text_pipeline": f"""
            WITH src AS (
                SELECT doc_id, lang,
                       regexp_replace(text, '[^ -~]', '', 'g') AS san
                FROM documents),
            ex AS (
                SELECT lang,
                       CAST(1 + doc_id % 3 AS BIGINT) AS n_links,
                       length({_EXPECTED_TEXT}) AS text_len
                FROM src),
            agg AS (
                SELECT lang,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_links) AS BIGINT) AS total_links,
                       CAST(sum(text_len) AS BIGINT) * 10000 AS a
                FROM ex
                GROUP BY lang)
            -- round(sum/n,4) via exact integer arithmetic (both engines
            -- compute identical bits; see _nll4_exact)
            SELECT lang, n_docs, total_links,
                   CAST(CAST((a - a % n_docs) / n_docs AS BIGINT)
                        + CASE WHEN 2 * (a % n_docs) >= n_docs
                               THEN 1 ELSE 0 END AS DOUBLE)
                       / 10000.0 + 0.0 AS mean_text_len
            FROM agg
        """,
    }
