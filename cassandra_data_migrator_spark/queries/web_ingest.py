"""WARC → HTML → text ingestion keys — the crawl front door.

Fixture discipline mirrors the multimodal keys: documents become
deterministic HTML pages, pages become real multi-record WARC/1.0 FILES
(warcinfo + responses, Content-Length-framed), files are read back via
Spark's ``binaryFile`` source and parsed by the Arrow WARC kernel
(sources/warc.py); the DuckDB oracle re-derives every field from the
SAME construction over the documents table, so one byte mis-framed
anywhere (header, HTTP split, entity escape) turns the key red.

The HTML is adversarial on purpose:
- the page body contains a literal CRLFCRLF → blank-line record splitting
  breaks, only Content-Length framing survives;
- ``<script>var x = "</p>";</script>`` → a tag-strip that runs before
  script-element removal leaks code into the text;
- the five XML entities are escaped in construction and must unescape
  exactly once on extraction (&amp; ordering).
"""

from __future__ import annotations

from cassandra_data_migrator_spark.functions.html import (
    html_link_count,
    html_text,
    html_title,
)
from cassandra_data_migrator_spark.queries._shared import (
    F,
    Window,
    _binfile_stage_dir,
    _t,
)

WARC_GROUPS = 32  # docs per fixture: doc_id % 32 → one .warc file per group
WARCINFO_BLOCK = "software: cdm-spark\r\n"  # 21 bytes
_CRLF = "\r\n"
# adversarial tail appended to every page body before escaping — exercises
# all five entity escapes (&<>"') on extraction
ADV_TAIL = " x<y & \"q\" it's"


def _san(col):
    """Printable-ASCII projection of the text (keeps char-length == byte-
    length so Spark length() == DuckDB length() == kernel len(bytes))."""
    return F.regexp_replace(col, "[^ -~]", "")


def _escaped(inner):
    """XML-escape — '&' FIRST (the extractor unescapes it LAST)."""
    out = inner
    for ch, ent in (
        ("&", "&amp;"),
        ("<", "&lt;"),
        (">", "&gt;"),
        ('"', "&quot;"),
        ("'", "&#39;"),
    ):
        out = F.replace(out, F.lit(ch), F.lit(ent))
    return out


def _doc_html(doc_id, san):
    """Deterministic page for one document (Spark Column). The DuckDB
    twin is ORACLE_HTML_SQL below — keep them in lockstep."""
    esc = _escaped(F.concat(san, F.lit(ADV_TAIL)))
    links = F.repeat(F.lit('<a href="#">l</a>'), (doc_id % 3).cast("int"))
    return F.concat(
        F.lit("<!DOCTYPE html><html><head><title>doc "),
        doc_id.cast("string"),
        F.lit('</title><script>var x = "</p>";</script>'
              "<style>p{color:red}</style></head><body><p>"),
        esc,
        F.lit("</p>" + _CRLF + _CRLF + "<!-- nav -->"
              '<div class="nav"><a href="/d/'),
        (doc_id + 1).cast("string"),
        F.lit('">next</a> menu '),
        links,
        F.lit("</div></body></html>"),
    )


# DuckDB twin of _doc_html/_san (same construction, oracle side). The
# fragment yields columns (doc_id, html); callers CTE it as `built`.
ORACLE_HTML_SQL = f"""
    SELECT doc_id,
           '<!DOCTYPE html><html><head><title>doc ' || doc_id ||
           '</title><script>var x = "</p>";</script>' ||
           '<style>p{{color:red}}</style></head><body><p>' ||
           replace(replace(replace(replace(replace(
               san || ' x<y & "q" it''s',
               '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
               '"', '&quot;'), '''', '&#39;') ||
           '</p>' || chr(13) || chr(10) || chr(13) || chr(10) ||
           '<!-- nav --><div class="nav"><a href="/d/' || (doc_id + 1) ||
           '">next</a> menu ' ||
           repeat('<a href="#">l</a>', CAST(doc_id % 3 AS INT)) ||
           '</div></body></html>' AS html
    FROM (SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS san
          FROM documents)
"""


def _http_response(html):
    """HTTP/1.1 response wrapping the page (Content-Length framed)."""
    return F.concat(
        F.lit("HTTP/1.1 200 OK" + _CRLF + "Content-Type: text/html" + _CRLF
              + "Content-Length: "),
        F.length(html).cast("string"),
        F.lit(_CRLF + _CRLF),
        html,
    )


def _warc_response_record(doc_id, http):
    return F.concat(
        F.lit("WARC/1.0" + _CRLF + "WARC-Type: response" + _CRLF
              + "WARC-Target-URI: https://example.com/d/"),
        doc_id.cast("string"),
        F.lit(_CRLF + "Content-Type: application/http;msgtype=response"
              + _CRLF + "Content-Length: "),
        F.length(http).cast("string"),
        F.lit(_CRLF + _CRLF),
        http,
        F.lit(_CRLF + _CRLF),
    )


_WARCINFO_RECORD = (
    "WARC/1.0" + _CRLF + "WARC-Type: warcinfo" + _CRLF
    + "Content-Type: application/warc-fields" + _CRLF
    + f"Content-Length: {len(WARCINFO_BLOCK)}" + _CRLF + _CRLF
    + WARCINFO_BLOCK + _CRLF + _CRLF
)


def q_warc_ingest(spark, sf_dir):
    """WARC crawl ingestion end-to-end (the crawl front door):
    documents → HTML → HTTP response → WARC/1.0 records grouped
    32-ways into real multi-record .warc FILES (warcinfo head + responses
    ordered by doc_id), written executor-side to a session-scoped staging
    dir, read back through ``format("binaryFile")``, and parsed by the
    Arrow Content-Length-framed kernel (sources/warc.warc_records). Every
    page body contains a literal CRLFCRLF, so only correct framing
    survives. The oracle re-derives each record's type, framed lengths,
    HTTP status, and payload md5 from the SAME construction over the
    documents table — plus one warcinfo row per produced file."""
    from cassandra_data_migrator_spark.sources.warc import warc_records

    out_dir = _binfile_stage_dir(spark, sf_dir, tag="warc")

    d = _t(spark, sf_dir, "documents")
    html = _doc_html(F.col("doc_id"), _san(F.col("text")))
    rec = _warc_response_record(F.col("doc_id"), _http_response(html))
    files = (
        d.select(
            F.pmod(F.col("doc_id"), F.lit(WARC_GROUPS)).alias("grp"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("grp")
        .agg(
            F.concat(
                F.lit(_WARCINFO_RECORD),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("s")), lambda s: s["rec"]
                    ),
                    "",
                ),
            ).alias("warc"),
        )
    )

    def _write(rows):
        # self-contained closure (stdlib only): executors write their own
        # partitions' files — deterministic names + bytes, idempotent
        import os as _os

        for r in rows:
            path = _os.path.join(out_dir, f"{r['grp']}.warc")
            with open(path, "wb") as fh:
                fh.write(r["warc"].encode("ascii"))

    files.foreachPartition(_write)

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(out_dir)
    )
    recs = warc_records(bf, content_col="content")
    return recs.select(
        F.col("rec_type"),
        F.regexp_extract(F.col("target_uri"), r"/d/(\d+)$", 1)
        .try_cast("bigint")
        .alias("doc_id"),
        F.col("content_length"),
        F.col("http_status"),
        F.col("payload_len"),
        F.col("payload_md5"),
    )


def q_warc_gzip_ingest(spark, sf_dir):
    """Per-record-gzipped WARC ingestion (.warc.gz — the Common Crawl
    convention, i.e. the container 100 TB of crawl ACTUALLY arrives in:
    every record its own gzip member so readers can seek to member
    offsets). Same page/record construction as warc_ingest, but the
    executor-side writer gzip-compresses each record separately
    (mtime=0 → byte-deterministic files, idempotent re-runs), and the
    read-back kernel must walk gzip members (zlib multi-member split,
    truncated/garbage members refuse), inflate, and re-frame each one as
    exactly one record. The ORACLE IS THE SAME TEXT as warc_ingest —
    compression changes the wire container, never the record fields —
    so a mis-split member, a lost record, or any inflate corruption
    turns the key red against the uncompressed derivation."""
    from cassandra_data_migrator_spark.sources.warc import warc_gzip_records

    out_dir = _binfile_stage_dir(spark, sf_dir, tag="warcgz")

    d = _t(spark, sf_dir, "documents")
    html = _doc_html(F.col("doc_id"), _san(F.col("text")))
    rec = _warc_response_record(F.col("doc_id"), _http_response(html))
    files = (
        d.select(
            F.pmod(F.col("doc_id"), F.lit(WARC_GROUPS)).alias("grp"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("grp")
        .agg(
            F.array_prepend(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["rec"]
                ),
                F.lit(_WARCINFO_RECORD),
            ).alias("recs"),
        )
    )

    def _write(rows):
        # self-contained closure (stdlib only): one gzip MEMBER per record
        import gzip as _gzip
        import io as _io
        import os as _os

        for r in rows:
            path = _os.path.join(out_dir, f"{r['grp']}.warc.gz")
            buf = _io.BytesIO()
            for rec_str in r["recs"]:
                with _gzip.GzipFile(
                    fileobj=buf, mode="wb", mtime=0
                ) as gz:  # mtime=0: deterministic bytes
                    gz.write(rec_str.encode("ascii"))
            with open(path, "wb") as fh:
                fh.write(buf.getvalue())

    files.foreachPartition(_write)

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(out_dir)
    )
    recs = warc_gzip_records(bf, content_col="content")
    return recs.select(
        F.col("rec_type"),
        F.regexp_extract(F.col("target_uri"), r"/d/(\d+)$", 1)
        .try_cast("bigint")
        .alias("doc_id"),
        F.col("content_length"),
        F.col("http_status"),
        F.col("payload_len"),
        F.col("payload_md5"),
    )


def q_html_extract(spark, sf_dir):
    """HTML → text extraction, pure JVM (functions/html.py regexp chain):
    title, anchor count, visible text (script/style/head/comments dropped,
    tags stripped, entities unescaped ONCE, whitespace collapsed), and its
    length. The oracle recomputes the expected values directly from the
    source text — the page is deterministic — so a leaked script body, a
    double-unescape, or a fused-word tag-strip all turn the key red."""
    d = _t(spark, sf_dir, "documents")
    html = _doc_html(F.col("doc_id"), _san(F.col("text"))).alias("html")
    page = d.select(F.col("doc_id"), html)
    text = html_text(F.col("html"))
    return page.select(
        F.col("doc_id"),
        html_title(F.col("html")).alias("title"),
        html_link_count(F.col("html")).alias("n_links"),
        text.alias("text_out"),
        F.length(text).cast("bigint").alias("text_len"),
    )


def q_warc_outlinks(spark, sf_dir):
    """Outlink extraction — the URL-frontier step after HTML extraction
    (crawl graph construction): every href pulled from the page JVM-side
    (regexp_extract_all), exploded, and aggregated into the inbound-degree
    table a frontier scheduler / PageRank-over-hosts step consumes. The
    fixture page carries one numeric next-doc link (/d/doc_id+1, a ring)
    plus doc_id%3 fragment links, so the oracle recomputes indegrees in
    closed form: '#' gets the fragment links of every doc with that
    residue; '/d/N' gets one hit iff doc N-1 exists. Pure JVM — scan,
    explode, one partial-agg shuffle."""
    d = _t(spark, sf_dir, "documents")
    page = d.select(
        F.col("doc_id"),
        _doc_html(F.col("doc_id"), _san(F.col("text"))).alias("html"),
    )
    links = page.select(
        F.col("doc_id").alias("src_doc"),
        F.explode(
            F.expr(r"""regexp_extract_all(html, '<a href="([^"]*)"', 1)""")
        ).alias("href"),
    )
    return links.groupBy("href").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_inlinks"),
        F.countDistinct("src_doc").cast("bigint").alias("n_src_docs"),
        F.min("src_doc").cast("bigint").alias("min_src"),
    )


def q_warc_text_pipeline(spark, sf_dir):
    """The chained crawl pipeline over the SAME page construction
    (in-plan, no files — the framing is covered by warc_ingest): HTML →
    extracted text → per-language quality aggregate (docs, links, mean
    extracted length as exact DECIMAL) — the shape a curation pipeline
    runs over every fetched capture. Demonstrates the extraction output
    feeding the existing quality/aggregation chain."""
    d = _t(spark, sf_dir, "documents")
    page = d.select(
        F.col("doc_id"),
        F.col("lang"),
        _doc_html(F.col("doc_id"), _san(F.col("text"))).alias("html"),
    )
    text = html_text(F.col("html"))
    per_doc = page.select(
        F.col("lang"),
        html_link_count(F.col("html")).cast("bigint").alias("n_links"),
        F.length(text).cast("bigint").alias("text_len"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_links").alias("total_links"),
        F.sum("text_len").alias("__s"),
    )
    # round(sum/n, 4) as EXACT integer arithmetic (the _nll4_exact idiom,
    # queries/multimodal_keys.py): a = sum·10⁴ stays well under 2^53, so
    # the one double division (a−r)/n is exact and both engines compute
    # identical bits — no decimal-division scale/rounding divergence.
    a = F.col("__s") * F.lit(10_000)
    n = F.col("n_docs")
    r = a % n
    q4 = ((a - r) / n).cast("bigint") + F.when(2 * r >= n, 1).otherwise(0)
    return agg.select(
        "lang",
        "n_docs",
        "total_links",
        (q4.cast("double") / 10_000.0 + F.lit(0.0)).alias("mean_text_len"),
    )


# --- charset-aware crawl text ----------------------------------------------
# Three planted charset classes by doc_id % 3; the plants reuse the
# CJK/Thai idea from tokenizer_cjk_fertility plus Latin-1-only chars. All
# plants avoid &<>"' so the entity escape is identity on them.
CHARSET_PLANTS = [
    " 漢字拼音ไทยテスト",  # 0: Han + Thai + Katakana (UTF-8 wire)
    " café Ñandú résumé",  # 1: Latin-1 wire, <meta> declared
    " à bientôt §2",  # 2: Latin-1 wire, NOTHING declared -> mislabel
]
CHARSET_METAS = ["", '<meta charset="iso-8859-1">', ""]


def _charset_html(doc_id, san):
    """Deterministic page per charset class (cls = doc_id % 3): planted
    multi-byte tail + per-class <meta>. DuckDB twin: the
    warc_charset_extract oracle (oracles_e.py) — keep in lockstep."""
    cls = F.pmod(doc_id, F.lit(3))
    plant = (
        F.when(cls == 0, F.lit(CHARSET_PLANTS[0]))
        .when(cls == 1, F.lit(CHARSET_PLANTS[1]))
        .otherwise(F.lit(CHARSET_PLANTS[2]))
    )
    meta = F.when(cls == 1, F.lit(CHARSET_METAS[1])).otherwise(F.lit(""))
    return F.concat(
        F.lit("<html><head><title>doc "),
        doc_id.cast("string"),
        F.lit("</title>"),
        meta,
        F.lit("</head><body><p>"),
        _escaped(F.concat(san, plant)),
        F.lit("</p></body></html>"),
    )


def q_warc_charset_extract(spark, sf_dir):
    """Charset-aware WARC text extraction: pages are
    written to real .warc files in three wire encodings — UTF-8 declared
    in the HTTP Content-Type (doc_id%3==0, planted Han/Thai/Katakana),
    Latin-1 declared only in a <meta charset> tag (==1, planted accented
    Latin), and Latin-1 with NO declaration anywhere (==2) so the utf-8
    default decode FAILS on the planted bytes and the kernel's flagged
    iso-8859-1 fallback engages. The executor-side writer encodes each
    page under its class charset and frames Content-Length in BYTES
    (byte-length != char-length here, unlike every ASCII fixture); the
    read-back kernel (sources/warc.warc_decoded_pages) sniffs http → meta
    prescan → default, decodes, and flags fallbacks. The decoded text
    feeds the script-aware tokenizer (functions/text.tokens_script). The
    oracle re-derives every field in closed form from the class layout —
    decode∘encode is the identity for each class, so expected text is the
    constructed page text — and recomputes length + script-token count
    from the same construction."""
    from cassandra_data_migrator_spark.functions.text import (
        token_count_script,
    )
    from cassandra_data_migrator_spark.sources.warc import warc_decoded_pages

    out_dir = _binfile_stage_dir(spark, sf_dir, tag="warccs")

    d = _t(spark, sf_dir, "documents")
    html = _charset_html(F.col("doc_id"), _san(F.col("text")))
    files = (
        d.select(
            F.pmod(F.col("doc_id"), F.lit(WARC_GROUPS)).alias("grp"),
            F.struct(
                F.col("doc_id"),
                html.alias("html"),
                F.pmod(F.col("doc_id"), F.lit(3)).cast("int").alias("cls"),
            ).alias("s"),
        )
        .groupBy("grp")
        .agg(F.array_sort(F.collect_list("s")).alias("recs"))
    )

    def _write(rows):
        # self-contained closure (stdlib only): per-class wire encoding,
        # Content-Length framed in BYTES of the encoded body
        import os as _os

        warcinfo = (
            "WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            "Content-Type: application/warc-fields\r\n"
            "Content-Length: 21\r\n\r\n"
            "software: cdm-spark\r\n\r\n\r\n"
        ).encode("ascii")
        for r in rows:
            parts = [warcinfo]
            for s in r["recs"]:
                enc = "utf-8" if s["cls"] == 0 else "iso-8859-1"
                body = s["html"].encode(enc)
                ct = (
                    "Content-Type: text/html; charset=utf-8"
                    if s["cls"] == 0
                    else "Content-Type: text/html"
                )
                http = (
                    f"HTTP/1.1 200 OK\r\n{ct}\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n"
                ).encode("ascii") + body
                head = (
                    "WARC/1.0\r\nWARC-Type: response\r\n"
                    f"WARC-Target-URI: https://example.com/d/{s['doc_id']}\r\n"
                    "Content-Type: application/http;msgtype=response\r\n"
                    f"Content-Length: {len(http)}\r\n\r\n"
                ).encode("ascii")
                parts.append(head + http + b"\r\n\r\n")
            path = _os.path.join(out_dir, f"{r['grp']}.warc")
            with open(path, "wb") as fh:
                fh.write(b"".join(parts))

    files.foreachPartition(_write)

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(out_dir)
    )
    pages = warc_decoded_pages(bf, content_col="content")
    text = html_text(F.col("html"))
    return pages.select(
        F.regexp_extract(F.col("target_uri"), r"/d/(\d+)$", 1)
        .try_cast("bigint")
        .alias("doc_id"),
        F.col("declared_charset"),
        F.col("charset_source"),
        F.col("used_charset"),
        F.col("charset_fallback"),
        F.col("payload_len"),
        text.alias("text_out"),
        F.length(text).cast("bigint").alias("text_len"),
        token_count_script(text).alias("n_script_tokens"),
    )


# --- record-type breadth + WET roundtrip ------------------------------------
REVISIT_MOD = 4   # doc_id%4==1 -> crawler saw unchanged content: revisit rec
REQUEST_MOD = 8   # doc_id%8==2 -> the originating request is archived too
DOMAIN_MOD = 17   # same site layout as the domain_stats key


def q_warc_revisit_stats(spark, sf_dir):
    """Revisit-aware crawl accounting: fixture .warc files
    interleave response records with `revisit` records (the crawl-time
    dedup signal — WARC/1.0 §6.7: the crawler matched an earlier capture's
    payload digest and stored a reference, not bytes) and archived
    `request` records. The typed kernel (sources/warc.warc_typed_records)
    validates per type — a revisit without WARC-Profile refuses loudly —
    and the key aggregates the per-domain revisit ratio (how much of a
    site is static vs churn), the same site axis domain_stats uses
    (doc_id % 17). Oracle recomputes every count from the modular layout
    in closed form; the ratio is exact integer arithmetic (the
    _nll4_exact idiom), so both engines emit identical bits."""
    from cassandra_data_migrator_spark.sources.warc import warc_typed_records

    out_dir = _binfile_stage_dir(spark, sf_dir, tag="warcrv")

    d = _t(spark, sf_dir, "documents")
    rows = d.select(
        F.pmod(F.col("doc_id"), F.lit(WARC_GROUPS)).alias("grp"),
        F.struct(
            F.col("doc_id"),
            F.pmod(F.col("doc_id"), F.lit(DOMAIN_MOD)).cast("int").alias("dom"),
            F.pmod(F.col("doc_id"), F.lit(REVISIT_MOD)).cast("int").alias("rv"),
            F.pmod(F.col("doc_id"), F.lit(REQUEST_MOD)).cast("int").alias("rq"),
        ).alias("s"),
    ).groupBy("grp").agg(F.array_sort(F.collect_list("s")).alias("recs"))

    def _write(rows_it):
        # self-contained closure (stdlib only)
        import os as _os

        def rec(headers, block):
            head = "WARC/1.0\r\n" + "".join(
                f"{k}: {v}\r\n" for k, v in headers
            ) + f"Content-Length: {len(block)}\r\n\r\n"
            return head.encode("ascii") + block + b"\r\n\r\n"

        for r in rows_it:
            parts = []
            for s in r["recs"]:
                uri = (
                    f"https://d{s['dom']}.example.com/d/{s['doc_id']}"
                )
                body = f"<p>page {s['doc_id']}</p>".encode("ascii")
                http = (
                    "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n"
                ).encode("ascii") + body
                if s["rq"] == 2:
                    req = (
                        f"GET /d/{s['doc_id']} HTTP/1.1\r\n"
                        f"Host: d{s['dom']}.example.com\r\n\r\n"
                    ).encode("ascii")
                    parts.append(
                        rec(
                            [("WARC-Type", "request"),
                             ("WARC-Target-URI", uri)],
                            req,
                        )
                    )
                parts.append(
                    rec(
                        [("WARC-Type", "response"),
                         ("WARC-Target-URI", uri)],
                        http,
                    )
                )
                if s["rv"] == 1:
                    parts.append(
                        rec(
                            [("WARC-Type", "revisit"),
                             ("WARC-Target-URI", uri + "?recheck"),
                             ("WARC-Profile",
                              "http://netpreserve.org/warc/1.0/revisit/"
                              "identical-payload-digest"),
                             ("WARC-Refers-To-Target-URI", uri)],
                            b"",
                        )
                    )
            path = _os.path.join(out_dir, f"{r['grp']}.warc")
            with open(path, "wb") as fh:
                fh.write(b"".join(parts))

    rows.foreachPartition(_write)

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(out_dir)
    )
    recs = warc_typed_records(bf, content_col="content")
    per = recs.select(
        F.regexp_extract(
            F.col("target_uri"), r"^https://d(\d+)\.example\.com/", 1
        ).try_cast("int").alias("dom"),
        F.col("rec_type"),
    )
    agg = per.groupBy("dom").agg(
        F.sum((F.col("rec_type") == "response").cast("bigint"))
        .cast("bigint").alias("n_responses"),
        F.sum((F.col("rec_type") == "revisit").cast("bigint"))
        .cast("bigint").alias("n_revisits"),
        F.sum((F.col("rec_type") == "request").cast("bigint"))
        .cast("bigint").alias("n_requests"),
    )
    a = F.col("n_revisits") * F.lit(10_000)
    b = F.col("n_responses") + F.col("n_revisits")
    r = a % b
    q4 = ((a - r) / b).cast("bigint") + F.when(2 * r >= b, 1).otherwise(0)
    return agg.select(
        "dom",
        "n_responses",
        "n_revisits",
        "n_requests",
        (q4.cast("double") / 10_000.0 + F.lit(0.0)).alias("revisit_ratio_r4"),
    )


def q_warc_wet_roundtrip(spark, sf_dir):
    """WET-style derived-artifact roundtrip: the pipeline
    so far only READ crawl containers; real curation also WRITES the
    extracted-text derivative (Common Crawl's WET shape: one
    `conversion` record per page, text/plain block, Content-Length
    framed) so downstream jobs never re-parse HTML. This key extracts
    visible text from the standard fixture pages, writes genuine WET
    files executor-side, re-ingests them through the generic WARC kernel,
    and emits each conversion record's framed length + md5 — the oracle
    recomputes both from the SOURCE text, so one byte lost anywhere in
    write→read turns the key red (the binaryfile_ingest discipline,
    applied to the writer)."""
    from cassandra_data_migrator_spark.sources.warc import warc_records

    out_dir = _binfile_stage_dir(spark, sf_dir, tag="warcwet")

    d = _t(spark, sf_dir, "documents")
    html = _doc_html(F.col("doc_id"), _san(F.col("text")))
    text = html_text(html)
    rows = d.select(
        F.pmod(F.col("doc_id"), F.lit(WARC_GROUPS)).alias("grp"),
        F.struct(F.col("doc_id"), text.alias("txt")).alias("s"),
    ).groupBy("grp").agg(F.array_sort(F.collect_list("s")).alias("recs"))

    def _write(rows_it):
        # self-contained closure (stdlib only): Content-Length-framed WET
        import os as _os

        for r in rows_it:
            parts = []
            for s in r["recs"]:
                block = s["txt"].encode("utf-8")
                head = (
                    "WARC/1.0\r\nWARC-Type: conversion\r\n"
                    f"WARC-Target-URI: https://example.com/d/{s['doc_id']}\r\n"
                    "Content-Type: text/plain\r\n"
                    f"Content-Length: {len(block)}\r\n\r\n"
                ).encode("ascii")
                parts.append(head + block + b"\r\n\r\n")
            path = _os.path.join(out_dir, f"{r['grp']}.warc.wet")
            with open(path, "wb") as fh:
                fh.write(b"".join(parts))

    rows.foreachPartition(_write)

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.wet")
        .load(out_dir)
    )
    recs = warc_records(bf, content_col="content")
    return recs.filter(F.col("rec_type") == "conversion").select(
        F.regexp_extract(F.col("target_uri"), r"/d/(\d+)$", 1)
        .try_cast("bigint")
        .alias("doc_id"),
        F.col("payload_len"),
        F.col("payload_md5"),
    )


def q_warc_wat_roundtrip(spark, sf_dir):
    """WAT-style metadata artifact roundtrip (the WAT twin of
    warc_wet_roundtrip): per page a
    JSON metadata object ({url, title, n_links, next} — the crawl-graph
    fields a WAT record carries) built JVM-side with DETERMINISTIC field
    order via string concat (to_json's struct order is engine-internal;
    concat is the cross-engine-pinnable spelling), framed as WARC
    `metadata` records (Content-Type: application/json), written
    executor-side, re-ingested through the typed kernel WITH payload, and
    the JSON parsed BACK out via the ExtractJson operator
    (functions/json_ops — get_json_object over the re-ingested bytes).
    The oracle re-derives every extracted field AND the payload md5 from
    the same construction: framing, JSON assembly, and extraction must
    all be byte-exact for the key to stay green."""
    from cassandra_data_migrator_spark.functions.json_ops import extract_json
    from cassandra_data_migrator_spark.sources.warc import warc_records

    out_dir = _binfile_stage_dir(spark, sf_dir, tag="warcwat")

    d = _t(spark, sf_dir, "documents")
    wat = F.concat(
        F.lit('{"url":"https://example.com/d/'),
        F.col("doc_id").cast("string"),
        F.lit('","title":"doc '),
        F.col("doc_id").cast("string"),
        F.lit('","n_links":'),
        (F.lit(1) + F.pmod(F.col("doc_id"), F.lit(3))).cast("string"),
        F.lit(',"next":"/d/'),
        (F.col("doc_id") + 1).cast("string"),
        F.lit('"}'),
    )
    rows = d.select(
        F.pmod(F.col("doc_id"), F.lit(WARC_GROUPS)).alias("grp"),
        F.struct(F.col("doc_id"), wat.alias("wat")).alias("s"),
    ).groupBy("grp").agg(F.array_sort(F.collect_list("s")).alias("recs"))

    def _write(rows_it):
        # self-contained closure (stdlib only)
        import os as _os

        for r in rows_it:
            parts = []
            for s in r["recs"]:
                block = s["wat"].encode("ascii")
                head = (
                    "WARC/1.0\r\nWARC-Type: metadata\r\n"
                    f"WARC-Target-URI: https://example.com/d/{s['doc_id']}\r\n"
                    "Content-Type: application/json\r\n"
                    f"Content-Length: {len(block)}\r\n\r\n"
                ).encode("ascii")
                parts.append(head + block + b"\r\n\r\n")
            path = _os.path.join(out_dir, f"{r['grp']}.warc.wat")
            with open(path, "wb") as fh:
                fh.write(b"".join(parts))

    rows.foreachPartition(_write)

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.wat")
        .load(out_dir)
    )
    recs = warc_records(bf, content_col="content", with_payload=True)
    js = F.col("payload").cast("string")
    return recs.filter(F.col("rec_type") == "metadata").select(
        F.regexp_extract(F.col("target_uri"), r"/d/(\d+)$", 1)
        .try_cast("bigint")
        .alias("doc_id"),
        F.col("payload_len"),
        F.col("payload_md5"),
        extract_json(js, "title").alias("title"),
        extract_json(js, "n_links").try_cast("bigint").alias("n_links"),
        extract_json(js, "next").alias("next_path"),
    )


CRAWL_MIN_TEXT = 80  # curation gate: minimum extracted-text chars


def q_crawl_curation_pipeline(spark, sf_dir):
    """End-to-end CRAWL curation in one oracled chain — the crawl-front-
    door sibling of curation_pipeline (E55): real .warc files in three
    wire charsets (the warc_charset_extract construction) → binaryFile →
    charset-sniffing decode kernel → JVM text extraction → length
    quality gate (≥ CRAWL_MIN_TEXT chars) → exact-dup drop (md5
    keep-first by lowest doc_id — the deterministic dedup_exact
    discipline) → surviving curated set. The oracle restates the WHOLE
    chain from the documents table: construction, decode identity, gate,
    and keep-first must all agree for the key to stay green. Plan: one
    binaryFile scan → Arrow decode → codegen'd regexp chain → ONE
    window shuffle on the text hash."""
    from cassandra_data_migrator_spark.sources.warc import warc_decoded_pages

    out_dir = _binfile_stage_dir(spark, sf_dir, tag="warccur")

    d = _t(spark, sf_dir, "documents")
    html = _charset_html(F.col("doc_id"), _san(F.col("text")))
    files = (
        d.select(
            F.pmod(F.col("doc_id"), F.lit(WARC_GROUPS)).alias("grp"),
            F.struct(
                F.col("doc_id"),
                html.alias("html"),
                F.pmod(F.col("doc_id"), F.lit(3)).cast("int").alias("cls"),
            ).alias("s"),
        )
        .groupBy("grp")
        .agg(F.array_sort(F.collect_list("s")).alias("recs"))
    )

    def _write(rows):
        # same wire construction as warc_charset_extract (stdlib only)
        import os as _os

        for r in rows:
            parts = []
            for s in r["recs"]:
                enc = "utf-8" if s["cls"] == 0 else "iso-8859-1"
                body = s["html"].encode(enc)
                ct = (
                    "Content-Type: text/html; charset=utf-8"
                    if s["cls"] == 0
                    else "Content-Type: text/html"
                )
                http = (
                    f"HTTP/1.1 200 OK\r\n{ct}\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n"
                ).encode("ascii") + body
                head = (
                    "WARC/1.0\r\nWARC-Type: response\r\n"
                    f"WARC-Target-URI: https://example.com/d/{s['doc_id']}\r\n"
                    "Content-Type: application/http;msgtype=response\r\n"
                    f"Content-Length: {len(http)}\r\n\r\n"
                ).encode("ascii")
                parts.append(head + http + b"\r\n\r\n")
            path = _os.path.join(out_dir, f"{r['grp']}.warc")
            with open(path, "wb") as fh:
                fh.write(b"".join(parts))

    files.foreachPartition(_write)

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(out_dir)
    )
    pages = warc_decoded_pages(bf, content_col="content")
    text = html_text(F.col("html"))
    extracted = pages.select(
        F.regexp_extract(F.col("target_uri"), r"/d/(\d+)$", 1)
        .try_cast("bigint")
        .alias("doc_id"),
        text.alias("t"),
    )
    gated = extracted.filter(F.length("t") >= CRAWL_MIN_TEXT)
    w = Window.partitionBy(F.md5(F.col("t").cast("binary"))).orderBy("doc_id")
    kept = gated.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    return kept.select(
        "doc_id",
        F.length("t").cast("bigint").alias("text_len"),
        F.md5(F.col("t").cast("binary")).alias("text_md5"),
    )
