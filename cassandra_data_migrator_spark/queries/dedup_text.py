"""Dedup, similarity, and text-analysis keys (SURVEY.md §2b E1-E5, E19).
"""

from __future__ import annotations

from cassandra_data_migrator_spark.queries._shared import (  # noqa: F401
    F,
    KMEANS_ITERS,
    KMEANS_K,
    NEAR_DUP_PROBE_MOD,
    NEAR_DUP_THRESHOLD,
    NGRAM_N,
    NGRAM_THRESHOLD,
    SENTIMENT_LEXICON,
    STRATA_RATES,
    TOPK_K,
    TOPK_QUERY_PRED,
    Window,
    _scratch_dir,
    _session_artifact,
    _t,
    dedup,
    fingerprint,
    lang_id,
    pmod_100,
    quality_features,
    similarity,
    tok,
    token_count_bpe_ish,
    token_count_ws,
    tokens,
)
from cassandra_data_migrator_spark.operators.partition import spread_by

# ---------------------------------------------------------------------------
# 2b north-star extension queries


def q_url_dedup(spark, sf_dir):
    """URL-level crawl dedup (functions/urls.py) under the DRIVER check:
    documents gain a deterministic raw URL whose NOISE varies on doc_id % 7
    (scheme/host case, default :80 port, 0-2 trailing slashes, fragment,
    utm_/gclid tracking params, param order) while the canonical identity
    varies on doc_id % 12 (path), % 9 (kept param), and the v==6 userinfo
    branch ('u:P@' kept VERBATIM — case preserved, host parsing applied
    only after the last '@', splitting those docs into their own groups). The oracle
    computes the EXPECTED canonical form analytically from the same mods
    (it never parses a URL), so each of the six canonicalization rules must
    fire correctly for Spark's parsed output to match — same oracle shape
    as the multimodal byte re-slicing. Keep-first + group size ride one
    window (one hash shuffle on canon_url)."""
    from cassandra_data_migrator_spark.functions.urls import url_dedup

    d = _t(spark, sf_dir, "documents")
    return url_dedup(d.withColumn("url", _crawl_url_expr()), "url", "doc_id")


def _crawl_url_expr():
    """The deterministic noisy crawl URL planted on each document (see
    q_url_dedup for the per-mod noise/identity design) — shared by
    url_dedup and the curation_pipeline composition."""
    m12 = (F.col("doc_id") % 12).cast("string")
    m9 = (F.col("doc_id") % 9).cast("string")
    v = F.col("doc_id") % 7
    scheme = F.when(v.isin(0, 2, 4), F.lit("HTTP")).otherwise(F.lit("http"))
    host = F.when(v < 3, F.lit("WWW.CRAWL.EXAMPLE.COM")).otherwise(
        F.lit("www.Crawl.Example.com")
    )
    port = F.when(v == 1, F.lit(":80")).otherwise(F.lit(""))
    trail = F.when(v == 2, F.lit("//")).when(v == 3, F.lit("/")).otherwise(F.lit(""))
    qq = F.when(
        v % 2 == 0, F.concat(F.lit("?a="), m9, F.lit("&utm_source=feed&z=9"))
    ).otherwise(F.concat(F.lit("?z=9&a="), m9, F.lit("&gclid=g1")))
    frag = F.when(v >= 5, F.concat(F.lit("#sec"), v.cast("string"))).otherwise(
        F.lit("")
    )
    user = F.when(v == 6, F.lit("u:P@")).otherwise(F.lit(""))
    return F.concat(
        scheme, F.lit("://"), user, host, port, F.lit("/Docs/Page-"), m12, trail,
        qq, frag,
    )


def q_dedup_exact(spark, sf_dir):
    return dedup.dedup_exact(_t(spark, sf_dir, "documents"))


def q_dedup_ngram(spark, sf_dir):
    # The scored session artifact (the q_topk_similarity/_brute_topk
    # convention — the primary key returns the standing table its family
    # shares), filtered at the key's declared threshold
    return _ngram_scored_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= NGRAM_THRESHOLD
    )


PREFIX_N = 5  # shingle width for the prefix-filter join (wider than
# NGRAM_N=3 so the two exact-Jaccard keys exercise different set geometry)
PREFIX_THRESHOLD = 0.5


def q_dedup_prefix_filter(spark, sf_dir):
    """Exact 5-gram Jaccard ≥ 0.5 via PREFIX-FILTERED candidates
    (All-Pairs/PPJoin, the canonical at-scale exact set-similarity join —
    see operators/dedup.prefix_filter_jaccard_pairs for the lemma): the
    inverted index explodes only each doc's rare-first prefix
    (n − ⌈t·n⌉ + 1 shingles), so the hot shingles that dominate
    dedup_ngram's buckets never generate pairs; a length filter and exact
    array_intersect verification make the result identical to brute
    force, which is exactly what the oracle computes."""
    return dedup.prefix_filter_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=PREFIX_N, threshold=PREFIX_THRESHOLD
    )


def q_dedup_fuzzy(spark, sf_dir):
    return dedup.dedup_fuzzy(
        _t(spark, sf_dir, "documents"),
        threshold=0.3,
        sigs=_minhash_sigs(spark, sf_dir),
    )































































def _simhash_sigs(spark, sf_dir):
    """Session-shared SimHash signature table. The SWAR-packed signature
    aggregation is deterministic, so both consumers (simhash_near_dup,
    simhash_recall_audit) read the identical standing table.

    The build input rides spread_by(doc_id) — the per-token
    xxhash + 22 SWAR partial sums are expression-heavy map work off the
    1-split fixture scan, and hash partitioning keeps each doc's tokens
    together so the per-doc partial agg still combines map-side (isolated
    build: 2.81 → 2.12 s; pass-through at production split counts)."""
    return _session_artifact(
        spark,
        f"simhash_sigs|{sf_dir}",
        lambda: dedup.simhash(
            spread_by(_t(spark, sf_dir, "documents"), "doc_id")
        ),
    )


def _minhash_sigs(spark, sf_dir):
    """Session-shared 32-hash MinHash signature table — one shingle+hash
    pass feeding dedup_fuzzy AND minhash_recall_audit (both band at
    num_bands=8 over the same 32 hashes). spread_by(doc_id) on
    the build input — 32 xxhash64 per shingle is the heavy map side; the
    per-doc min-agg combines map-side either way (isolated build:
    1.44 → 0.71 s)."""
    return _session_artifact(
        spark,
        f"minhash_sigs|{sf_dir}",
        lambda: dedup.minhash_signatures(
            spread_by(_t(spark, sf_dir, "documents"), "doc_id"), num_hashes=32
        ),
    )


def _simhash_pairs(spark, sf_dir):
    """Session-shared SimHash pair list at hamming<=8 (the _ngram_pairs
    precedent): the cascade pipeline (level-0 banding + per-parent rotated
    re-banding + hamming refine) is deterministic, and BOTH consumers
    (simhash_near_dup, simhash_recall_audit) need the identical set — one
    derivation per session instead of two."""
    return _session_artifact(
        spark,
        f"simhash_pairs|{sf_dir}",
        lambda: dedup.simhash_near_dup_pairs(
            _simhash_sigs(spark, sf_dir), max_hamming=8
        ),
    )


def q_simhash_near_dup(spark, sf_dir):
    return _simhash_pairs(spark, sf_dir)


def _brute_topk(spark, sf_dir):
    """Session-shared exact top-k table — the ground-truth artifact the
    similarity key and BOTH recall audits (banded-LSH, IVF) consume. One
    probe-bounded BNLJ pass per session instead of three; a real pipeline
    keeps exactly this table as its ANN ground-truth eval set."""
    emb = _t(spark, sf_dir, "embeddings")
    return _session_artifact(
        spark,
        f"brute_topk|{sf_dir}",
        lambda: similarity.brute_force_topk(
            emb, emb.filter(TOPK_QUERY_PRED), k=TOPK_K
        ),
    )


def q_topk_similarity(spark, sf_dir):
    return _brute_topk(spark, sf_dir)


# Per-session memo of trained IVF centroids keyed by (applicationId,
# sf_dir) (the same
# shared-derivation precedent as the graph keys' localCheckpoint reuse):
# the trainer is deterministic — pinned smallest-id init + DECIMAL mean
# sums (operators/cluster.lloyd_kmeans) — so memoization changes cost,
# never results. Both IVF keys (topk_similarity_ivf, ivf_recall_audit)
# probe the SAME trained cells, as a real IVF index would.
_IVF_CENTROIDS_CACHE: dict = {}


def _ivf_centroids(spark, sf_dir, variant="uniform", emb_df=None):
    """Train the IVF coarse quantizer end-to-end: 8
    Lloyd cells over the embedding corpus instead of the old `vec_id % 97`
    sample. Returns [(cell_id, centroid_vector)] for similarity.ivf_topk.
    ``variant``/``emb_df`` select an alternate training table (the
    clustered fixture) under its own memo slot — one memoization, every
    quantizer."""
    from cassandra_data_migrator_spark.operators.cluster import lloyd_kmeans

    # keyed by (applicationId, sf_dir) for parity with _session_artifact —
    # a NEW session over regenerated fixture data at the same path must
    # retrain, never reuse another application's centroids
    key = (spark.sparkContext.applicationId, sf_dir, variant)
    if key not in _IVF_CENTROIDS_CACHE:
        emb = emb_df if emb_df is not None else _t(spark, sf_dir, "embeddings")
        _, cents = lloyd_kmeans(emb, "embedding", "vec_id", k=KMEANS_K, iters=KMEANS_ITERS)
        _IVF_CENTROIDS_CACHE[key] = [
            (i, [float(x) for x in c]) for i, c in enumerate(cents)
        ]
    return _IVF_CENTROIDS_CACHE[key]


def q_topk_similarity_ivf(spark, sf_dir):
    """IVF-bucketed ANN (rows-only): centroids = lloyd_kmeans-trained cells
    (trainer → assign → probe chained end-to-end; bounded k·dim driver
    state only)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(spark, sf_dir)
    return similarity.ivf_topk(emb, emb.filter(TOPK_QUERY_PRED), cents, k=TOPK_K, nprobe=2)


def q_dedup_embedding(spark, sf_dir):
    """Exact probe-bounded near-dup (oracled twin). For the full-corpus scale
    path see dedup_embedding_lsh."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % NEAR_DUP_PROBE_MOD == 0)
    return similarity.cosine_near_dup(emb, probes, threshold=NEAR_DUP_THRESHOLD)


def q_dedup_embedding_lsh(spark, sf_dir):
    """FULL-corpus embedding near-dup via random-projection buckets on both
    sides — candidate generation is an equi-join on (band, bucket), never a
    probe×corpus nested loop (rows-only check: hash family engine-specific)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_bucketed(emb, threshold=NEAR_DUP_THRESHOLD)


# Per-session memo of the near-dup EDGE LIST, keyed by (applicationId,
# sf_dir, threshold) so a stale entry can never leak across sessions. Five
# graph-over-duplicates keys consume the identical standard-threshold pair
# list (dedup_clusters, graph_triangles, edit_distance_pairs, graph_degree,
# pagerank_dup_graph) and the two recall audits share the exact pair set at
# the audit threshold — in a real pipeline the edge list is derived once
# and shared. Materialized as a session-scoped PARQUET
# table, NOT a localCheckpoint: cached blocks can be unpersisted by a
# host's between-key cleanup (bench.py's _drop_cached_blocks did exactly
# that, yielding CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the next consumer),
# while a standing on-disk table — the production shape anyway — survives
# any cache policy. Derivation is deterministic, so memoization changes
# cost, never results. (Mechanics now live in _session_artifact.)


NGRAM_BASE_THRESHOLD = 0.1  # == min(multimodal_keys.SWEEP_THRESHOLDS); the
# lowest threshold ANY consumer filters at (pinned by test_dedup's
# base-threshold assertion) — ngram_jaccard_pairs applies its threshold
# only AFTER the shingle self-join, so building the shared artifact at the
# base costs the same join and every consumer is a parquet filter


def _ngram_scored_pairs(spark, sf_dir):
    """Session-shared SCORED near-dup pair list at the base threshold —
    ONE shingle-index pass per session feeding every exact-Jaccard
    consumer (dedup_ngram, dedup_threshold_sweep and the two _ngram_pairs
    thresholds each used to re-derive the identical self-join; now each is
    a filter over this standing artifact)."""
    # spread_by(doc_id) on the build input was
    # measured bare (2.91 → 2.23 s noop win) and then through the full
    # build+label-loop+consumer chain in an INTERLEAVED A/B (4 rounds,
    # min-of-4: spread 4.14 s vs no-spread 4.25 s — a ~3% delta inside a
    # host noise band where single runs swung 4.1–6.5 s on identical
    # code). No reliable end-to-end win — left unspread, matching the earlier
    # spread() rejection for this family (the 1-split build lets the first
    # partial agg dedup repeated shingles map-side).
    return _session_artifact(
        spark,
        f"ngram_scored|{sf_dir}|{NGRAM_BASE_THRESHOLD}",
        lambda: dedup.ngram_jaccard_pairs(
            _t(spark, sf_dir, "documents"), n=NGRAM_N, threshold=NGRAM_BASE_THRESHOLD
        ),
    )


def _ngram_pairs(spark, sf_dir, threshold=NGRAM_THRESHOLD):
    """Session-shared near-dup edge list at ``threshold`` (the standing
    artifact four graph/audit keys consume). The jaccard column in the
    artifact is the SAME round(·,4) expression the direct derivation
    filtered on, so filter-at-read is value-identical to
    derive-at-threshold."""
    return (
        _ngram_scored_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
    )


def _cluster_label_artifact(spark, sf_dir):
    """Session-shared resolved component labels over the ngram pair graph
    (the scored-pair-artifact treatment one step downstream): the
    label-propagation loop ran identically inside dedup_clusters,
    dedup_cluster_sizes and dedup_canonical; a real pipeline checkpoints
    the components table once. Same loop, same labels — consumers differ
    only in what they join/aggregate on top."""
    return _session_artifact(
        spark,
        f"ngram_cluster_labels|{sf_dir}|{NGRAM_THRESHOLD}",
        lambda: dedup.cluster_labels(_ngram_pairs(spark, sf_dir)),
    )


def q_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster assignment: connected components over the n-gram
    Jaccard pair graph (cluster_id = min reachable doc_id). The closing step
    of every production dedup pipeline; oracle = DuckDB recursive CTE."""
    d = _t(spark, sf_dir, "documents")
    return dedup.attach_cluster_labels(
        d.select("doc_id"), _cluster_label_artifact(spark, sf_dir)
    )


def q_text_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def q_sentiment_lexicon(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        list(SENTIMENT_LEXICON.items()), "word STRING, weight INT"
    )
    toks = d.select(F.col("doc_id"), F.explode(tokens("text")).alias("word"))
    return (
        toks.join(F.broadcast(lex), "word")
        .groupBy("doc_id")
        .agg(F.sum("weight").cast("bigint").alias("sentiment"))
    )


def q_lang_id_confusion(spark, sf_dir):
    """Language-ID quality audit as a confusion matrix: gold label (the
    fixture's lang column) × the marker-argmax classifier's prediction,
    per-cell doc counts plus each cell's share of its gold row — the
    standard QA table before trusting a heuristic classifier to stratify
    a training mix (an off-diagonal hot cell says which language pair the
    marker set confuses). One scan, one bounded groupBy (≤ |langs|·
    (|langs|+1) cells); the share window is partitioned over that bounded
    cell table."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select("lang", lang_id("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return per.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias("row_share_r"),
    )


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(F.col("doc_id"), lang_id("text").alias("pred_lang"))


def q_quality_score(spark, sf_dir):
    return quality_features(_t(spark, sf_dir, "documents"))


# Gopher document-filter rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1 — the published
# heuristic recipe most web-scale pipelines start from). Published
# thresholds, kept verbatim:
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MEAN_WLEN, GOPHER_MAX_MEAN_WLEN = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1  # '#' and '...' per word
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_REQUIRED_STOPWORDS = 2


def q_gopher_rules(spark, sf_dir):
    """Gopher quality-filter rules as one scan-bound projection: per doc,
    every rule statistic (word count, mean word length, symbol-to-word
    ratio, bullet/ellipsis line fractions, alpha-word fraction, required-
    stopword hits) plus the per-rule booleans folded into an overall
    `passes`. All JVM expressions over one tokenize — no shuffle, no UDF;
    substring counts use the REPLACE length trick so both engines count
    non-overlapping occurrences identically. Ratios are guarded rounded
    doubles (zero-word/zero-line docs emit 0.0, and the word-count rule
    fails them anyway). On the synthetic keyword-soup fixture the
    required-stopword rule rejects every doc (avg 0.76 hits vs the
    published floor of 2) — the thresholds are kept verbatim rather than
    tuned to flatter the fixture; the per-rule statistics vary per doc and
    are what the value hash checks."""
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n_words = F.size(toks).cast("bigint")
    sum_wlen = F.length(F.concat_ws("", toks)).cast("bigint")
    mean_wlen = F.when(n_words > 0, F.round(sum_wlen / n_words, 4)).otherwise(0.0)
    n_hash = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ).cast("bigint")
    n_ellipsis = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))) / 3
    ).cast("bigint")
    symbol_ratio = F.when(
        n_words > 0, F.round((n_hash + n_ellipsis) / n_words, 4)
    ).otherwise(0.0)
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[•*-]"))
    ).cast("bigint")
    n_ell_end = F.size(
        F.filter(lines, lambda l: F.rtrim(l).endswith("..."))
    ).cast("bigint")
    bullet_frac = F.when(n_lines > 0, F.round(n_bullet / n_lines, 4)).otherwise(0.0)
    ell_frac = F.when(n_lines > 0, F.round(n_ell_end / n_lines, 4)).otherwise(0.0)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("bigint")
    alpha_frac = F.when(n_words > 0, F.round(n_alpha / n_words, 4)).otherwise(0.0)
    n_req_stop = sum(
        F.array_contains(toks, w).cast("int") for w in GOPHER_REQUIRED_STOPWORDS
    ).cast("bigint")
    rules = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_wlen.between(GOPHER_MIN_MEAN_WLEN, GOPHER_MAX_MEAN_WLEN)
        & (symbol_ratio < GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac < GOPHER_MAX_BULLET_LINE_FRAC)
        & (ell_frac < GOPHER_MAX_ELLIPSIS_LINE_FRAC)
        & (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (n_req_stop >= GOPHER_MIN_REQUIRED_STOPWORDS)
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_wlen_r"),
        symbol_ratio.alias("symbol_ratio_r"),
        bullet_frac.alias("bullet_frac_r"),
        ell_frac.alias("ellipsis_frac_r"),
        alpha_frac.alias("alpha_frac_r"),
        n_req_stop.alias("n_req_stopwords"),
        rules.alias("passes"),
    )


def q_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id"),
        token_count_ws("text").alias("ws_tokens"),
        token_count_bpe_ish("text").alias("bpe_tokens"),
    )


def q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(F.col("doc_id"), fingerprint("text").alias("fp"))


def q_tfidf(spark, sf_dir):
    """TF-IDF per (doc, term): tf · ln(N/df) — one token explode, two
    aggregations; df side is tiny (vocab) so AQE broadcasts it back. N rides
    along as a broadcast 1-row aggregate (no separate driver-side count
    action — one plan, one submission)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.col("doc_id"), F.explode(tokens("text")).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    df_ = toks.select("doc_id", "word").distinct().groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return tf.join(df_, "word").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "word",
        "tf",
        F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias("tfidf"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII/number scrubbing via regexp pipeline (training-data cleaning)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.col("event_id"),
        F.regexp_replace(F.col("props"), "[0-9]+", "<NUM>").alias("scrubbed_props"),
        F.regexp_replace(F.col("event_type"), "error", "<ERR>").alias("masked_type"),
    )


def q_length_percentile(spark, sf_dir):
    """Percentile-based length filter: keep docs in the (5%, 95%) band of
    n_chars, ranks deterministic via doc_id tiebreak.

    Distributed two-phase rank via operators/rank.global_rank — NO
    global-order window over the table (that would funnel every row through
    one reducer at 100 TB); percent_rank = pos/(N−1) is bit-identical to the
    single-window form."""
    from cassandra_data_migrator_spark.operators.rank import global_rank

    d = _t(spark, sf_dir, "documents")
    ranked = global_rank(d.select("doc_id", "n_chars"), "n_chars", "doc_id").select(
        "doc_id",
        "n_chars",
        F.round(F.col("pos") / (F.col("n_total") - 1), 4).alias("pr"),
    )
    return ranked.filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95)).select(
        "doc_id", "n_chars", F.col("pr").alias("pr_r")
    )


def q_mad_robust(spark, sf_dir):
    """Robust dispersion stats: per-group median + median-absolute-deviation
    (the outlier-resistant twin of mean/stddev). Two exact per-group
    percentiles with a broadcast median join between them; group count is
    tiny so the per-group sorts are bounded — at 100 TB swap in
    approx_percentile (tests/test_approx.py pins the substitution's
    tolerance)."""
    li = _t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", "med", F.abs(F.col("l_extendedprice") - F.col("med")).alias("dev")
    )
    return dev.groupBy("l_returnflag").agg(
        F.round(F.min("med"), 4).alias("med_r"),
        F.round(F.percentile("dev", 0.5), 4).alias("mad_r"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


WEEK_US = 7 * 86_400_000_000


def q_cohort_retention(spark, sf_dir):
    """Cohort-retention matrix: users grouped by first-seen week, counted per
    week-offset of later activity — the product-analytics staple. Two
    partial-agg shuffles (first-seen per user, distinct user-weeks) and one
    join on user_id; the per-user cohort table is 1 row/user so AQE
    broadcasts it at dim scale. All integer epoch-week arithmetic — no
    calendar/timezone parity risk."""
    e = _t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.expr(f"min(ts_us) div {WEEK_US}").alias("cohort_week")
    )
    active = e.select(
        "user_id", F.expr(f"ts_us div {WEEK_US}").alias("week")
    ).distinct()
    return (
        active.join(first, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


def q_label_balance(spark, sf_dir):
    """Label-balance audit over the labeled embedding set: per-class count,
    share, and skew vs uniform — the class-imbalance check before training a
    probe/classifier. One partial-agg shuffle; the share window runs over the
    aggregated per-label table (≤ class cardinality rows)."""
    emb = _t(spark, sf_dir, "embeddings")
    g = emb.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    total = F.sum("n").over(w_all).cast("double")
    k = F.count(F.lit(1)).over(w_all).cast("double")
    return g.select(
        "label",
        "n",
        F.round(F.col("n") / total, 4).alias("share_r"),
        F.round(F.col("n") * k / total, 4).alias("skew_r"),
    )


def q_part_brand_share(spark, sf_dir):
    """TPC-H Q14-flavored fact⋈dim revenue share: lineitem ⋈ part, revenue
    per brand and its share of the total. The share divides by an
    unpartitioned window — legitimate here because it runs over the
    AGGREGATED per-brand table (≤ brand cardinality rows), never raw
    lineitem. Covers the `part` dimension table."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    )
    g = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(rev).alias("__rev"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return g.select(
        "p_brand",
        F.col("__rev").cast("double").alias("revenue"),
        "n_lines",
        F.round(
            F.col("__rev").cast("double") / F.sum("__rev").over(w_all).cast("double"), 4
        ).alias("share_r"),
    )


def q_window_rank_funcs(spark, sf_dir):
    """Ranking-function family over a tied ordering: rank / dense_rank /
    cume_dist per user ordered by event_type (low-cardinality ⇒ real ties, so
    the three functions genuinely differ). Tie groups share identical outputs,
    so the result is deterministic without a unique tiebreak. One partitioned
    window — distributed by user."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_type")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.round(F.cume_dist().over(w), 4).alias("cd_r"),
    )


def q_regex_extract_all(spark, sf_dir):
    """Multi-match regex extraction over a semi-structured column: all digit
    runs in props, with count / first / last per event — the log-mining
    staple. Pure codegen'd per-row expressions, scan-bound."""
    e = _t(spark, sf_dir, "events")
    nums = F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), 0)
    return e.select(
        "event_id",
        F.size(nums).cast("bigint").alias("n_nums"),
        F.element_at(nums, 1).alias("first_num"),
        F.element_at(nums, -1).alias("last_num"),
    )


CURATE_QUALITY_MIN = 0.35


def q_corpus_curate(spark, sf_dir):
    """End-to-end corpus curation — the composed flagship of the LLM-pipeline
    surface: quality-score filter → exact-dedup keep-first (md5, min doc_id)
    → per-language mixture sampling on the deterministic token ring. Each
    stage is the already-oracled operator (quality_score, dedup_exact,
    stratified_sample) composed into ONE Catalyst plan: the filters fuse into
    the scan, the dedup is the only shuffle, and the mixture filter is
    scan-side arithmetic — at 100 TB the pipeline costs one pass + one
    hash shuffle."""
    d = _t(spark, sf_dir, "documents")
    q = quality_features(d).select("doc_id", "quality")
    base = d.join(q, "doc_id").filter(F.col("quality") >= CURATE_QUALITY_MIN)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = base.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    rate = None
    for lang, r in STRATA_RATES.items():
        rate = (
            F.when(F.col("lang") == lang, r)
            if rate is None
            else rate.when(F.col("lang") == lang, r)
        )
    rate = rate.otherwise(0)
    return kept.filter(pmod_100(tok(F.col("doc_id"))) < rate).select(
        "doc_id", "lang", "quality"
    )


def q_dedup_canonical(spark, sf_dir):
    """Canonical-corpus selection — the OUTPUT step of fuzzy dedup: keep
    exactly one doc per duplicate cluster (the min-id representative) and
    project it back onto the corpus. Completes the pipeline story:
    dedup_ngram (pairs) → dedup_clusters (assignment) → dedup_cluster_sizes
    (report) → this (the corpus you actually train on). One broadcast-sized
    join on top of the cluster assignment."""
    d = _t(spark, sf_dir, "documents")
    clusters = q_dedup_clusters(spark, sf_dir)
    keep = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    return d.join(keep, "doc_id").select("doc_id", "lang", "source", "n_chars")


def q_partitioned_sink_prune(spark, sf_dir):
    """Hive-style partitioned sink + partition-pruned read-back: write events
    partitioned by event_type, then aggregate ONE partition. The read-back
    scan must list/touch only the selected partition directory (PartitionFilters
    in the plan, pinned by tests/test_plans.py) — at 100 TB this is the
    difference between scanning 1/5th of the lake and all of it."""
    import os

    e = _t(spark, sf_dir, "events")
    out = _scratch_dir(
        spark, "cdm_spark_partitioned", f"{os.path.basename(sf_dir.rstrip('/'))}"
    )
    e.select("event_id", "user_id", "value", "event_type").write.mode(
        "overwrite"
    ).partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum(F.col("value").cast("decimal(38,8)")).cast("double"), 4).alias(
            "sum_value_r"
        ),
        F.count_distinct(F.col("user_id")).cast("bigint").alias("n_users"),
    )


def q_decile_assign(spark, sf_dir):
    """Global decile assignment by doc length — the bucketing step of
    percentile-based corpus curation (keep/downsample by length decile).
    Same distributed two-phase rank as length_percentile (operators/rank.py);
    the decile is pure integer arithmetic on the global position, so there is
    no floating-point boundary to disagree on."""
    from cassandra_data_migrator_spark.operators.rank import global_rank

    d = _t(spark, sf_dir, "documents")
    return global_rank(d.select("doc_id", "n_chars"), "n_chars", "doc_id").select(
        "doc_id",
        "n_chars",
        F.expr("CAST(1 + ((pos * 10) div n_total) AS BIGINT)").alias("decile"),
    )


def q_asof_join(spark, sf_dir):
    """Backward as-of join (trade←quote): for each odd-id event, the latest
    even-id event of the same user at-or-before its timestamp. Custom
    operator (operators/asof.py — one shuffle, union+window); oracle is
    DuckDB's native ASOF JOIN."""
    from cassandra_data_migrator_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    trades = e.filter(F.col("event_id") % 2 == 1).select("user_id", "event_id", "ts_us")
    quotes = e.filter(F.col("event_id") % 2 == 0).select(
        "user_id", "ts_us", F.col("event_id").alias("q_id"), F.col("value").alias("q_value")
    )
    return asof_join(
        trades, quotes, ["user_id"], "ts_us", ["q_id", "q_value"], how="inner",
        tiebreak_col="q_id",
    ).select("user_id", "event_id", "ts_us", "rv_ts", "rv_q_id", "rv_q_value")


def q_group_agg(spark, sf_dir):
    # spread_by parallelizes the decimal partial sums off the 1-task
    # fixture scan (one parquet row group — see operators/partition.spread_by
    # and the corr_stats note); l_partkey is near-unique and already shipped
    # for the count_distinct. Pass-through at production split counts.
    from cassandra_data_migrator_spark.operators.partition import spread_by

    li = spread_by(_t(spark, sf_dir, "lineitem"), "l_partkey")
    qty = F.col("l_quantity").cast("decimal(18,4)")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_price"),
        F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 4).alias("avg_qty"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.count_distinct(F.col("l_partkey")).cast("bigint").alias("n_parts"),
    )


AGG_MV_CUTOFF = "1997-01-01"  # history/delta split for the incremental
# aggregate-maintenance key (~75% of the 1992-1998 o_orderdate range)


def q_agg_incremental_merge(spark, sf_dir):
    """Incremental MATERIALIZED-AGGREGATE maintenance — the mergeable-
    aggregates contract (the exact-aggregate sibling of the E11 sketch
    family): a standing partial-aggregate table over history
    (o_orderdate < cutoff) is built ONCE per session and persisted as a
    parquet artifact (what a nightly job keeps between runs), and each
    refresh aggregates ONLY the delta slice (o_orderdate ≥ cutoff — a
    pushed-down scan predicate, never a rescan of history) and MERGES
    partials: cnt = Σcnt, sum = Σsum (exact DECIMAL, associative by
    construction), min = min(min), max = max(max), avg re-derived from
    the merged (sum, cnt) — the classic non-mergeable-naively aggregate.
    At 100 TB this is the difference between touching one day of data
    and rescanning the corpus per refresh. The oracle recomputes every
    group from scratch: any merge error (double-counted boundary row,
    min-of-avgs-style mistake, decimal overflow in the re-sum) lands as
    a value mismatch."""
    o = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,4)")

    def partial(df):
        return df.groupBy(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.col("o_orderpriority"),
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(price).cast("decimal(18,4)").alias("sum_price"),
            F.min(price).alias("min_price"),
            F.max(price).alias("max_price"),
        )

    hist = _session_artifact(
        spark,
        f"aggmv|{sf_dir}",
        lambda: partial(o.filter(F.col("o_orderdate") < F.lit(AGG_MV_CUTOFF))),
    )
    delta = partial(o.filter(F.col("o_orderdate") >= F.lit(AGG_MV_CUTOFF)))
    merged = (
        hist.unionByName(delta)
        .groupBy("o_year", "o_orderpriority")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("sum_price").cast("decimal(18,4)").alias("sum_price"),
            F.min("min_price").alias("min_price"),
            F.max("max_price").alias("max_price"),
        )
    )
    return merged.select(
        "o_year",
        "o_orderpriority",
        "cnt",
        F.col("sum_price").cast("double").alias("sum_price"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
        F.round(F.col("sum_price").cast("double") / F.col("cnt"), 4).alias(
            "avg_price"
        ),
    )
