"""LM/quality keys: perplexity, BPE, sketches, tokenizer, NB, ensemble.
"""

from __future__ import annotations

from cassandra_data_migrator_spark.queries._shared import (  # noqa: F401
    F,
    NGRAM_N,
    NGRAM_THRESHOLD,
    SPLIT_TRAIN_LT,
    TOKS_SQL,
    Window,
    _nll4_exact,
    _scratch_dir,
    _session_artifact,
    _t,
    dedup,
    pmod_100,
    tok,
    token_count_bpe_ish,
    token_count_ws,
    tokens,
    validation,
)
from cassandra_data_migrator_spark.queries.dedup_text import (  # noqa: F401
    _ngram_pairs,
)

LM_ADD_K = 0.5  # add-k smoothing constant of the bigram LM
HH_THRESHOLD_FRAC = 0.0008  # heavy hitter = key with >= 0.08% of all events


def q_ccnet_bucket_mix(spark, sf_dir):
    """CCNet's defining move as a named recipe: bucket documents into
    perplexity TERCILES (head/middle/tail) under the self-trained bigram
    LM and emit the per-bucket manifest (doc count, bigram mass, mean
    nll) a mix builder keeps/downsamples/drops by. Composition, not new
    machinery: q_lm_perplexity's per-doc nll (4dp DECIMAL-rounded — the
    value domain is bounded, so global_rank's histogram stays bounded at
    any corpus size) → operators/rank.global_rank → tercile =
    floor(rank·3 / n). The oracle recomputes the LM from scratch (the
    shared lm_perplexity CTE text) and the terciles via ROW_NUMBER."""
    from cassandra_data_migrator_spark.operators import rank as rank_ops

    # session-shared LM score table (the _brute_topk precedent): the
    # corpus-trained bigram LM builds once per session; this key reads the
    # standing artifact instead of re-aggregating the whole token stream
    scored = _session_artifact(
        spark, f"lm_scored|{sf_dir}", lambda: q_lm_perplexity(spark, sf_dir)
    )
    ranked = rank_ops.global_rank(scored, "nll", "doc_id", pos_col="pos")
    b = ranked.withColumn(
        "bucket", F.floor(F.col("pos") * 3 / F.col("n_total")).cast("bigint")
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("sum_bigrams"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
    )


LM_PERPLEXITY_ORACLE_BODY = f"""
            WITH toks AS (SELECT doc_id, {TOKS_SQL} AS ts FROM documents),
            uni AS (SELECT unnest(ts) AS w FROM toks),
            voc AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM uni),
            bg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
                   FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
                         FROM toks WHERE len(ts) >= 2)),
            dc AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS n_occ
                   FROM bg GROUP BY 1, 2, 3),
            c12 AS (SELECT w1, w2, SUM(n_occ) AS c12 FROM dc GROUP BY 1, 2),
            c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
            pr AS (SELECT b.w1, b.w2,
                          CAST(ROUND(ln((b.c12 + {LM_ADD_K})
                               / (c.c1 + {LM_ADD_K} * voc.v)), 6)
                               AS DECIMAL(18,6)) AS logp6
                   FROM c12 b JOIN c1 c ON c.w1 = b.w1 CROSS JOIN voc)
            SELECT d.doc_id, CAST(SUM(d.n_occ) AS BIGINT) AS n_bigrams,
                   ROUND(-(CAST(SUM(d.n_occ * p.logp6) AS DOUBLE)
                         / CAST(SUM(d.n_occ) AS DOUBLE)), 4) + 0.0 AS nll
            FROM dc d JOIN pr p ON p.w1 = d.w1 AND p.w2 = d.w2
            GROUP BY d.doc_id
        """


def q_lm_perplexity(spark, sf_dir):
    """Corpus-trained bigram-LM quality score (the CCNet-style 'perplexity
    filter' of LLM data pipelines, self-trained so no external model is
    needed): P(w2|w1) = (c12+k)/(c1+kV) with add-k smoothing, per-doc score
    = mean negative log-prob over the doc's bigrams. One token explode
    feeds doc-level AND corpus-level bigram counts (the corpus table is the
    aggregated vocab — bounded, never the raw token stream); per-bigram
    log-probs are rounded to 6dp DECIMAL so the per-doc sum is exact and
    order-independent; V rides as a 1-row broadcast."""
    # spread_by on the scan was tried and REJECTED by measurement
    # (1.76 -> 1.88/1.77 s isolated, two repeats): the persisted vocab
    # tables already bound the backbone, and the exchange buys nothing.
    d = _t(spark, sf_dir, "documents")
    t = tokens("text")
    with_arr = d.select("doc_id", t.alias("ts")).filter(F.size("ts") >= 2)
    bigrams = with_arr.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.size("ts") - 1),
                F.slice(F.col("ts"), 2, F.size("ts") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # doc_cnt feeds BOTH the model-count
    # chain (c12 → c1) and the final scored join, and Catalyst performs no
    # cross-branch subtree dedup — unpersisted, the tokenize+explode+shuffle
    # backbone ran ~4× per action (plan showed 4 parquet scans). Persisting
    # the two count tables bounds it to ONE tokenize pass (+1 for vocab):
    # doc_cnt is the per-doc bigram-type table (the KenLM-style count
    # artifact a real LM pipeline materializes anyway — spills to disk at
    # scale), c12 is vocab-bounded. Cleanup: bench.py clears caches between
    # keys; results are unchanged (same plans above the cache points).
    doc_cnt = bigrams.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    ).persist()
    c12 = doc_cnt.groupBy("w1", "w2").agg(F.sum("n_occ").alias("c12")).persist()
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = d.select(F.explode(t).alias("w")).agg(
        F.countDistinct("w").cast("bigint").alias("v")
    )
    probs = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "logp6",
            F.round(
                F.log(
                    (F.col("c12") + F.lit(LM_ADD_K))
                    / (F.col("c1") + F.lit(LM_ADD_K) * F.col("v"))
                ),
                6,
            ).cast("decimal(18,6)"),
        )
    )
    scored = doc_cnt.join(probs.select("w1", "w2", "logp6"), ["w1", "w2"])
    avg_logp = F.sum(F.col("n_occ") * F.col("logp6")).cast("double") / F.sum(
        "n_occ"
    ).cast("double")
    return scored.groupBy("doc_id").agg(
        F.sum("n_occ").cast("bigint").alias("n_bigrams"),
        (F.round(-avg_logp, 4) + F.lit(0.0)).alias("nll"),
    )


JSONL_CORRUPT_MOD = 97  # docs with doc_id % 97 == 0 get truncated lines
JSONL_DOC_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


def q_jsonl_quarantine(spark, sf_dir):
    """JSONL ingestion e2e with corrupt-record quarantine (sources/jsonl.py):
    documents are staged as JSONL text with a deterministic subset of lines
    truncated mid-object, read back schema-explicit PERMISSIVE, and split
    into good/quarantined over one scan. The checksum proves (a) every
    non-corrupted row round-trips exactly (doc_id / text length / n_chars
    sums), (b) every corrupted line is quarantined, none dropped, none
    leaked into the good path. The write is executor-side text output —
    the same side-effect e2e shape as migrate_rowcount."""
    import os

    from cassandra_data_migrator_spark.sources import jsonl

    d = _t(spark, sf_dir, "documents")
    path = _scratch_dir(
        spark, "cdm_spark_jsonl", f"{os.path.basename(sf_dir.rstrip('/'))}"
    )
    jsonl.write_jsonl(
        d, path, corrupt_expr=F.col("doc_id") % JSONL_CORRUPT_MOD == 0
    )
    parsed = jsonl.read_jsonl(spark, path, JSONL_DOC_SCHEMA)
    good, bad = jsonl.split_quarantine(parsed)
    g = good.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_good"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.sum(F.length("text")).cast("bigint").alias("sum_text_chars"),
        F.sum("n_chars").cast("bigint").alias("sum_n_chars"),
    )
    b = bad.agg(F.count(F.lit(1)).cast("bigint").alias("n_bad"))
    return g.crossJoin(b)


BATCH_SPLIT_MOD, BATCH_SPLIT_REM = 10, 7  # docs with id%10==7 are the "new batch"


def q_dedup_incremental_batch(spark, sf_dir):
    """Incremental (batch-vs-corpus) near-dup detection — the dedup mode a
    standing 100 TB corpus actually runs daily: the deterministic 10% 'new
    batch' (doc_id % 10 == 7) is compared against the other 90% via ONE
    cross-side shingle join (operators/dedup.incremental_jaccard_pairs) —
    the corpus is never self-paired. Exact Jaccard, so the oracle twin is
    a full ANSI recomputation."""
    d = _t(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % BATCH_SPLIT_MOD == BATCH_SPLIT_REM
    return dedup.incremental_jaccard_pairs(
        d.filter(is_batch), d.filter(~is_batch), n=NGRAM_N, threshold=NGRAM_THRESHOLD
    )


MIX_TEMP_ALPHA = 0.7  # temperature: sampled share ∝ n^0.7 (mT5/XLM-R style)


def q_temperature_mix(spark, sf_dir):
    """Temperature-based multi-source mixing — the standard LLM recipe for
    balancing corpora of very different sizes: sampled share ∝ n^α with
    α = 0.7, realized as per-source keep rates n^(α−1) normalized so the
    SMALLEST source keeps 100% (downsampling-only — no duplication).
    The fixture's sources are uniform, so three skewed source GROUPS
    (head 10 / mid 6 / tail 4 sources — sizes 250/150/100 at sf0.01,
    ratios scale-invariant) are derived in-plan; rows are kept by the
    deterministic token ring, never rand(). One bounded groupBy + a
    broadcast rate join — scan-bound like the other samplers."""
    d = _t(spark, sf_dir, "documents")
    idx = F.substring(F.col("source"), 4, 10).cast("int")
    grp = (
        F.when(idx < 10, F.lit("head"))
        .when(idx < 16, F.lit("mid"))
        .otherwise(F.lit("tail"))
    )
    dg = d.select("doc_id", grp.alias("src_group"))
    counts = dg.groupBy("src_group").agg(
        F.count(F.lit(1)).cast("double").alias("n_s")
    )
    w = counts.withColumn("w", F.pow(F.col("n_s"), F.lit(MIX_TEMP_ALPHA - 1.0)))
    mx = w.agg(F.max("w").alias("w_max"))
    rates = w.crossJoin(F.broadcast(mx)).select(
        "src_group",
        F.round(F.lit(100.0) * F.col("w") / F.col("w_max"))
        .cast("int")
        .alias("keep_rate"),
    )
    bucket = pmod_100(tok("doc_id"))
    return (
        dg.join(F.broadcast(rates), "src_group")
        .select("doc_id", "src_group", bucket.alias("bucket"), "keep_rate")
        .filter(F.col("bucket") < F.col("keep_rate"))
    )


PAGERANK_ITERS = 5
PAGERANK_D = 0.85  # damping; base term uses the literal 0.15 on BOTH sides


def q_pagerank_dup_graph(spark, sf_dir):
    """PageRank over the near-duplicate pair graph (dedup observability:
    high-rank docs sit at the center of template/boilerplate families —
    the docs whose removal collapses the most duplication). The iteration
    lives in operators/graph.pagerank_pairs (hand-checked invariants in
    tests/test_graph.py); the oracle unrolls the same 5 iterations as
    chained CTEs — exact despite being iterative, via the 10dp-DECIMAL
    contribution sums. Edge list = the session-shared _ngram_pairs
    materialization (the in-key re-derivation was ~half this key's sweep
    cost)."""
    from cassandra_data_migrator_spark.operators.graph import pagerank_pairs

    return pagerank_pairs(
        _ngram_pairs(spark, sf_dir), iters=PAGERANK_ITERS, damping=PAGERANK_D
    )


def _pagerank_oracle_sql() -> str:
    """The 5 power iterations unrolled as chained CTEs (no recursive-CTE
    aggregation restrictions), mirroring q_pagerank_dup_graph term for
    term."""
    head = f"""
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
            -- MATERIALIZED: the {PAGERANK_ITERS} unrolled iterations each
            -- reference edges/deg; DuckDB inlines plain CTEs, so without
            -- this the shingle self-join runs once PER ITERATION — at sf1
            -- that filled the disk with spill (r11 sf1 certification)
            edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION ALL SELECT id_b, id_a FROM pairs),
            deg AS MATERIALIZED (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
                    FROM edges GROUP BY 1),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
            pr0 AS (SELECT doc_id, deg, 1.0 / nn.n AS pr FROM deg CROSS JOIN nn)"""
    its = []
    for i in range(1, PAGERANK_ITERS + 1):
        its.append(f""",
            pr{i} AS (SELECT d.doc_id, d.deg, (0.15 / nn.n) + COALESCE(s.c, 0.0) AS pr
                      FROM deg d CROSS JOIN nn
                      LEFT JOIN (SELECT e.dst AS doc_id,
                                        CAST(SUM(CAST(ROUND(p.pr * {PAGERANK_D} / p.deg, 10)
                                                      AS DECIMAL(28,10))) AS DOUBLE) AS c
                                 FROM edges e JOIN pr{i - 1} p ON p.doc_id = e.src
                                 GROUP BY 1) s USING (doc_id))""")
    tail = f"""
            SELECT doc_id, ROUND(pr, 6) + 0.0 AS pr_r FROM pr{PAGERANK_ITERS}
        """
    return head + "".join(its) + tail


BPE_NUM_MERGES = 120  # merge-table size for the declared key
BPE_MAX_WORD_TYPES = 20_000  # driver-state cap on the training word table


def q_bpe_token_count(spark, sf_dir):
    """BPE tokenizer training + application (functions/bpe.py): train the
    merge table over the corpus word-frequency aggregate (the bounded
    driver-state shape every production BPE trainer uses), segment each
    DISTINCT word once through the Arrow kernel, broadcast-join the
    per-type lengths back onto the token stream, and emit per-doc BPE
    token counts. Rows-only under the driver (no ANSI SQL reproduces the
    merge loop); exact per-doc agreement with a pure-Python reference BPE
    is pinned by tests/test_bpe.py."""
    from cassandra_data_migrator_spark.functions import bpe

    d = _t(spark, sf_dir, "documents")
    merges = bpe.train_bpe(
        d, num_merges=BPE_NUM_MERGES, max_word_types=BPE_MAX_WORD_TYPES
    )
    return bpe.bpe_token_counts(d, merges)


# Fixture merge table for the oracled BPE-apply contract. The pairs are
# chosen CHARACTER-DISJOINT (no char appears in two
# pairs) and 2-char-flat (no merge output feeds another merge), which makes
# greedy lowest-rank-first BPE application provably equivalent to
# independent leftmost non-overlapping substring replacement per pair:
# merging (x,y) consumes only x,y and never creates a new single-char
# adjacency, so the patterns cannot interact. Under that restriction the
# per-word token count is exactly len(word) + 1 − Σ_p occurrences_p(word),
# which ANSI SQL computes via the REPLACE length-difference trick — so the
# REAL Arrow apply kernel (functions/bpe.segment_words) gets a full
# value-level DuckDB oracle. The trainer itself stays rows-only
# (bpe_token_count); this key retires the APPLY path's rows-only status.
BPE_AUDIT_MERGES = [
    ("t", "h"), ("a", "n"), ("e", "r"), ("i", "s"), ("o", "u"), ("l", "d"),
]


def q_bpe_apply_audit(spark, sf_dir):
    """BPE application under a fixed merge table, per-doc token counts via
    the production path (distinct-word Arrow segmentation → broadcast join
    → per-doc sum). The fixture pairs are non-interacting by construction,
    so the oracle recomputes the exact counts in SQL — any defect in the
    greedy apply loop (rank order, leftmost choice, END_OF_WORD handling)
    shows up as a value mismatch."""
    from cassandra_data_migrator_spark.functions import bpe

    d = _t(spark, sf_dir, "documents")
    return bpe.bpe_token_counts(d, BPE_AUDIT_MERGES)


LENGTH_BUCKETS = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096]


def q_length_bucketing(spark, sf_dir):
    """Sequence-length bucketing for batched training/inference: each doc
    goes to the smallest power-of-2 bucket holding its whitespace token
    count, and per bucket we account docs, real tokens, padded capacity
    (bucket * n_docs) and the padding-waste ratio — the number that decides
    the bucket ladder. The bucket assignment is an integer CASE ladder
    (identical on both engines; no float log2 whose ulp could flip a
    boundary). One scan + one bounded groupBy."""
    d = _t(spark, sf_dir, "documents")
    n_tok = token_count_ws("text")
    bucket = None
    for b in LENGTH_BUCKETS:
        cond = n_tok <= b
        bucket = (
            F.when(cond, F.lit(b)) if bucket is None else bucket.when(cond, F.lit(b))
        )
    bucket = bucket.otherwise(F.lit(2 * LENGTH_BUCKETS[-1])).cast("bigint")
    per = (
        d.select(bucket.alias("bucket"), n_tok.alias("n_tok"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("sum_tok"),
        )
    )
    return per.select(
        "bucket",
        "n_docs",
        "sum_tok",
        (F.col("bucket") * F.col("n_docs")).cast("bigint").alias("capacity"),
        F.round(
            F.lit(1.0) - F.col("sum_tok") / (F.col("bucket") * F.col("n_docs")), 4
        ).alias("waste_r"),
    )


COMPACT_FRAGMENT_FILES = 64  # deliberately fragmented staging layout
COMPACT_TARGET_ROWS = 4096  # compaction target rows per file


BACKFILL_DROP_MOD = 3  # the re-processed partition drops mod-3 event ids


def q_backfill_overwrite(spark, sf_dir):
    """Dynamic-partition-overwrite backfill e2e (sources/layout.py
    overwrite_partitions): events land hive-partitioned by event_type,
    then ONE partition ('purchase') is re-processed with a planted
    transform (mod-3 ids dropped) and overwritten dynamically. The
    read-back per-partition counts prove the contract both ways — the
    re-processed partition shows the transformed rows, every OTHER
    partition is byte-untouched (static overwrite mode would have deleted
    them). The oracle recomputes the expected post-backfill table
    analytically from the raw events."""
    import os

    from cassandra_data_migrator_spark.sources import layout

    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    base = _scratch_dir(
        spark, "cdm_spark_backfill", f"{os.path.basename(sf_dir.rstrip('/'))}"
    )
    path = os.path.join(base, "tbl")
    layout.write_partitioned(e, path, "event_type")
    batch = e.filter(
        (F.col("event_type") == "purchase")
        & (F.col("event_id") % BACKFILL_DROP_MOD != 0)
    )
    layout.overwrite_partitions(batch, path, "event_type")
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
    )


def q_file_compaction(spark, sf_dir):
    """Small-file compaction e2e (sources/layout.py): events are staged as
    64 deliberately tiny files (the shape an incremental sink accretes),
    compacted to ceil(n/4096) evenly-sized files, and re-read. The output
    pins BOTH layouts' exact file counts (counted executor-side via
    input_file_name) and that compaction preserved every row (count +
    event_id sum survive the rewrite)."""
    import os

    from cassandra_data_migrator_spark.sources import layout

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = _scratch_dir(
        spark, "cdm_spark_compact", f"{os.path.basename(sf_dir.rstrip('/'))}"
    )
    frag_path, comp_path = os.path.join(base, "frag"), os.path.join(base, "comp")
    e.repartition(COMPACT_FRAGMENT_FILES).write.mode("overwrite").parquet(frag_path)
    layout.compact(spark, frag_path, comp_path, COMPACT_TARGET_ROWS)
    frag, comp = spark.read.parquet(frag_path), spark.read.parquet(comp_path)
    stats = comp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("sum_event_id"),
    )
    before = frag.select(F.input_file_name().alias("f")).agg(
        F.countDistinct("f").cast("bigint").alias("n_files_before")
    )
    after = comp.select(F.input_file_name().alias("f")).agg(
        F.countDistinct("f").cast("bigint").alias("n_files_after")
    )
    return stats.crossJoin(before).crossJoin(after)


def q_hll_distinct_audit(spark, sf_dir):
    """Mergeable-sketch cardinality under the DRIVER check: per-slice
    DataSketches HLL sketches union-merged per event_type, estimate pinned
    within 5% of the exact distinct count (sketch rel. err. ~0.8% at
    lgK=14). Distinct from approx_distinct_audit, which audits the
    single-shot approx_count_distinct AGGREGATE: this key materializes
    sketches as DATA (per-slice rows) and re-aggregates them — the
    store-and-merge pipeline (per-partition sketch tables, incremental
    cardinality rollups) that single-shot form cannot express. See
    operators/sketches.hll_distinct_audit."""
    from cassandra_data_migrator_spark.operators import sketches

    e = _t(spark, sf_dir, "events")
    return sketches.hll_distinct_audit(e, "event_type", "user_id", "event_id")


def q_quantile_sketch_audit(spark, sf_dir):
    """Single-pass GK quantile sketch (percentile_approx) rank-error
    contract per event_type: the returned p50/p90/p99 values' rank
    intervals must touch q*n +/- (n/accuracy + slack). Distinct from
    approx_percentile_audit, which checks VALUE closeness to the exact
    percentile (a data-dependent property): this pins the sketch's actual
    published guarantee — bounded RANK error — which holds on any
    distribution, including ones where close-in-rank is far-in-value. See
    operators/sketches.quantile_sketch_audit."""
    from cassandra_data_migrator_spark.operators import sketches

    e = _t(spark, sf_dir, "events")
    return sketches.quantile_sketch_audit(e, "event_type", "value")


def q_heavy_hitters_audit(spark, sf_dir):
    """Frequent-items sketch (approx_top_k accumulate/combine/estimate)
    heavy-hitter contract: every user with >= 0.08% of all events must be
    found by the merged sketch with its count inside the 3.5*N/maxMapSize
    error floor. See operators/sketches.heavy_hitter_audit."""
    from cassandra_data_migrator_spark.operators import sketches

    e = _t(spark, sf_dir, "events")
    return sketches.heavy_hitter_audit(e, "user_id", "event_id", HH_THRESHOLD_FRAC)


def q_bloom_prefilter_audit(spark, sf_dir):
    """Bloom-filter PK prefilter for migration validation (operators/
    bloom.py) — the runtime-filter pattern Spark's own InjectRuntimeFilter
    applies to shuffle joins, made explicit and audited: build a packed
    bloom over the target's PKs (distributed bit_or aggregate, <= m/64
    words cross the wire), broadcast the word array, and flag origin keys
    the filter rejects as DEFINITELY missing — zero join, zero shuffle on
    the probe side. Emits exact counts plus the two contract booleans
    (flagged ⊆ truly-missing; catch rate >= 0.9); the oracle recomputes
    the exact side and asserts the booleans TRUE."""
    from cassandra_data_migrator_spark.operators import bloom

    origin = _t(spark, sf_dir, "orders")
    target = validation.derived_target(origin, "o_orderkey", "o_orderstatus")
    return bloom.bloom_prefilter_audit(origin, target, "o_orderkey")


def q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer-fertility audit: chars-per-whitespace-token
    and BPE-ish-subtokens-per-whitespace-token — the coverage numbers that
    decide whether a tokenizer under- or over-segments a language slice of
    the training mix. One scan, one bounded groupBy(lang); the two token
    counters are the SAME regex twins token_count already pins, so the
    oracle restates them verbatim. Zero-token groups emit NULL ratios
    (explicit nullif guard, identical both engines)."""
    d = _t(spark, sf_dir, "documents")
    sum_chars = F.sum(F.length("text")).cast("bigint")
    sum_ws = F.sum(F.size(tokens("text"))).cast("bigint")
    sum_bpe = F.sum(token_count_bpe_ish("text")).cast("bigint")
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        sum_chars.alias("sum_chars"),
        sum_ws.alias("sum_ws"),
        sum_bpe.alias("sum_bpe"),
    )
    ws_nz = F.nullif(F.col("sum_ws"), F.lit(0))
    return agg.select(
        "lang",
        "n_docs",
        "sum_chars",
        "sum_ws",
        "sum_bpe",
        F.round(F.col("sum_chars") / ws_nz, 4).alias("chars_per_token_r4"),
        F.round(F.col("sum_bpe") / ws_nz, 4).alias("fertility_r4"),
    )


# CJK tokenizer fixture (the fixture corpus is Latin-only, so the
# no-whitespace failure mode is planted IN-PLAN, the dedup-clone
# discipline): doc_id % 4 selects a deterministic script suffix.
CJK_SUFFIXES = [
    "",  # 0: untouched Latin baseline
    " 你好世界模型",  # 1: six Han chars — ONE ws token, six script tokens
    " ai人工智能こんにちはmodel",  # 2: mixed Latin/Han/Hiragana run
    " สวัสดีโลก",  # 3: Thai incl. combining marks (script=Thai singles)
]


def q_tokenizer_cjk_fertility(spark, sf_dir):
    """SCRIPT-AWARE tokenization audit: whitespace
    tokenization collapses CJK/Thai runs to one token, silently skewing
    every token-count-derived key on multilingual crawls. Documents gain
    a deterministic script suffix (doc_id % 4: none / Han / mixed
    Latin+Han+Hiragana / Thai) and the key measures, per planted group,
    the whitespace count vs the script-aware count (one token per
    Han/Hiragana/Katakana/Thai char, whitespace chunks elsewhere) plus
    the single-CJK-token tally — fertility > 1 on groups 1-3 IS the
    collapse made visible. Same regex semantics stated in two dialects
    (Java p{IsHan} / RE2 p{Han}); cross-engine token-level agreement
    pinned in tests. One scan, one 4-row groupBy.

    Which keys stay whitespace-scoped: every token-derived key over the
    Latin-only fixture (token budgets, shard balance, LM/KN keys, Gopher
    rules, fertility E23) keeps tokens() — correct there by construction;
    COVERAGE.md records the per-key rationale and this key
    guards the script-aware path a multilingual deployment would swap in."""
    from cassandra_data_migrator_spark.functions.text import (
        CJK_SINGLE_RE_JAVA,
        tokens_script,
    )

    d = _t(spark, sf_dir, "documents")
    suffix = (
        F.when(F.col("doc_id") % 4 == 1, F.lit(CJK_SUFFIXES[1]))
        .when(F.col("doc_id") % 4 == 2, F.lit(CJK_SUFFIXES[2]))
        .when(F.col("doc_id") % 4 == 3, F.lit(CJK_SUFFIXES[3]))
        .otherwise(F.lit(""))
    )
    aug = F.concat(F.col("text"), suffix)
    st = tokens_script(aug)
    base = d.select(
        (F.col("doc_id") % 4).cast("int").alias("script_group"),
        F.size(tokens(aug)).cast("bigint").alias("n_ws"),
        F.size(st).cast("bigint").alias("n_script"),
        F.size(
            F.filter(st, lambda t: t.rlike(CJK_SINGLE_RE_JAVA))
        ).cast("bigint").alias("n_cjk"),
    )
    agg = base.groupBy("script_group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_ws").cast("bigint").alias("ws_tokens"),
        F.sum("n_script").cast("bigint").alias("script_tokens"),
        F.sum("n_cjk").cast("bigint").alias("cjk_tokens"),
    )
    return agg.select(
        "script_group",
        "n_docs",
        "ws_tokens",
        "script_tokens",
        "cjk_tokens",
        F.round(
            F.col("script_tokens") / F.nullif(F.col("ws_tokens"), F.lit(0)), 4
        ).alias("fertility_r4"),
    )


# ---------------------------------------------------------------------------
# Site-level filtering, distribution drift
# testing, co-occurrence statistics, hashed linear classification, signal
# ensembling, Kneser-Ney LM scoring


DOMAIN_SITES = 17  # fixture: doc_id % 17 picks the site label
DOMAIN_TLDS = 3  # ... % 3 picks the registered-domain suffix
DOMAIN_MIN_DOCS = 3  # gate: a domain needs >= 3 docs to be judged at all
DOMAIN_MAX_DUP_R = 0.2  # gate: drop domains with > 20% exact-dup docs


def q_domain_stats(spark, sf_dir):
    """Site-level crawl filtering (the RefinedWeb/C4 move of judging and
    gating whole DOMAINS, not documents: link farms and mirror sites are
    domain-shaped phenomena that per-doc filters miss). Documents gain a
    deterministic registered domain (doc_id mod 17 x mod 3 = 51 domains);
    per domain the key emits doc count, distinct-text count, exact-dup
    ratio, mean tokens per doc, and the keep gate (enough docs AND dup
    ratio under the cap). ONE token-count scan + ONE hash shuffle on the
    domain — at crawl scale the domain cardinality (~10^7) is far below
    doc count, so the aggregate stays small; count_distinct(md5) shuffles
    (domain, hash) pairs, bounded by doc count with partial combine."""
    d = _t(spark, sf_dir, "documents")
    domain = F.concat(
        F.lit("site"),
        (F.col("doc_id") % DOMAIN_SITES).cast("string"),
        F.lit(".example-"),
        (F.col("doc_id") % DOMAIN_TLDS).cast("string"),
        F.lit(".com"),
    )
    agg = d.select(
        domain.alias("domain"),
        F.md5(F.col("text").cast("binary")).alias("h"),
        F.size(tokens("text")).cast("bigint").alias("n_tok"),
    ).groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("h").cast("bigint").alias("n_distinct_texts"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
    )
    dup_r = F.round(1 - F.col("n_distinct_texts") / F.col("n_docs"), 4)
    return agg.select(
        "domain",
        "n_docs",
        "n_distinct_texts",
        "sum_tokens",
        dup_r.alias("dup_r"),
        F.round(F.col("sum_tokens") / F.col("n_docs"), 4).alias("avg_tokens"),
        (
            (F.col("n_docs") >= DOMAIN_MIN_DOCS)
            & (dup_r <= DOMAIN_MAX_DUP_R)
        ).alias("keep"),
    )


KS_BINS = 64  # ECDF evaluation grid; the KS sup runs over bin edges
KS_ALPHA_C = 1.3581  # c(alpha=0.05) for the two-sample KS rejection bound


def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift test between two snapshot
    halves of events.value (even/odd event_id — the planted-split
    convention): the numeric-distribution complement to vocab_js_drift's
    content drift and validate_profile_drift's column aggregates. The
    ECDFs are evaluated on a fixed 64-bin grid (binning makes the sup a
    max over a BOUNDED table — the exact KS needs a global sort of every
    distinct value, a non-starter at 100 TB; the binned statistic is a
    lower bound that converges to exact as bins grow). Plan: one 1-row
    min/max broadcast carry, one hash shuffle to the ≤64-row histogram,
    cumulative ECDFs + the sup over that bounded table; per-bin |ΔECDF|
    rounds to 6dp DECIMAL so the max is exact/order-free. Output: one row
    with both sample sizes, the KS statistic, the asymptotic alpha=0.05
    rejection bound c·sqrt((n_a+n_b)/(n_a·n_b)), and the drift verdict."""
    e = _t(spark, sf_dir, "events").select("event_id", "value").filter(
        F.col("value").isNotNull()
    )
    ext = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / KS_BINS
    binned = e.crossJoin(F.broadcast(ext)).select(
        (F.col("event_id") % 2 == 0).alias("is_a"),
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width),
                F.lit(KS_BINS - 1),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    hist = binned.groupBy("bin").agg(
        F.sum(F.col("is_a").cast("bigint")).cast("bigint").alias("c_a"),
        F.sum((~F.col("is_a")).cast("bigint")).cast("bigint").alias("c_b"),
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ecdf = hist.select(
        F.sum("c_a").over(w_cum).alias("cum_a"),
        F.sum("c_b").over(w_cum).alias("cum_b"),
        F.sum("c_a").over(w_all).alias("n_a"),
        F.sum("c_b").over(w_all).alias("n_b"),
    )
    diff6 = F.round(
        F.abs(F.col("cum_a") / F.col("n_a") - F.col("cum_b") / F.col("n_b")), 6
    ).cast("decimal(18,6)")
    out = ecdf.select(
        diff6.alias("d6"), F.col("n_a"), F.col("n_b")
    ).groupBy().agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        F.max("d6").alias("__ks"),
    )
    thr6 = F.round(
        KS_ALPHA_C
        * F.sqrt((F.col("n_a") + F.col("n_b")) / (F.col("n_a") * F.col("n_b"))),
        6,
    ).cast("decimal(18,6)")
    return out.select(
        "n_a",
        "n_b",
        (F.col("__ks").cast("double") + F.lit(0.0)).alias("ks_stat"),
        (thr6.cast("double") + F.lit(0.0)).alias("ks_threshold"),
        (F.col("__ks") > thr6).alias("drifted"),
    )


SKIP_WINDOW = 3  # co-occurrence window: pairs (w_i, w_{i+j}), 1 <= j <= 3
SKIP_TOPK = 20


def q_skipgram_cooc(spark, sf_dir):
    """Windowed skip-gram co-occurrence counts — the corpus statistic
    word2vec/GloVe training consumes (bigram_pmi sees only ADJACENT
    pairs; association lives in a window). Ordered pairs (w_i, w_{i+j}),
    1<=j<=SKIP_WINDOW, are generated entirely in-JVM with higher-order
    array functions (transform-over-slice — NO positional self-join: a
    join of the token stream against itself on doc+distance re-shuffles
    the whole exploded corpus; the HOF form is scan-local and explodes
    once). Global top-k by count via the two-phase rank operator
    (per-partition prune, then one ordered pass over <= k x partitions
    survivors)."""
    from cassandra_data_migrator_spark.operators import rank as rank_ops

    d = _t(spark, sf_dir, "documents")
    # materialize the token array BEFORE the nested transform: an
    # expression referenced inside a lambda is NOT subexpression-eliminated
    # across elements, so slice(tokens(text), i+2, W) re-tokenizes the doc
    # for EVERY position — O(len²) regex splits (measured 3.1x the whole
    # key's wall). A projected column is evaluated once per row.
    base = d.select(tokens("text").alias("ts"))
    tsc = F.col("ts")
    pairs = F.flatten(
        F.transform(
            tsc,
            lambda x, i: F.transform(
                F.slice(tsc, i + 2, SKIP_WINDOW),
                lambda y: F.concat(x, F.lit("\x00"), y),
            ),
        )
    )
    cnt = (
        base.select(F.explode(pairs).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cooc"))
        .select(
            F.substring_index(F.col("p"), "\x00", 1).alias("w1"),
            F.substring_index(F.col("p"), "\x00", -1).alias("w2"),
            "n_cooc",
        )
    )
    top = rank_ops.top_k_rows(
        cnt, SKIP_TOPK, [F.desc("n_cooc"), F.col("w1"), F.col("w2")], rank_col="rnk"
    )
    return top.select("w1", "w2", "n_cooc", F.col("rnk").cast("int").alias("rnk"))


CLF_BUCKETS = 4096  # hashed feature space (md5 3-hex-char prefix): at 256
# buckets two of the five planted markers collide with high-frequency vocab
# words ('merge', 'customer') and become unlearnable — the textbook
# hash-collision failure a larger feature space fixes (fastText defaults to
# 2M bins for the same reason)
CLF_BUCKET_CHARS = 3
CLF_SMOOTH_K = 0.1  # add-k: with add-1 the smoothing mass k*B rivals the
# class token totals and puts a systematic ln((n_neg+B)/(n_pos+B)) penalty
# on EVERY shared token (~-0.27/token, -15/doc — swamping any real signal);
# k=0.1 keeps unseen-bucket robustness with a negligible mass distortion
CLF_LABEL_MOD = 4  # planted positives: doc_id % 4 == 0
CLF_MARKER_MOD = 5  # positives carry ONE of five marker tokens 'mq0'..'mq4'


def _nb_heldout_scores(spark, sf_dir):
    """Shared NB train+score pipeline (see q_nb_classifier_eval for the
    full design rationale): returns the held-out per-doc EXACT-decimal
    scores (doc_id, y, score6 = logodds sum + prior) that both the
    confusion-matrix key and the calibration key consume."""
    d = _t(spark, sf_dir, "documents")
    label = F.col("doc_id") % CLF_LABEL_MOD == 0
    # the marker appears CLF_MARKER_REPEAT times: one occurrence's ~+4
    # log-odds can be drowned by the correlated noise of ~55 repeated
    # shared-vocab tokens (measured 13/24 held-out misses); three make the
    # planted signal decisive without changing what is being tested
    m = (F.col("doc_id") % CLF_MARKER_MOD).cast("string")
    txt = F.when(
        label,
        F.concat(
            F.col("text"),
            F.lit(" mq"), m, F.lit(" mq"), m, F.lit(" mq"), m,
        ),
    ).otherwise(F.col("text"))
    split_prefix = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    bucketed = d.select(
        "doc_id",
        label.alias("y"),
        (split_prefix < SPLIT_TRAIN_LT).alias("is_train"),
        F.explode(tokens(txt)).alias("w"),
    ).select(
        "doc_id",
        "y",
        "is_train",
        F.substring(F.md5(F.col("w").cast("binary")), 1, CLF_BUCKET_CHARS).alias(
            "bkt"
        ),
    )
    train_counts = bucketed.filter(F.col("is_train")).groupBy("bkt").agg(
        F.sum(F.col("y").cast("bigint")).cast("bigint").alias("c_pos"),
        F.sum((~F.col("y")).cast("bigint")).cast("bigint").alias("c_neg"),
    )
    buckets = spark.range(CLF_BUCKETS).select(
        F.lpad(F.lower(F.hex(F.col("id"))), CLF_BUCKET_CHARS, "0").alias("bkt")
    )
    dist = (
        buckets.join(train_counts, "bkt", "left").fillna(0, ["c_pos", "c_neg"])
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dist = dist.select(
        "bkt",
        "c_pos",
        "c_neg",
        F.sum("c_pos").over(w_all).alias("n_pos"),
        F.sum("c_neg").over(w_all).alias("n_neg"),
    )
    logodds6 = F.round(
        F.log(
            (F.col("c_pos") + CLF_SMOOTH_K)
            / (F.col("n_pos") + CLF_SMOOTH_K * CLF_BUCKETS)
        )
        - F.log(
            (F.col("c_neg") + CLF_SMOOTH_K)
            / (F.col("n_neg") + CLF_SMOOTH_K * CLF_BUCKETS)
        ),
        6,
    ).cast("decimal(18,6)")
    weights = dist.select("bkt", logodds6.alias("logodds6"))
    prior = (
        d.select(
            label.alias("y"),
            (split_prefix < SPLIT_TRAIN_LT).alias("is_train"),
        )
        .filter(F.col("is_train"))
        .agg(
            F.round(
                F.log(
                    (F.sum(F.col("y").cast("bigint")) + 1)
                    / (F.sum((~F.col("y")).cast("bigint")) + 1)
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("prior6")
        )
    )
    per_doc = bucketed.filter(~F.col("is_train")).groupBy(
        "doc_id", "y", "bkt"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    return (
        per_doc.join(F.broadcast(weights), "bkt")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.col("n_occ") * F.col("logodds6")).alias("__s"))
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id", "y", (F.col("__s") + F.col("prior6")).alias("score6")
        )
    )


def q_nb_classifier_eval(spark, sf_dir):
    """Train-and-evaluate a fastText-style hashed linear classifier as one
    declarative plan — the model-based filtering step (CCNet's fastText
    lang-id / DataComp's quality classifier) expressed Spark-first.
    Features = word unigrams hashed into CLF_BUCKETS (4096) md5-prefix
    buckets; model = per-bucket Naive-Bayes log-odds with add-k
    (CLF_SMOOTH_K = 0.1) smoothing trained ONLY on the md5 train split
    (hash_split's cut points), plus a doc-count log-prior; inference =
    broadcast-join the 4096-row weight table onto held-out docs' bucket
    counts, score = prior + sum n_occ*logodds (6dp-DECIMAL weights make
    per-doc sums exact and order-free), predict = score > 0. Output: the
    held-out confusion matrix — the artifact a filtering pipeline
    actually gates on. (Why not 256 buckets / add-1: see the constants'
    comments — measured marker-vocab collisions and a systematic
    shared-token penalty.)

    The label is a PLANTED signal (doc_id % 4 positives carry one of five
    appended marker tokens — the url_dedup discipline of constructing the
    fixture in-plan with an analytically-known answer): the raw fixture's
    ``lang`` column is unlearnable from text because every language shares
    one 31-word vocabulary, so a real-column label would only certify that
    NB converges to the majority class. With the planted markers the
    training actually has to generalize: shared-vocabulary buckets learn
    ~0 log-odds (class-frequency normalization), the five marker buckets
    learn strongly positive weights, and held-out accuracy ~1.0 falls out
    ONLY if split isolation, smoothing, and the broadcast scoring join are
    all right. The weight table is enumerated over ALL CLF_BUCKETS buckets
    (left-join + zero fill) so an eval-only bucket scores identically in
    both engines."""
    scored = _nb_heldout_scores(spark, sf_dir)
    return (
        scored.select(
            F.col("y").alias("label"),
            (F.col("score6") > 0).alias("predicted"),
        )
        .groupBy("label", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


CAL_BINS = 10  # calibration bins over the held-out score range


def q_nb_calibration(spark, sf_dir):
    """Reliability table for the trained NB filter — the calibration
    check a model-based quality/lang filter needs before its scores gate
    a corpus (a well-ranked but mis-calibrated filter moves the budget
    knob unpredictably): held-out docs bucket into CAL_BINS equal-width
    bins over the OBSERVED score range, each bin reporting doc count,
    positive count, observed positive rate, and the mean score. Scores
    are exact decimals (6dp logodds sums), the bin bounds ride a 1-row
    broadcast (the ks_drift pattern), and bin assignment is the identical
    double expression both engines state — so every cell is oracled, not
    just a boolean."""
    scored = _nb_heldout_scores(spark, sf_dir)
    ext = scored.agg(
        F.min("score6").alias("__lo"), F.max("score6").alias("__hi")
    )
    b = scored.crossJoin(F.broadcast(ext))
    lo = F.col("__lo").cast("double")
    hi = F.col("__hi").cast("double")
    sc = F.col("score6").cast("double")
    binned = b.select(
        "y",
        "score6",
        F.when(hi == lo, F.lit(0))
        .otherwise(
            F.least(
                F.lit(CAL_BINS - 1),
                F.floor((sc - lo) / ((hi - lo) / CAL_BINS)).cast("int"),
            )
        )
        .cast("int")
        .alias("bin"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("y").cast("bigint")).cast("bigint").alias("n_pos"),
        F.sum("score6").alias("__ssum"),
    )
    return agg.select(
        "bin",
        "n_docs",
        "n_pos",
        F.round(F.col("n_pos") / F.col("n_docs"), 4).alias("pos_rate_r"),
        (
            F.round(F.col("__ssum").cast("double") / F.col("n_docs"), 4) + 0.0
        ).alias("mean_score_r"),
    )


ENSEMBLE_KEEP_NUM = 1  # keep the top 1/4 of docs by ensemble score
ENSEMBLE_KEEP_DEN = 4


def _ENSEMBLE_Z_SQL(s: str, t: str, q: str) -> str:
    """DuckDB z-score twin of q_quality_ensemble's z(): exact decimal
    totals cast to double FIRST, then the identical IEEE op sequence."""
    mean = f"(CAST({t} AS DOUBLE) / n)"
    var = f"(CAST({q} AS DOUBLE) / n - {mean} * {mean})"
    return (
        f"(CASE WHEN SQRT({var}) = 0 THEN 0.0 "
        f"ELSE (CAST({s} AS DOUBLE) - {mean}) / SQRT({var}) END)"
    )


def q_quality_ensemble(spark, sf_dir):
    """Rank-free quality-signal ENSEMBLE selection (the DataComp/Dolma
    move: no single heuristic is trustworthy, so blend several normalized
    signals and keep the top slice). Signals: token count, chars per
    token, distinct-token fraction — each z-normalized against corpus
    mean/std computed from DECIMAL-exact sums/sum-of-squares (float
    aggregation order never enters; the 1-row moments broadcast back),
    ensemble = mean of the three z-scores rounded to 4dp DECIMAL, and
    selection = top 25% by (ensemble desc, doc_id) via the
    histogram-bounded global rank (the 4dp rounding bounds the rank
    histogram's value domain by construction — no raw-table window).
    selected = pos*4 < n_total, exact integer math in both engines."""
    from cassandra_data_migrator_spark.operators import rank as rank_ops

    # spread_by on the scan was tried and REJECTED by measurement
    # (1.23 -> 1.76/1.83 s isolated, two repeats): the persisted sig table
    # rematerializes through the exchange and costs more than the
    # parallelized tokenize saves at this corpus size.
    d = _t(spark, sf_dir, "documents")
    # project the token array once (the distinct_n discipline): each ts
    # reference below would otherwise re-run the tokenizer per row
    arr = d.select("doc_id", "n_chars", tokens("text").alias("ts"))
    ts = F.col("ts")
    sig = arr.select(
        "doc_id",
        F.size(ts).cast("bigint").alias("s1"),
        F.round(
            F.col("n_chars") / F.nullif(F.size(ts).cast("bigint"), F.lit(0)), 4
        )
        .cast("decimal(18,4)")
        .alias("s2"),
        F.round(
            F.size(F.array_distinct(ts))
            / F.nullif(F.size(ts).cast("bigint"), F.lit(0)),
            4,
        )
        .cast("decimal(18,4)")
        .alias("s3"),
    ).filter(F.col("s2").isNotNull()).persist()
    # ^ sig feeds the 1-row moments agg AND the
    # z-scoring crossJoin; persisting the per-doc signal table (3 decimals a
    # row) halves the tokenizer passes.
    moments = sig.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s1").cast("decimal(38,8)").alias("t1"),
        F.sum(F.col("s1") * F.col("s1")).cast("decimal(38,8)").alias("q1"),
        F.sum("s2").cast("decimal(38,8)").alias("t2"),
        F.sum(F.col("s2") * F.col("s2")).cast("decimal(38,8)").alias("q2"),
        F.sum("s3").cast("decimal(38,8)").alias("t3"),
        F.sum(F.col("s3") * F.col("s3")).cast("decimal(38,8)").alias("q3"),
    )

    def z(s, t, q):
        # moments are exact decimals; cast each total to double FIRST so
        # both engines run the same IEEE ops (decimal division scales
        # differ across engines)
        mean = t.cast("double") / F.col("n")
        var = q.cast("double") / F.col("n") - mean * mean
        std = F.sqrt(var)
        return F.when(std == 0, F.lit(0.0)).otherwise(
            (s.cast("double") - mean) / std
        )

    ens = sig.crossJoin(F.broadcast(moments)).select(
        "doc_id",
        F.round(
            (
                z(F.col("s1"), F.col("t1"), F.col("q1"))
                + z(F.col("s2"), F.col("t2"), F.col("q2"))
                + z(F.col("s3"), F.col("t3"), F.col("q3"))
            )
            / 3,
            4,
        )
        .cast("decimal(18,4)")
        .alias("ens4"),
    )
    ranked = rank_ops.global_rank(
        ens.select("doc_id", (-F.col("ens4")).alias("neg4"), "ens4"),
        "neg4",
        "doc_id",
        pos_col="pos",
    )
    return ranked.select(
        "doc_id",
        (F.col("ens4").cast("double") + F.lit(0.0)).alias("ensemble_z"),
        F.col("pos").cast("bigint").alias("pos"),
        (F.col("pos") * ENSEMBLE_KEEP_DEN < F.col("n_total") * ENSEMBLE_KEEP_NUM).alias(
            "selected"
        ),
    )


KN_DISCOUNT = 0.75  # the standard interpolated-KN absolute discount


def q_kn_perplexity(spark, sf_dir):
    """Per-doc negative log-likelihood under an interpolated KNESER-NEY
    bigram LM — the smoothing KenLM uses (the CCNet perplexity filter is
    a KN 5-gram; lm_perplexity's add-k is the naive baseline). P(w2|w1) =
    (max(c12−D,0) + D·N1+(w1·)·P_cont(w2)) / c1(w1), with continuation
    prob P_cont(w2) = N1+(·w2) / |bigram types| — the 'how many contexts
    has w2 followed' estimate that makes KN robust to burst words. All
    counts are one pass over the exploded bigram stream; the model is a
    vocab-bounded table; per-bigram logprobs round to 6dp DECIMAL so doc
    sums are exact/order-free (the lm_perplexity discipline); the type
    total rides a 1-row broadcast carry."""
    from cassandra_data_migrator_spark.operators.partition import spread_by

    # spread_by widens the 1-task fixture scan (one parquet row group)
    # so the tokenize+explode backbone feeding the persisted KN count
    # tables runs on all cores (measured 1.82 -> 1.24-1.40 s isolated, two
    # repeats); pass-through at production split counts.
    d = spread_by(_t(spark, sf_dir, "documents"), "doc_id")
    # project the token array once (the distinct_n discipline): each ts
    # reference below would otherwise re-run the tokenizer per row
    arr = d.select("doc_id", tokens("text").alias("ts"))
    ts = F.col("ts")
    bg = arr.filter(F.size(ts) >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(ts, 1, F.size(ts) - 1),
                F.slice(ts, 2, F.size(ts) - 1),
                lambda a, b: F.concat(a, F.lit("\x00"), b),
            )
        ).alias("p"),
    ).select(
        "doc_id",
        F.substring_index(F.col("p"), "\x00", 1).alias("w1"),
        F.substring_index(F.col("p"), "\x00", -1).alias("w2"),
    )
    # dc feeds the whole count ladder
    # (c12 → c1/bwd/tt → model) AND the final join; c12 alone is consumed by
    # FOUR branches. Without persistence each branch re-ran the
    # tokenize+explode+shuffle backbone (plan: 5 parquet scans, 11
    # exchanges). Persisting dc (per-doc bigram types — the count artifact)
    # and c12 (vocab-bounded) bounds the pipeline to ONE tokenize pass.
    dc = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    ).persist()
    c12 = dc.groupBy("w1", "w2").agg(
        F.sum("n_occ").cast("bigint").alias("c12")
    ).persist()
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"),
    )
    bwd = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1b"))
    tt = c12.agg(F.count(F.lit(1)).cast("bigint").alias("t_types"))
    p = (
        F.greatest(F.col("c12") - KN_DISCOUNT, F.lit(0.0))
        + KN_DISCOUNT * F.col("n1f") * (F.col("n1b") / F.col("t_types"))
    ) / F.col("c1")
    model = (
        c12.join(c1, "w1")
        .join(bwd, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            F.round(F.log(p), 6).cast("decimal(18,6)").alias("logp6"),
        )
    )
    return (
        dc.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_bigrams"),
            _nll4_exact(
                -F.sum(F.col("n_occ") * F.col("logp6")), F.sum("n_occ")
            ).alias("kn_nll"),
        )
    )
